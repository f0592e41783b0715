package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic main: recall@5 of every ANN search key against the
  * brute-force `q_similarity_topk` truth at an arbitrary warehouse dir
  * (round-13 verdict item 5 — recall was only ever pinned at
  * sf0.001/sf0.01; IVF cell occupancy and probe caps shift with corpus
  * size, so the 10× replica needs its own number).
  *
  * Recall here is SCORE-tolerant: an ANN hit counts if its cosine is ≥
  * the query's 5th-best brute-force cosine − 1e-9. The replica corpus
  * contains exact duplicate vectors by construction (10 shifted copies
  * of every sf0.1 row), so massive cosine ties are the norm — id-set
  * recall would depend on tie-break order and measure nothing. Prints
  * one JSON line: {"sf_dir": …, "recall": {key: r@5, …}}.
  *
  * [[measure]] is the shared engine: the main prints it, and
  * VectorSpec's floor asserts call it directly (r15 verdict task 4 — a
  * deliberate recall regression must fail `sbt test`, not just shift a
  * published artifact).
  */
object RecallProbe {

  /** (search-family recall@5, join-family recall@3) at `sfDir`. */
  def measure(spark: SparkSession, sfDir: String)
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    def hits(key: String): Map[Long, Seq[Double]] =
      graft.SparkEntry.queries(key)(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getDouble(3)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    val brute = hits("q_similarity_topk")
    val floor5 = brute.view.mapValues(_.min).toMap
    val keys = Seq("q_similarity_ivf", "q_similarity_lsh",
      "q_similarity_quantized", "q_similarity_projected")
    val recalls = keys.map { k =>
      val ann = hits(k)
      val rs = brute.keys.toSeq.map { qid =>
        val got = ann.getOrElse(qid, Seq.empty)
          .count(_ >= floor5(qid) - 1e-9)
        math.min(got, 5).toDouble / 5.0
      }
      k -> rs.sum / rs.size
    }
    // corpus×corpus kNN-join family: recall@3 against the SINGLE-CELL
    // brute join (one zero center ⇒ every vector in cell 0 ⇒ every pair
    // scored — the exact truth, feasible at probe scale). Same
    // score-tolerant counting as above, for the same tie reason.
    val bruteJoin = graft.ops.Vector.knnJoin(spark, sfDir,
        Array(Array.fill(graft.ops.Vector.Dim)(0.0)), nprobe = 1, k = 3,
        cellCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val floor3 = bruteJoin.view.mapValues(_.min).toMap
    val joinKeys = Seq("q_similarity_knn_join",
      "q_similarity_knn_join_adaptive", "q_similarity_knn_refine",
      "q_similarity_knn_join_hier", "q_similarity_knn_refine_hier")
    val joinRecalls = joinKeys.map { k =>
      val ann = hits(k)
      val rs = bruteJoin.keys.toSeq.map { qid =>
        val got = ann.getOrElse(qid, Seq.empty)
          .count(_ >= floor3(qid) - 1e-9)
        math.min(got, 3).toDouble / 3.0
      }
      k -> rs.sum / rs.size
    }
    (recalls, joinRecalls)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.LocalSession()

    val (recalls, joinRecalls) = measure(spark, sfDir)
    def obj(entries: Seq[(String, Double)]): String =
      entries.map { case (k, r) => s""""$k":${f"$r%.3f"}""" }
        .mkString("{", ",", "}")
    // JSON on stdout for the bench-narrative ritual; grep for "recall"
    println(s"""{"sf_dir":"$sfDir","recall":${obj(recalls)},""" +
      s""""knn_join_recall_at3":${obj(joinRecalls)}}""")
    spark.stop()
  }
}
