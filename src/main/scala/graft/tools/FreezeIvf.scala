package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Vector

/** One-off generator for [[graft.ops.IvfCentroids]]: fits the IVF coarse
  * quantizer on the sf0.01 `embeddings` table with the SAME driver-side
  * Lloyd's the trained API uses, then prints the complete
  * `IvfCentroids.scala` source to replace the checked-in file. The frozen
  * constants give `q_similarity_ivf` an exact DuckDB twin (both engines
  * replay assignment from the same literals); rerun this only if the
  * synthetic embeddings fixture changes.
  *
  *   sbt "runMain graft.tools.FreezeIvf" > src/main/scala/graft/ops/IvfCentroids.scala
  */
object FreezeIvf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.LocalSession()
    val sample = graft.warehouse.Tables.table(spark, sfDir, "embeddings")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .limit(20000)
      .collect().map(_.getSeq[Double](0).toArray)
    val cents = Vector.fitCentroids(sample, k = 8, iters = 5, seed = 42)
    // emit the COMPLETE IvfCentroids.scala so the printed output is the
    // file that ships (header + object + values), never a fragment that
    // drifts from the checked-in shape
    println("""package graft.ops
      |
      |/** Frozen IVF coarse-quantizer centroids for the oracle-checked
      |  * `q_similarity_ivf` key — GENERATED by `sbt "runMain graft.tools.FreezeIvf"`
      |  * (driver-side Lloyd's, k=8, iters=5, seed=42, on the sf0.01 `embeddings`
      |  * sample; see [[Vector.fitCentroids]]). Freezing the fit as source
      |  * constants lets the DuckDB oracle replay cell assignment, multi-probe
      |  * and top-k EXACTLY from the same literals; the sample-trained production
      |  * path stays live as [[Vector.ivfTopKTrained]]. Regenerate only if the
      |  * embeddings fixture changes. */
      |private[graft] object IvfCentroids {
      |  val values: Array[Array[Double]] = Array(""".stripMargin)
    println(cents.map(_.map(x => "%.17e".format(x))
      .grouped(4).map(_.mkString(", ")).mkString("    Array(\n      ", ",\n      ", ")"))
      .mkString("", ",\n", ")"))
    println("}")
    spark.stop()
  }
}
