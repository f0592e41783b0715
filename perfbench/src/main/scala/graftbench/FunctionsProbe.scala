package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, expr, xxhash64}
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** Rows per second of each codegen expression the engine registers, over
  * the warehouse's `embeddings` and `documents` rows (replicated so each
  * timing covers enough work). Inputs are cached before timing; each
  * function's output feeds an aggregate, so Catalyst cannot prune the
  * call. Runs in its own child session, so binding `minhash_sig` and
  * `lsh_bands` to probe constants leaves the workload's session alone. */
object FunctionsProbe {

  private val vecCopies = 50
  private val docCopies = 10

  /** (function, runs over the vector input, SQL call). */
  private val calls: Seq[(String, Boolean, String)] = Seq(
    ("cosine_similarity", true, "cosine_similarity(v, w)"),
    ("dot_product", true, "dot_product(v, w)"),
    ("code_dot", true, "code_dot(ca, cb)"),
    ("minhash_sig", false, "minhash_sig(tk)"),
    ("simhash64", false, "simhash64(tk)"),
    ("jaro_winkler", false, "jaro_winkler(s1, s2)"),
    ("shingles3", false, "shingles3(tk)"),
    ("lsh_bands", true, "lsh_bands(v)"))

  val names: Seq[String] = calls.map(_._1)

  /** Median rows/s over `reps` timings per function. `tag` wraps each
    * timing (the traced run tags its jobs with it). */
  def run(spark: SparkSession, warehouse: String, reps: Int,
      tag: String => (=> Unit) => Unit): Map[String, Double] = {
    val ps = spark.newSession()
    CosineSimilarity.register(ps)
    DotProduct.register(ps)
    CodePack.register(ps)
    SimHash64.register(ps)
    JaroWinkler.register(ps)
    Shingles3.register(ps)
    val rnd = new scala.util.Random(7)
    val a = Seq.fill(16)(1L + rnd.nextInt(100000000))
    val b = Seq.fill(16)(rnd.nextInt(100000000).toLong)
    MinHashSig.register(ps, a, b, 2147483647L)
    val planes = Array.fill(16, 64)(rnd.nextGaussian())
    LshBands.register(ps, planes, 4)

    val vec = ps.read.parquet(s"$warehouse/embeddings.parquet")
      .crossJoin(ps.range(vecCopies).withColumnRenamed("id", "copy"))
      .select(expr("transform(cast(embedding AS array<double>), x -> x + copy * 1e-3)").as("v"))
      .withColumn("w", expr("reverse(v)"))
      .withColumn("ca", expr("pack_codes(transform(v, x -> pmod(cast(floor(x * 1000) AS bigint), 256)))"))
      .withColumn("cb", expr("pack_codes(transform(w, x -> pmod(cast(floor(x * 1000) AS bigint), 256)))"))
    val doc = ps.read.parquet(s"$warehouse/documents.parquet")
      .crossJoin(ps.range(docCopies).withColumnRenamed("id", "copy"))
      .select(expr("split(concat(cast(copy AS string), ' ', text), ' ')").as("tk"),
        expr("substring(text, 1, 32)").as("s1"),
        expr("concat(cast(copy AS string), substring(text, 4, 30))").as("s2"))
    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.persist(StorageLevel.MEMORY_ONLY)
      (c, c.count())
    }
    val (vc, vn) = cached(vec)
    val (dc, dn) = cached(doc)
    try calls.map { case (name, onVec, call) =>
      val (in, n) = if (onVec) (vc, vn) else (dc, dn)
      val q = in.select(xxhash64(expr(call)).as("h")).agg(bit_xor(col("h")).as("s"))
      val times = (0 until reps).map { _ =>
        var dt = 0.0
        tag(name) {
          val t0 = System.nanoTime()
          q.collect()
          dt = (System.nanoTime() - t0) / 1e9
        }
        dt
      }.sorted
      name -> n / times(times.size / 2)
    }.toMap
    finally { vc.unpersist(); dc.unpersist(); () }
  }

}
