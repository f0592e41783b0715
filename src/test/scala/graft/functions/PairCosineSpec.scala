package graft.functions

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** [[PairCosine.registerOnce]]: one binding per (session, corpus key),
  * rebinds that keep earlier plans executable, and no double bind under
  * concurrent builders. */
class PairCosineSpec extends SparkSpec {

  private def corpus(v2: Array[Double]) =
    (Array(1L, 2L), Array(Array(0.0, 1.0), v2),
      Array(1.0, math.sqrt(v2.map(x => x * x).sum)))

  private def score() = spark.range(2).selectExpr("id + 1 AS q", "2L AS c")
    .selectExpr("q", "pair_cosine(q, c) AS s")

  test("a frame built before a rebind still executes after it") {
    PairCosine.registerOnce(spark, "pc_spec_a")(corpus(Array(3.0, 4.0)))
    val before = score()
    val want = before.orderBy("q").collect().map(_.getDouble(1)).toSeq
    assert(want == Seq(0.8, 1.0))
    val builds = new AtomicInteger
    PairCosine.registerOnce(spark, "pc_spec_a") {
      builds.incrementAndGet(); corpus(Array(3.0, 4.0))
    }
    assert(builds.get == 0, "same corpus key must not rebuild")
    PairCosine.registerOnce(spark, "pc_spec_b")(corpus(Array(2.0, 0.0)))
    // the old plan captured the superseded broadcast: unpersisted, not
    // destroyed, so it re-executes with its own corpus
    assert(before.orderBy("q").collect().map(_.getDouble(1)).toSeq == want)
    assert(score().orderBy("q").collect().map(_.getDouble(1)).toSeq ==
      Seq(0.0, 1.0))
  }

  test("concurrent builders for one corpus key bind once") {
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = PairCosine.registerOnce(spark, "pc_spec_c") {
          builds.incrementAndGet(); Thread.sleep(50); corpus(Array(3.0, 4.0))
        }
      }))
      fs.foreach(_.get())
    } finally pool.shutdown()
    assert(builds.get == 1, s"expected one build, got ${builds.get}")
    assert(score().orderBy("q").collect().map(_.getDouble(1)).toSeq ==
      Seq(0.8, 1.0))
  }
}
