package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Relational.histQuantiles]] is the engine's exact-percentile path
  * (six oracle keys ride it). Property: its output equals Spark's own
  * exact `percentile` aggregate (same `(1−d)·lo + d·hi ≡ lo + d·(hi−lo)`
  * interpolation, to the shared round-6 boundary) on adversarial
  * shapes the fixture keys never hit — heavy duplicates, all-equal
  * groups, single-row groups, boundary ps, and bucket counts as small
  * as 1 (degenerating to the single-scan form). */
class HistQuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def refQuantiles(df: org.apache.spark.sql.DataFrame,
      group: String, value: String, ps: Seq[Double]) =
    df.groupBy(col(group))
      .agg(ps.zipWithIndex.map { case (p, i) =>
        round(expr(s"percentile($value, $p)"), 6).as(s"q$i")
      }.head, ps.zipWithIndex.map { case (p, i) =>
        round(expr(s"percentile($value, $p)"), 6).as(s"q$i")
      }.tail: _*)

  private def check(rows: Seq[(String, Double)], ps: Seq[Double],
      buckets: Int): Unit = {
    val df = rows.toDF("g", "v")
    val named = ps.zipWithIndex.map { case (p, i) => p -> s"q$i" }
    val got = Relational.histQuantiles(df, "v", Seq("g"), named,
        buckets = buckets)
      .orderBy("g").collect()
      .map(r => (r.getString(0),
        (1 to ps.length).map(i => r.getDouble(i)).toSeq))
    val want = refQuantiles(df, "g", "v", ps)
      .orderBy("g").collect()
      .map(r => (r.getString(0),
        (1 to ps.length).map(i => r.getDouble(i)).toSeq))
    assert(got.toSeq == want.toSeq,
      s"histQuantiles(buckets=$buckets) diverged from exact percentile")
  }

  private val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)

  test("matches exact percentile on mixed duplicate-heavy groups") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 2000).map { _ =>
      val g = s"g${rnd.nextInt(4)}"
      // duplicate-heavy: values drawn from a small lattice
      (g, math.floor(rnd.nextDouble() * 50) / 7.0)
    }
    for (b <- Seq(1, 2, 16, 1024)) check(rows, ps, b)
  }

  test("matches exact percentile on continuous near-unique values") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 1500).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextGaussian() * 100.0)
    }
    for (b <- Seq(1, 8, 1024)) check(rows, ps, b)
  }

  test("all-equal, single-row, and two-row groups") {
    val rows = Seq.fill(100)(("same", 3.25)) ++
      Seq(("one", 9.5)) ++ Seq(("two", 1.0), ("two", 2.0))
    for (b <- Seq(1, 4, 1024)) check(rows, ps, b)
  }

  test("negative values and NULLs are handled like the aggregate") {
    val rnd = new scala.util.Random(11)
    val base = (1 to 600).map(_ =>
      (s"g${rnd.nextInt(2)}", rnd.nextDouble() * 200 - 100))
    val df = base.toDF("g", "v")
      .unionAll(Seq(("g0", null.asInstanceOf[java.lang.Double]),
        ("g1", null.asInstanceOf[java.lang.Double]))
        .toDF("g", "v"))
    val named = ps.zipWithIndex.map { case (p, i) => p -> s"q$i" }
    val got = Relational.histQuantiles(df, "v", Seq("g"), named)
      .orderBy("g").collect()
      .map(r => (1 to ps.length).map(i => r.getDouble(i)).toSeq)
    val want = refQuantiles(df, "g", "v", ps).orderBy("g").collect()
      .map(r => (1 to ps.length).map(i => r.getDouble(i)).toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("Graft.quantiles facade guards probabilities and delegates") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v")
    val out = graft.Graft.quantiles(df, "v", Seq("g"), Seq(0.5 -> "med"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == Seq(("a", 1.5), ("b", 3.0)))
    intercept[IllegalArgumentException](
      graft.Graft.quantiles(df, "v", Nil, Seq(1.5 -> "bad")))
    intercept[IllegalArgumentException](
      graft.Graft.quantiles(df, "v", Nil, Nil))
  }

  test("ungrouped (global) quantiles with totalAs row count") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 999).map(_ => rnd.nextDouble() * 1e6).toDF("v")
    val out = Relational.histQuantiles(df, "v", Nil,
      Seq(0.5 -> "med"), totalAs = Some("n")).collect()(0)
    val ref = df.agg(round(expr("percentile(v, 0.5)"), 6)).collect()(0)
      .getDouble(0)
    assert(out.getAs[Long]("n") == 999L)
    assert(out.getAs[Double]("med") == ref)
  }

  test("a NULL group key is a real group, like groupBy+percentile") {
    // the rank attach joins are null-safe (<=>): without that, the
    // NULL-keyed group silently vanishes from the output
    val df = Seq(("a", 1.0), ("a", 3.0),
        (null.asInstanceOf[String], 10.0),
        (null.asInstanceOf[String], 20.0),
        (null.asInstanceOf[String], 30.0))
      .toDF("g", "v")
    val got = Relational.histQuantiles(df, "v", Seq("g"),
        Seq(0.5 -> "med")).collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1))).toSet
    assert(got == Set((Some("a"), 2.0), (None, 20.0)),
      s"NULL-keyed group must survive the rank joins: $got")
  }

  test("empty input: global path reports count 0, grouped path no rows") {
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    val global = Relational.histQuantiles(empty, "v", Nil,
      Seq(0.5 -> "med"), totalAs = Some("n")).collect()
    assert(global.length == 1 && global(0).getAs[Long]("n") == 0L,
      "empty global input must yield one row with count 0")
    assert(global(0).isNullAt(global(0).fieldIndex("med")))
    val grouped = Relational.histQuantiles(empty, "v", Seq("g"),
      Seq(0.5 -> "med")).collect()
    assert(grouped.isEmpty)
  }

  test("histQuantilesFromHist over a pre-counted histogram equals " +
      "histQuantiles over the raw rows (the derived-histogram entry " +
      "point q_agg_mad's single-scan MAD rides)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 1500).map { _ =>
      (s"g${rnd.nextInt(3)}", math.floor(rnd.nextDouble() * 40) / 3.0)
    }
    val df = rows.toDF("g", "v")
    val named = ps.zipWithIndex.map { case (p, i) => p -> s"q$i" }
    val hist = df.filter(col("v").isNotNull)
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true)
    def render(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect()
        .map(r => (r.getString(0),
          (1 to ps.length).map(i => r.getDouble(i)).toSeq)).toSeq
    assert(
      render(Relational.histQuantilesFromHist(hist, "v", Seq("g"), named))
        == render(Relational.histQuantiles(df, "v", Seq("g"), named)),
      "pre-counted-histogram path diverged from the raw-row path")
  }

  test("the three execution arms agree: full-driver, driver-needed-" +
      "bucket, distributed-window (r17 measured dispatches)") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 2500).map { _ =>
      (s"g${rnd.nextInt(4)}", math.floor(rnd.nextDouble() * 500) / 7.0)
    }
    val df = rows.toDF("g", "v")
    val named = ps.zipWithIndex.map { case (p, i) => p -> s"q$i" }
    def render(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect()
        .map(r => (r.getString(0),
          (1 to ps.length).map(i => r.getDouble(i)).toSeq)).toSeq
    for (b <- Seq(1, 16, 1024)) {
      // defaults → full-driver arm on this volume; histDriverMaxRows=0
      // forces the distributed machinery, whose needed-bucket selection
      // then runs on the driver (default) or distributed (bucket cap 0)
      val fullDriver = Relational.histQuantiles(df, "v", Seq("g"), named,
        buckets = b)
      val bucketDriver = Relational.histQuantiles(df, "v", Seq("g"), named,
        buckets = b, histDriverMaxRows = 0)
      val window = Relational.histQuantiles(df, "v", Seq("g"), named,
        buckets = b, histDriverMaxRows = 0, bucketDriverMaxRows = 0)
      assert(render(fullDriver) == render(bucketDriver),
        s"full-driver vs driver-needed-bucket diverged at buckets=$b")
      assert(render(bucketDriver) == render(window),
        s"needed-bucket arms diverged at buckets=$b")
    }
  }

  test("full-driver arm is bit-identical across value types " +
      "(long, double, decimal) and honors the empty-global contract") {
    def pin(df: org.apache.spark.sql.DataFrame): Unit = {
      val named = ps.zipWithIndex.map { case (p, i) => p -> s"q$i" }
      val a = Relational.histQuantiles(df, "v", Seq("g"), named,
        totalAs = Some("n"))
      val b = Relational.histQuantiles(df, "v", Seq("g"), named,
        totalAs = Some("n"), histDriverMaxRows = 0)
      assertSameRows(a, b)
    }
    val rnd = new scala.util.Random(99)
    val longs = (1 to 800).map(_ => (s"g${rnd.nextInt(3)}",
      rnd.nextInt(200).toLong)).toDF("g", "v")
    pin(longs)
    val doubles = (1 to 800).map(_ => (s"g${rnd.nextInt(3)}",
      math.floor(rnd.nextDouble() * 900) / 11.0)).toDF("g", "v")
    pin(doubles)
    val decimals = (1 to 800).map(_ => (s"g${rnd.nextInt(3)}",
      BigDecimal(rnd.nextInt(500000)) / 100)).toDF("g", "v")
    pin(decimals.select(col("g"),
      col("v").cast("decimal(15,2)").as("v")))
    // empty global input: one row, count 0, quantiles NULL — both arms
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    val ga = Relational.histQuantiles(empty, "v", Nil,
      Seq(0.5 -> "med"), totalAs = Some("n"))
    val gb = Relational.histQuantiles(empty, "v", Nil,
      Seq(0.5 -> "med"), totalAs = Some("n"), histDriverMaxRows = 0)
    assertSameRows(ga, gb)
    assert(ga.count() == 1 && ga.head.getLong(0) == 0L)
  }

  test("a value type the driver arm does not replay takes the " +
      "distributed arm, never a driver-side error") {
    // DATE values, far under the row cap. The driver replay handles
    // numeric values only, so this call must behave exactly like the
    // forced distributed arm: whatever that arm returns — here Spark's
    // own analysis error for date arithmetic — and never the replay's
    // unsupported-type error after a collect
    val named = Seq(0.25 -> "q1", 0.5 -> "q2")
    val dates = (0 until 300).map(i => (s"g${i % 3}", i * 7 % 101))
      .toDF("g", "d")
      .select(col("g"), date_add(lit("2024-02-27").cast("date"), col("d")).as("v"))
    def outcome(cap: Int): Either[String, Seq[Seq[Any]]] =
      scala.util.Try(Relational.histQuantiles(dates, "v", Seq("g"), named,
          histDriverMaxRows = cap).orderBy("g").collect().toSeq.map(_.toSeq)) match {
        case scala.util.Success(rows) => Right(rows)
        case scala.util.Failure(e: org.apache.spark.sql.AnalysisException) =>
          Left(e.getCondition)
        case scala.util.Failure(e) => throw e
      }
    assert(outcome(Relational.HistDriverMaxRows) == outcome(0))
  }

  test("the distributed arm matches exact percentile on the adversarial " +
      "inputs: buckets 1/2/16, NULL values, a NULL group key") {
    // histDriverMaxRows = 0 skips the full-driver replay these small
    // inputs would otherwise take, so the null-safe rank joins and the
    // bucket edges run; bucketDriverMaxRows = 0 also distributes the
    // needed-bucket selection
    val named = ps.zipWithIndex.map { case (p, i) => p -> s"q$i" }
    def render(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(col("g").asc_nulls_first).collect()
        .map(r => (Option(r.getString(0)),
          (1 to ps.length).map(i => r.get(i)).toSeq)).toSeq
    def same(df: org.apache.spark.sql.DataFrame, buckets: Int,
        bucketCap: Int = Relational.BucketDriverMaxRows): Unit = {
      val got = Relational.histQuantiles(df, "v", Seq("g"), named,
        buckets = buckets, histDriverMaxRows = 0, bucketDriverMaxRows = bucketCap)
      assert(render(got) == render(refQuantiles(df, "g", "v", ps)),
        s"distributed arm (buckets=$buckets, bucket cap $bucketCap) " +
          "diverged from exact percentile")
    }
    val rnd = new scala.util.Random(42)
    val duplicates = (1 to 2000).map(_ =>
      (s"g${rnd.nextInt(4)}", math.floor(rnd.nextDouble() * 50) / 7.0)).toDF("g", "v")
    val continuous = (1 to 1500).map(_ =>
      (s"g${rnd.nextInt(3)}", rnd.nextGaussian() * 100.0)).toDF("g", "v")
    val tiny = (Seq.fill(100)(("same", 3.25)) ++ Seq(("one", 9.5)) ++
      Seq(("two", 1.0), ("two", 2.0))).toDF("g", "v")
    val withNulls = (1 to 600).map(_ =>
        (s"g${rnd.nextInt(2)}", rnd.nextDouble() * 200 - 100)).toDF("g", "v")
      .unionAll(Seq(("g0", null.asInstanceOf[java.lang.Double]),
        ("g1", null.asInstanceOf[java.lang.Double])).toDF("g", "v"))
    val nullKey = Seq(("a", 1.0), ("a", 3.0),
        (null.asInstanceOf[String], 10.0), (null.asInstanceOf[String], 20.0),
        (null.asInstanceOf[String], 30.0)).toDF("g", "v")
    for (df <- Seq(duplicates, continuous, tiny, withNulls, nullKey);
         b <- Seq(1, 2, 16)) same(df, b)
    for (df <- Seq(withNulls, nullKey); b <- Seq(1, 16)) same(df, b, bucketCap = 0)
  }
}
