package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.FloatType

/** Facade-level behavior mirroring the reference's public-API tests. */
class GraftSpec extends SparkSpec {

  test("read: partition-size parity bound — every partition < 2x requested (test_core.py:294-302)") {
    // The reference asserts measured size < 2x target where BOTH the
    // planner and the assert use the same estimator (pandas memory_usage,
    // core.py:178). Our consistent estimator is Catalyst plan stats
    // (on-disk bytes, like maxPartitionBytes): derive the row target from
    // it and assert no partition exceeds 2x that many rows.
    val target = "32 KiB"
    val df = Graft.read(spark, sfDir, "SELECT * FROM lineitem",
      partitionSize = Some(target))
    val statsBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val totalRows = df.count()
    val rowBytes = statsBytes.toDouble / totalRows
    val targetRows = math.max(1L,
      (graft.connector.Partitioner.parseBytes(target) / rowBytes).toLong)
    val counts = df.rdd.mapPartitions(it => Iterator.single(it.length)).collect()
    assert(counts.length > 1, "a small size target must yield multiple partitions")
    assert(counts.forall(_ <= 2 * targetRows),
      s"partition row counts ${counts.toSeq} exceed 2x target $targetRows")
    // memory_usage_per_partition surface works and is partition-shaped
    val sizes = Graft.memoryUsagePerPartition(df)
    assert(sizes.length == counts.length && sizes.forall(_ > 0))
  }

  test("castAll mirrors arrow types_mapper float32 cast (test_core.py:106-123)") {
    val df = Graft.read(spark, sfDir, "SELECT c_acctbal, c_custkey FROM customer")
    val cast = Graft.castAll(df, FloatType)
    assert(cast.schema.fields.forall(_.dataType == FloatType))
    assert(cast.count() == df.count())
  }

  test("read applies types_mapper inside the read (test_core.py:106-123)") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // the reference's test: read_snowflake(..., arrow_options={"types_mapper":
    // {float64: float32}}) → result arrives float32, other dtypes untouched
    val mapped = Graft.read(spark, sfDir,
      "SELECT c_acctbal, c_custkey FROM customer",
      typesMapper = { case DoubleType => Some(FloatType); case _ => None })
    assert(mapped.schema("c_acctbal").dataType == FloatType,
      "float64 column must arrive as float32")
    assert(mapped.schema("c_custkey").dataType == LongType,
      "unmapped columns keep their source type")
    // values survive the narrowing (the fixture's acctbals fit float32)
    val orig = Graft.read(spark, sfDir, "SELECT c_acctbal, c_custkey FROM customer")
      .collect().map(r => r.getLong(1) -> r.getDouble(0).toFloat).toMap
    mapped.collect().foreach { r =>
      assert(r.getFloat(0) == orig(r.getLong(1)))
    }
    // identity mapping adds no projection: the mapped read's plan has the
    // same NODE COUNT as the plain read's (a spurious no-op Project would
    // add one — class equality of two identical reads can't catch that)
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p => p }.length
    val plain = Graft.read(spark, sfDir, "SELECT c_custkey FROM customer")
    val identityMapped = Graft.read(spark, sfDir,
      "SELECT c_custkey FROM customer", typesMapper = _ => None)
    assert(nodes(identityMapped) == nodes(plain),
      "an identity types_mapper must not add plan nodes")
  }

  test("dedup facades return the oracle-checked keep-list and candidate pairs") {
    assertSameRows(Graft.dedupKeepList(spark, sfDir),
      SparkEntry.queries("q_dedup_resolve")(spark, sfDir))
    assertSameRows(Graft.nearDupCandidates(spark, sfDir),
      SparkEntry.queries("q_dedup_minhash")(spark, sfDir))
  }

  test("generic asofJoin: most-recent-at-or-before match, nulls when none, tie visible") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "a"),  // after right rows at 5 and 10 → matches ts=10 (tie visible)
      (1L, 7L, "b"),   // between 5 and 10 → matches 5
      (1L, 3L, "c"),   // before any right row → nulls
      (2L, 100L, "d")  // key with no right rows at all → nulls
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 5L, "r5"),
      (1L, 10L, "r10")
    ).toDF("k", "rt", "payload")
    val got = Graft.asofJoin(left, right, Seq("k"), "t", "rt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSet
    assert(got == Set(
      (1L, 10L, "a", Some("r10")),
      (1L, 7L, "b", Some("r5")),
      (1L, 3L, "c", None),
      (2L, 100L, "d", None)))
    // a genuinely-NULL newest right value must come back NULL — not a
    // stale older value, and never fields stitched from two right rows
    // (the right row travels as ONE struct through the window)
    val rightWithNull = Seq(
      (1L, 5L, Option("r5"), Option(50L)),
      (1L, 10L, Option.empty[String], Option(100L))
    ).toDF("k", "rt", "payload", "amount")
    val nulled = Graft.asofJoin(
        Seq((1L, 12L)).toDF("k", "t"), rightWithNull, Seq("k"), "t", "rt")
      .collect().head
    assert(nulled.isNullAt(2) && nulled.getLong(3) == 100L,
      s"ASOF must take the newest row wholesale (payload NULL, amount 100): $nulled")
    // reserved internal names are rejected loudly, not silently corrupted
    val e = intercept[IllegalArgumentException] {
      Graft.asofJoin(Seq((1L, 1L, 9L)).toDF("k", "t", "__side"),
        right, Seq("k"), "t", "rt")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    // NULL keys never match (warehouse ASOF equality): a NULL-key left
    // row must come back with NULL values even when NULL-key right rows
    // exist — Window.partitionBy groups NULLs together, so without the
    // right-side NULL-key filter this would return a phantom match
    val leftNullKey = Seq(
      (Option(1L), 12L, "real"),
      (Option.empty[Long], 12L, "nullkey")
    ).toDF("k", "t", "tag")
    val rightNullKey = Seq(
      (Option(1L), 5L, "r5"),
      (Option.empty[Long], 6L, "rNULL")
    ).toDF("k", "rt", "payload")
    val nullKeyGot = Graft.asofJoin(leftNullKey, rightNullKey, Seq("k"), "t", "rt")
      .collect().map(r => (r.getString(2), Option(r.getString(3)))).toSet
    assert(nullKeyGot == Set(("real", Some("r5")), ("nullkey", None)),
      s"NULL keys must never match: $nullKeyGot")
    // a NULL rightTime can never satisfy rt <= t (three-valued
    // comparison) — without the filter it would sort FIRST in the
    // window and be carried into every left row as a phantom match;
    // and a NULL leftTime left row matches nothing but survives
    val rightNullTime = Seq(
      (1L, Option(5L), "r5"),
      (1L, Option.empty[Long], "rNULLTIME")
    ).toDF("k", "rt", "payload")
    val leftNullTime = Seq(
      (1L, Option(3L), "early"),   // before r5 → no match
      (1L, Option.empty[Long], "nulltime")
    ).toDF("k", "t", "tag")
    for (w <- Seq(None, Some(10L))) {
      val got = Graft.asofJoin(leftNullTime, rightNullTime,
          Seq("k"), "t", "rt", epochWidth = w)
        .collect().map(r => (r.getString(2), Option(r.getString(3)))).toSet
      assert(got == Set(("early", None), ("nulltime", None)),
        s"NULL times must never produce a match (epochWidth=$w): $got")
    }
    // and the two warehouse as-of plans (window via this util, broadcast
    // max_by) agree on the events fixture — two plans, one truth
    assertSameRows(
      SparkEntry.queries("q_join_asof")(spark, sfDir),
      SparkEntry.queries("q_join_asof_broadcast")(spark, sfDir))
  }

  test("chunked asofJoin is EXACTLY the windowed asofJoin, at any epoch width") {
    import spark.implicits._
    // adversarial shape for the epoch decomposition: matches that cross
    // one or many empty epochs, an exact-boundary tie, a key with no
    // right rows, a NULL-key left row, and negative times (floor-vs-
    // truncate division disagrees there)
    val left = Seq(
      (Option(1L), 10L, "a"), (Option(1L), 7L, "b"), (Option(1L), 3L, "c"),
      (Option(1L), 100L, "far"),   // carry across many empty epochs
      (Option(1L), -5L, "neg"),    // negative time
      (Option(2L), 50L, "lonely"), // key with no right rows
      (Option.empty[Long], 50L, "nullkey"),
      (Option(3L), 21L, "tie")     // left time == right time at a boundary
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, -7L, "rneg"), (1L, 5L, "r5"), (1L, 10L, "r10"),
      (3L, 21L, "r21")
    ).toDF("k", "rt", "payload")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSet
    val windowed = canon(Graft.asofJoin(left, right, Seq("k"), "t", "rt"))
    for (w <- Seq(1L, 3L, 7L, 1000L)) {
      val chunked = canon(Graft.asofJoin(left, right, Seq("k"), "t", "rt",
        epochWidth = Some(w)))
      assert(chunked == windowed,
        s"epochWidth=$w diverged:\n  chunked  $chunked\n  windowed $windowed")
    }
    // non-integral time columns are rejected loudly in chunked mode
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "x"))
      .toDF("k", "t", "tag")
    val e = intercept[IllegalArgumentException] {
      Graft.asofJoin(ts, right, Seq("k"), "t", "rt", epochWidth = Some(10L))
    }
    assert(e.getMessage.contains("integral time"), e.getMessage)
  }

  test("asofJoin property: windowed, chunked and a brute-force reference agree on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // random keys (with NULLs), random times (with NULL right times),
      // right side unique per (k, rt) as the determinism contract asks
      val left = Seq.tabulate(120) { i =>
        (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5).toLong),
          rnd.nextInt(101).toLong - 50, i.toLong)
      }.toDF("k", "t", "lid")
      val rightRows = Seq.tabulate(80) { _ =>
        (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5).toLong),
          if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(101).toLong - 50),
          rnd.nextInt(1000).toLong)
      }.distinctBy(r => (r._1, r._2)) // unique (k, rt)
      val right = rightRows.toDF("k", "rt", "payload")
      // driver brute force: max-rt right row with equal non-null key, rt <= t
      val expected = left.collect().map { lr =>
        val k = if (lr.isNullAt(0)) None else Some(lr.getLong(0))
        val t = lr.getLong(1)
        val best = k.flatMap { kk =>
          rightRows.filter(r => r._1.contains(kk) && r._2.exists(_ <= t))
            .sortBy(_._2.get).lastOption
        }
        (lr.getLong(2), best.map(_._3))
      }.toMap
      def got(w: Option[Long]) =
        Graft.asofJoin(left, right, Seq("k"), "t", "rt", epochWidth = w)
          .collect()
          .map(r => r.getLong(2) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
      val windowed = got(None)
      assert(windowed == expected, s"trial $trial: windowed != brute force")
      for (w <- Seq(1L, 7L, 64L)) {
        val chunked = got(Some(w))
        assert(chunked == expected,
          s"trial $trial, epochWidth=$w: chunked != brute force")
      }
      // FORWARD direction against its own brute force: min-rt right row
      // with equal non-null key, rt >= t — windowed and chunked both
      // (the chunked path exercises the negative-epoch floor math)
      val expectedFwd = left.collect().map { lr =>
        val k = if (lr.isNullAt(0)) None else Some(lr.getLong(0))
        val t = lr.getLong(1)
        val best = k.flatMap { kk =>
          rightRows.filter(r => r._1.contains(kk) && r._2.exists(_ >= t))
            .sortBy(_._2.get).headOption
        }
        (lr.getLong(2), best.map(_._3))
      }.toMap
      def gotFwd(w: Option[Long]) =
        Graft.asofJoin(left, right, Seq("k"), "t", "rt",
            epochWidth = w, forward = true)
          .collect()
          .map(r => r.getLong(2) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
      assert(gotFwd(None) == expectedFwd,
        s"trial $trial: forward windowed != brute force")
      for (w <- Seq(1L, 7L, 64L))
        assert(gotFwd(Some(w)) == expectedFwd,
          s"trial $trial, epochWidth=$w: forward chunked != brute force")
    }
  }

  test("upsert: batch wins on matched keys, inserts land, corpus survives, NULL values kept") {
    import spark.implicits._
    val corpus = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "tag", "v")
    val batch = Seq((2L, "B2", 99L), (9L, "new", 1L)).toDF("id", "tag", "v")
    val out = Graft.upsert(corpus, batch, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "B2", 99L), (3L, "c", 30L),
      (9L, "new", 1L)))
    // an all-NULL-values batch row must still overwrite (matched-probe is
    // the key column, never a value column)
    val nullBatch = Seq((3L, Option.empty[String], Option.empty[Long]))
      .toDF("id", "tag", "v")
    val out2 = Graft.upsert(corpus, nullBatch, Seq("id"))
      .orderBy("id").collect()
    assert(out2(2).isNullAt(1) && out2(2).isNullAt(2),
      "matched batch row with NULL values must still win")
    // schema drift is a hard error, not silent column mangling
    intercept[IllegalArgumentException] {
      Graft.upsert(corpus, batch.select("id", "tag"), Seq("id"))
    }
  }

  test("snapshotDiff: added/removed/changed/unchanged, NULL edits count as changed") {
    import spark.implicits._
    val v1 = Seq((1L, Option("a"), Option(10L)), (2L, Option("b"), Option(20L)),
      (3L, Option("c"), Option(30L)), (4L, Option.empty[String], Option(40L)))
      .toDF("id", "tag", "v")
    val v2 = Seq((1L, Option("a"), Option(10L)),          // unchanged
      (2L, Option("b"), Option(99L)),                     // changed value
      (4L, Option("now"), Option(40L)),                   // NULL -> value: changed
      (9L, Option("new"), Option(1L)))                    // added; 3 removed
      .toDF("id", "tag", "v")
    val got = Graft.snapshotDiff(v1, v2, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(r.fieldIndex("diff_status"))))
    assert(got.toSeq == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "changed"), (9L, "added")))
    // NULL == NULL is unchanged, not changed (null-safe equality)
    val same = Graft.snapshotDiff(v1, v1, Seq("id"))
      .select("diff_status").distinct().collect().map(_.getString(0))
    assert(same.toSeq == Seq("unchanged"))
    intercept[IllegalArgumentException] {
      Graft.snapshotDiff(v1, v2.select("id", "tag"), Seq("id"))
    }
  }

  test("curate facades: single-stage manifest shape; pipeline audit matches the key and telescopes") {
    val api = Graft.curate(spark, sfDir).orderBy("doc_id")
    assert(api.columns.toSeq == Seq("doc_id", "lang", "quality_e6"))
    assert(api.count() > 0)
    val pipe = Graft.curatePipeline(spark, sfDir)
    val key = SparkEntry.queries("q_pipeline_curate")(spark, sfDir)
    assertSameRows(pipe, key)
    // the audit chain must TELESCOPE: docs_in(k) = docs_out(k-1), every
    // stage is a filter (docs_out ≤ docs_in), gates actually bite at
    // fixture scale, and the shard stage is a relayout, not a filter
    val rows = pipe.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getString(1)).toSeq == Seq("corpus", "gopher_gate",
      "exact_dedup", "minhash_dedup", "semantic_dedup", "quality_select",
      "shard_shuffle"))
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getLong(2) == prev.getLong(3),
        s"stage ${cur.getString(1)} docs_in != previous docs_out")
    }
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        s"stage ${r.getString(1)} grew the corpus")
    }
    assert(rows.last.getLong(3) == rows.last.getLong(2))
    assert(rows.last.getLong(5) <= 8, "more than 8 shards")
    assert(rows(1).getLong(3) < rows(0).getLong(3),
      "gopher gate dropped nothing at fixture scale")
    assert(rows.last.getLong(3) > 0, "empty manifest")
  }

  test("eventFunnel matches a driver brute force for random event sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    // repeated-type funnel included: a→b→a (view, click, view again) is
    // legitimate and exercises the per-step strict-after gating
    val stepSets = Seq(Seq("e0", "e1", "e2"), Seq("e1", "e0", "e1"))
    for (trial <- 1 to 2; steps <- stepSets) {
      val events = Seq.fill(120)(
        (rnd.nextInt(9).toLong, s"e${rnd.nextInt(4)}",
          (rnd.nextInt(40) + 100 * trial).toLong))
      val byUser = events.groupBy(_._1)
      def chain(evs: Seq[(Long, String, Long)]): List[Long] = {
        var prev = Option.empty[Long]
        var out = List.empty[Long]
        var alive = true
        for (et <- steps if alive) {
          val c = evs.filter(e => e._2 == et && prev.forall(p => e._3 > p))
            .map(_._3)
          if (c.isEmpty) alive = false
          else { val m = c.min; out = out :+ m; prev = Some(m) }
        }
        out
      }
      val counts = steps.indices
        .map(i => byUser.values.count(evs => chain(evs).length > i))
      val expected = steps.zipWithIndex
        .map { case (et, i) => (f"${i + 1}%02d_" + et, counts(i).toLong) }.toMap
      val got = Graft.eventFunnel(
          events.toDF("user_id", "event_type", "ts"), steps)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial steps=$steps: funnel != brute force ($got vs $expected)")
    }
  }

  test("windowed eventFunnel matches a driver brute force on numeric times") {
    import spark.implicits._
    val rnd = new scala.util.Random(19L)
    val steps = Seq("e0", "e1", "e2")
    val W = 8L
    val events = Seq.fill(150)(
      (rnd.nextInt(10).toLong, s"e${rnd.nextInt(4)}", rnd.nextInt(60).toLong))
    val byUser = events.groupBy(_._1)
    def chain(evs: Seq[(Long, String, Long)]): Int = {
      var prev = Option.empty[Long]
      var depth = 0
      var alive = true
      for (et <- steps if alive) {
        val c = evs.filter(e => e._2 == et &&
          prev.forall(p => e._3 > p && e._3 <= p + W)).map(_._3)
        if (c.isEmpty) alive = false
        else { prev = Some(c.min); depth += 1 }
      }
      depth
    }
    val expected = steps.zipWithIndex.map { case (et, i) =>
      (f"${i + 1}%02d_" + et,
        byUser.values.count(evs => chain(evs) > i).toLong)
    }.toMap
    val got = Graft.eventFunnel(
        events.toDF("user_id", "event_type", "ts"), steps,
        windowSeconds = Some(W))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"windowed funnel != brute force ($got vs $expected)")
  }

  test("eventFunnel facade: fixture == key, steps monotone, prefix consistent") {
    val ev = graft.warehouse.Tables.table(spark, sfDir, "events")
    val api = Graft.eventFunnel(ev, Seq("view", "click", "purchase"))
    val key = SparkEntry.queries("q_events_funnel")(spark, sfDir)
    assertSameRows(api, key)
    // each step can only lose users, never gain them
    val counts = api.orderBy("step").collect().map(_.getLong(1))
    assert(counts.sliding(2).forall(w => w(0) >= w(1)),
      s"funnel must be monotone non-increasing: ${counts.mkString(",")}")
    // a prefix funnel agrees with the full funnel on the shared steps
    val prefix = Graft.eventFunnel(ev, Seq("view", "click"))
      .orderBy("step").collect().map(_.getLong(1))
    assert(prefix.toSeq == counts.take(2).toSeq,
      "dropping a trailing step must not change earlier step counts")
  }

  test("retentionCohorts facade: fixture == key, offset-0 is the cohort census") {
    val ev = graft.warehouse.Tables.table(spark, sfDir, "events")
    val api = Graft.retentionCohorts(ev, "2024-01-01")
    assertSameRows(api, SparkEntry.queries("q_events_retention")(spark, sfDir))
    val rows = api.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._2 >= 0), "offsets are from the FIRST active week — never negative")
    // every user is active in their own first week, so the offset-0 rows
    // census the cohorts exactly: they must sum to the distinct user count
    val atZero = rows.filter(_._2 == 0L).map(_._3).sum
    assert(atZero == ev.select("user_id").distinct().count(),
      "offset-0 rows must partition the user population by cohort")
    // retention at any offset never exceeds the cohort's census
    val census = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    assert(rows.forall(r => r._3 <= census(r._1)),
      "no offset can retain more users than the cohort has")
    // a coarser period must still census every user exactly once
    val monthly = Graft.retentionCohorts(ev, "2024-01-01", periodDays = 30)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(monthly.filter(_._1 == 0L).map(_._2).sum ==
      ev.select("user_id").distinct().count(),
      "periodDays is a dial — the offset-0 census must hold at any width")
  }

  test("profileStats counts nulls per column (one null per column here)") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some(10L)), (None, Some(20L)), (Some(3.0), None)
    ).toDF("a", "b")
    val got = Graft.profileStats(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("a") == ((2L, 1L, 1.0, 3.0)), s"column a: ${got("a")}")
    assert(got("b") == ((2L, 1L, 10.0, 20.0)), s"column b: ${got("b")}")
  }

  test("profileStats integral min/max stay exact past 2^53 (decimal path)") {
    import spark.implicits._
    val big = 9007199254740993L // 2^53 + 1: NOT representable as a double
    val df = Seq(big, big + 2, 5L).toDF("id")
    val r = Graft.profileStats(df, Seq("id")).collect().head
    assert(r.getAs[java.math.BigDecimal]("min_val").longValueExact == 5L)
    assert(r.getAs[java.math.BigDecimal]("max_val").longValueExact == big + 2,
      "a DOUBLE report would have collapsed 2^53+3 onto a neighbour")
  }

  test("profileStats survives non-identifier names, rejects non-numeric") {
    import spark.implicits._
    val df = Seq((1L, "x"), (4L, "y")).toDF("order-key", "s")
    val r = Graft.profileStats(df, Seq("order-key")).collect().head
    assert(r.getString(0) == "order-key" && r.getLong(1) == 2L &&
      r.getAs[java.math.BigDecimal]("max_val").longValueExact == 4L)
    intercept[IllegalArgumentException] { Graft.profileStats(df, Seq("s")) }
    intercept[IllegalArgumentException] { Graft.profileStats(df, Seq("nope")) }
    // the loud-rejection contract holds on the DOUBLE path too: a wide
    // decimal riding along with a float column must not round silently
    val mixed = spark.range(1).selectExpr(
      "CAST(id AS DECIMAL(20,2)) AS d", "CAST(id AS DOUBLE) AS x")
    intercept[IllegalArgumentException] {
      Graft.profileStats(mixed, Seq("d", "x"))
    }
  }

  test("outliers flags the planted spike, skips degenerate groups") {
    import spark.implicits._
    // group "a": 9 values at 10.0 + one spike at 1000 → the spike's z is
    // ~3 (9 of 10 points contribute ~0 deviation); group "b": constant
    // (σ = 0); group "c": single row (n < 2) — only the spike may flag.
    val df = (Seq.fill(9)(("a", 10.0)) ++ Seq(("a", 1000.0)) ++
      Seq(("b", 5.0), ("b", 5.0), ("c", 99.0))).toDF("g", "v")
    val got = Graft.outliers(df, Seq("g"), col("v"), zmin = 2.5).collect()
    assert(got.length == 1 && got.head.getString(0) == "a" &&
      got.head.getDouble(1) == 1000.0,
      s"exactly the planted spike must flag: ${got.mkString(", ")}")
    assert(got.head.getDouble(2) > 2.5, "the z column must carry the score")
    assert(Graft.outliers(df, Seq("g"), col("v"), zmin = 50.0).isEmpty,
      "an unreachable threshold flags nothing")
    intercept[IllegalArgumentException] {
      Graft.outliers(df, Seq.empty, col("v"))
    }
  }

  test("outliers: negative-variance clamp and null values never produce flags") {
    import spark.implicits._
    // 6-dp moment rounding pushes this constant group's variance a hair
    // NEGATIVE (s1 rounds 0.0000005 UP to 1e-6, s2 rounds 2.5e-13 DOWN
    // to 0 → s2/n < μ²); without the clamp σ = sqrt(-ε) = NaN and
    // Spark's NaN-is-greatest comparisons flag EVERY row of the group.
    val df = Seq(("a", 0.0000005), ("a", 0.0000005)).toDF("g", "v")
    assert(Graft.outliers(df, Seq("g"), col("v"), 2.0).isEmpty,
      "a constant group must never flag, even when moment rounding goes negative")
    // nulls must not deflate μ: with count(1) moments, [0, 60, null]
    // gives μ = 20 / σ = 28.3 and z(60) ≈ 1.41 ≥ 1.3 — a spurious flag;
    // true non-null moments give z = ±1.
    val dfn = Seq(("b", Some(0.0)), ("b", Some(60.0)), ("b", None))
      .toDF("g", "v")
    assert(Graft.outliers(dfn, Seq("g"), col("v"), 1.3).isEmpty,
      "null values must not deflate the mean into spurious flags")
  }

  test("histogram facade: fixture == key, bins partition the row count") {
    val li = graft.warehouse.Tables.table(spark, sfDir, "lineitem")
    val api = Graft.histogram(li, col("l_extendedprice"), 5000.0)
    assertSameRows(api, SparkEntry.queries("q_profile_histogram")(spark, sfDir))
    val rows = api.collect()
    assert(rows.map(_.getLong(1)).sum == li.count(),
      "bin counts must partition the table exactly")
    assert(rows.forall { r =>
      r.getDouble(2) >= r.getLong(0) * 5000.0 &&
        r.getDouble(3) < (r.getLong(0) + 1) * 5000.0
    }, "per-bin min/max must sit inside the bin's edges")
  }

  test("randomProjection facade: fixture == key, k and id columns honored") {
    val em = graft.warehouse.Tables.table(spark, sfDir, "embeddings")
    val api = Graft.randomProjection(em, "embedding", Seq("vec_id"))
      .orderBy("vec_id")
    assertSameRows(api, SparkEntry.queries("q_embedding_project")(spark, sfDir))
    val narrow = Graft.randomProjection(em, "embedding", Seq("vec_id", "label"), k = 2)
    assert(narrow.columns.toSeq == Seq("vec_id", "label", "proj_0", "proj_1"))
    // same matrix rows → k=2 output is a prefix of the k=8 output
    val two = narrow.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val eight = api.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(two.toSeq == eight.toSeq,
      "proj_0/proj_1 must not depend on how many further dims are requested")
  }

  test("npartitions surface (test_core.py:88)") {
    val df = Graft.read(spark, sfDir, "SELECT * FROM region", npartitions = Some(2))
    assert(Graft.npartitions(df) <= 2)
  }

  test("deferred write list semantics (test_core.py:83-90)") {
    val name = s"t_graft_def_${System.nanoTime()}"
    val df = Graft.read(spark, sfDir, "SELECT * FROM nation")
    val thunk = Graft.writeDeferred(df, name)
    assert(spark.table(name.toUpperCase).count() == 0)
    thunk()
    assert(spark.table(name.toUpperCase).count() == 25)
  }

  test("modePerGroup: brute-force equality and smallest-value tie-break") {
    import spark.implicits._
    val rows = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"),          // clear winner b
      ("g2", "x"), ("g2", "y"),                       // tie → min = x
      ("g3", "z"))                                    // singleton
    val got = Graft.modePerGroup(rows.toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("g1", "b", 2L), ("g2", "x", 1L), ("g3", "z", 1L)))
  }

  test("saltedJoin: row-set identical to the plain join at any salt count") {
    import spark.implicits._
    val fact = (1L to 200L).map(i => (i, i % 7)).toDF("id", "k")
    val dim = (0L until 7L).map(k => (k, s"d$k")).toDF("dk", "label")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    for (salts <- Seq(1, 3, 8)) {
      val salted = Graft.saltedJoin(fact, dim, "k", "dk", saltBy = "id",
          salts = salts)
        .select("id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(salted == plain, s"salts=$salts")
    }
  }

  test("reservoirPerGroup: k per group, repartition-stable, a function of the id set") {
    import spark.implicits._
    val df = (1L to 300L).map(i => (if (i % 3 == 0) "a" else "b", i))
      .toDF("g", "doc_id")
    val s1 = Graft.reservoirPerGroup(df, Seq("g"), "doc_id", 7)
      .select("g", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s1.count(_._1 == "a") == 7 && s1.count(_._1 == "b") == 7)
    val s2 = Graft.reservoirPerGroup(df.repartition(13), Seq("g"), "doc_id", 7)
      .select("g", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s2 == s1, "sample must not depend on partitioning")
    // dropping rows OUTSIDE the sample leaves the sample unchanged
    // (bottom-k-by-hash is a pure function of the surviving id set)
    val kept = df.join(s1.toSeq.toDF("g2", "id2"),
      col("doc_id") === col("id2"), "left_semi")
    val extra = df.except(kept).limit(50)
    val s3 = Graft.reservoirPerGroup(kept.unionByName(extra), Seq("g"), "doc_id", 7)
      .select("g", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s3.subsetOf(s1 ++ extra.collect().map(r => (r.getString(0), r.getLong(1)))))
  }

  test("count-min estimates dominate exact counts (the sketch's one-sided bound)") {
    val rows = SparkEntry.queries("q_sketch_countmin")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_n")
      val est = r.getAs[Long]("est_n")
      assert(est >= exact,
        s"count-min must never under-count: est=$est exact=$exact")
      assert(r.getAs[Long]("overcount") == est - exact)
    }
  }

  test("seasonalOutliers flags the planted hour-of-day spike only") {
    import spark.implicits._
    val base = (1 to 200).map { i =>
      (i.toLong, "click", java.sql.Timestamp.valueOf(
        f"2024-01-${i % 20 + 1}%02d 07:00:00"), 10.0 + (i % 3))
    }
    val spike = Seq((999L, "click",
      java.sql.Timestamp.valueOf("2024-01-05 07:00:00"), 500.0))
    val ev = (base ++ spike).toDF("event_id", "event_type", "ts", "value")
    val out = Graft.seasonalOutliers(ev).select("event_id").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(999L), s"only the spike should flag: ${out.toSeq}")
  }

  test("the duplicate-match guard analyzes on DATE and TIMESTAMP keys") {
    import spark.implicits._
    // regression (round-15 review): the guard's surrogate coalesce used
    // CAST(0 AS DATE)/CAST(0 AS TIMESTAMP_NTZ), which Spark rejects at
    // analysis — epoch literals must be used instead
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val corpus = Seq((d1, 1L), (d2, 2L)).toDF("day", "v")
    val batch = Seq((d2, 20L)).toDF("day", "v")
    val out = Graft.upsert(corpus, batch, Seq("day"),
      failOnDuplicateMatches = true).orderBy("day").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 20L))
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val tc = Seq((t1, 1L)).toDF("ts", "v")
    assert(Graft.upsert(tc, tc.limit(0), Seq("ts"),
      failOnDuplicateMatches = true).count() == 1)
    // reserved working names reject loudly instead of silently
    // overwriting user data
    val bad = corpus.withColumnRenamed("v", "__gk0")
    val e = intercept[IllegalArgumentException](
      Graft.upsert(bad, bad, Seq("day"), failOnDuplicateMatches = true))
    assert(e.getMessage.contains("__gk"))
  }

  test("the collapsed keep-list facades serve the oracle-keyed frames") {
    val lsh = Graft.dedupKeepListCollapsed(spark, sfDir)
    val sim = Graft.simhashKeepList(spark, sfDir)
    Seq(lsh, sim).foreach { kl =>
      assert(kl.columns.toSeq == Seq("doc_id", "keep_id", "is_survivor"))
      // every cluster's survivor is its min doc_id — keep_id ≤ doc_id
      assert(kl.filter(org.apache.spark.sql.functions.col("keep_id") >
        org.apache.spark.sql.functions.col("doc_id")).count() == 0)
      assert(kl.count() > 0)
    }
  }

  test("Graft.write round-trips through the session catalog (to_snowflake semantics)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // uppercased table name, overwrite mode — the reference's
    // to_snowflake surface through the facade
    Graft.write(df, "surface_write_tbl", overwrite = true)
    assert(spark.table("SURFACE_WRITE_TBL").count() == 2)
    Graft.write(df, "surface_write_tbl", overwrite = true)
    assert(spark.table("SURFACE_WRITE_TBL").count() == 2,
      "overwrite must replace, not append")
    spark.sql("DROP TABLE SURFACE_WRITE_TBL")
  }
}
