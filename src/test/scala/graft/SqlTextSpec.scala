package graft

import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions._

/** The SQL-text front door ([[SqlText]]): canonical MERGE INTO / ASOF
  * JOIN forms rewrite onto the engine operators, unsupported shapes
  * fail LOUDLY, everything else passes through to spark.sql. The
  * oracle-checked twins are `q_sql_merge` / `q_sql_asof`; this spec
  * covers the parser's edges the fixture keys don't reach. */
class SqlTextSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): Unit = {
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "tag", "v").createOrReplaceTempView("st_corpus")
    Seq((2L, "B", 99L), (9L, "z", 1L))
      .toDF("k", "tag", "v").createOrReplaceTempView("st_batch")
  }

  test("MERGE INTO with aliases and action clauses merges batch-wins") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "B", 99L),
      (3L, "c", 30L), (9L, "z", 1L)))
  }

  test("MERGE INTO without aliases or action clauses means the same thing") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus USING st_batch ON st_corpus.k = st_batch.k
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(out.count() == 4)
    // a MERGE with no WHEN clause is not a statement (Snowflake's grammar)
    intercept[ParseException](SqlText.sql(spark,
      "MERGE INTO st_corpus USING st_batch ON st_corpus.k = st_batch.k"))
  }

  test("MERGE with explicit SET list updates only the listed columns") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET v = b.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // matched key 2 takes the batch v (99) but KEEPS the corpus tag "b";
    // unmatched batch key 9 inserts whole
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "b", 99L),
      (3L, "c", 30L), (9L, "z", 1L)))
  }

  test("MERGE SET rejects key assignment, bad aliases, and exprs loudly") {
    stage()
    val e1 = intercept[IllegalArgumentException](SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET k = b.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e1.getMessage.contains("key column"))
    val e2 = intercept[RuntimeException](SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET v = b.v + 1
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e2.getMessage.contains("assignments"))
  }

  test("MERGE WHEN MATCHED THEN DELETE removes matched target rows") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (3L, "c", 30L)))
  }

  test("MERGE DELETE with AND gate and INSERT * applies both arms") {
    stage()
    // gate: only delete when the batch value exceeds the corpus value
    // (k=2: 99 > 20 → deleted); unmatched batch key 9 inserts
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED AND b.v > c.v THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (3L, "c", 30L), (9L, "z", 1L)))
    // flipped gate: nothing qualifies, only the insert lands
    val kept = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED AND b.v < c.v THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L, 2L, 3L, 9L))
    // a gate may hold a CASE expression (its WHEN/THEN are the gate's)
    val cased = SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN MATCHED AND CASE WHEN b.v > 0 THEN true ELSE false END
        |  THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(cased.toSeq == Seq((1L, "a", 10L), (3L, "c", 30L), (9L, "z", 1L)))
  }

  test("MERGE conditional UPDATE gates the SET on the AND predicate") {
    stage()
    // k=2 matched and 99 > 20 → v updated (tag kept); gate flipped →
    // row unchanged
    val hit = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED AND b.v > c.v THEN UPDATE SET v = b.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hit.toSeq == Seq((1L, "a", 10L), (2L, "b", 99L),
      (3L, "c", 30L), (9L, "z", 1L)))
    val miss = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED AND b.v < c.v THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(miss.toSeq == Seq((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L), (9L, "z", 1L)))
  }

  test("insert-only MERGE appends unmatched batch rows, leaves matches alone") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus USING st_batch
        |ON st_corpus.k = st_batch.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L), (9L, "z", 1L)))
  }

  test("MERGE INSERT (cols) VALUES (s.cols) fills unlisted columns with NULL") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k, b.v)""".stripMargin)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    // matched key 2 is untouched (no matched branch); unmatched key 9
    // inserts k/v only — tag is a typed NULL, the insert-list contract
    assert(out.toSeq == Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, Some("c"), 30L), (9L, None, 1L)))
  }

  test("multiple WHEN MATCHED branches evaluate first-match-wins") {
    // key 2 (v 99 > 20) hits the DELETE gate FIRST even though the later
    // ungated update would also match; key 5 (v 1 < 50) falls through to
    // the ungated SET tag branch; key 9 inserts
    Seq((1L, "a", 10L), (2L, "b", 20L), (5L, "e", 50L))
      .toDF("k", "tag", "v").createOrReplaceTempView("fmw_corpus")
    Seq((2L, "X", 99L), (5L, "Y", 1L), (9L, "z", 7L))
      .toDF("k", "tag", "v").createOrReplaceTempView("fmw_batch")
    val out = SqlText.sql(spark,
      """MERGE INTO fmw_corpus c USING fmw_batch b ON c.k = b.k
        |WHEN MATCHED AND b.v > c.v THEN DELETE
        |WHEN MATCHED THEN UPDATE SET tag = b.tag
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (5L, "Y", 50L), (9L, "z", 7L)))
  }

  test("update-only MERGE (no insert arm) is now supported") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET v = b.v""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // key 2 takes the batch v; unmatched batch key 9 does NOT insert
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "b", 99L), (3L, "c", 30L)))
  }

  test("MERGE still rejects malformed branch shapes loudly") {
    stage()
    // expression RHS in the VALUES list
    val e1 = intercept[RuntimeException](SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k, b.v + 1)""".stripMargin))
    assert(e1.getMessage.contains("expression RHS"), e1.getMessage)
    // column/value arity mismatch: Spark's parser rejects it
    val e2 = intercept[ParseException](SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN NOT MATCHED THEN INSERT (k, tag, v) VALUES (b.k, b.v)""".stripMargin))
    assert(e2.getMessage.contains("number of inserted values"), e2.getMessage)
    // a branch after an ungated branch is unreachable under
    // first-match-wins: Spark's parser rejects it
    val e3 = intercept[ParseException](SqlText.sql(spark,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN MATCHED AND b.v > c.v THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e3.getMessage.contains("NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"),
      e3.getMessage)
    // shapes Spark's parser admits but no engine route runs: each
    // fails with the supported forms, not in Spark's analyzer
    Seq(
      """MERGE INTO st_corpus c USING (SELECT * FROM st_batch) b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
      """MERGE INTO st_corpus c USING st_batch b ON c.k = b.k
        |WHEN NOT MATCHED AND b.v > 0 THEN INSERT *""".stripMargin,
      """MERGE WITH SCHEMA EVOLUTION INTO st_corpus c USING st_batch b
        |ON c.k = b.k WHEN MATCHED THEN UPDATE SET *""".stripMargin
    ).foreach { stmt =>
      val e = intercept[IllegalArgumentException](SqlText.sql(spark, stmt))
      assert(e.getMessage.contains("unsupported MERGE") &&
        e.getMessage.contains("WHEN NOT MATCHED THEN INSERT"), e.getMessage)
    }
  }

  test("mergeDelete API: delete-only needs no schema alignment, anti join never fans out") {
    // batch carries ONLY the key + gate columns, and a duplicate key —
    // survivors must not duplicate
    val corpus = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "tag", "v")
    val dels = Seq((2L, 100L), (2L, 200L), (7L, 1L)).toDF("k", "v")
    val out = Graft.mergeDelete(corpus, dels, Seq("k"))
      .orderBy("k").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 3L))
    // schemas must align as soon as the insert arm is requested
    val e = intercept[IllegalArgumentException](
      Graft.mergeDelete(corpus, dels, Seq("k"), insertUnmatched = true))
    assert(e.getMessage.contains("aligned schemas"))
  }

  test("MERGE rejects non-equi ON and differing key names loudly") {
    stage()
    val e1 = intercept[RuntimeException](SqlText.sql(spark,
      "MERGE INTO st_corpus c USING st_batch b ON c.k > b.k " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(e1.getMessage.contains("equi"))
    Seq((2L, "B", 99L)).toDF("kk", "tag", "v")
      .createOrReplaceTempView("st_batch2")
    val e2 = intercept[IllegalArgumentException](SqlText.sql(spark,
      "MERGE INTO st_corpus c USING st_batch2 b ON c.k = b.kk " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(e2.getMessage.contains("share a column name"))
  }

  test("ASOF JOIN backward picks the most recent right row at or before") {
    Seq((1L, 100L, "e1"), (1L, 200L, "e2"), (2L, 50L, "e3"))
      .toDF("uid", "t", "eid").createOrReplaceTempView("st_left")
    Seq((1L, 90L, 7L), (1L, 150L, 8L), (2L, 60L, 9L))
      .toDF("uid", "rt", "pv").createOrReplaceTempView("st_right")
    val out = SqlText.sql(spark,
      """SELECT l.eid, r.pv FROM st_left l ASOF JOIN st_right r
        |MATCH_CONDITION(l.t >= r.rt) ON l.uid = r.uid
        |ORDER BY eid""".stripMargin)
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // e1@100 → 7@90; e2@200 → 8@150; e3@50 → none (60 > 50)
    assert(out.toSeq == Seq(("e1", 7L), ("e2", 8L), ("e3", -1L)))
  }

  test("ASOF JOIN forward (<=) picks the earliest right row at or after") {
    Seq((1L, 100L, "e1"), (1L, 200L, "e2"))
      .toDF("uid", "t", "eid").createOrReplaceTempView("st_left")
    Seq((1L, 150L, 7L), (1L, 300L, 8L))
      .toDF("uid", "rt", "pv").createOrReplaceTempView("st_right")
    val out = SqlText.sql(spark,
      """SELECT l.eid, r.pv FROM st_left l ASOF JOIN st_right r
        |MATCH_CONDITION(l.t <= r.rt) ON l.uid = r.uid
        |ORDER BY eid""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("e1", 7L), ("e2", 8L)))
  }

  test("reversed MATCH_CONDITION orientation (r.rt <= l.t) is the backward join") {
    Seq((1L, 100L, "e1")).toDF("uid", "t", "eid")
      .createOrReplaceTempView("st_left")
    Seq((1L, 90L, 7L)).toDF("uid", "rt", "pv")
      .createOrReplaceTempView("st_right")
    val out = SqlText.sql(spark,
      """SELECT l.eid, r.pv FROM st_left l ASOF JOIN st_right r
        |MATCH_CONDITION(r.rt <= l.t) ON l.uid = r.uid""".stripMargin)
      .collect()
    assert(out.length == 1 && out(0).getLong(1) == 7L)
  }

  test("QUALIFY rewrites to a wrapped-subquery filter on select aliases") {
    Seq(("a", 3L), ("a", 1L), ("a", 2L), ("b", 9L), ("b", 8L))
      .toDF("g", "v").createOrReplaceTempView("st_q")
    val out = SqlText.sql(spark,
      """SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rn
        |FROM st_q QUALIFY rn <= 2 ORDER BY g, rn""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(("a", 3L, 1), ("a", 2L, 2), ("b", 9L, 1), ("b", 8L, 2)))
  }

  test("QUALIFY over an un-aliased window fails loudly at analysis") {
    Seq(("a", 1L)).toDF("g", "v").createOrReplaceTempView("st_q2")
    val e = intercept[Exception](SqlText.sql(spark,
      "SELECT g, v FROM st_q2 QUALIFY row_number() OVER (ORDER BY v) <= 1")
      .collect())
    assert(e.getMessage != null)
  }

  test("plain SQL passes through untouched") {
    val out = SqlText.sql(spark, "SELECT 1 + 1 AS two")
    assert(out.collect()(0).getInt(0) == 2)
  }

  private def stageUd(): Unit =
    Seq((1L, 10L, 20L), (2L, 30L, 40L), (3L, 50L, 60L))
      .toDF("k", "a", "b").createOrReplaceTempView("st_ud")

  test("UPDATE evaluates every SET expression against the ORIGINAL row (swap)") {
    stageUd()
    val out = SqlText.sql(spark,
      "UPDATE st_ud SET a = b, b = a WHERE k <= 2")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 20L, 10L), (2L, 40L, 30L),
      (3L, 50L, 60L)))
  }

  test("UPDATE and DELETE treat a NULL predicate as not-matching (ANSI)") {
    Seq((1L, Some(5L)), (2L, None)).toDF("k", "v")
      .createOrReplaceTempView("st_un")
    // row 2's v IS NULL → predicate NULL → not updated, not deleted
    val up = SqlText.sql(spark, "UPDATE st_un SET k = k + 100 WHERE v < 10")
      .collect().map(_.getLong(0)).sorted
    assert(up.toSeq == Seq(2L, 101L))
    val del = SqlText.sql(spark, "DELETE FROM st_un WHERE v < 10")
      .collect().map(_.getLong(0))
    assert(del.toSeq == Seq(2L))
  }

  test("DELETE without WHERE empties; UPDATE without WHERE hits every row") {
    stageUd()
    assert(SqlText.sql(spark, "DELETE FROM st_ud").count() == 0)
    val all = SqlText.sql(spark, "UPDATE st_ud SET a = a + 1")
      .orderBy("k").collect().map(_.getLong(1))
    assert(all.toSeq == Seq(11L, 31L, 51L))
  }

  test("UPDATE rejects unknown columns, malformed and duplicate assignments") {
    stageUd()
    val e1 = intercept[IllegalArgumentException](
      SqlText.sql(spark, "UPDATE st_ud SET nope = 1"))
    assert(e1.getMessage.contains("unknown column"))
    val e2 = intercept[ParseException](
      SqlText.sql(spark, "UPDATE st_ud SET a + 1"))
    assert(e2.getMessage.contains("PARSE_SYNTAX_ERROR"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      SqlText.sql(spark, "UPDATE st_ud SET a = 1, a = 2"))
    assert(e3.getMessage.contains("duplicate"))
  }

  test("dialect functions work inside UPDATE SET and DELETE WHERE") {
    stageUd()
    val up = SqlText.sql(spark,
      "UPDATE st_ud SET a = IFF(b > 30, 0, a) WHERE BITAND(k, 1) = 1")
      .orderBy("k").collect().map(_.getLong(1))
    // k=1 (odd, b=20≤30 → a stays 10), k=2 (even, untouched),
    // k=3 (odd, b=60>30 → 0)
    assert(up.toSeq == Seq(10L, 30L, 0L))
    val del = SqlText.sql(spark,
      "DELETE FROM st_ud WHERE DIV0(b, a) >= 2")
      .collect().map(_.getLong(0)).sorted
    // b/a: 2.0, 1.33, 1.2 → only k=1 deleted
    assert(del.toSeq == Seq(2L, 3L))
  }

  // ------------- literal/comment awareness (round-14 ADVICE): the
  // statement grammar matches a masked shadow, so keywords inside
  // string literals or comments can never split at the wrong token

  test("UPDATE SET literal containing ' WHERE ' does not split the clause") {
    stage()
    val out = SqlText.sql(spark,
      "UPDATE st_corpus SET tag = 'approved WHERE audited' WHERE k = 2")
      .orderBy("k").collect().map(_.getString(1))
    assert(out.toSeq == Seq("a", "approved WHERE audited", "c"))
  }

  test("DELETE predicate literal containing ' WHERE ' stays intact") {
    stage()
    val out = SqlText.sql(spark,
      "DELETE FROM st_corpus WHERE tag = 'x WHERE y'")
    assert(out.count() == 3) // no row carries the literal; nothing deleted
  }

  test("a -- comment inside an UPDATE statement does not derail the split") {
    stage()
    val out = SqlText.sql(spark,
      """UPDATE st_corpus SET v = v + 1 -- bump WHERE audited
        |WHERE k = 1""".stripMargin)
      .orderBy("k").collect().map(_.getLong(2))
    assert(out.toSeq == Seq(11L, 20L, 30L))
  }

  test("MERGE gate literals containing WHEN/THEN do not confuse the splitter") {
    stage()
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_batch AS b ON c.k = b.k
        |WHEN MATCHED AND b.tag != ' WHEN x THEN y ' THEN UPDATE SET v = b.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
    // gate is true for the matched key 2 (its tag is "B") → v = 99
    assert(out.toSeq == Seq((1L, 10L), (2L, 99L), (3L, 30L), (9L, 1L)))
  }

  test("a literal ' QUALIFY ' inside a plain SELECT is NOT the QUALIFY clause") {
    stage()
    val out = SqlText.sql(spark,
      "SELECT tag || ' QUALIFY rn = 1' AS t FROM st_corpus WHERE k = 1")
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("a QUALIFY rn = 1"))
  }

  test("alias qualifiers inside ASOF projection literals survive stripping") {
    Seq((1L, 10L, "x")).toDF("k", "t", "lv")
      .createOrReplaceTempView("st_asl")
    Seq((1L, 5L, 7L)).toDF("k", "t", "rv")
      .createOrReplaceTempView("st_asr")
    val out = SqlText.sql(spark,
      """SELECT l.k, 'l.k is the key' AS note, r.rv
        |FROM st_asl l ASOF JOIN st_asr r
        |MATCH_CONDITION(l.t >= r.t) ON l.k = r.k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "l.k is the key", 7L)))
  }

  // ------------- nondeterministic-MERGE guard (round-14 ADVICE):
  // Snowflake's default ERROR_ON_NONDETERMINISTIC_MERGE raises when a
  // target row is matched by 2+ source rows; the silent fan-out is
  // exactly what a migrating user must NOT inherit

  test("MERGE raises loudly when a target key is matched by 2+ source rows") {
    stage()
    Seq((2L, "B1", 1L), (2L, "B2", 2L), (9L, "z", 1L))
      .toDF("k", "tag", "v").createOrReplaceTempView("st_dup")
    val e = intercept[Exception] {
      SqlText.sql(spark,
        """MERGE INTO st_corpus AS c USING st_dup AS b ON c.k = b.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("nondeterministic MERGE")))
    // the generalized multi-branch route guards identically
    val e2 = intercept[Exception] {
      SqlText.sql(spark,
        """MERGE INTO st_corpus AS c USING st_dup AS b ON c.k = b.k
          |WHEN MATCHED AND b.v > 100 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = b.v""".stripMargin).count()
    }
    assert(msgs(e2).exists(m => m != null && m.contains("nondeterministic MERGE")))
  }

  test("duplicate source keys that match NOTHING insert both (deterministic)") {
    stage()
    Seq((9L, "z1", 1L), (9L, "z2", 2L))
      .toDF("k", "tag", "v").createOrReplaceTempView("st_dup_unmatched")
    val out = SqlText.sql(spark,
      """MERGE INTO st_corpus AS c USING st_dup_unmatched AS b ON c.k = b.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(out.count() == 5) // 3 corpus rows + both unmatched inserts
  }

  test("the API default stays unguarded: Graft.upsert fans out without the flag") {
    stage()
    Seq((2L, "B1", 1L), (2L, "B2", 2L))
      .toDF("k", "tag", "v").createOrReplaceTempView("st_dup2")
    val corpus = spark.table("st_corpus")
    val dup = spark.table("st_dup2")
    // documented precondition violation → fan-out, no error (opt-in guard)
    assert(Graft.upsert(corpus, dup, Seq("k")).count() == 4)
    val e = intercept[Exception](
      Graft.upsert(corpus, dup, Seq("k"),
        failOnDuplicateMatches = true).count())
    assert(e.getMessage != null || e.getCause != null) // raises, either layer
  }

  // ------------- session-UDF precedence over the dialect shim
  // (round-14 ADVICE): a user-registered function sharing a mapped
  // name must keep executing — the rewrite skips registered names

  test("a session UDF named like a dialect function wins over the rewrite") {
    try {
      spark.udf.register("iff",
        (c: Boolean, a: Int, b: Int) => if (c) a + 1000 else b)
      val out = SqlText.sql(spark, "SELECT IFF(true, 1, 2) AS x")
        .collect().map(_.getInt(0))
      assert(out.toSeq == Seq(1001)) // the UDF, not Spark's if()
    } finally {
      spark.sessionState.catalog.dropTempFunction("iff",
        ignoreIfNotExists = true)
    }
    // unregistered again → the dialect mapping resumes
    val back = SqlText.sql(spark, "SELECT IFF(true, 1, 2) AS x")
      .collect().map(_.getInt(0))
    assert(back.toSeq == Seq(1))
  }
}
