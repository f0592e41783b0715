package graft

/** The Snowflake dialect functions ([[SqlDialect]]) as session
  * functions: each call returns what its Spark spelling returns through
  * plain `spark.sql`, divergent forms fail LOUDLY at analysis, and
  * strings, comments and natively-supported functions are left alone.
  * The oracle-checked twins are `q_sql_dialect_scalar` / `_bitwise` /
  * `_passthrough` / `_listagg` / `_to_varchar` / `_editdistance` /
  * `_strtok`. */
class SqlDialectSpec extends SparkSpec {
  import spark.implicits._

  /** Plain `spark.sql` on a session holding the dialect functions. */
  private def sql(text: String) = {
    SqlDialect.register(spark)
    spark.sql(text)
  }

  /** `dialect` and `ansi` select lists return the same types and rows. */
  private def same(dialect: String, ansi: String): Unit = {
    val (d, a) = (sql(s"SELECT $dialect"), sql(s"SELECT $ansi"))
    assert(d.schema.map(_.dataType) == a.schema.map(_.dataType), s"$dialect vs $ansi")
    assert(d.collect().toSeq.map(_.toSeq) == a.collect().toSeq.map(_.toSeq),
      s"$dialect vs $ansi")
  }

  /** Every message along an exception's cause chain. */
  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  private def failsWith(text: String, message: String): Unit = {
    val e = intercept[Exception](sql(s"SELECT $text").collect())
    assert(msgs(e).exists(_.contains(message)), s"$text: ${msgs(e)}")
  }

  test("simple renames and wraps") {
    same("IFF(2 > 1, 'x', 'y'), IFF(NULL, 'x', 'y')",
      "if(2 > 1, 'x', 'y'), if(NULL, 'x', 'y')")
    same("SQUARE(3), SQUARE(CAST(1.5 AS DOUBLE))", "power(3, 2), power(1.5D, 2)")
    same("charindex('b', 'abcb'), CHARINDEX('b', 'abcb', 3), CHARINDEX('z', 'abc')",
      "locate('b', 'abcb'), locate('b', 'abcb', 3), locate('z', 'abc')")
    same("TO_VARCHAR(42), TO_VARCHAR(DATE'1996-01-02')",
      "CAST(42 AS STRING), CAST(DATE'1996-01-02' AS STRING)")
    same("EditDistance('kitten', 'sitting')", "levenshtein('kitten', 'sitting')")
    same("BITAND(1023L, 255), BITOR(5, 8), BITXOR(6, 3), BITNOT(5)",
      "1023L & 255, 5 | 8, 6 ^ 3, ~5")
    same("BITSHIFTLEFT(5, 3), BITSHIFTRIGHT(-64, 2)", "shiftleft(5, 3), shiftright(-64, 2)")
  }

  test("DIV0 becomes the zero-guarded CASE, DIV0NULL adds the NULL arm") {
    Seq((10.0, Some(4.0)), (10.0, Some(0.0)), (10.0, None))
      .toDF("a", "b").createOrReplaceTempView("sd_div")
    def col(q: String) = sql(s"SELECT $q FROM sd_div").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(col("DIV0(a, b)") == col("CASE WHEN b = 0 THEN 0 ELSE a / b END"))
    assert(col("DIV0(a, b)") == Seq(Some(2.5), Some(0.0), None))
    assert(col("DIV0NULL(a, b)") ==
      col("CASE WHEN b = 0 OR b IS NULL THEN 0 ELSE a / b END"))
    assert(col("DIV0NULL(a, b)") == Seq(Some(2.5), Some(0.0), Some(0.0)))
    spark.catalog.dropTempView("sd_div")
  }

  test("nested calls rewrite inside-out") {
    same("IFF(DIV0(6, 3) > 0, SQUARE(4), 0)",
      "if(CASE WHEN 3 = 0 THEN 0 ELSE 6 / 3 END > 0, power(4, 2), 0)")
    same("BITSHIFTLEFT(BITAND(13, 3), 2)", "shiftleft(13 & 3, 2)")
  }

  test("commas inside nested parens and strings don't split arguments") {
    same("IFF(length(concat('a', 'b')) = 2, 'x,y', concat('c', 'd'))", "'x,y'")
  }

  test("string literals, comments, and quoted identifiers pass through") {
    same("'IFF(a,b,c)' AS t, 'it''s IFF(x,y,z)' AS u",
      "'IFF(a,b,c)' AS t, 'it''s IFF(x,y,z)' AS u")
    same("1 -- IFF(a,b,c)\n", "1")
    same("/* IFF(a,b,c) */ 1", "1")
    // a backticked name resolves to the same function
    same("`IFF`(true, 1, 2)", "1")
  }

  test("a bare identifier or qualified reference named like a mapping is untouched") {
    Seq((1, 2)).toDF("iff", "square").createOrReplaceTempView("sd_cols")
    assert(sql("SELECT iff, square FROM sd_cols").collect().map(r =>
      (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 2)))
    // a qualified name is a catalog function, not the session one
    intercept[Exception](sql("SELECT sd_cols.iff(true, 1, 2) FROM sd_cols").collect())
    spark.catalog.dropTempView("sd_cols")
  }

  test("divergent forms fail loudly with the offending call") {
    // residual exotics only — the frequent 2-arg TO_VARCHAR / 3-arg
    // EDITDISTANCE / STRTOK forms (incl. MON/DY and character sets)
    // map exactly
    failsWith("TO_VARCHAR(DATE'1996-01-02', 'MONTH DD, YYYY')", // full name
      "tokens outside the mapped set")
    Seq(("2024-01-01", "YYYY")).toDF("d", "fmt").createOrReplaceTempView("sd_fmt")
    val e = intercept[Exception](sql("SELECT TO_VARCHAR(d, fmt) FROM sd_fmt")) // computed
    assert(msgs(e).exists(_.contains("string literal")), msgs(e))
    spark.catalog.dropTempView("sd_fmt")
    failsWith("STRTOK('a', '', 2)", "EMPTY delimiter") // whole-string-as-token form
    failsWith("IFF(true, 1)", "3 argument")
    failsWith("CHARINDEX('a')", "CHARINDEX takes 2 to 3 arguments")
  }

  test("2-arg TO_VARCHAR maps literal date and numeric formats") {
    val d = "TIMESTAMP'1996-01-02 15:04:05.678'"
    same(s"TO_VARCHAR($d, 'YYYY-MM-DD')", s"date_format($d, 'yyyy-MM-dd')")
    same(s"TO_VARCHAR($d, 'DD/MM/YYYY HH24:MI:SS')",
      s"date_format($d, 'dd/MM/yyyy HH:mm:ss')")
    // case-insensitive tokens, 12-hour + meridiem, fractional seconds
    same(s"TO_VARCHAR($d, 'hh12:mi am')", s"date_format($d, 'hh:mm a')")
    same(s"TO_VARCHAR($d, 'SS.FF3')", s"date_format($d, 'ss.SSS')")
    same("TO_VARCHAR(1234567.5D, '9,999,990.00')",
      "format_number(1234567.5D, '#,###,##0.00')")
    same("TO_VARCHAR(42, '0000')", "format_number(42, '0000')")
    same("TO_VARCHAR(1234.5D, '$9,990.00')", "format_number(1234.5D, '$#,##0.00')")
    // MON/DY: output case follows the keyword's case — capitalized
    // folds into the plain pattern, upper/lower wrap their own segment
    same(s"TO_VARCHAR($d, 'Mon DD, YYYY')", s"date_format($d, 'MMM dd, yyyy')")
    same(s"TO_VARCHAR($d, 'MON DD')",
      s"concat(upper(date_format($d, 'MMM')), date_format($d, ' dd'))")
    same(s"TO_VARCHAR($d, 'dy')", s"lower(date_format($d, 'EEE'))")
    val mon = sql("SELECT TO_VARCHAR(DATE'1996-01-02', 'MON DD, YYYY') AS u, " +
      "TO_VARCHAR(DATE'1996-01-02', 'Mon') AS c, " +
      "TO_VARCHAR(DATE'1996-01-02', 'dy') AS l").collect().head
    assert(mon.getString(0) == "JAN 02, 1996")
    assert(mon.getString(1) == "Jan")
    assert(mon.getString(2) == "tue")
    // '$' only leads; two decimal points are not a numeric format
    failsWith("TO_VARCHAR(1, '9$9')", "tokens outside the mapped set")
    failsWith("TO_VARCHAR(1, '9.9.9')", "tokens outside the mapped set")
    // 9/0 orderings DecimalFormat rejects must fail at analysis, not
    // as a raw Malformed-pattern error mid-execution: integer part
    // needs 9s before 0s, fraction the mirror
    failsWith("TO_VARCHAR(1, '099')", "tokens outside the mapped set")
    failsWith("TO_VARCHAR(1, '9.90')", "tokens outside the mapped set")
  }

  test("3-arg EDITDISTANCE clamps to max via nullif, ONE evaluation") {
    same("EDITDISTANCE('kitten', 'sitting', 2), EDITDISTANCE('kitten', 'sitting', 3), " +
      "EDITDISTANCE('kitten', 'sitting', 9)",
      "coalesce(nullif(levenshtein('kitten', 'sitting', 2), -1), 2), " +
      "coalesce(nullif(levenshtein('kitten', 'sitting', 3), -1), 3), " +
      "coalesce(nullif(levenshtein('kitten', 'sitting', 9), -1), 9)")
    // clamp at max, exact at/below max
    val r = sql("SELECT EDITDISTANCE('kitten', 'sitting', 2) AS c, " +
      "EDITDISTANCE('kitten', 'sitting', 3) AS e, " +
      "EDITDISTANCE('kitten', 'sitting', 9) AS f").collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((2, 3, 3)))
    // one levenshtein per call in the analyzed plan
    Seq(("kitten", "sitting")).toDF("a", "b").createOrReplaceTempView("sd_ed")
    val plan = sql("SELECT EDITDISTANCE(a, b, 3) FROM sd_ed").queryExecution.analyzed
    assert(plan.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Levenshtein => l
    }).size == 1, plan)
    spark.catalog.dropTempView("sd_ed")
  }

  test("single-char STRTOK collapses empties and NULLs past the end") {
    val got = sql("SELECT STRTOK('a  b   c', ' ', 3) AS c3, " +
      "STRTOK('a  b', ' ', 9) AS miss, STRTOK('x.y.z', '.', 2) AS dot, " +
      "STRTOK('one two') AS dflt").collect().head
    assert(got.getString(0) == "c")
    assert(got.isNullAt(1), "past-the-end must be NULL, not ''")
    assert(got.getString(2) == "y", "regex-special delimiter must escape")
    assert(got.getString(3) == "one")
    // character-SET form: any-of splitting, empty-token collapse across
    // MIXED consecutive delimiters, regex metas in the class escaped,
    // NULL past the end — Snowflake's documented STRTOK('a.b,c', '.,', k)
    val set = sql("SELECT STRTOK('a.b,c', '.,', 2) AS s2, " +
      "STRTOK('x-.y', '.-', 2) AS mixed, STRTOK('p1]q2[r3', '[]', 3) AS bracket, " +
      "STRTOK('a.b,c', '.,', 4) AS miss, STRTOK('it''s', '''', 2) AS quote")
      .collect().head
    assert(set.getString(0) == "b")
    assert(set.getString(1) == "y",
      "mixed consecutive set delimiters must collapse to no token")
    assert(set.getString(2) == "r3", "regex metas inside the class must escape")
    assert(set.isNullAt(3), "set form past-the-end must be NULL")
    assert(set.getString(4) == "s", "a quote delimiter splits like any other")
    // Snowflake ERRORS on part <= 0; try_element_at(-1) would silently
    // serve the LAST token — literal parts fail at analysis, computed
    // parts raise at execution
    failsWith("STRTOK('a-b', '-', 0)", "part must be >= 1")
    Seq(-1).toDF("p").createOrReplaceTempView("sd_part")
    val e2 = intercept[Exception](sql("SELECT STRTOK('a-b', '-', p) FROM sd_part").collect())
    assert(msgs(e2).exists(_.contains("part must be >= 1")), msgs(e2))
    spark.catalog.dropTempView("sd_part")
  }

  test("rewritten SQL actually runs through the front door") {
    Seq((1L, 10.0, "abc"), (2L, 0.0, "xyz"))
      .toDF("k", "d", "s").createOrReplaceTempView("sd_t")
    val rows = SqlText.sql(spark,
      """SELECT k, IFF(d > 5, 'hi', 'lo') AS tag,
        |  DIV0(100.0, d) AS ratio,
        |  CHARINDEX('b', s) AS pos,
        |  BITSHIFTLEFT(BITAND(k, 3), 2) AS sh
        |FROM sd_t ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getInt(3), r.getLong(4)))
    assert(rows.toSeq == Seq((1L, "hi", 10.0, 2, 4L),
      (2L, "lo", 0.0, 0, 8L)))
    spark.catalog.dropTempView("sd_t")
  }

  test("dialect calls work inside MERGE AND-gates") {
    Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "tag", "v").createOrReplaceTempView("sd_corpus")
    Seq((1L, "A", 11L), (2L, "B", 99L))
      .toDF("k", "tag", "v").createOrReplaceTempView("sd_batch")
    // gate: only rows where IFF says the batch v is small get updated
    val out = SqlText.sql(spark,
      """MERGE INTO sd_corpus c USING sd_batch b ON c.k = b.k
        |WHEN MATCHED AND IFF(b.v < 50, true, false) THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "A", 11L), (2L, "b", 20L)))
    spark.catalog.dropTempView("sd_corpus")
    spark.catalog.dropTempView("sd_batch")
  }

  test("maskLiterals: same length, keywords hidden, delimiters survive") {
    def m(s: String) = SqlDialect.maskLiterals(s)
    val cases = Seq(
      "SELECT 'x WHERE y' AS a FROM t",
      "UPDATE t SET a = 'it''s WHEN' WHERE k = 1",
      "SELECT a -- WHERE hidden\nFROM t",
      "SELECT /* WHEN * hidden */ a FROM t",
      "SELECT \"odd col\" , `tick QUALIFY` FROM t",
      "SELECT 'unterminated",      // unterminated literal
      "SELECT a /* unterminated",  // unterminated comment
      "SELECT '' AS empty, a FROM t")
    cases.foreach { s =>
      val masked = m(s)
      assert(masked.length == s.length, s"length drift for: $s")
      assert(!masked.toUpperCase.matches("(?s).*'[^']*WHERE[^']*'.*"),
        s"literal keyword leaked: $masked")
    }
    assert(m("SELECT 'x WHERE y' FROM t") == "SELECT '#########' FROM t")
    assert(m("a -- b WHERE c\nd") == "a --##########\nd")
    assert(m("a /* WHEN */ b") == "a /*######*/ b")
    // '' doubling masks as interior, both quotes of the pair included
    assert(m("'it''s'") == "'#####'")
  }
}
