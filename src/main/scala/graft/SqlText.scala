package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.classic.GraftColumns.column
import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}

/** Warehouse-SQL text front-end — the reference's query-string-first UX
  * (`read_snowflake(query)`, dask_snowflake/core.py:143) for the DML
  * statements a warehouse user types that Spark SQL cannot run without
  * extra machinery: `MERGE INTO`, single-table `UPDATE … SET` and
  * `DELETE FROM` (Spark parses all three but needs a v2 table format to
  * analyze them; here the result is the mutated relation),
  * Snowflake-style `ASOF JOIN … MATCH_CONDITION`, the `QUALIFY`
  * window-filter clause and `SELECT * EXCLUDE` (no Spark syntax for
  * any of the last three).
  *
  * Every statement first goes through the session's own SQL parser
  * (`spark.sessionState.sqlParser`). A parsed `MergeIntoTable`,
  * `UpdateTable` or `DeleteFromTable` runs straight from the plan on
  * the engine's native operators ([[Graft.upsert]],
  * [[Graft.upsertPartial]], [[Graft.mergeDelete]], [[Graft.merge]], one
  * projection for UPDATE, one filter for DELETE): its gates, SET values
  * and WHERE predicates become Columns from the parsed expressions,
  * with the user's MERGE aliases renamed onto the operators' `c`
  * (target) and `b` (source). Any other parsed statement runs through
  * `spark.sql`. Only a statement Spark's parser rejects reaches the
  * regex grammar below, which knows ASOF JOIN, QUALIFY and EXCLUDE and
  * otherwise rethrows Spark's positioned `ParseException`. The Snowflake
  * scalar functions Spark 4.1 lacks (IFF, SQUARE, CHARINDEX, TO_VARCHAR,
  * EDITDISTANCE, DIV0/DIV0NULL, the BIT* family, STRTOK) are
  * [[SqlDialect]]'s session functions, registered on every call, so
  * they resolve in every statement like any other function.
  *
  * MERGE supports the CDC verb set: full (`SET *`) and partial
  * (`SET col = s.col, …`) updates, `DELETE`, MULTIPLE `WHEN MATCHED
  * [AND <pred>]` branches evaluated first-match-wins (Snowflake's
  * branch order semantics), update-only merges, and both insert
  * forms — `WHEN NOT MATCHED THEN INSERT *` and the explicit
  * `INSERT (cols) VALUES (s.cols)` list (unlisted target columns
  * become typed NULLs). The canonical single-branch forms keep their
  * dedicated engine routes ([[Graft.upsert]] / [[Graft.upsertPartial]]
  * / [[Graft.mergeDelete]]); everything else rewrites onto the
  * generalized [[Graft.merge]] — still ONE full-outer key shuffle.
  *
  * NULL-key policy differs BY VERB (round-13 ADVICE, documented here
  * on purpose): the UPDATE routes and [[Graft.merge]] match keys
  * null-safely (`<=>` — a NULL-keyed batch row pairs with a NULL-keyed
  * corpus row), while the standalone DELETE route ([[Graft.mergeDelete]],
  * two anti joins) uses ANSI `===` — NULL keys never match, so a
  * NULL-keyed corpus row is updatable but not deletable through the
  * single-branch form. Multi-branch merges route through
  * [[Graft.merge]] and are uniformly null-safe, DELETE included.
  *
  * NONDETERMINISTIC MERGE fails loudly (round-14 ADVICE): every
  * update-capable MERGE route runs with `failOnDuplicateMatches` — a
  * target row matched by 2+ source rows raises at execution with the
  * offending key, matching Snowflake's default
  * `ERROR_ON_NONDETERMINISTIC_MERGE = true` instead of silently
  * fanning out; unmatched duplicate source keys still insert both
  * (deterministic, as in Snowflake). ONE DOCUMENTED DIVERGENCE: the
  * single-branch DELETE route is two anti joins — duplicate source
  * keys cannot fan out or change the result there, so it stays
  * guard-free where the warehouse's blanket setting would raise.
  *
  * The ASOF/QUALIFY/EXCLUDE grammar is LITERAL-AWARE: statements are
  * matched against a masked shadow ([[SqlDialect.maskLiterals]]) and
  * sliced from the original at the match offsets, so a string literal
  * or comment containing ` QUALIFY `, an alias qualifier, or a
  * comment-opening sequence can never split a statement at the wrong
  * token. A session UDF registered under a dialect function's name
  * (e.g. `iff`) keeps running: [[SqlDialect.register]] leaves it in
  * place.
  *
  * Restrictions are LOUD (parse, `require` or analysis errors), never
  * silent: a MERGE source that is not a table name, `WHEN NOT MATCHED
  * BY SOURCE`, a gated or repeated `WHEN NOT MATCHED`, `WITH SCHEMA
  * EVOLUTION`, SET or VALUES entries other than bare `s.col`
  * references, non-equi ON conjuncts, a MATCH_CONDITION that is not a
  * single `l.t >= r.t` / `l.t <= r.t` comparison, or a QUALIFY
  * predicate over an un-aliased window all fail with the offending
  * text. Oracle-checked as `q_sql_merge` / `q_sql_merge_partial` /
  * `q_sql_merge_delete` / `q_sql_merge_branches` /
  * `q_sql_merge_insert_list` / `q_sql_merge_gate_literal` /
  * `q_sql_update` / `q_sql_delete` / `q_sql_asof` / `q_sql_qualify` /
  * `q_sql_exclude`.
  */
object SqlText {

  // SELECT … FROM <lt> [AS l] ASOF JOIN <rt> [AS r]
  //   MATCH_CONDITION(<a>.<t> >= <b>.<t2>) ON <equi-conds> [tail…]
  private val AsofRe =
    ("""(?is)^\s*(SELECT\s+.+?)\s+FROM\s+""" +
     """(\w+)(?:\s+(?:AS\s+)?(?!ASOF\b)(\w+))?""" +
     """\s+ASOF\s+JOIN\s+""" +
     """(\w+)(?:\s+(?:AS\s+)?(?!MATCH_CONDITION\b)(\w+))?""" +
     """\s+MATCH_CONDITION\s*\(\s*(\w+)\.(\w+)\s*(>=|<=)\s*(\w+)\.(\w+)\s*\)""" +
     """\s+ON\s+(.+?)""" +
     """(\s+(?:WHERE|GROUP\s+BY|ORDER\s+BY|LIMIT)\b.*?)?\s*;?\s*$""").r

  // SELECT … QUALIFY <pred> [ORDER BY …] — Snowflake/DuckDB's
  // window-filter clause, absent from Spark SQL (no QUALIFY token in
  // the 4.1 parser). Canonical rewrite: wrap the pre-QUALIFY query and
  // filter the wrapper, so the predicate references the select list's
  // aliases — the `rn <= k` top-k-per-group idiom. A predicate naming
  // a window expression NOT aliased in the select list fails loudly at
  // analysis (unresolved column), never silently.
  private val QualifyRe =
    """(?is)^\s*(SELECT\s+.+?)\s+QUALIFY\s+(.+?)(\s+ORDER\s+BY\s+.+?)?\s*;?\s*$""".r

  // SELECT * EXCLUDE (cols) FROM <t> [tail] — Snowflake/DuckDB's
  // projection-complement sugar (no Spark syntax): rewrites to the
  // explicit column list from the table's schema. Canonical single
  // bare-table form; the tail (WHERE/GROUP/ORDER/LIMIT) passes
  // through. Unknown or all-columns EXCLUDE fails loudly.
  private val ExcludeRe =
    ("""(?is)^\s*SELECT\s+\*\s+EXCLUDE\s+\(?\s*([\w\s,]+?)\s*\)?""" +
     """\s+FROM\s+(\w+)(\s+.*?)?\s*;?\s*$""").r

  /** A statement plus its literal-masked shadow
    * ([[SqlDialect.maskLiterals]] — same length, `'…'`/`"…"`/backtick
    * interiors and comment bodies turned to `#`). The grammar regexes
    * match against `masked`, so a keyword INSIDE a string literal or
    * comment is invisible to them; every captured group is sliced from
    * `original` at the match offsets, so the executed text keeps its
    * literals intact. */
  private final case class Stmt(original: String, masked: String)

  /** Anchored-match extractor over the MASKED text, capturing from the
    * ORIGINAL; absent groups surface as null, like plain `Regex`. */
  private final class MRe(re: scala.util.matching.Regex) {
    def unapplySeq(s: Stmt): Option[Seq[String]] = {
      val m = re.pattern.matcher(s.masked)
      if (!m.matches()) None
      else Some((1 to m.groupCount()).map { g =>
        if (m.start(g) < 0) null
        else s.original.substring(m.start(g), m.end(g))
      })
    }
  }

  private val AsofM = new MRe(AsofRe)
  private val QualifyM = new MRe(QualifyRe)
  private val ExcludeM = new MRe(ExcludeRe)

  private val MergeForms =
    "supported: MERGE INTO <table> [[AS] t] USING <table> [[AS] s] ON " +
      "t.k = s.k [AND …] with WHEN MATCHED [AND <pred>] THEN UPDATE SET " +
      "<*|col = s.col, …> | DELETE, repeatable first-match-wins, and at " +
      "most one ungated WHEN NOT MATCHED THEN INSERT <*|(cols) VALUES (s.cols)>"

  private def unsupported(what: String): Nothing =
    throw new IllegalArgumentException(s"unsupported MERGE $what ($MergeForms)")

  /** The statement text an expression was parsed from, for messages. */
  private def written(e: Expression): String = {
    val o = e.origin
    (for (s <- o.sqlText; a <- o.startIndex; b <- o.stopIndex)
      yield s.substring(a, b + 1)).getOrElse(e.toString)
  }

  /** A bare table reference, `name [[AS] alias]`: the table and the
    * alias its statement qualifies columns with (the name's last part
    * when there is none). */
  private def relation(spark: SparkSession,
      plan: LogicalPlan): Option[(DataFrame, String)] = plan match {
    case SubqueryAlias(alias, r: UnresolvedRelation) =>
      Some((spark.table(r.tableName), alias.name))
    case r: UnresolvedRelation =>
      Some((spark.table(r.tableName), r.multipartIdentifier.last))
    case _ => None
  }

  /** Parse an AND-conjunction of alias-qualified equi conditions into
    * (leftCol, rightCol) pairs, oriented so the first element belongs
    * to `leftAlias`. Anything non-equi is a loud error. */
  private def equiKeys(cond: Expression, leftAlias: String,
      rightAlias: String): Seq[(String, String)] = cond match {
    case And(l, r) =>
      equiKeys(l, leftAlias, rightAlias) ++ equiKeys(r, leftAlias, rightAlias)
    case EqualTo(UnresolvedAttribute(Seq(a1, c1)), UnresolvedAttribute(Seq(a2, c2))) =>
      if (a1.equalsIgnoreCase(leftAlias) && a2.equalsIgnoreCase(rightAlias))
        Seq((c1, c2))
      else if (a1.equalsIgnoreCase(rightAlias) && a2.equalsIgnoreCase(leftAlias))
        Seq((c2, c1))
      else sys.error(s"ON condition references unknown alias: '${written(cond)}' " +
        s"(expected aliases '$leftAlias' and '$rightAlias')")
    case other => sys.error(
      s"only alias-qualified equi conditions are supported in ON, got: '${written(other)}'")
  }

  /** The column an assignment's left side names: `col` or `alias.col`. */
  private def targetCol(key: Expression, alias: String): String = key match {
    case UnresolvedAttribute(Seq(c)) => c
    case UnresolvedAttribute(Seq(a, c)) if a.equalsIgnoreCase(alias) => c
    case _ => throw new IllegalArgumentException(
      s"SET target must be a '$alias' column: '${written(key)}'")
  }

  /** Strip `alias.` qualifiers from a SQL fragment — after the rewrite
    * every column lives flat in one view, so the qualifiers must go.
    * Quote-aware: `alias.` inside a string literal survives (found in
    * the mask, cut from the original). */
  private def stripAliases(fragment: String, aliases: Seq[String]): String = {
    val re = aliases.map(a => s"\\b${java.util.regex.Pattern.quote(a)}\\.")
      .mkString("(?i)(?:", "|", ")").r
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(SqlDialect.maskLiterals(fragment)).foreach { m =>
      sb.append(fragment.substring(last, m.start))
      last = m.end
    }
    sb.append(fragment.substring(last)).toString
  }

  /** Run one SQL statement, extending `spark.sql` with the MERGE INTO,
    * UPDATE, DELETE, ASOF JOIN, QUALIFY and EXCLUDE forms above.
    * Returns the result relation; for MERGE/UPDATE/DELETE (Spark frames
    * are immutable — there is no in-place table to mutate without a v2
    * catalog) the result IS the mutated relation, which the caller
    * writes wherever the target lives. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    SqlDialect.register(spark)
    val parsed =
      try Right(spark.sessionState.sqlParser.parsePlan(text))
      catch { case e: ParseException => Left(e) }
    parsed match {
      case Right(m: MergeIntoTable) => merge(spark, m)
      case Right(UpdateTable(table, assignments, cond)) =>
        update(spark, table, assignments, cond)
      case Right(DeleteFromTable(table, cond)) =>
        val (t, alias) = relation(spark, table).getOrElse(
          throw new IllegalArgumentException(s"DELETE needs a table name: '$text'"))
        // DELETE removes rows where the predicate is TRUE; a NULL
        // predicate keeps the row (ANSI three-valued logic); no WHERE
        // parses as `true` and empties the relation
        t.alias(alias).filter(not(coalesce(column(cond), lit(false))))
      case Right(_) => spark.sql(text)
      case Left(e) => fallback(spark, text, e)
    }
  }

  /** MERGE INTO, from the parsed plan. `SET *` is the canonical full-row
    * upsert; `SET col = s.col, …` is the partial update (matched rows
    * keep every unlisted column); `DELETE` removes matched target rows;
    * an `AND <pred>` gate restricts a matched action to pairs
    * satisfying it. Multiple matched branches evaluate in statement
    * order, FIRST-MATCH-WINS (Spark's parser rejects a branch after an
    * ungated one). `INSERT *` is full-row (schemas must align);
    * `INSERT (cols) VALUES (s.cols)` fills unlisted target columns with
    * typed NULLs. */
  private def merge(spark: SparkSession, m: MergeIntoTable): DataFrame = {
    if (m.withSchemaEvolution) unsupported("WITH SCHEMA EVOLUTION")
    if (m.notMatchedBySourceActions.nonEmpty)
      unsupported("clause WHEN NOT MATCHED BY SOURCE")
    val (corpus, tAlias) = relation(spark, m.targetTable)
      .getOrElse(unsupported("target: not a table name"))
    val (batch, sAlias) = relation(spark, m.sourceTable)
      .getOrElse(unsupported("source: a subquery or other non-table relation"))
    val keys = equiKeys(m.mergeCondition, tAlias, sAlias)
    keys.foreach { case (tk, sk) =>
      require(tk == sk,
        s"MERGE keys must share a column name (got $tAlias.$tk = $sAlias.$sk); " +
          "rename the source column before merging")
    }
    val keyCols = keys.map(_._1)
    // gates reference the user's aliases; the engine operators fix
    // theirs as c (target) / b (source)
    def gate(e: Expression): Column = column(e.transform {
      case UnresolvedAttribute(a +: rest) if rest.nonEmpty && a.equalsIgnoreCase(tAlias) =>
        UnresolvedAttribute("c" +: rest)
      case UnresolvedAttribute(a +: rest) if rest.nonEmpty && a.equalsIgnoreCase(sAlias) =>
        UnresolvedAttribute("b" +: rest)
    })
    def assigns(as: Seq[Assignment], where: String): Seq[(String, String)] =
      as.map { a =>
        targetCol(a.key, tAlias) -> (a.value match {
          case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(sAlias) => c
          case v => throw new IllegalArgumentException(
            s"only bare '$sAlias.col' references are supported in $where " +
              s"(expression RHS is not), got: '${written(v)}'")
        })
      }
    // SET * as an assignment list: every non-key corpus column from
    // the batch column of the same name (schemas must align there)
    def fullSet: Seq[(String, String)] =
      corpus.columns.filterNot(keyCols.contains).map(n => (n, n)).toSeq
    def branch(a: MergeAction): MergeBranch = a match {
      case UpdateStarAction(c) => MergeBranch(c.map(gate), Some(fullSet))
      case UpdateAction(c, as, _) =>
        MergeBranch(c.map(gate), Some(assigns(as, "SET assignments")))
      case DeleteAction(c) => MergeBranch(c.map(gate), None)
      case other => unsupported(s"action: '${written(other)}'")
    }
    // None = no insert arm; Some(Nil) = INSERT *; Some(cols) = list
    val insert = m.notMatchedActions match {
      case Seq() => None
      case Seq(InsertStarAction(None)) => Some(Nil)
      case Seq(InsertAction(None, as)) => Some(assigns(as, "INSERT VALUES"))
      case _ => unsupported("clause: a gated or repeated WHEN NOT MATCHED")
    }
    (m.matchedActions, insert) match {
      // insert-only merge: matched target rows unchanged, unmatched
      // batch rows append — one anti key join
      case (Seq(), Some(Nil)) =>
        require(corpus.columns.sameElements(batch.columns),
          s"INSERT * needs aligned schemas: ${corpus.columns.mkString(",")} " +
            s"vs ${batch.columns.mkString(",")}")
        val insCond = keyCols.map(k => col(s"b.$k") === col(s"c.$k"))
          .reduce(_ && _)
        corpus.unionAll(
          batch.alias("b").join(corpus.alias("c"), insCond, "left_anti"))
      case (Seq(UpdateStarAction(None)), Some(Nil)) =>
        Graft.upsert(corpus, batch, keyCols, failOnDuplicateMatches = true)
      case (Seq(a @ (_: UpdateStarAction | _: UpdateAction)), Some(Nil)) =>
        // gated full-row update ≡ SET every non-key column, gated
        val b = branch(a)
        Graft.upsertPartial(corpus, batch, keyCols, b.set.get, b.cond,
          failOnDuplicateMatches = true)
      case (Seq(DeleteAction(c)), ins @ (None | Some(Nil))) =>
        // NOTE: this single-branch route matches keys with ANSI ===
        // (NULL keys never match) — see the header's per-verb policy
        Graft.mergeDelete(corpus, batch, keyCols, c.map(gate),
          insertUnmatched = ins.isDefined)
      // everything else — multiple matched branches, insert lists,
      // update-only merges — is the generalized one-shuffle form
      case (acts, ins) =>
        Graft.merge(corpus, batch, keyCols, acts.map(branch),
          insert = ins.isDefined, insertCols = ins.getOrElse(Nil),
          failOnDuplicateMatches = true)
    }
  }

  /** UPDATE <t> SET col = <expr>[, …] [WHERE <pred>] — single-table (no
    * FROM/USING join form); the result IS the updated relation. All RHS
    * expressions evaluate against the ORIGINAL row (ANSI semantics:
    * `SET a = b, b = a` swaps), because every assignment lands in ONE
    * projection over the source columns. WHERE follows SQL's
    * three-valued logic: rows where the predicate is NULL are NOT
    * updated. Anything unresolvable fails loudly at analysis. */
  private def update(spark: SparkSession, table: LogicalPlan,
      assignments: Seq[Assignment], cond: Option[Expression]): DataFrame = {
    val (t0, alias) = relation(spark, table).getOrElse(
      throw new IllegalArgumentException("UPDATE needs a table name"))
    val t = t0.alias(alias)
    val assigns = assignments.map { a =>
      val c = targetCol(a.key, alias)
      require(t.columns.contains(c),
        s"UPDATE SET targets unknown column '$c' of '$alias'")
      c -> column(a.value)
    }
    require(assigns.map(_._1).distinct.size == assigns.size,
      s"duplicate UPDATE SET target in: ${assigns.map(_._1).mkString(", ")}")
    val gate = cond.map(p => coalesce(column(p), lit(false))).getOrElse(lit(true))
    val byName = assigns.toMap
    // ONE projection over the source columns: every RHS sees the
    // ORIGINAL row, so `SET a = b, b = a` swaps (ANSI)
    t.select(t.columns.toSeq.map { c =>
      byName.get(c) match {
        case Some(rhs) => when(gate, rhs).otherwise(t(c)).as(c)
        case None => t(c)
      }
    }: _*)
  }

  /** The forms Spark's parser rejects: ASOF JOIN, SELECT * EXCLUDE and
    * QUALIFY; anything else rethrows the parser's error. */
  private def fallback(spark: SparkSession, text: String,
      parseError: ParseException): DataFrame =
    Stmt(text, SqlDialect.maskLiterals(text)) match {
    case AsofM(proj, lt, lAliasOrNull, rt, rAliasOrNull,
        mcA, mcT, op, mcB, mcT2, cond, tailOrNull) =>
      val lAlias = Option(lAliasOrNull).getOrElse(lt)
      val rAlias = Option(rAliasOrNull).getOrElse(rt)
      // orient the MATCH_CONDITION: `l.t >= r.t` is the backward join
      // (most recent right at or before left), `l.t <= r.t` forward
      val (leftTime, rightTime, forward) =
        if (mcA.equalsIgnoreCase(lAlias) && mcB.equalsIgnoreCase(rAlias))
          (mcT, mcT2, op == "<=")
        else if (mcA.equalsIgnoreCase(rAlias) && mcB.equalsIgnoreCase(lAlias))
          (mcT2, mcT, op == ">=")
        else sys.error(s"MATCH_CONDITION references unknown alias: " +
          s"'$mcA.$mcT $op $mcB.$mcT2'")
      val keys = equiKeys(spark.sessionState.sqlParser.parseExpression(cond),
        lAlias, rAlias)
      val left = spark.table(lt)
      // align right-side key column names onto the left's (the engine
      // operator joins by shared names)
      val right0 = spark.table(rt)
      val right = keys.foldLeft(right0) { case (r, (lk, rk)) =>
        if (lk == rk) r else r.withColumnRenamed(rk, lk)
      }
      val joined = Graft.asofJoin(left, right, keys.map(_._1),
        leftTime, rightTime, forward = forward)
      val view = "graft_sql_asof_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      joined.createOrReplaceTempView(view)
      val rewritten = stripAliases(
        s"$proj FROM $view${Option(tailOrNull).getOrElse("")}",
        Seq(lAlias, rAlias))
      // the analyzed plan holds the view's resolved child directly, so
      // the scratch view can drop as soon as analysis is done
      val out = spark.sql(rewritten)
      spark.catalog.dropTempView(view)
      out

    case ExcludeM(colsTxt, target, tailOrNull) =>
      val excluded = colsTxt.split(",").map(_.trim).filter(_.nonEmpty)
      val t = spark.table(target)
      excluded.foreach(c => require(t.columns.contains(c),
        s"EXCLUDE names unknown column '$c' of '$target'"))
      val kept = t.columns.filterNot(excluded.contains)
      require(kept.nonEmpty, s"EXCLUDE removes every column of '$target'")
      spark.sql(s"SELECT ${kept.mkString(", ")} " +
        s"FROM $target${Option(tailOrNull).getOrElse("")}")

    case QualifyM(head, pred, orderOrNull) =>
      spark.sql(s"SELECT * FROM ($head) __graft_qualify WHERE $pred" +
        Option(orderOrNull).getOrElse(""))

    case _ => throw parseError
  }
}
