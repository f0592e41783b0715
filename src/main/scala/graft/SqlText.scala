package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse-SQL text front-end — the reference's query-string-first UX
  * (`read_snowflake(query)`, dask_snowflake/core.py:143) for the DML
  * statements a warehouse user types that Spark SQL cannot run without
  * extra machinery: `MERGE INTO` (Spark parses it but needs a v2 table
  * format to analyze), single-table `UPDATE … SET` / `DELETE FROM`
  * (same v2-catalog gap; the result is the mutated relation),
  * Snowflake-style `ASOF JOIN … MATCH_CONDITION`
  * (no Spark syntax at all), and the `QUALIFY` window-filter clause
  * (no QUALIFY token in Spark 4.1's parser). Each is recognized by a
  * restricted canonical grammar and REWRITTEN — MERGE/ASOF onto the
  * engine's native operators ([[Graft.upsert]], [[Graft.asofJoin]]),
  * QUALIFY onto the wrapped-subquery filter — so the SQL text is a
  * front door, not a second implementation, and the scale story (one
  * key-shuffle merge; union+window as-of with no range explosion) is
  * exactly the API one's. Everything else passes through to
  * `spark.sql`. The Snowflake scalar functions Spark 4.1 lacks (IFF,
  * SQUARE, CHARINDEX, TO_VARCHAR, EDITDISTANCE, DIV0/DIV0NULL, the BIT*
  * family, STRTOK) are [[SqlDialect]]'s session functions, registered
  * on every call, so they resolve at every leaf of this grammar like
  * any other function.
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
  * The grammar is LITERAL-AWARE: statements are matched against a
  * masked shadow ([[SqlDialect.maskLiterals]]) and sliced from the
  * original at the match offsets, so a string literal or comment
  * containing ` WHERE `, ` WHEN `, `QUALIFY`, an alias qualifier, or
  * a comment-opening sequence can never split a statement at the
  * wrong token. A session UDF registered under a dialect function's
  * name (e.g. `iff`) keeps running: [[SqlDialect.register]] leaves it
  * in place.
  *
  * Restrictions are LOUD (`require`/analysis errors), never silent:
  * expression-RHS VALUES entries (only `s.col` references), a branch
  * after an ungated `WHEN MATCHED` (unreachable under
  * first-match-wins), non-equi ON conjuncts, a MATCH_CONDITION that
  * is not a single `l.t >= r.t` / `l.t <= r.t` comparison, or a
  * QUALIFY predicate over an un-aliased window all fail with the
  * offending text. KNOWN GRAMMAR LIMIT: the WHEN-tail splits at each
  * `WHEN` token and gates parse up to the next `THEN`, so an AND-gate
  * containing a `CASE WHEN … THEN … END` expression is cut
  * mid-predicate and rejected — keep CASE expressions out of MERGE
  * gates (compute the flag in the source relation instead).
  * Oracle-checked as `q_sql_merge` / `q_sql_merge_partial` /
  * `q_sql_merge_delete` / `q_sql_merge_branches` /
  * `q_sql_merge_insert_list` / `q_sql_asof` / `q_sql_qualify`.
  */
object SqlText {

  // MERGE INTO <target> [AS t] USING <source> [AS s] ON <equi-conds>
  //   [WHEN MATCHED [AND <pred>] THEN (UPDATE SET <* | assignments> | DELETE)]*
  //   [WHEN NOT MATCHED THEN INSERT <* | (cols) VALUES (s.cols)>]
  // — `SET *` (or no action clauses at all) is the canonical full-row
  // upsert; `SET col = s.col, …` is the partial update (matched rows
  // keep every unlisted column); `DELETE` removes matched target rows;
  // an `AND <pred>` gate restricts a matched action to pairs
  // satisfying it. Multiple matched branches evaluate in statement
  // order, FIRST-MATCH-WINS; a branch after an ungated one is
  // unreachable and rejected. `INSERT *` is full-row (schemas must
  // align); `INSERT (cols) VALUES (s.cols)` fills unlisted target
  // columns with typed NULLs — VALUES entries must be bare source
  // column references, expression RHS fails loudly. At most ONE
  // not-matched clause, after every matched clause.
  private val MergeHeadRe =
    ("""(?is)^\s*MERGE\s+INTO\s+(\w+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?""" +
     """\s+USING\s+(\w+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?""" +
     """\s+ON\s+(.+?)""" +
     """((?:\s+WHEN\s.+)?)\s*;?\s*$""").r

  private val MatchedUpdateRe =
    """(?is)^WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(\*|.+?)\s*$""".r
  private val MatchedDeleteRe =
    """(?is)^WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*$""".r
  private val NotMatchedInsertRe =
    """(?is)^WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*$""".r
  private val NotMatchedInsertListRe =
    ("""(?is)^WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*""" +
     """\(([^)]*)\)\s*VALUES\s*\(([^)]*)\)\s*$""").r
  private val InsertValueRe = """(?s)^\s*(\w+)\.(\w+)\s*$""".r

  /** A parsed `WHEN MATCHED` action: the optional AND-gate text and
    * either the SET fragment (update) or None (delete). */
  private sealed trait MatchedAction
  private case class MatchedUpdate(pred: Option[String], set: String)
    extends MatchedAction
  private case class MatchedDelete(pred: Option[String])
    extends MatchedAction

  private val AssignRe =
    """(?s)^\s*(?:(\w+)\.)?(\w+)\s*=\s*(\w+)\.(\w+)\s*$""".r

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

  // UPDATE <t> SET col = <expr>[, …] [WHERE <pred>] — single-table
  // (no FROM/USING join form); the result IS the updated relation.
  // All RHS expressions evaluate against the ORIGINAL row (ANSI
  // semantics: `SET a = b, b = a` swaps), because every assignment
  // lands in ONE projection over the source columns. WHERE follows
  // SQL's three-valued logic: rows where the predicate is NULL are
  // NOT updated. RHS/pred go through Spark's expression parser —
  // anything unresolvable fails loudly at analysis. DELETE FROM <t>
  // [WHERE <pred>]: removes rows where the predicate is TRUE (NULL
  // keeps the row, ANSI); no WHERE empties the relation. Oracle-checked as `q_sql_update` / `q_sql_delete`.
  // SELECT * EXCLUDE (cols) FROM <t> [tail] — Snowflake/DuckDB's
  // projection-complement sugar (no Spark syntax): rewrites to the
  // explicit column list from the table's schema. Canonical single
  // bare-table form; the tail (WHERE/GROUP/ORDER/LIMIT) passes
  // through. Unknown or all-columns EXCLUDE fails loudly.
  private val ExcludeRe =
    ("""(?is)^\s*SELECT\s+\*\s+EXCLUDE\s+\(?\s*([\w\s,]+?)\s*\)?""" +
     """\s+FROM\s+(\w+)(\s+.*?)?\s*;?\s*$""").r

  private val UpdateRe =
    """(?is)^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val DeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val UpdateAssignRe = """(?s)^\s*(\w+)\s*=\s*(.+)$""".r

  private val EquiRe = """(?s)^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$""".r

  /** A statement plus its literal-masked shadow
    * ([[SqlDialect.maskLiterals]] — same length, `'…'`/`"…"`/backtick
    * interiors and comment bodies turned to `#`). The grammar regexes
    * match against `masked`, so a keyword INSIDE a string literal or
    * comment (`SET note = 'approved WHERE audited'`, a gate comparing
    * to `' THEN '`, a `-- comment` mid-statement) is invisible to the
    * splitter; every captured group is sliced from `original` at the
    * match offsets, so the executed text keeps its literals intact
    * (round-14 ADVICE: this was the one layer not quote-aware). */
  private final case class Stmt(original: String, masked: String) {
    def slice(from: Int, until: Int): Stmt =
      Stmt(original.substring(from, until), masked.substring(from, until))
    def trimmed: Stmt = {
      val from = masked.indexWhere(!_.isWhitespace)
      if (from < 0) Stmt("", "")
      else slice(from, masked.lastIndexWhere(!_.isWhitespace) + 1)
    }
  }

  // fragment boundaries always fall OUTSIDE literal/comment spans (they
  // are keyword positions found in the mask), so masking a fragment
  // equals slicing the parent's mask — re-masking is sound and simpler
  private def stmtOf(text: String) = Stmt(text, SqlDialect.maskLiterals(text))

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

  private val MergeHeadM = new MRe(MergeHeadRe)
  private val AsofM = new MRe(AsofRe)
  private val QualifyM = new MRe(QualifyRe)
  private val ExcludeM = new MRe(ExcludeRe)
  private val UpdateM = new MRe(UpdateRe)
  private val DeleteM = new MRe(DeleteRe)
  private val MatchedUpdateM = new MRe(MatchedUpdateRe)
  private val MatchedDeleteM = new MRe(MatchedDeleteRe)
  private val NotMatchedInsertM = new MRe(NotMatchedInsertRe)
  private val NotMatchedInsertListM = new MRe(NotMatchedInsertListRe)

  /** Split a fragment at each `boundary` match position in its MASK —
    * a boundary keyword inside a literal never splits. The boundary
    * text stays with the piece it starts (lookahead-style). */
  private def splitParts(frag: Stmt,
      boundary: scala.util.matching.Regex): Seq[Stmt] = {
    val starts = boundary.findAllMatchIn(frag.masked).map(_.start).toList
    val cuts = (0 :: starts).distinct :+ frag.masked.length
    cuts.sliding(2).collect {
      case List(a, b) if b > a => frag.slice(a, b)
    }.toSeq
  }

  /** Replace each un-quoted `alias.` occurrence in `fragment` with
    * `replacement` — occurrences inside string literals survive
    * verbatim (found in the mask, spliced in the original). */
  private def replaceAliasRefs(fragment: String, alias: String,
      replacement: String): String = {
    val masked = SqlDialect.maskLiterals(fragment)
    val re = s"(?i)\\b${java.util.regex.Pattern.quote(alias)}\\.".r
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(masked).foreach { m =>
      sb.append(fragment.substring(last, m.start)).append(replacement)
      last = m.end
    }
    sb.append(fragment.substring(last)).toString
  }

  /** Parse an AND-conjunction of alias-qualified equi conditions into
    * (leftCol, rightCol) pairs, oriented so the first element belongs
    * to `leftAlias`. Anything non-equi is a loud error. */
  private def equiKeys(cond: String, leftAlias: String,
      rightAlias: String): Seq[(String, String)] =
    cond.split("""(?i)\s+AND\s+""").toSeq.map {
      case EquiRe(a1, c1, a2, c2) =>
        if (a1.equalsIgnoreCase(leftAlias) && a2.equalsIgnoreCase(rightAlias))
          (c1, c2)
        else if (a1.equalsIgnoreCase(rightAlias) && a2.equalsIgnoreCase(leftAlias))
          (c2, c1)
        else sys.error(s"ON condition references unknown alias: '$a1.$c1 = $a2.$c2' " +
          s"(expected aliases '$leftAlias' and '$rightAlias')")
      case other => sys.error(
        s"only alias-qualified equi conditions are supported in ON, got: '$other'")
    }

  /** Strip `alias.` qualifiers from a SQL fragment — after the rewrite
    * every column lives flat in one view, so the qualifiers must go.
    * Quote-aware: `alias.` inside a string literal survives. */
  private def stripAliases(fragment: String, aliases: Seq[String]): String =
    aliases.foldLeft(fragment)((f, a) => replaceAliasRefs(f, a, ""))

  /** Rewrite `userAlias.` qualifiers onto the engine operators' fixed
    * internal aliases (two-phase through placeholders, so a user alias
    * that collides with an engine alias — e.g. the target aliased `b` —
    * can never be double-substituted). Quote-aware like
    * [[stripAliases]]; the placeholder phase-2 replace is plain text
    * (the phase-1 pass only plants placeholders outside literals). */
  private def mapAliases(fragment: String,
      renames: Seq[(String, String)]): String = {
    val tmp = renames.zipWithIndex.foldLeft(fragment) {
      case (f, ((ua, _), i)) =>
        replaceAliasRefs(f, ua, s"__graft_alias_$i.")
    }
    renames.zipWithIndex.foldLeft(tmp) { case (f, ((_, ea), i)) =>
      f.replace(s"__graft_alias_$i.", s"$ea.")
    }
  }

  /** Run one SQL statement, extending `spark.sql` with the MERGE INTO
    * and ASOF JOIN forms above. Returns the result relation; for MERGE
    * (Spark frames are immutable — there is no in-place table to
    * mutate without a v2 catalog) the result IS the merged relation,
    * which the caller writes wherever the target lives. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    SqlDialect.register(spark)
    stmtOf(text) match {
    case MergeHeadM(target, tAliasOrNull, source, sAliasOrNull, cond,
        whenTail) =>
      val tAlias = Option(tAliasOrNull).getOrElse(target)
      val sAlias = Option(sAliasOrNull).getOrElse(source)
      val keys = equiKeys(cond, tAlias, sAlias)
      keys.foreach { case (tk, sk) =>
        require(tk == sk,
          s"MERGE keys must share a column name (got $tAlias.$tk = $sAlias.$sk); " +
            "rename the source column before merging")
      }
      val keyCols = keys.map(_._1)
      // split the WHEN tail into clauses at each WHEN boundary and
      // classify; anything outside the canonical set fails loudly.
      // (This split is why AND-gates may not contain CASE WHEN — the
      // boundary regex cannot tell a branch keyword from an expression
      // keyword; see the header restriction.)
      val clauses = splitParts(stmtOf(whenTail), """(?i)\bWHEN\s""".r)
        .map(_.trimmed).filter(_.original.nonEmpty)
      // ordered matched branches — Snowflake evaluates them
      // first-match-wins, so statement order is semantics
      val matchedActs = scala.collection.mutable.ListBuffer.empty[MatchedAction]
      // None = no insert arm; Some(Nil) = INSERT *; Some(cols) = list
      var insertSpec: Option[Seq[(String, String)]] = None
      clauses.foreach {
        case NotMatchedInsertM() =>
          require(insertSpec.isEmpty, "duplicate WHEN NOT MATCHED clause")
          insertSpec = Some(Nil)
        case c @ NotMatchedInsertListM(colsTxt, valsTxt) =>
          require(insertSpec.isEmpty, "duplicate WHEN NOT MATCHED clause")
          val cols = colsTxt.split(",").toSeq.map(_.trim)
          require(cols.nonEmpty && cols.forall(_.matches("""\w+""")),
            s"INSERT column list must be plain column names: '$colsTxt'")
          val vals = valsTxt.split(",").toSeq.map {
            case InsertValueRe(a, v) =>
              require(a.equalsIgnoreCase(sAlias),
                s"INSERT VALUES must reference the source alias " +
                  s"'$sAlias': got '$a.$v'")
              v
            case other => sys.error(
              s"only bare '$sAlias.col' references are supported in " +
                s"INSERT VALUES (expression RHS is not), got: '$other'")
          }
          require(cols.size == vals.size,
            s"INSERT column/value arity mismatch: ${cols.size} columns " +
              s"vs ${vals.size} values in '${c.original}'")
          insertSpec = Some(cols.zip(vals))
        case MatchedUpdateM(predOrNull, set) =>
          require(insertSpec.isEmpty,
            "WHEN MATCHED must precede WHEN NOT MATCHED")
          matchedActs += MatchedUpdate(Option(predOrNull), set.trim)
        case MatchedDeleteM(predOrNull) =>
          require(insertSpec.isEmpty,
            "WHEN MATCHED must precede WHEN NOT MATCHED")
          matchedActs += MatchedDelete(Option(predOrNull))
        case other => sys.error(
          s"unsupported MERGE clause: '${other.original}' (supported: WHEN MATCHED " +
            "[AND <pred>] THEN UPDATE SET <*|col = s.col, …> | DELETE, " +
            "repeatable first-match-wins; WHEN NOT MATCHED THEN INSERT " +
            "<*|(cols) VALUES (s.cols)>; note gates may not contain " +
            "CASE WHEN — the clause splitter cuts at WHEN/THEN tokens)")
      }
      val corpus = spark.table(target)
      val batch = spark.table(source)
      // AND-gates reference the user's aliases; the engine operators
      // fix theirs as c (target) / b (source)
      def predCol(p: String): org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.expr(
          mapAliases(p, Seq(tAlias -> "c", sAlias -> "b")))
      def parseAssigns(assigns: String): Seq[(String, String)] =
        assigns.split(",").toSeq.map {
          case AssignRe(lhsAliasOrNull, tc, rhsAlias, sc) =>
            require(lhsAliasOrNull == null ||
                lhsAliasOrNull.equalsIgnoreCase(tAlias),
              s"SET target must be a '$tAlias' column: $lhsAliasOrNull.$tc")
            require(rhsAlias.equalsIgnoreCase(sAlias),
              s"SET source must be a '$sAlias' column: $rhsAlias.$sc")
            (tc, sc)
          case other => sys.error(
            s"only 'col = $sAlias.col' assignments are supported in SET, " +
              s"got: '$other'")
        }
      // SET * as an assignment list: every non-key corpus column from
      // the batch column of the same name (schemas must align there)
      def fullSet: Seq[(String, String)] =
        corpus.columns.filterNot(keyCols.contains).map(n => (n, n)).toSeq
      def toBranch(a: MatchedAction): MergeBranch = a match {
        case MatchedUpdate(pred, "*") =>
          MergeBranch(pred.map(predCol), Some(fullSet))
        case MatchedUpdate(pred, assigns) =>
          MergeBranch(pred.map(predCol), Some(parseAssigns(assigns)))
        case MatchedDelete(pred) =>
          MergeBranch(pred.map(predCol), None)
      }
      (matchedActs.toList, insertSpec) match {
        // bare MERGE (no clauses) stays the canonical full-row upsert
        case (Nil, None) =>
          Graft.upsert(corpus, batch, keyCols,
            failOnDuplicateMatches = true)
        // insert-only merge: matched target rows unchanged, unmatched
        // batch rows append — one anti key join
        case (Nil, Some(Nil)) =>
          require(corpus.columns.sameElements(batch.columns),
            s"INSERT * needs aligned schemas: ${corpus.columns.mkString(",")} " +
              s"vs ${batch.columns.mkString(",")}")
          import org.apache.spark.sql.functions.col
          val insCond = keyCols.map(k => col(s"b.$k") === col(s"c.$k"))
            .reduce(_ && _)
          corpus.unionAll(
            batch.alias("b").join(corpus.alias("c"), insCond, "left_anti"))
        case (List(MatchedUpdate(None, "*")), Some(Nil)) =>
          Graft.upsert(corpus, batch, keyCols,
            failOnDuplicateMatches = true)
        case (List(MatchedUpdate(pred @ Some(_), "*")), Some(Nil)) =>
          // gated full-row update ≡ SET every non-key column, gated
          Graft.upsertPartial(corpus, batch, keyCols, fullSet,
            pred.map(predCol), failOnDuplicateMatches = true)
        case (List(MatchedUpdate(pred, assigns)), Some(Nil)) =>
          Graft.upsertPartial(corpus, batch, keyCols,
            parseAssigns(assigns), pred.map(predCol),
            failOnDuplicateMatches = true)
        case (List(MatchedDelete(pred)), ins @ (None | Some(Nil))) =>
          // NOTE: this single-branch route matches keys with ANSI ===
          // (NULL keys never match) — see the header's per-verb policy
          Graft.mergeDelete(corpus, batch, keyCols, pred.map(predCol),
            insertUnmatched = ins.isDefined)
        // everything else — multiple matched branches, insert lists,
        // update-only merges — is the generalized one-shuffle form
        case (acts, ins) =>
          Graft.merge(corpus, batch, keyCols, acts.map(toBranch),
            insert = ins.isDefined, insertCols = ins.getOrElse(Nil),
            failOnDuplicateMatches = true)
      }

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
      val keys = equiKeys(cond, lAlias, rAlias)
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

    case UpdateM(target, assignsTxt, predOrNull) =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit, when}
      val t = spark.table(target)
      val assigns = SqlDialect.splitTopLevel(assignsTxt).map {
        case UpdateAssignRe(c, rhs) =>
          require(t.columns.contains(c),
            s"UPDATE SET targets unknown column '$c' of '$target'")
          c -> expr(rhs.trim)
        case other => sys.error(
          s"only 'col = <expr>' assignments are supported in UPDATE SET, " +
            s"got: '$other'")
      }
      require(assigns.map(_._1).distinct.size == assigns.size,
        s"duplicate UPDATE SET target in: '$assignsTxt'")
      val gate = Option(predOrNull)
        .map(p => coalesce(expr(p), lit(false)))
        .getOrElse(lit(true))
      val byName = assigns.toMap
      // ONE projection over the source columns: every RHS sees the
      // ORIGINAL row, so `SET a = b, b = a` swaps (ANSI)
      t.select(t.columns.toSeq.map { c =>
        byName.get(c) match {
          case Some(rhs) => when(gate, rhs).otherwise(t(c)).as(c)
          case None => t(c)
        }
      }: _*)

    case DeleteM(target, predOrNull) =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val t = spark.table(target)
      Option(predOrNull) match {
        // DELETE removes rows where the predicate is TRUE; a NULL
        // predicate keeps the row (ANSI three-valued logic)
        case Some(p) => t.filter(
          not(coalesce(expr(p), lit(false))))
        case None => t.limit(0)
      }

    case QualifyM(head, pred, orderOrNull) =>
      spark.sql(s"SELECT * FROM ($head) __graft_qualify WHERE $pred" +
        Option(orderOrNull).getOrElse(""))

    case other => spark.sql(other.original)
  }
  }
}
