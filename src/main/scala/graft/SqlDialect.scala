package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Snowflake scalar functions that Spark 4.1 lacks, as Catalyst function
  * builders. The reference's UX is query-string pass-through to the
  * warehouse (dask_snowflake/core.py:143), so a user migrating real
  * Snowflake SQL types Snowflake-isms; Spark 4.1 already speaks most of
  * them natively (NVL, NVL2, IFNULL, DECODE, ZEROIFNULL, NULLIFZERO,
  * TO_NUMBER/TRY_TO_NUMBER, 3-arg DATEADD/DATEDIFF, LISTAGG … WITHIN
  * GROUP, SPLIT_PART, REGEXP_COUNT, REGEXP_SUBSTR, DAYNAME, MONTHNAME,
  * STARTSWITH, CONTAINS, MEDIAN), and [[functions]] builds the small
  * remainder, each as the Catalyst expression of its exact Spark twin:
  *
  *   - `IFF(c, t, f)`            → `If`
  *   - `SQUARE(x)`               → `Pow(x, 2)` (double, as Snowflake)
  *   - `CHARINDEX(sub, s[, p])`  → `StringLocate` (same arg order, same
  *                                  1-based/0-absent contract)
  *   - `TO_VARCHAR(x)`           → `Cast(x, STRING)`
  *   - `EDITDISTANCE(a, b)`      → `Levenshtein`
  *   - `DIV0(a, b)`              → `CASE WHEN b = 0 THEN 0 ELSE a / b END`
  *   - `DIV0NULL(a, b)`          → as DIV0 with the `OR b IS NULL` arm
  *   - `BITAND/BITOR/BITXOR`     → `BitwiseAnd` / `BitwiseOr` / `BitwiseXor`
  *   - `BITNOT(a)`               → `BitwiseNot`
  *   - `BITSHIFTLEFT/RIGHT`      → `ShiftLeft` / `ShiftRight`
  *   - `TO_VARCHAR(x, 'fmt')` with a constant format: date formats built
  *     from the unambiguous numeric tokens (YYYY YY MM DD HH24 HH12 HH
  *     MI SS FF[1-9] AM PM + `-/:. ,` separators) translate token-wise
  *     to a `DateFormatClass` pattern; the NAME tokens MON/DY translate
  *     with Snowflake's case-of-the-keyword output contract (`MON`→JAN,
  *     `Mon`→Jan, `mon`→jan; likewise DY) — a capitalized token folds
  *     into the plain pattern (Spark's MMM/EEE emit capitalized),
  *     upper/lower tokens become their own `Upper`/`Lower` segment of a
  *     `Concat`; numeric formats over `9 0 , . $` translate char-wise
  *     (9 → #) to a `FormatNumber` DecimalFormat pattern. Remaining
  *     exotics (`"…"` literal sections; TZ*; full MMMM/DAY names) and a
  *     non-constant format fail at analysis. One DOCUMENTED divergence on
  *     the numeric forms: Snowflake space-fills a 9-position that
  *     DecimalFormat's # simply omits (underwidth values lose leading
  *     spaces); formats made of 0s (zero-pad) are exact.
  *   - `EDITDISTANCE(a, b, max)` → `coalesce(nullif(levenshtein(a, b,
  *     max), -1), max)`: Spark's 3-arg levenshtein returns -1 past the
  *     threshold where Snowflake clamps to max; one evaluation of the
  *     banded O(len·max) distance, and d = max passes through both.
  *   - `STRTOK(s[, delim[, part]])` with a constant delimiter →
  *     `try_element_at(array_remove(split(s, rx, -1), ''), part)`, where
  *     rx is the escaped character for a 1-char delimiter and an escaped
  *     `[class]` for Snowflake's multi-character character-SET (any-of)
  *     form — exact including Snowflake's empty-token collapse
  *     (consecutive delimiters yield no token) and NULL past the last
  *     token, which `split_part`'s empty-string-on-miss contract would
  *     NOT match. Non-constant and EMPTY delimiters fail at analysis
  *     (the empty delimiter is whole-string-as-token, its own semantics).
  *
  * `INSERT(s, pos, len, r)` is deliberately not provided; use `overlay`
  * (Spark-native, same semantics).
  *
  * The builders are session functions, so they work wherever Spark
  * resolves a function name: `spark.sql`, temporary views, `expr()`,
  * and every statement [[SqlText]] runs. They reach a session two
  * ways: [[register]] on an existing one (both SQL front doors,
  * `Read.readTable` and [[SqlText.sql]], call it), or
  * `graft.functions.GraftExtensions` at build time. Spark treats them
  * as temporary functions, so a permanent view cannot reference them.
  * Oracle-checked as `q_sql_dialect_scalar` / `_bitwise` /
  * `_passthrough` / `_listagg` / `_to_varchar` / `_editdistance` /
  * `_strtok`.
  *
  * [[maskLiterals]] serves [[SqlText]]'s fallback grammar, the one
  * that reads ASOF JOIN, QUALIFY and `SELECT * EXCLUDE`, which Spark's
  * parser rejects.
  */
object SqlDialect {

  /** Every dialect function, in the form `SparkSessionExtensions.injectFunction`
    * takes. */
  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    "iff" -> fixed("IFF", 3) { case Seq(c, t, f) => If(c, t, f) },
    "square" -> fixed("SQUARE", 1) { case Seq(x) => Pow(x, Literal(2)) },
    "charindex" -> ranged("CHARINDEX", 2, 3) {
      case Seq(sub, s) => new StringLocate(sub, s)
      case Seq(sub, s, p) => StringLocate(sub, s, p)
    },
    "to_varchar" -> ranged("TO_VARCHAR", 1, 2) {
      case Seq(x) => Cast(x, StringType)
      case args => toVarchar(args)
    },
    "editdistance" -> ranged("EDITDISTANCE", 2, 3) {
      case Seq(a, b) => new Levenshtein(a, b)
      case Seq(a, b, max) =>
        Coalesce(Seq(new NullIf(Levenshtein(a, b, Some(max)), Literal(-1)), max))
    },
    "div0" -> fixed("DIV0", 2) { case Seq(a, b) =>
      CaseWhen(Seq(EqualTo(b, Literal(0)) -> Literal(0)), Divide(a, b))
    },
    "div0null" -> fixed("DIV0NULL", 2) { case Seq(a, b) =>
      CaseWhen(Seq(Or(EqualTo(b, Literal(0)), IsNull(b)) -> Literal(0)), Divide(a, b))
    },
    "bitand" -> fixed("BITAND", 2) { case Seq(a, b) => BitwiseAnd(a, b) },
    "bitor" -> fixed("BITOR", 2) { case Seq(a, b) => BitwiseOr(a, b) },
    "bitxor" -> fixed("BITXOR", 2) { case Seq(a, b) => BitwiseXor(a, b) },
    "bitnot" -> fixed("BITNOT", 1) { case Seq(a) => BitwiseNot(a) },
    "bitshiftleft" -> fixed("BITSHIFTLEFT", 2) { case Seq(a, n) => ShiftLeft(a, n) },
    "bitshiftright" -> fixed("BITSHIFTRIGHT", 2) { case Seq(a, n) => ShiftRight(a, n) },
    "strtok" -> ranged("STRTOK", 1, 3)(strtok)
  ).map { case (name, builder) =>
    (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), builder)
  }

  /** Put [[functions]] into the session's function registry (idempotent).
    * A name the session already binds to something other than Spark's
    * own builtin is the user's and keeps its function; once the user
    * drops it, the next call restores the dialect function. Spark's
    * own builtin `to_varchar`, whose formats are not Snowflake's, is
    * replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (registry.lookupFunctionBuilder(id) == FunctionRegistry.builtin.lookupFunctionBuilder(id))
        registry.registerFunction(id, info, builder)
    }
  }

  /** The text of a call, for error messages. */
  private def call(name: String, args: Seq[Expression]): String =
    s"$name(${args.map(_.sql).mkString(", ")})"

  private def ranged(name: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression): FunctionBuilder = { args =>
    require(args.size >= min && args.size <= max,
      s"$name takes ${if (min == max) s"$min argument(s)" else s"$min to $max arguments"}, " +
        s"got ${args.size}: '${call(name, args)}'")
    build(args)
  }

  private def fixed(name: String, n: Int)(
      build: Seq[Expression] => Expression): FunctionBuilder =
    ranged(name, n, n)(build)

  /** The value of a constant string argument of the call `text`;
    * analysis fails on any other expression. */
  private def constantString(e: Expression, what: String, text: String): String = {
    require(e.foldable && e.dataType.isInstanceOf[StringType] && e.eval() != null,
      s"$what must be a string literal (a computed one cannot be " +
        s"translated at analysis time): '$text'")
    e.eval().toString
  }

  private def toVarchar(args: Seq[Expression]): Expression = {
    val (x, text) = (args.head, call("TO_VARCHAR", args))
    val fmt = constantString(args(1), "TO_VARCHAR's format", text)
    numericFormat(fmt).map(p => FormatNumber(x, Literal(p)))
      .orElse(dateFormatPieces(fmt).map { pieces =>
        val segs = pieces.map {
          case (p, None) => new DateFormatClass(x, Literal(p))
          case (p, Some("upper")) => Upper(new DateFormatClass(x, Literal(p)))
          case (p, Some(_)) => Lower(new DateFormatClass(x, Literal(p)))
        }
        if (segs.size == 1) segs.head else Concat(segs)
      })
      .getOrElse(throw new IllegalArgumentException(
        s"TO_VARCHAR format '$fmt' uses tokens outside the mapped set " +
          "(dates: YYYY YY MM DD HH24 HH12 HH MI SS FF[1-9] AM PM " +
          "MON DY with -/:. , separators; numbers: 9 0 , . $ with " +
          "9s before 0s ahead of the point and 0s before 9s after " +
          s"it) — write date_format/format_number directly: '$text'"))
  }

  private def strtok(args: Seq[Expression]): Expression = {
    val text = call("STRTOK", args)
    val delim = args.lift(1).fold(" ")(constantString(_, "STRTOK's delimiter", text))
    val part = args.lift(2).getOrElse(Literal(1))
    require(delim.nonEmpty, "STRTOK with an EMPTY delimiter is not " +
      s"supported (whole-string token semantics): '$text'")
    // a non-positive part is an ERROR in Snowflake, while Spark's
    // try_element_at(-1) would silently serve the LAST token — reject
    // literal values at analysis, guard computed ones at execution
    part match {
      case Literal(p: Number, _) => require(p.longValue >= 1,
        s"STRTOK part must be >= 1 (Snowflake errors on $p): '$text'")
      case _ =>
    }
    val guarded = CaseWhen(Seq(GreaterThanOrEqual(part, Literal(1)) -> part),
      Cast(new RaiseError(Literal("STRTOK part must be >= 1")), IntegerType))
    // Snowflake's delimiter is a character SET (any-of): one char
    // coincides with plain splitting, two or more become a regex class
    val pattern =
      if (delim.length == 1) regexEscape(delim.head)
      else s"[${delim.map(regexEscape).mkString}]"
    // drop empty tokens (Snowflake collapses consecutive delimiters),
    // NULL past the last token (try_element_at)
    new TryElementAt(
      ArrayRemove(StringSplit(args.head, Literal(pattern), Literal(-1)), Literal("")), guarded)
  }

  /** The delimiter character as a Java-regex atom: regex specials get a
    * backslash. */
  private def regexEscape(c: Char): String =
    if ("\\.[]{}()*+-?^$|".contains(c)) s"\\$c" else c.toString

  /** Same-length copy of `sql` with the CONTENT of `'…'` string
    * literals (with `''` doubling), `"…"`/backtick identifiers and
    * line/block comments replaced by `#` — delimiters and newlines
    * survive, so every byte offset maps 1:1 onto the original.
    * [[SqlText]] runs its fallback grammar (ASOF JOIN, QUALIFY and
    * EXCLUDE detection, alias stripping) against the MASK and slices
    * the original at the match offsets, so a literal containing
    * `QUALIFY` or an alias qualifier, or a `--` comment inside a
    * statement, can never split at the wrong token. `#` is neither a
    * word character nor whitespace, so masked spans can neither fake a
    * keyword nor extend one. */
  private[graft] def maskLiterals(sql: String): String = {
    val out = new StringBuilder(sql.length)
    val n = sql.length
    // copy the span's leading/trailing delimiter chars verbatim, mask
    // the interior — by POSITION, so an unterminated span (no closer)
    // masks to the end without inventing delimiter bytes and the
    // same-length invariant holds for any input
    def span(from: Int, until: Int, lead: Int, trail: Int): Unit = {
      var j = from
      while (j < until) {
        val keep = j < from + lead || j >= until - trail
        out.append(if (keep) sql.charAt(j)
          else if (sql.charAt(j) == '\n') '\n' else '#')
        j += 1
      }
    }
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') {
        val j = pastString(sql, i)
        val closed = j > i + 1 && sql.charAt(j - 1) == '\''
        span(i, j, 1, if (closed) 1 else 0); i = j
      } else if (c == '"' || c == '`') {
        val j = pastDelim(sql, i, c)
        val closed = j > i + 1 && sql.charAt(j - 1) == c
        span(i, j, 1, if (closed) 1 else 0); i = j
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val j = sql.indexOf('\n', i) match { case -1 => n; case k => k }
        span(i, j, 2, 0); i = j
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val j = sql.indexOf("*/", i) match { case -1 => n; case k => k + 2 }
        val closed = j >= i + 4 && sql.startsWith("*/", j - 2)
        span(i, j, 2, if (closed) 2 else 0); i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Index just past a `'…'` literal starting at `i` (`''` doubles). */
  private def pastString(s: String, i: Int): Int = {
    var j = i + 1
    while (j < s.length) {
      if (s.charAt(j) == '\'') {
        if (j + 1 < s.length && s.charAt(j + 1) == '\'') j += 2 else return j + 1
      } else j += 1
    }
    j
  }

  /** Index just past a `"…"`/backtick-delimited identifier. */
  private def pastDelim(s: String, i: Int, d: Char): Int =
    s.indexOf(d, i + 1) match { case -1 => s.length; case k => k + 1 }

  /** Snowflake numeric format over `9 0 , . $` → a DecimalFormat
    * pattern for `format_number` (9 → #, rest verbatim; `$` must lead;
    * one decimal point; at least one digit position). None = not a
    * translatable numeric format — INCLUDING 9/0 orderings DecimalFormat
    * rejects ('9' after '0' in the integer part, '0' after... the
    * mirror in the fraction): mapping '9.90' to '#.#0' would die at
    * execution with a raw 'Malformed pattern' carrying no pointer back
    * to the TO_VARCHAR call — returning None routes it to the
    * analysis-time error instead. */
  private[graft] def numericFormat(fmt: String): Option[String] = {
    if (fmt.isEmpty || !fmt.forall(c => "90,.$".contains(c))) return None
    if (!fmt.exists(c => c == '9' || c == '0')) return None
    if (fmt.count(_ == '.') > 1) return None
    if (fmt.count(_ == '$') > 1 || (fmt.contains('$') && fmt.head != '$'))
      return None
    // DecimalFormat grammar: integer part is '#'s then '0's, fraction
    // part is '0's then '#'s — i.e. no '9' after a '0' before the
    // point, no '0' after a '9' past it (commas/$ transparent)
    val (intPart, fracPart) = fmt.indexOf('.') match {
      case -1 => (fmt, "")
      case i => (fmt.substring(0, i), fmt.substring(i + 1))
    }
    val intDigits = intPart.filter(c => c == '9' || c == '0')
    val fracDigits = fracPart.filter(c => c == '9' || c == '0')
    if (!intDigits.matches("9*0*") || !fracDigits.matches("0*9*"))
      return None
    Some(fmt.map(c => if (c == '9') '#' else c))
  }

  /** Longest-match-first Snowflake date tokens → Spark datetime pattern
    * letters. MON/DY live in [[dateFormatPieces]], not here: their
    * output case follows the KEYWORD's case in Snowflake, so they
    * translate as case-wrapped segments rather than bare pattern
    * letters. */
  private val DateTokens: Seq[(String, String)] = Seq(
    "YYYY" -> "yyyy", "YY" -> "yy", "MM" -> "MM", "DD" -> "dd",
    "HH24" -> "HH", "HH12" -> "hh", "HH" -> "HH", "MI" -> "mm",
    "SS" -> "ss", "FF9" -> "S" * 9, "FF8" -> "S" * 8, "FF7" -> "S" * 7,
    "FF6" -> "S" * 6, "FF5" -> "S" * 5, "FF4" -> "S" * 4,
    "FF3" -> "SSS", "FF2" -> "SS", "FF1" -> "S", "FF" -> "S" * 9,
    "AM" -> "a", "PM" -> "a")

  /** Snowflake date/time format → ordered segments of Spark pattern
    * text: `(pattern, None)` = plain `date_format` segment;
    * `(pattern, Some("upper"|"lower"))` = a MON/DY segment whose output
    * case Snowflake derives from the KEYWORD's case (`MON`→JAN,
    * `Mon`→Jan — capitalized folds into the plain segment because
    * Spark's MMM/EEE already emit capitalized — `mon`→jan).
    * Consecutive plain spans merge, so a format with no case-wrapped
    * token always yields exactly one plain piece. None when any span is not a mapped
    * token (TZ-family, full MMMM/DAY names, quoted sections → caller
    * fails loudly). */
  private[graft] def dateFormatPieces(
      fmt: String): Option[Seq[(String, Option[String])]] = {
    val up = fmt.toUpperCase(java.util.Locale.ROOT)
    val pieces = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[String])]
    def addPlain(s: String): Unit =
      if (pieces.nonEmpty && pieces.last._2.isEmpty)
        pieces(pieces.size - 1) = (pieces.last._1 + s, None)
      else pieces += ((s, None))
    var i = 0
    var sawToken = false
    while (i < up.length) {
      val c = up.charAt(i)
      if ("-/:. ,".contains(c)) { addPlain(c.toString); i += 1 }
      else if (up.startsWith("MON", i) || up.startsWith("DY", i)) {
        val (len, spark) =
          if (up.startsWith("MON", i)) (3, "MMM") else (2, "EEE")
        val raw = fmt.substring(i, i + len)
        // Snowflake's case contract: all-upper keyword → upper output,
        // leading-upper → capitalized (= Spark's native output),
        // otherwise lower
        if (raw.forall(_.isUpper)) pieces += ((spark, Some("upper")))
        else if (raw.charAt(0).isUpper) addPlain(spark)
        else pieces += ((spark, Some("lower")))
        sawToken = true
        i += len
      }
      else DateTokens.find { case (tok, _) => up.startsWith(tok, i) } match {
        case Some((tok, spark)) =>
          addPlain(spark); i += tok.length; sawToken = true
        case None => return None
      }
    }
    if (sawToken) Some(pieces.toSeq) else None
  }
}
