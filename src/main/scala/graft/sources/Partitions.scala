package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Hive-style partition layout for the graft connector: the write side
  * routes rows into `col=value/` subdirectories ([[BatchDataWriter]] with
  * the `partition_by` option), the read side turns those path segments
  * back into columns and — the point of the exercise — prunes whole
  * DIRECTORIES of files from a scan before a single footer is opened.
  *
  * The reference never wrote prunable layouts (its `to_snowflake` stages
  * flat tables, core.py:70-124), but its read side prunes eagerly; this
  * closes the asymmetry: what the sink writes, the scan can skip.
  *
  * Scale contract: partition pruning is PATH arithmetic on the driver's
  * file listing — zero IO per excluded file. A filter on a partition
  * column is absorbed COMPLETELY (not returned as a residual), because a
  * partition value is constant across its file: Spark neither re-reads
  * nor re-evaluates it, and column pruning then drops the partition
  * column from the data read entirely.
  */
private[sources] object Partitions {

  val NullMarker = "__GRAFT_NULL__"

  /** Value → path segment chunk (inverse of [[parseRaw]]). */
  def encode(v: Any): String =
    if (v == null) NullMarker
    else URLEncoder.encode(v.toString, StandardCharsets.UTF_8.name())

  /** Raw `col=value` pairs from a file path's DIRECTORY segments BELOW
    * the table root, in path order. Anchoring at the root matters: an
    * ancestor directory that happens to contain '=' (/data/run=3/stage)
    * must not become a phantom partition column — the same reason Spark's
    * own partition discovery anchors at basePath. The file name itself
    * never participates. `root` is the canonical (qualified) table dir. */
  def parseRaw(path: String, root: String): Seq[(String, String)] = {
    val rel = path.stripPrefix(root).stripPrefix("/")
    if (rel == path) return Seq.empty // not under root — never parse ancestors
    val segs = rel.split('/').dropRight(1)
    segs.toIndexedSeq.flatMap { s =>
      val i = s.indexOf('=')
      if (i <= 0 || s.startsWith(".") || s.startsWith("_")) None
      else Some(s.take(i) ->
        URLDecoder.decode(s.drop(i + 1), StandardCharsets.UTF_8.name()))
    }
  }

  /** Narrowest common type across raw values: every value parses as Long
    * → LongType; as Double → DoubleType; 'true'/'false' → BooleanType;
    * otherwise StringType. The boolean rung deliberately diverges from
    * Spark's own ladder (which leaves 'true' a string): this sink writes
    * BooleanType partition columns as 'true'/'false', and round-tripping
    * the writer's own layout to the written type wins over the corner of
    * a STRING column whose every value happens to be 'true'/'false'. */
  def inferType(raws: Iterable[String]): DataType = {
    val present = raws.filterNot(_ == NullMarker)
    if (present.isEmpty) StringType
    else if (present.forall(v => scala.util.Try(v.toLong).isSuccess)) LongType
    else if (present.forall(v => scala.util.Try(v.toDouble).isSuccess)) DoubleType
    else if (present.forall(v => v == "true" || v == "false")) BooleanType
    else StringType
  }

  /** Raw path value → external JVM value of `dt` (null for the marker). */
  def castValue(raw: String, dt: DataType): Any =
    if (raw == NullMarker) null
    else dt match {
      case LongType => java.lang.Long.valueOf(raw.toLong)
      case DoubleType => java.lang.Double.valueOf(raw.toDouble)
      case BooleanType => java.lang.Boolean.valueOf(raw.toBoolean)
      case _ => raw
    }

  /** The partition columns of a staged directory: path keys present in
    * EVERY file's directory segments (so a value is defined, and constant,
    * for each file), minus names the data files themselves carry (a data
    * column always wins — path-derived shadowing would silently change
    * values), minus keys any file repeats (a hand-made `/x=1/x=2/file`
    * layout has no single constant value for `x` — promoting it would
    * duplicate the StructField and make pruning pick an arbitrary copy;
    * the key stays path decoration instead). Types inferred across all
    * files. */
  def partitionFields(
      files: Seq[FileStatus], conf: Configuration, root: String): Seq[StructField] = {
    if (files.isEmpty) return Seq.empty
    val perFile = files.map(f => parseRaw(f.getPath.toString, root))
    val common = perFile.map(_.map(_._1).toSet).reduce(_ intersect _)
    if (common.isEmpty) return Seq.empty
    val dup = perFile.flatMap(pf =>
      pf.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }).toSet
    val fileCols = BatchSource.footerSchema(files.head, conf)
      .getFields
    val dataNames = (0 until fileCols.size()).map(fileCols.get(_).getName).toSet
    val ordered = perFile.head.map(_._1).distinct.filter(k =>
      common(k) && !dataNames(k) && !dup(k))
    ordered.map { k =>
      val raws = perFile.flatMap(_.collect { case (`k`, v) => v })
      StructField(k, inferType(raws), nullable = true)
    }
  }

  /** Typed partition values of one file, keyed by column name. */
  def valuesOf(
      path: String, root: String, partCols: Seq[StructField]): Map[String, Any] = {
    val raw = parseRaw(path, root).toMap
    partCols.flatMap(f => raw.get(f.name).map(r =>
      f.name -> castValue(r, f.dataType))).toMap
  }

  /** Is `filter` a shape [[matches]] evaluates EXACTLY over constant
    * partition values, referencing only partition columns? Only such
    * filters may be absorbed (removed from Spark's residual). */
  def absorbable(filter: Filter, partCols: Set[String]): Boolean =
    filter.references.forall(partCols.contains) && evaluable(filter)

  private def evaluable(f: Filter): Boolean = f match {
    case _: EqualTo | _: In | _: IsNull | _: IsNotNull |
         _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual => true
    case And(l, r) => evaluable(l) && evaluable(r)
    case Or(l, r) => evaluable(l) && evaluable(r)
    case Not(c) => evaluable(c)
    case _ => false
  }

  /** Evaluation state for [[matches]] — genuine SQL three-valued logic
    * plus two per-row states:
    *   - [[Unknown]] is a NULL-valued comparison, CONSTANT for every row
    *     of the file (a partition value is), so at the top level no row
    *     satisfies the filter → exclude, like [[KnownFalse]]. Its
    *     negation is still UNKNOWN for every row → still excludable.
    *   - [[PerRow]]: the value can be anything row to row (a reference
    *     to a non-partition column, or an incomparable literal) — some
    *     row might satisfy → keep.
    *   - [[NeverTrue]]: per-row value is FALSE or UNKNOWN but provably
    *     never TRUE (e.g. And(Unknown, PerRow): x AND UNKNOWN cannot be
    *     TRUE). Excludable at the top level like Unknown — but its
    *     NEGATION can be TRUE for some rows (NOT FALSE), so Not maps it
    *     to [[PerRow]], not to Unknown. Collapsing it into Unknown made
    *     Not(And(p = 1, d > 5)) over a null p prune files whose d ≤ 5
    *     rows genuinely satisfy the filter.
    * The Unknown/PerRow distinction is what a blanket "NULL under NOT →
    * exclude" got wrong: Not(IsNotNull(c)) over a null partition value
    * is TRUE (IS NULL), not UNKNOWN — IsNull/IsNotNull never return
    * UNKNOWN. */
  private sealed trait Tri
  private case object KnownTrue extends Tri
  private case object KnownFalse extends Tri
  private case object Unknown extends Tri
  private case object PerRow extends Tri
  private case object NeverTrue extends Tri

  /** Exact evaluation of an [[evaluable]] filter against one file's
    * constant partition values. True = some row of the file may satisfy
    * the filter; false = provably none does (file excluded). A reference
    * to a column not in `vals` keeps the file (conservative — only
    * reachable for non-absorbed filters, which Spark re-evaluates
    * row-level anyway). */
  def matches(filter: Filter, vals: Map[String, Any]): Boolean =
    eval3(filter, vals) match {
      case KnownTrue | PerRow => true
      case KnownFalse | Unknown | NeverTrue => false
    }

  private def eval3(f: Filter, vals: Map[String, Any]): Tri = {
    // comparison leaf: missing column → per-row; NULL operand → UNKNOWN;
    // otherwise both sides become Catalyst literals of the partition
    // value's type and compare under Catalyst's ordering for it (strings
    // by code point, NaN largest, as Spark compares the column's rows);
    // a literal of another type → conservative per-row keep
    def cmp3(c: String, v: Any)(p: Int => Boolean): Tri =
      if (!vals.contains(c)) PerRow
      else if (vals(c) == null || v == null) Unknown
      else {
        val a = Literal(vals(c))
        scala.util.Try(Literal(v)).toOption.filter(_.dataType == a.dataType) match {
          case Some(b) =>
            if (p(TypeUtils.getInterpretedOrdering(a.dataType).compare(a.value, b.value)))
              KnownTrue
            else KnownFalse
          case None => PerRow
        }
      }
    f match {
      case EqualTo(c, v) => cmp3(c, v)(_ == 0)
      case GreaterThan(c, v) => cmp3(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp3(c, v)(_ >= 0)
      case LessThan(c, v) => cmp3(c, v)(_ < 0)
      case LessThanOrEqual(c, v) => cmp3(c, v)(_ <= 0)
      case In(c, vs) =>
        if (!vals.contains(c)) PerRow
        else {
          val rs = vs.toIndexedSeq.map(v => cmp3(c, v)(_ == 0))
          if (rs.contains(KnownTrue)) KnownTrue
          else if (rs.contains(PerRow)) PerRow
          else if (rs.contains(Unknown)) Unknown // NULL in list, no match
          else KnownFalse // includes the empty IN — vacuously false
        }
      case IsNull(c) =>
        if (!vals.contains(c)) PerRow
        else if (vals(c) == null) KnownTrue else KnownFalse
      case IsNotNull(c) =>
        if (!vals.contains(c)) PerRow
        else if (vals(c) != null) KnownTrue else KnownFalse
      case And(l, r) => (eval3(l, vals), eval3(r, vals)) match {
        case (KnownFalse, _) | (_, KnownFalse) => KnownFalse
        case (KnownTrue, KnownTrue) => KnownTrue
        // a NeverTrue conjunct bars TRUE for every row — so does an
        // Unknown one paired with anything per-row (x AND UNKNOWN is
        // FALSE or UNKNOWN, never TRUE). Only both-constant-Unknown
        // stays Unknown (constant for every row → negation excludable)
        case (NeverTrue, _) | (_, NeverTrue) => NeverTrue
        case (Unknown, PerRow) | (PerRow, Unknown) => NeverTrue
        case (Unknown, _) | (_, Unknown) => Unknown
        case _ => PerRow // at least one per-row side, none false/unknown
      }
      case Or(l, r) => (eval3(l, vals), eval3(r, vals)) match {
        case (KnownTrue, _) | (_, KnownTrue) => KnownTrue
        // OR with a full per-row side can still be TRUE for some row
        case (PerRow, _) | (_, PerRow) => PerRow
        case (KnownFalse, KnownFalse) => KnownFalse
        case (NeverTrue, KnownFalse) | (KnownFalse, NeverTrue)
           | (NeverTrue, NeverTrue) => NeverTrue // {F,U} ∨ {F,U}: never T
        case _ => Unknown // any Unknown side with F/U/N: always UNKNOWN
      }
      case Not(c) => eval3(c, vals) match {
        case KnownTrue => KnownFalse
        case KnownFalse => KnownTrue
        // NOT of {FALSE, UNKNOWN} is {TRUE, UNKNOWN} — can be TRUE for
        // some row → keep (per-row), NOT constant-unknown
        case NeverTrue => PerRow
        case other => other // NOT(UNKNOWN)=UNKNOWN; NOT(per-row)=per-row
      }
      case _ => PerRow // non-evaluable shape: keep; Spark re-checks rows
    }
  }
}
