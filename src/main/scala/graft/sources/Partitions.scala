package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, expressions => expr}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSeq, AttributeSet, BasePredicate, BindReferences, Expression, Literal, Predicate, PredicateHelper}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
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
  * Pruning is Catalyst's, as `PartitioningAwareFileIndex` prunes: each
  * pushed filter becomes a Catalyst predicate over the partition columns,
  * its partition-only part comes from `PredicateHelper`, and the parts
  * are ANDed, bound once per scan ([[pruner]]) and evaluated on each
  * file's partition-values row ([[row]]); a file is kept iff the result
  * is TRUE. Catalyst's evaluation is SQL's own three-valued logic, with
  * Spark's ordering (strings by code point, NaN largest, -0.0 = 0.0).
  *
  * Scale contract: partition pruning is PATH arithmetic on the driver's
  * file listing — zero IO per excluded file. A filter whose every leaf
  * is on a partition column is absorbed COMPLETELY (not returned as a
  * residual), because a partition value is constant across its file:
  * Spark neither re-reads nor re-evaluates it, and column pruning then
  * drops the partition column from the data read entirely.
  */
private[sources] object Partitions extends PredicateHelper {

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

  /** One file's partition values as a Catalyst row in `fields`' order,
    * the marker and a missing key as NULL: the row [[pruner]] evaluates,
    * the scan's `PartitionedFile` carries and partition MIN/MAX reads. */
  def row(path: String, root: String, fields: Seq[StructField]): InternalRow = {
    val raw = parseRaw(path, root).toMap
    InternalRow.fromSeq(fields.map(f => raw.get(f.name).map(r =>
      CatalystTypeConverters.convertToCatalyst(castValue(r, f.dataType))).orNull))
  }

  /** `filter` as a Catalyst predicate over `attrs`. A leaf on a column
    * outside `attrs`, a shape without a translation or a literal that is
    * not of its column's type becomes an opaque boolean attribute outside
    * `attrs`, so Catalyst treats it as per-row data. */
  private def toCatalyst(filter: Filter, attrs: Seq[AttributeReference]): Expression = {
    lazy val opaque = AttributeReference("__non_partition__", BooleanType)()
    def leaf(c: String, vs: Seq[Any])(mk: (Expression, Seq[Expression]) => Expression) =
      attrs.find(_.name == c).flatMap { a =>
        val lits = vs.flatMap(v => Try(Literal.create(v, a.dataType)).toOption)
        if (lits.size == vs.size) Some(mk(a, lits)) else None
      }.getOrElse(opaque)
    def cmp(c: String, v: Any)(mk: (Expression, Expression) => Expression) =
      leaf(c, Seq(v))((a, l) => mk(a, l.head))
    def go(f: Filter): Expression = f match {
      case sources.EqualTo(c, v) => cmp(c, v)(expr.EqualTo(_, _))
      case sources.GreaterThan(c, v) => cmp(c, v)(expr.GreaterThan(_, _))
      case sources.GreaterThanOrEqual(c, v) => cmp(c, v)(expr.GreaterThanOrEqual(_, _))
      case sources.LessThan(c, v) => cmp(c, v)(expr.LessThan(_, _))
      case sources.LessThanOrEqual(c, v) => cmp(c, v)(expr.LessThanOrEqual(_, _))
      case sources.In(c, vs) => leaf(c, vs.toSeq)(expr.In(_, _))
      case sources.IsNull(c) => leaf(c, Nil)((a, _) => expr.IsNull(a))
      case sources.IsNotNull(c) => leaf(c, Nil)((a, _) => expr.IsNotNull(a))
      case sources.And(l, r) => expr.And(go(l), go(r))
      case sources.Or(l, r) => expr.Or(go(l), go(r))
      case sources.Not(c) => expr.Not(go(c))
      case _ => opaque
    }
    go(filter)
  }

  /** The partition-only part of `filter`: Catalyst's own over-approximation
    * for file-source partition filters (an AND drops a per-row side, an OR
    * or NOT with one keeps the file). None = prunes nothing. */
  private def partitionPart(
      e: Expression, attrs: Seq[AttributeReference]): Option[Expression] =
    extractPredicatesWithinOutputSet(e, AttributeSet(attrs))

  private def attributes(partCols: Seq[StructField]): Seq[AttributeReference] =
    partCols.map(f => AttributeReference(f.name, f.dataType)())

  /** May Spark drop `filter` from the residual? Only when its partition-only
    * part is the whole filter: every leaf is on a partition column with a
    * literal of that column's type, so the file-level verdict is exact. */
  def absorbable(filter: Filter, partCols: Seq[StructField]): Boolean = {
    val attrs = attributes(partCols)
    val whole = toCatalyst(filter, attrs)
    partitionPart(whole, attrs).contains(whole)
  }

  /** The partition parts of `filters`, ANDed and bound to the positions of
    * `partCols` once: evaluated on a file's [[row]], TRUE keeps the file and
    * FALSE or NULL drops it, as `PartitioningAwareFileIndex` prunes. None
    * when no filter constrains a partition column. */
  def pruner(filters: Seq[Filter], partCols: Seq[StructField]): Option[BasePredicate] = {
    val attrs = attributes(partCols)
    filters.flatMap(f => partitionPart(toCatalyst(f, attrs), attrs))
      .reduceOption(expr.And(_, _))
      .map(p => Predicate.createInterpreted(BindReferences.bindReference(p, AttributeSeq(attrs))))
  }
}
