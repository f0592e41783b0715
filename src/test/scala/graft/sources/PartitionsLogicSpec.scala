package graft.sources

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for partition pruning ([[Partitions.pruner]]: the
  * partition-only part of a filter as a bound Catalyst predicate over the
  * file's partition-values row) against a brute-force SQL three-valued
  * reference:
  *
  *   - SOUNDNESS (the safety property): if ANY row extension of the
  *     file's constant partition values could satisfy the filter, the
  *     file must be kept. Pruning a file with a satisfying row silently
  *     drops result rows — e.g. Not(And(p = 1, d > 5)) over a NULL p is
  *     TRUE for every d <= 5 row.
  *   - PRECISION on partition-only filters: with no per-row references,
  *     evaluation is total, so exclusion must EXACTLY equal 3VL
  *     non-TRUE — conservatism there would just be lost pruning.
  *
  * Cases come from a fixed-seed generator (seeded randomness in the
  * engine is banned; deterministic test-case generation is fine). */
class PartitionsLogicSpec extends AnyFunSuite {

  // literal + row-value domain: null, boundary longs around the generated
  // comparison points
  private val domain: Seq[Any] = Seq(null, 0L, 1L, 6L, 10L)

  /** Does the pruner keep a file whose partition column `p` (of type
    * `dt`) holds `p`? Any other column is data. */
  private def kept(f: Filter, p: Any, dt: DataType = LongType): Boolean =
    Partitions.pruner(Seq(f), Seq(StructField("p", dt)))
      .forall(_.eval(InternalRow(CatalystTypeConverters.convertToCatalyst(p))))

  /** Brute-force SQL 3VL evaluation over a TOTAL row assignment:
    * Some(bool) or None = UNKNOWN. The reference semantics. */
  private def eval(f: Filter, row: Map[String, Any]): Option[Boolean] = {
    def cmp(c: String, v: Any): Option[Int] = {
      val x = row(c)
      if (x == null || v == null) None
      else Some(java.lang.Long.compare(
        x.asInstanceOf[Long], v.asInstanceOf[Long]))
    }
    f match {
      case EqualTo(c, v) => cmp(c, v).map(_ == 0)
      case GreaterThan(c, v) => cmp(c, v).map(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).map(_ >= 0)
      case LessThan(c, v) => cmp(c, v).map(_ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v).map(_ <= 0)
      case In(c, vs) =>
        val rs = vs.toSeq.map(v => cmp(c, v).map(_ == 0))
        if (rs.exists(_.contains(true))) Some(true)
        else if (rs.exists(_.isEmpty)) None
        else Some(false)
      case IsNull(c) => Some(row(c) == null)
      case IsNotNull(c) => Some(row(c) != null)
      case And(l, r) => (eval(l, row), eval(r, row)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval(l, row), eval(r, row)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(c) => eval(c, row).map(!_)
      case _ => Some(true)
    }
  }

  private def genFilter(
      rnd: scala.util.Random, depth: Int, cols: IndexedSeq[String]): Filter = {
    def col() = cols(rnd.nextInt(cols.length))
    def lit(): Any = domain(rnd.nextInt(domain.length))
    if (depth == 0 || rnd.nextInt(3) == 0) {
      rnd.nextInt(8) match {
        case 0 => EqualTo(col(), lit())
        case 1 => GreaterThan(col(), lit())
        case 2 => GreaterThanOrEqual(col(), lit())
        case 3 => LessThan(col(), lit())
        case 4 => LessThanOrEqual(col(), lit())
        case 5 => In(col(), Array(lit(), lit()))
        case 6 => IsNull(col())
        case _ => IsNotNull(col())
      }
    } else rnd.nextInt(3) match {
      case 0 => And(genFilter(rnd, depth - 1, cols), genFilter(rnd, depth - 1, cols))
      case 1 => Or(genFilter(rnd, depth - 1, cols), genFilter(rnd, depth - 1, cols))
      case _ => Not(genFilter(rnd, depth - 1, cols))
    }
  }

  test("soundness: a file with a possibly-TRUE row is never excluded (5000 random filters)") {
    val rnd = new scala.util.Random(7)
    var satisfiableCases = 0
    (0 until 5000).foreach { _ =>
      val f = genFilter(rnd, 3, IndexedSeq("p", "d")) // p = partition, d = data
      val pVal = domain(rnd.nextInt(domain.length))
      // exists a data-row value making the filter TRUE?
      val satisfiable = domain.exists(dv =>
        eval(f, Map("p" -> pVal, "d" -> dv)).contains(true))
      if (satisfiable) {
        satisfiableCases += 1
        assert(kept(f, pVal),
          s"UNSOUND PRUNE: $f with p=$pVal has a satisfying row but was excluded")
      }
    }
    assert(satisfiableCases > 1000,
      s"generator sanity: only $satisfiableCases satisfiable cases exercised")
  }

  test("row-group stats pruning soundness: a batch with a satisfying row is never excluded") {
    // same safety property one layer down: [[BatchSource.prune]] drops
    // row groups by footer (min, max, nullCount) statistics through
    // Spark's ParquetFilters and parquet-mr's RowGroupFilter — if any
    // generated row satisfies the filter, exclusion loses result rows
    import org.apache.parquet.column.statistics.{LongStatistics, Statistics}
    import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData, ColumnPath, CompressionCodecName}
    import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
    val cols = Seq("p", "d")
    val types = cols.map(c => Types.optional(PrimitiveType.PrimitiveTypeName.INT64).named(c))
    val schema = new MessageType("batch", types: _*)
    val rnd = new scala.util.Random(21)
    var exercised = 0
    (0 until 5000).foreach { _ =>
      val nRows = 1 + rnd.nextInt(6)
      val batch: Seq[Map[String, Any]] = (0 until nRows).map { _ =>
        cols.map(c => c -> domain(rnd.nextInt(domain.length))).toMap
      }
      // the footer a writer would leave: exact statistics per column; an
      // all-null column has a null count and no min/max
      val block = new BlockMetaData
      block.setRowCount(nRows)
      cols.zip(types).foreach { case (c, t) =>
        val stats = Statistics.createStats(t).asInstanceOf[LongStatistics]
        batch.map(_(c)).foreach {
          case null => stats.incrementNumNulls()
          case v: Long => stats.updateStats(v)
        }
        block.addColumn(ColumnChunkMetaData.get(ColumnPath.get(c), t,
          CompressionCodecName.UNCOMPRESSED, null, java.util.Set.of(), stats,
          0L, 0L, nRows.toLong, 0L, 0L))
      }
      val group = BatchSource.RowGroup(
        BatchSource.BatchHandle("batch", 0, nRows, 0L, 0L), schema, block)
      val f = genFilter(rnd, 3, IndexedSeq("p", "d"))
      if (batch.exists(row => eval(f, row).contains(true))) {
        exercised += 1
        assert(BatchSource.prune(Seq(f), Seq(group)).nonEmpty,
          s"UNSOUND ROW-GROUP PRUNE: $f excluded a batch containing a " +
            s"satisfying row; stats=${block.getColumns} batch=$batch")
      }
    }
    assert(exercised > 1000, s"generator sanity: only $exercised satisfiable cases")
  }

  test("string partition values compare by code point, as Spark compares strings") {
    // U+1F600 sorts before U+FF61 in UTF-16 units, after it in code points
    assert(kept(GreaterThan("p", "\uFF61"), "\uD83D\uDE00", StringType))
    assert(!kept(LessThan("p", "\uFF61"), "\uD83D\uDE00", StringType))
  }

  test("precision: partition-only filters exclude exactly the 3VL non-TRUE files") {
    val rnd = new scala.util.Random(13)
    var excluded = 0
    (0 until 5000).foreach { _ =>
      val f = genFilter(rnd, 3, IndexedSeq("p"))
      val pVal = domain(rnd.nextInt(domain.length))
      val truth = eval(f, Map("p" -> pVal)).contains(true)
      val keep = kept(f, pVal)
      assert(keep == truth,
        s"$f with p=$pVal: kept=$keep but exact 3VL truth is $truth")
      if (!keep) excluded += 1
    }
    assert(excluded > 500, s"generator sanity: only $excluded exclusions exercised")
  }
}
