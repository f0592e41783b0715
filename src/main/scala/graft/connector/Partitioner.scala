package graft.connector

/** Partition-planning math — the Spark-side counterpart of the reference's
  * only physical-planning algorithm, `_partition_batches`
  * (dask_snowflake/core.py:149-197): greedy, order-preserving first-fit
  * packing of result batches into right-sized partitions.
  *
  * It does two things: [[resolveSpec]] resolves a read's partition spec
  * with the reference's semantics (exactly-one-of validation,
  * core.py:164-167; 100 MiB default, core.py:259-260), and [[pack]] is the
  * first-fit packer (with its count-mode row target, [[rowsPerPartition]])
  * that groups row groups into scan partitions for `BatchSource` and
  * `BatchStream`. The sizing of a [[Read]] result is
  * `Read.partitionsForBytes` plus `Read.resize`, not this object.
  */
object Partitioner {

  /** Default target partition size (dask_snowflake/core.py:259-260). */
  val DefaultPartitionSize = "100 MiB"

  /** Parse "100 MiB" / "2MB" / "1024" style sizes to bytes.
    * Decimal (kB/MB/GB = 1000ⁿ) and binary (KiB/MiB/GiB = 1024ⁿ) units,
    * matching dask.utils.parse_bytes semantics used by the reference. */
  def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT)
    val m = raw"([0-9]*\.?[0-9]+)\s*([a-z]*)".r
    t match {
      case m(num, unit) =>
        val mult: Double = unit match {
          case "" | "b"          => 1d
          case "k" | "kb"        => 1e3
          case "m" | "mb"        => 1e6
          case "g" | "gb"        => 1e9
          case "t" | "tb"        => 1e12
          case "ki" | "kib"      => 1024d
          case "mi" | "mib"      => 1024d * 1024
          case "gi" | "gib"      => 1024d * 1024 * 1024
          case "ti" | "tib"      => 1024d * 1024 * 1024 * 1024
          case other => throw new IllegalArgumentException(
            s"Could not interpret byte unit '$other' in '$s'")
        }
        (num.toDouble * mult).toLong
      case _ => throw new IllegalArgumentException(s"Could not parse bytes: '$s'")
    }
  }

  /** Exactly-one-of guard (dask_snowflake/core.py:164-167): `npartitions`
    * and `partitionSize` are mutually exclusive; neither → size mode with
    * the 100 MiB default; either must be positive. Returns the effective
    * (npartitions, sizeBytes). */
  def resolveSpec(
      npartitions: Option[Int],
      partitionSize: Option[String]): (Option[Int], Option[Long]) =
    (npartitions, partitionSize) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "Please specify either `npartitions` or `partition_size`, not both")
      case (Some(n), None) =>
        require(n > 0, s"npartitions must be positive, got $n")
        (Some(n), None)
      case (None, ps) =>
        val size = ps.getOrElse(DefaultPartitionSize)
        val bytes = parseBytes(size)
        require(bytes > 0, s"partition_size must be positive, got '$size'")
        (None, Some(bytes))
    }

  /** Greedy order-preserving first-fit pack (dask_snowflake/core.py:183-195):
    * accumulate consecutive batches until the *next* batch would push the
    * running total past `target`; an oversize batch occupies a partition
    * alone. Returns contiguous index groups covering 0..sizes.length-1.
    *
    * Invariants (property-tested): groups are a partition of the index
    * range in order; every group's total ≤ target unless it is a single
    * oversize batch; no empty groups.
    */
  def pack(sizes: Seq[Long], target: Long): Seq[Seq[Int]] = {
    require(target > 0, s"target must be positive, got $target")
    if (sizes.isEmpty) return Seq.empty
    val groups = Seq.newBuilder[Seq[Int]]
    var cur = Vector.empty[Int]
    var acc = 0L
    sizes.zipWithIndex.foreach { case (sz, i) =>
      if (cur.nonEmpty && acc + sz > target) {
        groups += cur
        cur = Vector.empty
        acc = 0L
      }
      cur :+= i
      acc += sz
    }
    if (cur.nonEmpty) groups += cur
    groups.result()
  }

  /** Row target for count mode (core.py:169-171): total // npartitions. */
  def rowsPerPartition(totalRows: Long, npartitions: Int): Long =
    math.max(1L, totalRows / npartitions)
}
