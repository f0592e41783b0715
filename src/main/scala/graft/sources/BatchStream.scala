package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.connector.Partitioner

/** Micro-batch streaming read through the connector: new files landing in
  * the staged directory become the next micro-batch — the continuously-fed
  * stage scenario (a warehouse unloading result batches while the cluster
  * consumes them). Reuses the batch machinery wholesale: discovery, greedy
  * packing, and Spark's parquet reader ([[BatchSource.readerFactory]]).
  *
  * Offsets index into a FILE LOG persisted under the query's checkpoint
  * (`graft-file-log/seg-<start>`, one segment per discovery that found new
  * files, first-seen order). The log — not the live directory listing — is
  * the source of truth for which file an offset denotes, which buys:
  *
  *   - restart safety: a restarted query replays exactly the files the
  *     committed offsets covered, even if the directory has since grown or
  *     its listing order changed;
  *   - retention/compaction tolerance: deleting an already-processed
  *     staged file can't shift later offsets (the log pins them); a logged
  *     file missing at (re)planning time is skipped with a warning rather
  *     than silently re-mapping offsets to different files.
  *
  * Segments are written ATOMICALLY (temp name + rename) and carry a
  * trailing `#<count>` footer line; [[restoreLog]] refuses a segment whose
  * footer is missing or disagrees with its line count — a crash that
  * truncated a segment is a HARD restart error, never silent data loss.
  *
  * Admission control (`max_files_per_trigger` / `max_bytes_per_trigger`
  * options, composable): a restarted stream over a backlogged stage (the
  * steady state for a continuously-unloading warehouse) drains the backlog
  * in bounded micro-batches instead of one giant catch-up batch — the same
  * dials as the file source's `maxFilesPerTrigger`/`maxBytesPerTrigger`,
  * surfaced through [[SupportsAdmissionControl]]. The byte cap matches the
  * reference's byte-based sizing philosophy (`partition_size`,
  * core.py:259-260): with skewed file sizes a file count admits wildly
  * uneven batches, a byte budget doesn't. Like the built-in source, a
  * batch always admits ≥1 file (an oversized file must still flow), so a
  * batch's bytes are bounded by cap + largest-file, not cap.
  *
  * `fail_on_missing_logged_file=true` turns the retention tolerance above
  * into a hard error for pipelines where a silent gap is worse than a
  * restart.
  *
  * Checkpoint format note: the `#<count>` footer is REQUIRED — segments
  * from pre-footer builds fail restart with the corrupt-segment error.
  * The format changed incompatibly; restart such a stream from a fresh
  * checkpoint (or append the footer by hand to migrate).
  */
private[sources] class BatchMicroBatchStream(
    required: StructType, options: CaseInsensitiveStringMap,
    checkpointLocation: String,
    partCols: Seq[org.apache.spark.sql.types.StructField] = Seq.empty)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val conf: Configuration = BatchSource.hadoopConf()
  private val logDir = new Path(checkpointLocation, "graft-file-log")

  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("max_files_per_trigger")).map { s =>
      val n = s.toInt
      require(n > 0, s"max_files_per_trigger must be positive, got $n")
      n
    }

  /** Byte budget per micro-batch, "64 KiB"-style strings accepted (the
    * same parser as `partition_size`). */
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("max_bytes_per_trigger")).map { s =>
      val n = Partitioner.parseBytes(s)
      require(n > 0, s"max_bytes_per_trigger must be positive, got $n")
      n
    }

  private val failOnMissingLoggedFile: Boolean =
    Option(options.get("fail_on_missing_logged_file")).exists(_.toBoolean)

  private lazy val rootDir = BatchSource.qualifiedDir(options, conf)

  /** STREAM-SIDE partition pruning. Spark's filter pushdown never runs
    * for streaming scans (V2 pushdown is batch-only — pinned by the
    * "partition filter on a STREAMING read" spec), so a partitioned stage
    * would log, admit and open EVERY subtree even when the query reads
    * one partition — at 100 TB that is the difference between tailing one
    * `lang=en/` subtree and tailing the world. The `partition_filter`
    * option ("col=value[,col=value]", values written exactly as they
    * appear in the path — URL-encoded, with `__GRAFT_NULL__` selecting
    * the null partition) prunes at DISCOVERY time: non-matching files
    * are never logged, never admitted, never opened. Values are
    * URL-DECODED and typed with the partition column's inferred type
    * (the same round trip [[Partitions.parseRaw]] applies to the path
    * itself — comparing the raw encoded form against decoded partition
    * values would silently admit zero files forever), and the terms are
    * ANDed into the batch side's Catalyst predicate
    * ([[Partitions.pruner]]), bound once per stream. This is a
    * semantic dial (pruned files' rows never enter the stream) — the
    * streaming twin of the batch side's absorbed partition filters,
    * surfaced as an option because there is no planner to absorb them
    * here. */
  private val partitionFilter: Seq[org.apache.spark.sql.sources.Filter] =
    Option(options.get("partition_filter")).map { s =>
      s.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty).map { term =>
        val i = term.indexOf('=')
        require(i > 0, s"partition_filter term '$term' must be col=value")
        val (c, raw) = (term.take(i), term.drop(i + 1))
        val f = partCols.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"partition_filter column '$c' is not a partition column " +
              s"[${partCols.map(_.name).mkString(",")}]"))
        if (raw == Partitions.NullMarker)
          org.apache.spark.sql.sources.IsNull(c)
        else org.apache.spark.sql.sources.EqualTo(c,
          Partitions.castValue(java.net.URLDecoder.decode(raw,
            java.nio.charset.StandardCharsets.UTF_8.name()), f.dataType))
      }
    }.getOrElse(Seq.empty)

  private lazy val partitionPruner = Partitions.pruner(partitionFilter, partCols)

  private def keepFile(path: String): Boolean =
    partitionPruner.forall(_.eval(Partitions.row(path, rootDir, partCols)))

  /** One `partition_filter` per checkpoint, PINNED in the checkpoint
    * itself: the filter prunes at DISCOVERY time, so files admitted to
    * the log under one filter are replayed forever regardless of the
    * current option — restarting with a different (or no) filter would
    * silently mix two semantics in one stream (old files from the old
    * filter, new files from the new). The canonical filter string
    * (terms trimmed + sorted, "" when unfiltered) is written atomically
    * next to the segments on first start and VALIDATED on every
    * restart; a mismatch is a hard error telling the user to start a
    * fresh checkpoint. */
  private val filterPin = new Path(logDir, "partition-filter")

  private def filterCanonical: String =
    Option(options.get("partition_filter"))
      .map(_.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty).sorted
        .mkString(","))
      .getOrElse("")

  private def pinPartitionFilter(attempt: Int = 0): Unit = synchronized {
    if (fs.exists(filterPin)) {
      val in = fs.open(filterPin)
      val pinned =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
      require(pinned == filterCanonical,
        s"this checkpoint's file log was built with partition_filter " +
          s"'$pinned' but this run sets '$filterCanonical'; one filter per " +
          "checkpoint — already-logged files would replay under the old " +
          "semantics while new discoveries used the new. Start a fresh " +
          "checkpoint to change the filter.")
    } else {
      // A pin that is ABSENT while segments already exist means the log
      // predates the pin feature (or the pin was hand-deleted): adopting
      // the current filter would silently legitimize a filter changed
      // across the upgrade — the mixed-semantics state the pin exists to
      // reject. There is no recorded filter to validate against, so warn
      // loudly before adopting; a user who changed the filter across the
      // upgrade sees exactly what was assumed.
      if (fs.exists(logDir) &&
          fs.listStatus(logDir).exists(_.getPath.getName.startsWith("seg-")))
        System.err.println(s"[graft] checkpoint $logDir has logged " +
          s"segments but no partition-filter pin (pre-pin checkpoint?); " +
          s"adopting the CURRENT filter '$filterCanonical' as the pin — " +
          "if the filter changed since those segments were written, " +
          "already-logged files carry the old semantics; start a fresh " +
          "checkpoint if unsure")
      // PER-WRITER tmp name: a fixed name with overwrite would let a
      // concurrent first-start silently replace this writer's bytes
      // before the rename (pinning B's filter under A's running
      // stream); a fixed name without overwrite lets a crashed start's
      // stale tmp brick the checkpoint. Unique tmp + atomic rename has
      // neither problem: the rename LOSER falls through to the
      // validation branch and either agrees with the winner's pin or
      // fails with the real mismatch error.
      val tmp = new Path(logDir,
        s".partition-filter.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(filterCanonical.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, filterPin)) {
        fs.delete(tmp, false)
        require(fs.exists(filterPin),
          s"failed to pin partition_filter at $filterPin")
      }
      // Read-back validation EVEN after a successful rename: POSIX-backed
      // filesystems (Hadoop's RawLocalFileSystem) implement rename as
      // REPLACE-and-return-true, so two concurrent first-starts with
      // different filters could both "win" the rename — without this
      // re-read the second would silently overwrite the first's pin with
      // neither validating. Re-reading the surviving pin makes the
      // outcome correct on rename-overwrite filesystems too: whichever
      // content survived, every writer validates against it (agree, or
      // fail with the real mismatch error). On HDFS (rename-fails-if-
      // exists) this is a no-op confirmation of our own bytes. The
      // attempt bound only guards against a pin that REPEATEDLY
      // vanishes between write and validation (external deletion) —
      // one re-pin attempt is legitimate, endless looping is not.
      require(attempt < 2,
        s"failed to pin partition_filter at $filterPin: the pin " +
          "vanished between write and validation twice — something is " +
          "deleting checkpoint files concurrently")
      pinPartitionFilter(attempt + 1) // validate the surviving pin
    }
  }

  // in-memory mirror of the log (rebuilt from it on restart)
  private val logged = mutable.LinkedHashSet.empty[String]
  restoreLog()
  pinPartitionFilter()

  private def fs = logDir.getFileSystem(conf)

  private def restoreLog(): Unit = synchronized {
    if (fs.exists(logDir)) {
      fs.listStatus(logDir).toIndexedSeq
        .filter(_.getPath.getName.startsWith("seg-"))
        .sortBy(_.getPath.getName.stripPrefix("seg-").toLong)
        .foreach { seg =>
          val in = fs.open(seg.getPath)
          val bytes = try in.readAllBytes() finally in.close()
          val lines = new String(bytes, StandardCharsets.UTF_8)
            .linesIterator.filter(_.nonEmpty).toIndexedSeq
          // footer check: `#<n>` written last, after all n path lines — a
          // segment that lost its footer (crash mid-write on a filesystem
          // without atomic rename) is corrupt; refusing it loudly beats
          // silently treating its paths as retention-deleted files
          require(lines.nonEmpty && lines.last.startsWith("#") &&
              lines.last.drop(1).toIntOption.contains(lines.length - 1),
            s"truncated/corrupt stream-log segment ${seg.getPath}: " +
              s"expected a trailing #<count> footer matching its lines; " +
              s"the checkpoint cannot be trusted")
          lines.dropRight(1).foreach(logged.add)
        }
    }
  }

  /** Discover new files and append them to the log; returns log size.
    * The segment becomes visible only via rename — readers never observe
    * a half-written segment (same discipline as [[BatchSinkWrite.commit]]). */
  private def refresh(): Int = synchronized {
    val fresh = BatchSource.listFiles(options, conf)
      .map(_.getPath.toString).filter(keepFile).filterNot(logged.contains)
    if (fresh.nonEmpty) {
      val seg = new Path(logDir, s"seg-${logged.size}")
      val tmp = new Path(logDir, s".seg-${logged.size}.tmp")
      val out = fs.create(tmp, false)
      try out.write((fresh.mkString("", "\n", "\n") + s"#${fresh.size}\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      require(fs.rename(tmp, seg), s"failed to commit stream-log segment $seg")
      fresh.foreach(logged.add)
    }
    logged.size
  }

  override def initialOffset(): Offset = FileCountOffset(0)

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq) match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }

  /** Admission-controlled latest offset: at most `max_files_per_trigger`
    * new files AND `max_bytes_per_trigger` new bytes per micro-batch
    * (whichever binds first); a backlog drains across several batches. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val total = refresh()
    val s = start.asInstanceOf[FileCountOffset].n
    FileCountOffset(admit(s, total, limit))
  }

  /** End offset admitted from `[s, total)` under `limit`. A byte budget
    * admits files in log order while they fit, but always ≥1 (an
    * oversized file must still flow through). */
  private def admit(s: Int, total: Int, limit: ReadLimit): Int = limit match {
    case mf: ReadMaxFiles => math.min(total, s + mf.maxFiles())
    case mb: ReadMaxBytes =>
      val candidates = synchronized(logged.toIndexedSeq.slice(s, total))
      var acc = 0L
      var n = s
      var stop = false
      val it = candidates.iterator
      while (it.hasNext && !stop) {
        val sz =
          try fs.getFileStatus(new Path(it.next())).getLen
          catch { case _: java.io.FileNotFoundException => 0L } // retention
        if (n == s || acc + sz <= mb.maxBytes) { acc += sz; n += 1 }
        else stop = true
      }
      n
    case c: CompositeReadLimit => c.getReadLimits.map(admit(s, total, _)).min
    case _ => total
  }

  /** The true tip of the log, regardless of admission limits (drives the
    * engine's latestOffset metric / backlog accounting). */
  override def reportLatestOffset(): Offset = FileCountOffset(synchronized(logged.size))

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "BatchMicroBatchStream implements SupportsAdmissionControl: " +
      "use latestOffset(start, limit)")

  override def deserializeOffset(json: String): Offset =
    FileCountOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FileCountOffset].n,
      end.asInstanceOf[FileCountOffset].n)
    val slice = synchronized {
      // a restarted stream replans committed offsets before its first
      // refresh — rebuild the mirror up to `e` under the SAME lock that
      // guards the mutation (an unlocked size read raced refresh/restore)
      if (logged.size < e) refresh()
      logged.toIndexedSeq.slice(s, e)
    }
    val statuses = slice.flatMap { p =>
      val path = new Path(p)
      if (fs.exists(path)) Some(fs.getFileStatus(path))
      else if (failOnMissingLoggedFile)
        // strict pipelines: a silent gap is worse than a restart
        throw new IllegalStateException(
          s"logged staged file missing (fail_on_missing_logged_file=true): $p")
      else {
        // retention/compaction removed an already-logged file: its offset
        // slot stays pinned (later offsets don't shift), its data is gone
        System.err.println(s"[graft] logged staged file missing, skipping: $p")
        None
      }
    }
    val batches = BatchSource.discoverBatches(statuses, conf).map(_.handle)
    if (batches.isEmpty) return Array.empty
    val target = Partitioner.parseBytes(
      Option(options.get("partition_size")).getOrElse(Partitioner.DefaultPartitionSize))
    val partSchema = BatchSource.partSchema(required, partCols)
    Partitioner.pack(batches.map(_.bytes), target)
      .map(idxs => BatchSource.inputPartition(idxs.map(batches), partSchema, rootDir))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // partition columns flow through the stream too: without them a
    // partitioned stage's readers would ask the footer for a column that
    // lives only in the path
    BatchSource.readerFactory(required, partCols, conf)

  override def stop(): Unit = ()
}

private[sources] case class FileCountOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}
