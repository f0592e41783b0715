package graft.connector

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.concurrent.TrieMap

/** Memoized staging directories: the DSv2 connector keys' write-then-read
  * fixtures and the warehouse's micro-partitioned copies
  * (`graft.warehouse.WarehouseIndex`).
  *
  * Without this, every `queries()` invocation created a fresh temp dir and
  * re-ran the full stage write — bench timed a write+read per key, and
  * repeated runs accumulated orphan directories. [[getOrStage]] runs the
  * stage write ONCE per (key, input) and returns the same directory
  * afterwards; [[clearAll]] deletes everything (the Verify/Bench mains call
  * it on exit, next to `CacheRegistry.releaseAll()`), and a shutdown hook
  * deletes whatever is left when the JVM exits.
  */
object StageCache {

  private val dirs = TrieMap.empty[(String, String), String]
  private val locks = TrieMap.empty[(String, String), Object]

  // no lock: a write still running at exit must not hold the hook up
  sys.addShutdownHook(dirs.values.foreach(d => deleteTree(java.nio.file.Paths.get(d))))

  /** The staged directory for `(key, input)`, running `write` into a fresh
    * temp dir on first use. Serialized per `(key, input)`: concurrent
    * callers never double-stage, and a write may wait on another key's
    * stage running in a different thread (a broadcast's, when its scan
    * stages a warehouse copy) without deadlocking. */
  def getOrStage(key: String, input: String)(write: String => Unit): String =
    locks.getOrElseUpdate((key, input), new Object).synchronized {
      dirs.getOrElseUpdate((key, input), {
        val out = Files.createTempDirectory(s"graft_stage_$key")
        // a failed stage write must not orphan the temp dir: the mapping is
        // never inserted on throw, so clearAll() could not find it later
        try { write(out.toString); out.toString }
        catch { case e: Throwable => deleteTree(out); throw e }
      })
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Delete every staged directory and forget the mappings. */
  def clearAll(): Unit = dirs.keys.foreach { k =>
    locks.getOrElseUpdate(k, new Object).synchronized {
      dirs.remove(k).foreach(d => deleteTree(java.nio.file.Paths.get(d)))
    }
  }

  /** Number of live staged directories (test surface). */
  def size: Int = dirs.size
}
