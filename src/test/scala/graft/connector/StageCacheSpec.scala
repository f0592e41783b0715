package graft.connector

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** StageCache's contract: one write per (key, input) under concurrent
  * callers, nested staging works and a failed write leaves no temp dir
  * behind. */
class StageCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  // every fixture key re-stages on its next use, so clearing is safe
  override def afterAll(): Unit = StageCache.clearAll()

  private def withPool[T](n: Int)(f: java.util.concurrent.ExecutorService => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(pool) finally pool.shutdownNow()
  }

  test("concurrent callers of one key share a single write") {
    val input = s"once_${System.nanoTime()}"
    val writes = new AtomicInteger()
    val go = new CountDownLatch(1)
    val dirs = withPool(4) { pool =>
      val fs = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          StageCache.getOrStage("k", input) { _ =>
            writes.incrementAndGet(); Thread.sleep(50)
          }
        }
      }))
      go.countDown()
      fs.map(_.get(30, TimeUnit.SECONDS))
    }
    assert(writes.get == 1)
    assert(dirs.distinct.size == 1)
  }

  test("a writer may stage another key; a failed write removes its temp dir") {
    val input = s"nest_${System.nanoTime()}"
    var inner = ""
    val outer = StageCache.getOrStage("outer", input) { _ =>
      inner = StageCache.getOrStage("inner", input)(_ => ())
    }
    assert(Files.isDirectory(Paths.get(outer)) && Files.isDirectory(Paths.get(inner)))
    assert(StageCache.getOrStage("inner", input)(_ => fail("restaged")) == inner)

    var tmp = ""
    intercept[IllegalStateException] {
      StageCache.getOrStage("broken", input) { dir =>
        tmp = dir
        Files.writeString(Paths.get(dir, "part"), "x")
        throw new IllegalStateException("write failed")
      }
    }
    assert(tmp.nonEmpty && !Files.exists(Paths.get(tmp)))
    // the failure was not memoized: the next caller stages again
    val again = StageCache.getOrStage("broken", input)(_ => ())
    assert(again != tmp && Files.isDirectory(Paths.get(again)))
  }

  test("a writer may wait on another key staged in a different thread") {
    // a stage whose write joins a warehouse table that a broadcast thread
    // scans, and so copies, while the write waits for it
    val input = s"threads_${System.nanoTime()}"
    var inner = ""
    val outer = withPool(1) { pool =>
      StageCache.getOrStage("outer", input) { _ =>
        inner = pool.submit(new Callable[String] {
          def call(): String = StageCache.getOrStage("inner", input)(_ => ())
        }).get(30, TimeUnit.SECONDS)
      }
    }
    assert(Files.isDirectory(Paths.get(outer)) && Files.isDirectory(Paths.get(inner)))
  }

  test("staged directories are removed when the JVM exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
      "graft.connector.StageAndExit").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor(60, TimeUnit.SECONDS) && p.exitValue == 0, out)
    val dir = out.linesIterator.toSeq.last
    assert(dir.contains("graft_stage_exit"), out)
    assert(!Files.exists(Paths.get(dir)), s"$dir survived the JVM")
  }
}

/** Stages one directory, prints it and exits: the shutdown hook deletes it. */
object StageAndExit {
  def main(args: Array[String]): Unit =
    println(StageCache.getOrStage("exit", "x") { dir =>
      Files.writeString(Paths.get(dir, "part"), "x")
    })
}
