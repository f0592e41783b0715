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
}
