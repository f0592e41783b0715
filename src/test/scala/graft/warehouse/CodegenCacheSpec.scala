package graft.warehouse

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** `Tables.register` sizes Spark's generated-class cache for graft's
  * working set. `CodeGenerator` reads the capacity once per JVM, at its
  * first use, and in the shared test JVM that is whichever suite compiles
  * first; so the cache itself is checked in a child JVM that starts a
  * plain session and registers before it compiles anything. */
class CodegenCacheSpec extends SparkSpec {

  test("register pins the generated-class cache capacity in the session conf") {
    Tables.register(spark, sfDir)
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ==
      Tables.CodegenCacheEntries.toString)
  }

  test("after register, a second round over 150 generated classes compiles none") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the JDK 17 --add-opens flags Spark needs, as this JVM was given them
    // (the JVM reports each in its `--add-opens=…` form)
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))
    val cmd = Seq(java, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.warehouse.CompileTwice", sfDir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor(120, TimeUnit.SECONDS) && p.exitValue == 0, out)
    val Array(first, second) = out.linesIterator.toSeq.last.split(" ").map(_.toLong)
    assert(first >= CompileTwice.Classes, out)
    assert(second == 0, s"second round compiled $second of ${CompileTwice.Classes} classes")
  }
}

/** Starts a `local[2]` session with no codegen setting, registers the
  * warehouse, then builds the same [[Classes]] distinct projections twice
  * and prints how many classes each round compiled. */
object CompileTwice {
  val Classes = 150

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-codegen-cache")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, args(0))
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until Classes).foreach { i =>
        UnsafeProjection.create(Seq(Add(BoundReference(0, LongType, nullable = false),
          Literal(i.toLong))))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    println(s"$first ${round()}")
    spark.stop()
  }
}
