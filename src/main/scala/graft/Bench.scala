package graft
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // JIT/codegen warmup + one-time view registration (SURVEY §6: register
    // temp views once per session; schemas are static). Without this the
    // ~5s first-job JIT cost lands on whichever query happens to run first.
    graft.warehouse.Tables.register(spark, sfDir)
    // the DSv2 keys stage their fixtures on first use; stage them here,
    // untimed, so their `cold` times grade the read and not the write
    connector.ConnectorQueries.prestage(spark, sfDir)
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    // shared-machinery JIT warmup: the FIRST use of lower()/regexp_replace()/
    // md5() in a JVM pays ~1s of one-time init (case-mapping tables, regex,
    // digest) that would otherwise be attributed to whichever key happens to
    // touch the class first — r7 flagged q_dedup_normalized as the suite's
    // slowest key (2.2s vs its real ~0.4s steady state) on exactly this
    spark.range(1000).selectExpr(
      "count(distinct md5(lower(regexp_replace(cast(id as string) || ' x', '[ ]+', ' '))))"
    ).collect()
    // Local-iteration filter, same contract as Verify's: the driver never
    // sets SPARK_GRAFT_KEYS, so its runs stay complete. A typo'd key must
    // NOT silently yield an rc=0 "0.0 s" run — unknown keys are reported
    // in the JSON line and fail the run (rc=2) after the known keys ran.
    val only = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = only.map(_ -- SparkEntry.queries.keySet).getOrElse(Set.empty)
    val selected = only match {
      case Some(ks) => SparkEntry.queries.filter { case (n, _) => ks(n) }
      case None     => SparkEntry.queries
    }
    // Min-of-N per key (SPARK_GRAFT_BENCH_ITERS, default 1 — the driver
    // contract is unchanged): two driver rounds running, box load has
    // manufactured phantom per-key regressions (r7: 14 keys, r8: 10 keys,
    // each costing a judge rerun to disprove); the min over 2+ iterations
    // is the stable per-key number on a noisy machine. Registry caches
    // stay warm across iterations, so the min measures steady state.
    val iters = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_ITERS").map { s =>
        s.trim.toIntOption.getOrElse(sys.error(
          s"SPARK_GRAFT_BENCH_ITERS must be an integer, got '$s'"))
      }.getOrElse(1))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // NonFatal only: a failing key must be VISIBLE in the output, not a -1
    // timing inside an rc=0 run — but after an OOM or other fatal JVM error
    // every remaining timing (and the zero exit code) would be a lie, so
    // fatal errors propagate and fail the run with a nonzero rc.
    // Per key: `queries` stays min-over-all-iterations (the driver
    // contract, steady state on a warm registry); `cold` is ALWAYS the
    // first iteration, which for registry-backed keys (knn refine et al.)
    // is the real one-shot cost — r15 verdict task 3: min-of-2 reported
    // 0.17 s for a key whose cold cost is 16.3 s, and nothing in the
    // artifact said so. Both numbers now ride every bench line.
    val colds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // generated classes each key compiled across its iterations, from
    // Spark's own codegen counter: what the generated-class cache
    // (Tables.CodegenCacheEntries) did not save
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val results = selected.map { case (name, fn) =>
      val c0 = compileCount
      var best = Double.MaxValue
      var i = 0
      while (i < iters && !errors.contains(name)) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case NonFatal(e) =>
            errors += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (!errors.contains(name)) {
          if (i == 0) colds(name) = dt
          best = math.min(best, dt)
        }
        i += 1
      }
      compiles(name) = compileCount - c0
      name -> (if (errors.contains(name)) 0.0 else best)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    // errored keys emit null, not their time-to-failure: sum of the
    // non-null timings always equals the headline `value`, so a consumer
    // summing `queries` never disagrees with the total
    val qs = results.map { case (k, v) =>
      jstr(k) + ":" + (if (errors.contains(k)) "null" else v.toString)
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // only keys that actually succeeded count toward the headline total
    val total = results.collect { case (k, v) if !errors.contains(k) => v }.sum
    // headline fields LAST: log capture keeps the TAIL of a run, so a
    // truncated line loses per-query detail, never the total (r6 and r7
    // both lost the leading total to truncation); the full line is also
    // written to target/bench_last.json as a capture-proof copy
    val unknownJson = unknown.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val coldJson = colds.map { case (k, v) => jstr(k) + ":" + v.toString }
      .mkString("{", ",", "}")
    val compileJson = compiles.map { case (k, v) => jstr(k) + ":" + v.toString }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","iters":$iters,"cold":$coldJson,"compiles":$compileJson,"queries":$qs,"errors":$errJson,"n_errors":${errors.size},"unknown_keys":$unknownJson,"value":$total}"""
    println(line)
    // r16 verdict item 6: the full line is ~15 KB at 287 keys and the
    // driver's log capture keeps only a 2000-char tail, so its recorded
    // bench has been parsed:null since ~r12 even though the line is
    // well-formed. A SECOND compact line (no per-key maps) always fits a
    // tail-limited capture, so at least the headline total parses; the
    // full map stays on the first line and in target/bench_last.json.
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","iters":$iters,"n_queries":${results.size},"n_errors":${errors.size},"value":$total}""")
    try {
      val out = java.nio.file.Paths.get("target", "bench_last.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case NonFatal(_) => () } // the stdout line is the contract
    CacheRegistry.releaseAll()
    connector.StageCache.clearAll()
    spark.stop()
    if (unknown.nonEmpty) {
      System.err.println(s"SPARK_GRAFT_KEYS entries match no query: " +
        unknown.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
  }
}
