package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one key's result to `outDir/name`. A key that fails to
    * plan/run must be LOUD in the driver artifact, not silently absent
    * (round 10: three analysis-time failures dropped out of the
    * correctness report entirely). On error, write a one-row marker
    * parquet in the key's slot — its `__error` schema/rowcount can
    * never hash-match any oracle, so the driver reports FAIL — and
    * record the message for errors.json. VerifySpec pins both paths. */
  /** Relabel tz-aware timestamps as NTZ before the dump write. The session
    * TZ is pinned UTC, so the cast is a bit-exact relabel, and the parquet
    * written for the driver's DuckDB compare types as naive TIMESTAMP —
    * matching what the oracle SQL yields — regardless of the session's
    * `parquet.outputTimestampType` (round 11: the DSv2 fixtures pin it to
    * TIMESTAMP_MICROS, whose isAdjustedToUTC=true annotation DuckDB types
    * as TIMESTAMP WITH TIME ZONE → 15 schema-mismatch keys). Mirrors the
    * reference's dtype-lax roundtrip contract (test_core.py:59-65). */
  private[graft] def ntzRelabel(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    def ntz(dt: DataType): DataType = dt match {
      case TimestampType       => TimestampNTZType
      case s: StructType       =>
        StructType(s.fields.map(f => f.copy(dataType = ntz(f.dataType))))
      case a: ArrayType        => a.copy(elementType = ntz(a.elementType))
      case m: MapType          =>
        m.copy(keyType = ntz(m.keyType), valueType = ntz(m.valueType))
      case other               => other
    }
    val casts = df.schema.fields.collect {
      case f if ntz(f.dataType) != f.dataType => f.name -> ntz(f.dataType)
    }
    if (casts.isEmpty) df
    else casts.foldLeft(df) { case (d, (c, t)) =>
      d.withColumn(c, col(c).cast(t))
    }
  }

  private[graft] def dumpOne(spark: SparkSession, sfDir: String,
      outDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      errors: scala.collection.mutable.Map[String, String]): Unit = {
    try ntzRelabel(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      System.err.println(s"[verify] $name failed: $msg")
      errors(name) = msg.take(2000)
      try {
        import spark.implicits._
        Seq(msg.take(2000)).toDF("__error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case m: Throwable =>
        System.err.println(s"[verify] $name marker write failed: ${m.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_KEYS="q_a,q_b" restricts the dump
    // to those keys (the driver never sets it, so its runs stay complete).
    val only = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ks) => SparkEntry.queries.filter { case (n, _) => ks(n) }
      case None     => SparkEntry.queries
    }
    // A key that fails to plan/run must be LOUD in the driver artifact,
    // not silently absent (round 10: three analysis-time failures dropped
    // out of the correctness report entirely). On error, write a one-row
    // marker parquet in the key's slot — its __error schema/rowcount can
    // never hash-match any oracle, so the driver reports FAIL — plus an
    // errors.json for humans.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      dumpOne(spark, sfDir, outDir, name, fn, errors)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty) {
      val ejson = errors
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), ejson)
    }
    CacheRegistry.releaseAll()
    connector.StageCache.clearAll()
    spark.stop()
  }
}
