package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Golden digests. `graft.Verify` dumps each key's result to parquet and
  * the repository's oracle checker compares every dump with DuckDB; this
  * step digests each dump exactly as a timed operation digests its live
  * result, so a timed result matches its golden digest only if it equals
  * the oracle-checked result row for row. */
object Golden {

  final case class Entry(rows: Long, digest: String, oracleOk: Boolean, why: String)

  /** `verdicts`: key -> "PASS" or the checker's failure line. */
  def build(spark: SparkSession, dumpDir: String, verdicts: Map[String, String]): Map[String, Entry] =
    verdicts.map { case (key, verdict) =>
      val dir = s"$dumpDir/$key"
      val e =
        if (!Files.isDirectory(Paths.get(dir))) Entry(0, "", oracleOk = false, "no dump")
        else {
          val df = spark.read.parquet(dir)
          val rows = df.collect()
          Entry(rows.length, Check.ordered(df.schema.fieldNames.toSeq, rows),
            verdict == "PASS", if (verdict == "PASS") "" else verdict)
        }
      key -> e
    }

  def write(path: String, g: Map[String, Entry]): Unit = {
    val m = g.map { case (k, e) =>
      k -> Map("rows" -> e.rows, "digest" -> e.digest, "oracle_ok" -> e.oracleOk,
        "why" -> e.why).asJava
    }.asJava
    Files.writeString(Paths.get(path), new ObjectMapper().writeValueAsString(m))
  }

  def read(path: String): Map[String, Entry] = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    root.fields().asScala.map { f =>
      val v = f.getValue
      f.getKey -> Entry(v.get("rows").asLong(), v.get("digest").asText(),
        v.get("oracle_ok").asBoolean(), v.get("why").asText())
    }.toMap
  }
}
