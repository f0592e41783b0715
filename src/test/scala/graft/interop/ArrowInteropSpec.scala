package graft.interop

import graft.SparkSpec
import graft.warehouse.Tables

/** Arrow IPC roundtrip — the reference's wire format: partition →
  * IPC stream → rows, content-identical. */
class ArrowInteropSpec extends SparkSpec {

  test("orders roundtrips through Arrow IPC batches (incl. timestamps)") {
    val src = Tables.table(spark, sfDir, "orders").repartition(3)
    val batches = ArrowInterop.toArrowBatches(src)
    assert(batches.rdd.getNumPartitions == 3)
    val collected = batches.collect()
    assert(collected.length == 3, "one IPC stream per partition")
    assert(collected.map(_._1).sum == src.count())
    val back = ArrowInterop.fromArrowBatches(batches, src.schema)
    assertSameRows(src, back)
  }

  test("nulls survive the interchange") {
    import org.apache.spark.sql.functions._
    val src = Tables.table(spark, sfDir, "customer")
      .select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, col("c_name")).as("maybe_name"),
        when(col("c_custkey") % 2 === 0, col("c_acctbal")).as("maybe_bal"))
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assertSameRows(src, back)
  }

  test("embeddings (ArrayType(Float)) roundtrip through the IPC stream") {
    val src = Tables.table(spark, sfDir, "embeddings").repartition(2)
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assertSameRows(src, back)
  }

  test("null arrays and null elements survive the interchange") {
    import org.apache.spark.sql.functions._
    val src = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        when(col("vec_id") % 3 === 0,
          expr("transform(embedding, (x, i) -> IF(i = 0, CAST(NULL AS FLOAT), x))"))
          .as("maybe_vec"))
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assertSameRows(src, back)
  }

  test("DECIMAL and DATE ride the Arrow wire (NUMBER parity), nulls included") {
    // the reference's wire carries Snowflake NUMBER through Arrow
    // (core.py:127-130) — a staged money column must ride our IPC too:
    // narrow decimal, 38-digit decimal, DATE, each with nulls
    val src = Tables.table(spark, sfDir, "customer").limit(300).selectExpr(
      "c_custkey",
      "IF(c_custkey % 7 = 0, NULL, CAST(CAST(c_custkey AS DECIMAL(12,2)) + 0.25 AS DECIMAL(12,2))) AS money",
      "IF(c_custkey % 11 = 0, NULL, CAST(CAST(c_custkey AS DECIMAL(27,10)) + 0.1234567891 AS DECIMAL(38,10))) AS money_wide",
      "IF(c_custkey % 13 = 0, NULL, DATE_ADD(DATE'1992-01-03', CAST(c_custkey % 2000 AS INT))) AS d")
      .repartition(2)
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assert(back.schema("money").dataType.typeName === "decimal(12,2)")
    assert(back.schema("money_wide").dataType.typeName === "decimal(38,10)")
    assert(back.schema("d").dataType.typeName === "date")
    assertSameRows(src, back)
  }

  test("STRUCT columns ride the wire: null structs, null subfields, typed leaves") {
    // the connector's struct surface (multimodal meta shape) must match on
    // the wire — every definition branch plus decimal/date/timestamp leaves
    val src = Tables.table(spark, sfDir, "customer").limit(300).selectExpr(
      "c_custkey",
      """CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE
        |  named_struct(
        |    'tag', CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END,
        |    'n', c_custkey * 1000000007,
        |    'money', CAST(CAST(c_custkey AS DECIMAL(12,2)) + 0.25 AS DECIMAL(12,2)),
        |    'd', DATE_ADD(DATE'1992-01-03', CAST(c_custkey % 2000 AS INT)),
        |    'ts', TIMESTAMP'1995-06-17 12:34:56.789')
        |END AS meta""".stripMargin)
      .repartition(2)
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assertSameRows(src, back)
  }

  test("MAP columns ride the wire: null maps, empty maps, null values") {
    val src = Tables.table(spark, sfDir, "customer").limit(300).selectExpr(
      "c_custkey",
      """CASE WHEN c_custkey % 7 = 0 THEN NULL
        |     WHEN c_custkey % 7 = 1 THEN map()
        |     WHEN c_custkey % 7 = 2 THEN
        |       map('name', c_name, 'segment', NULL)
        |     ELSE map('name', c_name, 'segment', c_mktsegment,
        |              'nation', CAST(c_nationkey AS STRING))
        |END AS attrs""".stripMargin)
      .repartition(2)
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assertSameRows(src, back)
  }

  test("numeric-valued maps keep key/value types through the wire") {
    val src = Tables.table(spark, sfDir, "region").selectExpr(
      "r_regionkey",
      "map(r_name, r_regionkey * 10, 'len', length(r_name)) AS m")
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assert(back.schema("m").dataType.simpleString == "map<string,int>")
    assertSameRows(src, back)
  }

  test("decode is streaming: early termination still yields correct prefix rows") {
    // fromArrowBatches no longer buffers the whole stream — a limit() that
    // abandons the iterator mid-batch must still return correct rows (the
    // allocator is reclaimed by the task-completion listener)
    val src = Tables.table(spark, sfDir, "orders").coalesce(1)
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    assert(back.limit(7).collect().length == 7)
  }

  test("batches are valid standalone Arrow streams (readable out-of-band)") {
    val src = Tables.table(spark, sfDir, "region")
    val bytes = ArrowInterop.toArrowBatches(src.coalesce(1)).collect().head._2
    // decode with a fresh reader, no Spark involved — the bytes ARE the API
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    var rows = 0
    while (reader.loadNextBatch()) rows += reader.getVectorSchemaRoot.getRowCount
    reader.close(); alloc.close()
    assert(rows == 5)
  }

  test("shapes past the old hand mapping: BINARY, SMALLINT, TINYINT, nested containers, NTZ, pre-epoch µs") {
    // every level carries nulls: null columns, null elements, null structs,
    // null struct fields, null map values, null arrays inside maps
    val src = Tables.table(spark, sfDir, "customer").limit(300).selectExpr(
      "c_custkey",
      "IF(c_custkey % 7 = 0, NULL, CAST(c_name AS BINARY)) AS bin",
      "IF(c_custkey % 5 = 0, NULL, CAST(c_custkey * 7 - 500 AS SMALLINT)) AS small",
      "IF(c_custkey % 3 = 0, NULL, CAST(c_custkey % 256 - 128 AS TINYINT)) AS tiny",
      """CASE WHEN c_custkey % 11 = 0 THEN NULL
        |  ELSE array(c_name, IF(c_custkey % 2 = 0, NULL, c_mktsegment)) END AS strs""".stripMargin,
      """CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE array(
        |  named_struct('k', c_nationkey, 's', IF(c_custkey % 3 = 0, NULL, c_mktsegment)),
        |  IF(c_custkey % 4 = 0, NULL, named_struct('k', -1, 's', 'x'))) END AS structs""".stripMargin,
      """CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE named_struct(
        |  'name', c_name,
        |  'bals', IF(c_custkey % 2 = 0, NULL,
        |    array(CAST(c_acctbal AS DOUBLE), CAST(NULL AS DOUBLE)))) END AS holder""".stripMargin,
      """CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE map(
        |  c_mktsegment, IF(c_custkey % 3 = 0, NULL,
        |    array(CAST(c_acctbal AS DOUBLE), IF(c_custkey % 2 = 0, NULL, 1.5D))),
        |  'empty', array()) END AS m""".stripMargin,
      """IF(c_custkey % 23 = 0, NULL,
        |  CAST(timestamp_micros(c_custkey * 86400000123) AS TIMESTAMP_NTZ)) AS ntz""".stripMargin,
      """IF(c_custkey % 29 = 0, NULL,
        |  timestamp_micros(-(c_custkey * 1000003 + 123457))) AS pre_epoch""".stripMargin)
      .repartition(2)
    assert(src.schema("ntz").dataType.typeName === "timestamp_ntz")
    val back = ArrowInterop.fromArrowBatches(
      ArrowInterop.toArrowBatches(src), src.schema)
    // compare BINARY by content: Array[Byte] rows compare by reference
    val asHex = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("bin", org.apache.spark.sql.functions.hex(df("bin")))
    assertSameRows(asHex(src), asHex(back))
  }

  test("the wire schema: UTC-zoned timestamps, element-named list children, entries/key/value maps") {
    val src = Tables.table(spark, sfDir, "region").selectExpr(
      "r_regionkey",
      "array(r_name) AS names",
      "map(r_name, r_regionkey) AS m",
      "TIMESTAMP'2001-02-03 04:05:06' AS ts",
      "TIMESTAMP_NTZ'2001-02-03 04:05:06' AS ntz")
    val bytes = ArrowInterop.toArrowBatches(src.coalesce(1)).collect().head._2
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val schema = reader.getVectorSchemaRoot.getSchema
      assert(schema.findField("names").getChildren.get(0).getName === "element")
      val entries = schema.findField("m").getChildren.get(0)
      assert(entries.getName === "entries")
      assert(entries.getChildren.get(0).getName === "key")
      assert(entries.getChildren.get(1).getName === "value")
      assert(schema.findField("ts").getType.toString === "Timestamp(MICROSECOND, UTC)")
      assert(schema.findField("ntz").getType.toString === "Timestamp(MICROSECOND, null)")
    } finally { reader.close(); alloc.close() }
  }

  test("an error while encoding surfaces as itself, not as an allocator leak") {
    // the failing row comes after a full 4,096-row batch, so the root
    // holds buffers when the error is thrown
    val src = spark.range(0, 6000, 1, 1)
      .selectExpr("IF(id = 5000, raise_error('boom at 5000'), id) AS id")
    val e = intercept[Exception] {
      ArrowInterop.toArrowBatches(src).collect()
    }
    assert(e.getMessage.contains("boom at 5000"), e.getMessage)
  }
}
