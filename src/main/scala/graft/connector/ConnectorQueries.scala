package graft.connector

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.warehouse.Tables

/** Oracle-checked query keys exercising the connector surface (SURVEY §2
  * Tier A/B scan-and-sink rows). Partition sizing never changes row
  * content, so each key's oracle is the plain relational result; the
  * partition-count/size *behavior* itself is asserted in ScalaTest
  * (ConnectorSpec), mirroring the reference's own partition tests
  * (dask_snowflake/tests/test_core.py:285-321). */
object ConnectorQueries {

  /** Every write-then-read fixture the DSv2 keys stage, in one place so
    * [[prestage]] and the query defs can never diverge. */
  private def staged(
      key: String, s: org.apache.spark.sql.SparkSession, d: String): String =
    StageCache.getOrStage(key, d) { dir =>
      key match {
        case "roundtrip" =>
          Write.toParquet(Tables.table(s, d, "supplier"), dir, overwrite = true)
        case "roundtrip_csv" =>
          // header on so the file is self-describing; doubles round-trip
          // exactly (writer emits the shortest string that parses back to
          // the same IEEE value), quoting handles any embedded delimiter
          Tables.table(s, d, "customer")
            .write.option("header", "true").mode("overwrite").csv(dir)
        case "roundtrip_json" =>
          // explicit micros format: the default JSON timestamp pattern
          // truncates to millis on the read side, silently losing the
          // micros the warehouse timestamps carry
          Tables.table(s, d, "orders")
            .write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .mode("overwrite").json(dir)
        case "dsv2" =>
          Tables.table(s, d, "customer").repartition(3)
            .write.mode("overwrite").parquet(dir)
        case "dsv2_dec" =>
          Tables.table(s, d, "customer").selectExpr(
              "c_custkey",
              "CAST(CAST(c_custkey AS DECIMAL(12,2)) + 0.25 AS DECIMAL(12,2)) AS bal_dec",
              "CAST(CAST(c_custkey AS DECIMAL(27,10)) + 0.1234567891 AS DECIMAL(38,10)) AS bal_wide",
              "DATE_ADD(DATE'1992-01-03', CAST(c_custkey % 2000 AS INT)) AS stage_date")
            .write.format("graft").mode("overwrite").save(dir)
        case "small_files" =>
          // the pathological ingest layout: 48 KB-sized files for one table
          Tables.table(s, d, "orders").repartition(48)
            .write.mode("overwrite").parquet(dir)
        case "compacted" =>
          // StageCache's monitor is re-entrant, so staging the input from
          // inside this writer is safe
          graft.Graft.compactSmallFiles(s, staged("small_files", s, d), dir,
            targetBytes = 256 * 1024)
        case "dsv2_rtp" =>
          Tables.table(s, d, "orders").orderBy("o_custkey").coalesce(1)
            .write.option("parquet.block.size", 64 * 1024)
            .mode("overwrite").parquet(dir)
        case "dsv2_arr" =>
          Tables.table(s, d, "embeddings").repartition(3)
            .write.format("graft").mode("overwrite").save(dir)
        case "dsv2_struct" =>
          Tables.table(s, d, "documents").selectExpr(
              "doc_id",
              """CASE WHEN doc_id % 7 = 0 THEN NULL ELSE
                   named_struct(
                     'mime', 'application/octet-stream',
                     'n_bytes', CAST(octet_length(text) AS BIGINT),
                     'source', CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END)
                 END AS meta""")
            .repartition(3)
            .write.format("graft").mode("overwrite").save(dir)
        case "dsv2_part" =>
          // hive-layout stage: one `lang=xx/` subtree per language; rows
          // clustered by the partition key so each task opens few writers
          Tables.table(s, d, "documents")
            .select("doc_id", "lang", "source", "n_chars")
            .repartition(col("lang"))
            .write.format("graft").option("partition_by", "lang")
            .mode("overwrite").save(dir)
        case "dsv2_agg" =>
          // 6 row-group-bearing files so the metadata answer genuinely
          // merges multiple footers
          Tables.table(s, d, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .repartition(6)
            .write.format("graft").mode("overwrite").save(dir)
        case "dsv2_map" =>
          Tables.table(s, d, "documents").selectExpr(
              "doc_id",
              """CASE WHEN doc_id % 7 = 0 THEN NULL
                      WHEN doc_id % 7 = 1 THEN map()
                      ELSE map('lang', lang,
                               'source', CASE WHEN doc_id % 5 = 0 THEN NULL
                                              ELSE source END)
                 END AS attrs""")
            .repartition(3)
            .write.format("graft").mode("overwrite").save(dir)
      }
    }

  private val stageKeys = Seq(
    "roundtrip", "roundtrip_csv", "roundtrip_json", "dsv2", "dsv2_dec",
    "dsv2_rtp", "dsv2_arr", "dsv2_struct", "dsv2_map", "dsv2_part",
    "dsv2_agg")

  /** Bucketed twins of orders/lineitem for `q_bucket_join`: both sides
    * CLUSTERED BY their orderkey into the same 8 buckets — the pre-paid
    * shuffle. Unlike the parquet stages, bucketing lives in CATALOG
    * metadata (`saveAsTable`), which is per-session where StageCache is
    * per-process — so the table names carry the session identity and a
    * fresh session re-creates its catalog entries (re-using the staged
    * DIRECTORY is not attempted: bucket-file trust belongs to the
    * catalog that wrote it). The pre-write `repartition(8, key)` aligns
    * task partitioning with the bucket hash (same Murmur3 column hash),
    * so each bucket is ONE file — without it every write task emits a
    * file per bucket and the reader faces 32×8 fragments. The tables are
    * (re-)created whenever their staged directory is new — after
    * `StageCache.clearAll()` the old catalog entries point at deleted
    * files — and whenever the catalog lost them. */
  private[connector] def bucketedTables(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    val sid = Integer.toHexString(System.identityHashCode(s))
    val (tO, tL) = (s"graft_bkt_orders_$sid", s"graft_bkt_lineitem_$sid")
    def write(dir: String): Unit = {
      Tables.table(s, d, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").option("path", s"$dir/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(tO)
      Tables.table(s, d, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").option("path", s"$dir/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tL)
    }
    val dir = StageCache.getOrStage(s"bucketed_$sid", d)(write)
    if (!s.catalog.tableExists(tO) || !s.catalog.tableExists(tL)) write(dir)
    (tO, tL)
  }

  /** Stage every DSv2 fixture up front (idempotent — StageCache runs each
    * write once per (key, sfDir)). Every query key stages its own fixture
    * on first use, so only `graft.Bench` calls this, in its untimed
    * warmup: a bench row for a DSv2 key, `cold` included, grades the READ
    * plan, not the one-time fixture write. */
  private[graft] def prestage(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    stageKeys.foreach(k => staged(k, s, d))
    bucketedTables(s, d)
  }

  val defs: Seq[QueryDef] = Seq(

    // npartitions mode (core.py:169-171): exact partition count, rows intact
    QueryDef("q_read_npartitions",
      (s, d) => Read.readTable(s, d,
          "SELECT c_custkey, c_name, c_acctbal FROM customer",
          npartitions = Some(8))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |ORDER BY c_custkey""".stripMargin)),

    // partition_size mode with the reference's 100 MiB-style size target
    // (core.py:259-260); small target so multiple partitions exist even at
    // sf0.001
    QueryDef("q_read_partition_size",
      (s, d) => Read.readTable(s, d,
          "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
          partitionSize = Some("256 KiB"))
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin)),

    // write → read-back roundtrip (the reference's dominant test pattern,
    // test_core.py:54-65): parallel parquet sink, then scan the sink.
    // Staged ONCE per (key, sfDir) via StageCache — repeat invocations
    // read the existing stage instead of re-writing it.
    QueryDef("q_roundtrip_write",
      (s, d) => s.read.parquet(staged("roundtrip", s, d)).orderBy("s_suppkey"),
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // ------------------------------------- text-format round-trips
    // the interchange formats a warehouse unload/load pipeline speaks
    // besides parquet: write the table out, read it back with an
    // EXPLICIT schema (inference is a correctness lottery — int vs
    // long, string vs timestamp — so the contract is schema-first),
    // and the oracle checks content identity against the original
    // parquet. CSV: header + quoting, IEEE-exact doubles (shortest-
    // round-trip serialization both ways). JSON: explicit micros
    // timestampFormat on write AND read (the default pattern loses
    // sub-millisecond precision on the read side). At 100 TB both
    // stay embarrassingly parallel — per-partition files, no shuffle
    // in either direction.
    QueryDef("q_roundtrip_csv",
      (s, d) => s.read
        .schema(Tables.table(s, d, "customer").schema)
        .option("header", "true")
        .csv(staged("roundtrip_csv", s, d))
        .orderBy("c_custkey"),
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    QueryDef("q_roundtrip_json",
      (s, d) => s.read
        .schema(Tables.table(s, d, "orders").schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(staged("roundtrip_json", s, d))
        .orderBy("o_orderkey"),
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // small-file compaction end-to-end: a 48-file pathological ingest
    // layout rewritten to ceil(total/256 KiB) files by Graft.
    // compactSmallFiles (coalesce — no shuffle), then read back; the
    // oracle checks content identity through the rewrite. ConnectorSpec
    // asserts the file-count arithmetic and the no-shuffle plan.
    QueryDef("q_layout_compact",
      (s, d) => s.read.parquet(staged("compacted", s, d))
        .orderBy("o_orderkey"),
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // ------------------------------------------- bucketed (pre-paid) join
    // the co-located fact-fact join: both sides bucketed by orderkey into
    // the same bucket count at WRITE time, so the join consumes the
    // layout instead of shuffling — at 100 TB this converts the every-run
    // exchange of both fact tables into a one-time layout cost paid at
    // ingest, the standard play for a join run hourly on the same keys.
    // PlanSpec pins the contract: a SortMergeJoin with ZERO Exchange
    // under it — the only exchange in the plan is the group-sized
    // post-join agg. (A per-bucket Sort remains: Spark ≥3.0 ignores
    // write-time sortBy metadata on read unless the legacy
    // bucketedTableScan.outputOrdering conf is set; the sort is
    // task-local over one bucket, not a shuffle.) The merge hint forces the
    // fact-fact plan: at fixture scale the orders side auto-broadcasts
    // (correct there, q_tpch_q18 precedent) which would silently skip
    // the bucket path the key exists to grade. Results are
    // layout-independent, so the oracle is the plain join on the
    // un-bucketed tables.
    QueryDef("q_bucket_join",
      (s, d) => {
        val (tO, tL) = bucketedTables(s, d)
        s.table(tL).hint("merge")
          .join(s.table(tO), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
              .cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(count(1) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // the DSv2 connector end-to-end (graft.sources.BatchSource): stage a
    // result set as parquet files, then read it back through
    // spark.read.format("graft") with greedy row-group packing — the
    // reference's read_snowflake architecture as a real Spark source
    QueryDef("q_read_dsv2",
      (s, d) => s.read.format("graft").option("partition_size", "256 KiB")
        .load(staged("dsv2", s, d))
        .orderBy("c_custkey"),
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // DECIMAL/DATE roundtrip through the DSv2 connector — Snowflake NUMBER
    // is the reference's dominant staged dtype (test_core.py:63-65) and
    // DATE its second; decimals are built from exact integer arithmetic
    // (no float rounding) so both engines agree bit-for-bit, emitted as
    // DOUBLE/STRING because the driver's pandas compare can't hold
    // DECIMAL/DATE losslessly
    QueryDef("q_dsv2_decimal",
      (s, d) => {
        s.read.format("graft").option("npartitions", "4")
          .load(staged("dsv2_dec", s, d))
          .selectExpr(
            "c_custkey",
            "CAST(bal_dec AS DOUBLE) AS bal_dec",
            // the STAGED column stays DECIMAL(38,10) — that is the wide
            // read under test — but the comparison value reduces mod
            // 1e5 first, so its scaled integer stays < 2^53 and the
            // decimal→double cast is EXACT on both engines (above 2^53
            // DuckDB double-rounds int128→double→÷10^10; a 10×-scale
            // custkey made that a 45k-row last-ulp drift)
            "CAST(CAST(bal_wide % 100000 AS DECIMAL(15,10)) AS DOUBLE) AS bal_wide",
            "CAST(stage_date AS STRING) AS stage_date")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |  CAST(CAST(c_custkey AS DECIMAL(12,2)) + 0.25 AS DOUBLE) AS bal_dec,
             |  CAST(CAST(CAST(CAST(c_custkey AS DECIMAL(27,10)) + 0.1234567891 AS DECIMAL(38,10)) % 100000 AS DECIMAL(15,10)) AS DOUBLE) AS bal_wide,
             |  CAST(DATE '1992-01-03' + CAST(c_custkey % 2000 AS INTEGER) AS VARCHAR) AS stage_date
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // DPP-shaped join through the connector: the dim filter sits on a
    // NON-join column, so the fact-side pruning values (the matching
    // custkeys) exist only at runtime — Spark injects them into the scan
    // via SupportsRuntimeFiltering (dynamicpruningexpression over the
    // broadcast subquery). The oracle proves the runtime-filter path
    // returns exactly the unfiltered join's rows; the batch-pruning
    // behavior itself is pinned in BatchSourceSpec.
    QueryDef("q_dsv2_runtime_prune",
      (s, d) => {
        val fact = s.read.format("graft").option("partition_size", "64 KiB")
          .load(staged("dsv2_rtp", s, d))
        val dim = Tables.table(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_mktsegment")
        fact.join(broadcast(dim), fact("o_custkey") === dim("c_custkey"))
          .select(fact("o_orderkey"), fact("o_custkey"), dim("c_mktsegment"))
          .orderBy("o_orderkey", "o_custkey")
      },
      Some("""SELECT o_orderkey, o_custkey, c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |ORDER BY o_orderkey, o_custkey""".stripMargin)),

    // ArrayType through BOTH connector halves: embeddings (array<float>,
    // the flagship LLM-pipeline column) staged via the graft sink's
    // 3-level parquet list encoding, read back via the vectorized list
    // decode. Emitted as (dim, sequential-fold sum) — the fold order is
    // identical in both engines so the doubles are bit-identical; the
    // oracle reads the ORIGINAL table, proving the staged roundtrip
    // changed nothing.
    QueryDef("q_dsv2_array",
      (s, d) => {
        s.read.format("graft").option("npartitions", "4")
          .load(staged("dsv2_arr", s, d))
          .selectExpr(
            "vec_id",
            "CAST(size(embedding) AS BIGINT) AS dim",
            "round(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), " +
              "CAST(0.0 AS DOUBLE), (a, x) -> a + x), 6) AS vsum")
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |    list_transform(embedding, x -> CAST(x AS DOUBLE))),
             |    (a, x) -> a + x), 6) AS vsum
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // STRUCT through BOTH connector halves: the multimodal metadata shape
    // (ops.Multimodal.mediaSchema's `meta`) staged via the graft sink's
    // unannotated parquet group encoding, read back via the vectorized
    // struct decode. Null structs (doc_id % 7) and null subfields
    // (doc_id % 5) exercise every definition-level branch; the oracle
    // reads the ORIGINAL table, proving the staged roundtrip changed
    // nothing.
    QueryDef("q_dsv2_struct",
      (s, d) => {
        s.read.format("graft").option("npartitions", "4")
          .load(staged("dsv2_struct", s, d))
          .selectExpr(
            "doc_id", "meta.mime AS mime", "meta.n_bytes AS n_bytes",
            "meta.source AS source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 7 = 0 THEN NULL
             |       ELSE 'application/octet-stream' END AS mime,
             |  CASE WHEN doc_id % 7 = 0 THEN NULL
             |       ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS n_bytes,
             |  CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
             |       ELSE source END AS source
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // MAP through BOTH connector halves: null maps, empty maps and
    // null-valued entries stage via the standard parquet MAP encoding and
    // decode through the vectorized lockstep key/value reader; emitted as
    // scalars (entry count + per-key lookups) because the driver's pandas
    // compare can't hash raw map cells. The oracle reads the ORIGINAL
    // table and replays the map construction.
    QueryDef("q_dsv2_map",
      (s, d) => {
        s.read.format("graft").option("npartitions", "4")
          .load(staged("dsv2_map", s, d))
          .selectExpr(
            "doc_id",
            "CAST(size(attrs) AS BIGINT) AS n_attrs",
            "element_at(attrs, 'lang') AS lang_attr",
            "element_at(attrs, 'source') AS source_attr")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 7 = 0 THEN NULL
             |       WHEN doc_id % 7 = 1 THEN 0
             |       ELSE 2 END AS n_attrs,
             |  CASE WHEN doc_id % 7 IN (0, 1) THEN NULL
             |       ELSE lang END AS lang_attr,
             |  CASE WHEN doc_id % 7 IN (0, 1) OR doc_id % 5 = 0 THEN NULL
             |       ELSE source END AS source_attr
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // partitioned write → partition-pruned read-back: the sink's
    // `partition_by` option stages a hive-layout `lang=xx/` tree, the
    // scan turns the path segments back into a column, and the filter on
    // it prunes whole subtrees from the listing BEFORE any footer IO
    // (absorbed completely — Spark never re-evaluates it row-level).
    // ConnectorSpec asserts the file-count pruning and plan shape; this
    // key asserts the VALUES survive the round trip.
    QueryDef("q_dsv2_partition_prune",
      (s, d) => s.read.format("graft").option("npartitions", "2")
        .load(staged("dsv2_part", s, d))
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE lang = 'en' ORDER BY doc_id""".stripMargin)),

    // metadata-only aggregate pushdown: global COUNT(*)/MIN/MAX answered
    // from parquet FOOTERS via SupportsPushDownAggregates — one driver-
    // side listing, zero data files opened (the plan's scan is the
    // METADATA-ONLY MetadataAggScan; BatchSourceSpec proves it declines
    // when filters/grouping make metadata non-authoritative). This is
    // the warehouse-connector trick the reference relies on Snowflake
    // for: at 100 TB a row count or column range is a catalog question,
    // not a 100 TB scan. The oracle computes the same aggregates from
    // the raw table — the staged copy is row-identical by construction.
    QueryDef("q_dsv2_agg_pushdown",
      (s, d) => s.read.format("graft").load(staged("dsv2_agg", s, d))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")),
      Some("""SELECT CAST(count(1) AS BIGINT) AS n_rows,
             |  min(l_extendedprice) AS min_price,
             |  max(l_extendedprice) AS max_price
             |FROM lineitem""".stripMargin)),

    // LIMIT pushdown: a filterless LIMIT n plans only a PREFIX of
    // row-group batches (footer counts prove coverage), instead of the
    // whole stage — at 100 TB, "show me 100 rows" touches one file, not
    // a million. PARTIAL pushdown: Spark's exact limit stays on top, so
    // the scan only promises a covering prefix; with any pushed filter
    // the builder declines (metadata can't bound qualifying rows — the
    // same honesty rule as the aggregate pushdown). The key counts
    // through the limit (deterministic at any prefix choice); the PLAN
    // is the real assertion — PlanSpec pins the truncated scan, and
    // BatchSourceSpec pins both accept and decline paths.
    QueryDef("q_dsv2_limit_pushdown",
      (s, d) => s.read.format("graft").option("npartitions", "6")
        .load(staged("dsv2_agg", s, d))
        .limit(120)
        .agg(count(lit(1)).as("n_rows")),
      Some("""SELECT CAST(count(1) AS BIGINT) AS n_rows FROM (
             |  SELECT * FROM lineitem LIMIT 120)""".stripMargin)),

    // Arrow IPC interchange round-trip — the reference's wire format
    // (ArrowResultBatch, core.py:127-130) as an oracle-checked surface:
    // every partition serializes to ONE executor-local Arrow IPC stream
    // with Spark's own ArrowWriter (opaque binary rows — shippable to a
    // stage, a queue, another engine), then decodes back
    // partition-parallel with Spark's ArrowConverters; the oracle is the
    // original table, so the key proves byte-faithful round-tripping of
    // the full relational row set with zero driver materialization.
    QueryDef("q_arrow_roundtrip",
      (s, d) => {
        val src = Tables.table(s, d, "customer")
        graft.interop.ArrowInterop.fromArrowBatches(
            graft.interop.ArrowInterop.toArrowBatches(src), src.schema)
          .orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // column-rename surface (columns.str.upper(), test_core.py:59-60) —
    // schema-only operation, no data movement
    QueryDef("q_rename_upper",
      (s, d) => {
        val df = Tables.table(s, d, "region")
        df.toDF(df.columns.map(_.toUpperCase(java.util.Locale.ROOT)).toIndexedSeq: _*)
          .orderBy("R_REGIONKEY")
      },
      Some("""SELECT r_regionkey AS R_REGIONKEY, r_name AS R_NAME
             |FROM region ORDER BY R_REGIONKEY""".stripMargin))
  )
}
