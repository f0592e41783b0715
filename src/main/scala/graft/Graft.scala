package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.SizeEstimator

import graft.connector.{Read, Write}

/** The user-facing API — the Spark-native twin of the reference's two
  * public functions (dask_snowflake/__init__.py:3 exports exactly
  * `read_snowflake` and `to_snowflake`):
  *
  * | reference                                         | here                       |
  * |---------------------------------------------------|----------------------------|
  * | `read_snowflake(query, connection_kwargs, ...)`   | [[read]]                   |
  * | `to_snowflake(df, name, ...)`                     | [[write]]                  |
  * | `to_snowflake(..., compute=False)`                | [[writeDeferred]]          |
  * | `arrow_options={"types_mapper": ...}` cast layer  | [[castAll]]                |
  * | `df.memory_usage_per_partition()` (test surface)  | [[memoryUsagePerPartition]]|
  * | `df.npartitions`                                  | [[npartitions]]            |
  *
  * `connection_kwargs` has no analogue: the warehouse is the local parquet
  * directory (`sfDir`), registered as views — Spark is both the cluster
  * and the SQL engine, so the reference's four network hops (SURVEY §3.1)
  * collapse into one distributed scan.
  */
/** One `WHEN MATCHED [AND cond] THEN …` branch for [[Graft.merge]]:
  * `set = Some(target → source assignments)` is `UPDATE SET …` (use
  * every non-key column for `SET *`); `set = None` is `DELETE`. `cond`
  * is the optional AND-gate over aliases `c` (corpus) / `b` (batch). */
final case class MergeBranch(cond: Option[Column],
  set: Option[Seq[(String, String)]])

object Graft {

  /** Distributed read of a SQL query result, partition-managed like
    * `read_snowflake` (exactly one of `npartitions`/`partitionSize`;
    * neither → 100 MiB size mode).
    *
    * `typesMapper` is the `arrow_options={"types_mapper": ...}` analogue
    * applied INSIDE the read like the reference's (core.py:204, 292;
    * exercised at test_core.py:106-123): a source-type → target-type
    * mapping, e.g. `{ case DoubleType => Some(FloatType); case _ => None }`
    * narrows every float64 column on arrival. `None` (the default mapping)
    * leaves the schema untouched and adds no projection to the plan.
    *
    * Known limits of the read path:
    *   - size mode sizes a join from Catalyst's estimate, which multiplies
    *     the sizes of its inputs: lineitem ⋈ orders at sf0.1 asks for
    *     69,015 partitions for a ~600,000-row result;
    *   - an `ORDER BY` result resized to more than one partition is not
    *     returned in order (`coalesce` groups non-adjacent partitions and
    *     `repartition` shuffles). */
  def read(
      spark: SparkSession,
      sfDir: String,
      query: String,
      params: Map[String, Any] = Map.empty,
      npartitions: Option[Int] = None,
      partitionSize: Option[String] = None,
      typesMapper: DataType => Option[DataType] = _ => None,
      emptyAsZeroColumns: Boolean = false): DataFrame = {
    val df = Read.readTable(spark, sfDir, query, params, npartitions,
      partitionSize, emptyAsZeroColumns)
    if (!df.schema.fields.exists(f => typesMapper(f.dataType).isDefined)) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      typesMapper(f.dataType) match {
        case Some(to) => org.apache.spark.sql.functions.col(f.name).cast(to).as(f.name)
        case None     => org.apache.spark.sql.functions.col(f.name)
      }
    }: _*)
  }

  /** Distributed write, `to_snowflake` semantics (uppercased table,
    * schema-first DDL, parallel per-partition append). */
  def write(df: DataFrame, name: String, overwrite: Boolean = false): Unit =
    Write.toTable(df, name, overwrite)

  /** `compute=False`: the write as an unexecuted thunk; DDL still eager
    * (the reference wart, core.py:116 — preserved deliberately). */
  def writeDeferred(df: DataFrame, name: String): () => Unit =
    Write.toTableDeferred(df, name)

  /** Stage write through the DSv2 sink, optionally hive-partitioned:
    * `partitionBy` columns become `col=value/` subtrees the graft scan
    * prunes at the file level (and answers MIN/MAX over from paths
    * alone). Beyond the reference's surface — its `to_snowflake` stages
    * flat tables only — but the natural completion of the read side's
    * pruning. */
  def writeStage(
      df: DataFrame, path: String, overwrite: Boolean = false,
      partitionBy: Seq[String] = Seq.empty): Unit =
    Write.toStage(df, path, overwrite, partitionBy)

  /** ANN similarity search over the `embeddings` table (north-star
    * "similarity search" block): the sample-trained IVF path — bounded
    * driver-side quantizer fit, codegen'd cell assignment, probe-cell
    * join. `nprobe` is the USER-FACING recall dial, an API option like
    * `partitionSize` on [[read]]: 1 probes only each query's nearest
    * coarse cell (fastest, misses neighbors straddling a Voronoi
    * boundary); larger values widen the candidate set toward
    * exact-within-quantizer at one extra probe row per query per step.
    * `queryIds` picks the query vectors (small by contract — the probe
    * side broadcasts) and `k` the hits per query. VectorSpec asserts
    * recall is monotone in `nprobe`. */
  /** Upper bound on the query-side size of the similarity searches: the
    * probe set broadcasts (so the corpus never shuffles), which is the
    * right plan only while the query batch is executor-memory-small —
    * ~10k × 64 f64 vectors ≈ 5 MB, comfortably under any broadcast
    * budget. Enforced loudly instead of "small by contract" docs: an
    * unbounded `queryIds` would force a corpus-scale broadcast and OOM.
    * For query sets past the cap, run them in batches (one pass over the
    * corpus per batch — the documented shape for bulk scoring). */
  val MaxQueryBatch = 10000

  private def requireQueryBatch(queryIds: Seq[Long]): Unit =
    require(queryIds.size <= MaxQueryBatch,
      s"query batch of ${queryIds.size} exceeds MaxQueryBatch=$MaxQueryBatch " +
        "(the probe side broadcasts); split the ids into batches")

  def similaritySearch(
      spark: SparkSession, sfDir: String,
      nprobe: Int = 3, sampleTarget: Int = 20000,
      queryIds: Seq[Long] = 0L until 5, k: Int = 5): DataFrame = {
    requireQueryBatch(queryIds)
    ops.Vector.ivfTopKTrained(spark, sfDir, sampleTarget, nprobe,
      org.apache.spark.sql.functions.col("vec_id").isin(queryIds: _*), k)
  }

  /** All-queries kNN join over the `embeddings` corpus: top-k neighbors
    * for EVERY vector (the kNN-graph builder behind clustering, label
    * propagation and graph-based dedup) — the batch sibling of
    * [[similaritySearch]] that escapes [[MaxQueryBatch]]: no query
    * broadcast, both sides meet in a cell-keyed shuffle join on the
    * frozen IVF cells, and hot cells rebalance by a replicate-salt skew
    * split that provably never changes the pair set (`cellCap` bounds a
    * join task's corpus rows, not recall).
    *
    * The default quantizer is SCALE-ADAPTIVE (round 15): ⌈√corpus⌉
    * cells picked as strided corpus vectors
    * ([[ops.Vector.adaptiveCenters]]), making pair work n^1.5 by
    * construction — a frozen cell count squares instead (measured
    * 30.6× wall on 10× data). Pass `centroids` to pin a quantizer: a
    * frozen set for replay ([[ops.IvfCentroids]] — the
    * `q_similarity_knn_join` oracle twin), or a [[ops.Vector.fitCentroids]]
    * Lloyd's refinement when cell balance matters more than fit cost.
    * Oracle-checked as `q_similarity_knn_join_adaptive` (this default)
    * and `q_similarity_knn_join` (frozen twin).
    *
    * Quantizer ladder: this flat adaptive default is Θ(n^1.5)
    * (measured 282.7 s at the 100× replica); [[knnJoinHier]] is the
    * Θ(n^(4/3)) rung (9.2 s same data) at lower same-nprobe recall,
    * and [[knnGraphRefinedHier]] is the recommended high-recall
    * configuration at scale. */
  def knnJoin(spark: SparkSession, sfDir: String, nprobe: Int = 2,
      k: Int = 3, cellCap: Int = 4096,
      centroids: Option[Array[Array[Double]]] = None): DataFrame =
    ops.Vector.knnJoin(spark, sfDir,
      centroids.getOrElse(ops.Vector.adaptiveCenters(spark, sfDir)),
      nprobe, k, cellCap)

  /** [[knnJoin]] + NN-Descent refinement rounds (oracle key
    * `q_similarity_knn_refine`): the recall knob that does NOT cost
    * n² — each round symmetrizes the graph, caps adjacencies at `cap`
    * (deterministic ρ-sampling), joins neighbor-of-neighbor candidates
    * and re-ranks top-k, for n·cap²·dim extra work per round. Measured
    * at sf0.1: recall@3 0.217 (IVF init) → 0.946 after four rounds
    * over a workK=20 working graph. */
  def knnGraphRefined(spark: SparkSession, sfDir: String,
      rounds: Int = 4, k: Int = 3, workK: Int = 20,
      cap: Int = 40): DataFrame =
    ops.Vector.knnRefine(spark, sfDir, rounds, k, workK, cap)

  /** Hierarchical (two-level) corpus×corpus kNN join (oracle key
    * `q_similarity_knn_join_hier`): n^(2/3) fine cells routed through
    * n^(1/3) coarse centers — assignment and pair scoring both
    * Θ(n^(4/3)), below the flat quantizer's n^1.5. Lower recall at
    * the same nprobe (scanned fraction shrinks with the cell count);
    * compose with [[knnGraphRefinedHier]] to buy it back at linear
    * cost. */
  def knnJoinHier(spark: SparkSession, sfDir: String,
      nprobe: Int = 2, k: Int = 3, cellCap: Int = 4096): DataFrame =
    ops.Vector.knnJoinHier(spark, sfDir, nprobe, k, cellCap)

  /** [[knnGraphRefined]] seeded by the hierarchical join (oracle key
    * `q_similarity_knn_refine_hier`): the family's cheapest
    * high-recall configuration — Θ(n^(4/3)) init + linear NN-Descent
    * rounds. */
  def knnGraphRefinedHier(spark: SparkSession, sfDir: String,
      rounds: Int = 4, k: Int = 3, workK: Int = 20,
      cap: Int = 40): DataFrame =
    ops.Vector.knnRefineHier(spark, sfDir, rounds, k, workK, cap)

  /** Mutual-kNN embedding clusters (oracle key
    * `q_embedding_cluster_mutual`): [[knnGraphRefinedHier]]'s graph →
    * edges kept only when BOTH endpoints rank each other top-k at
    * cosine ≥ `tau` → connected components → (vec_id, cluster,
    * cluster_size) for every vector, singletons labeling themselves.
    * The SemDeDup-shaped "group embedding near-dups, then keep one
    * per group" precursor. */
  def embeddingClusters(spark: SparkSession, sfDir: String,
      tau: Double = 0.4): DataFrame =
    ops.Vector.mutualKnnClusters(spark, sfDir, tau)

  /** SemDeDup end-to-end over the documents table (oracle key
    * `q_select_semdedup`): embedded documents keep only their
    * [[embeddingClusters]] cluster's min-id member, documents without
    * an embedding pass through, and the result is the per-source
    * curation audit (docs / embedded / dropped / kept / kept chars). */
  def semanticDedup(spark: SparkSession, sfDir: String,
      tau: Double = 0.4): DataFrame =
    ops.Vector.semanticDedup(spark, sfDir, tau)

  /** MERGE INTO semantics as a plain join (oracle key `q_upsert`):
    * merge `batch` (updates + inserts) into `corpus` by `keys` —
    * matched keys take the batch row, unmatched corpus rows survive,
    * unmatched batch rows insert. Spark has no MERGE without a table
    * format; the engine form is ONE full-outer join + per-column
    * "batch wins" selection — a single key shuffle of each side at any
    * scale (both sides may be fact-sized: no broadcast assumption, and
    * AQE's skew split applies if the key distribution is hot).
    * PRECONDITIONS (required, not assumed): both frames share the
    * schema, and `batch` has at most one row per key — a multi-row
    * batch would fan out the join; dedupe upstream
    * ([[ops.Dedup]]/`keepBest`) first. With `failOnDuplicateMatches`
    * the precondition is ENFORCED the way Snowflake's default
    * `ERROR_ON_NONDETERMINISTIC_MERGE = true` does (round-14 ADVICE:
    * the silent fan-out diverged from the warehouse, which fails
    * loudly): a corpus row matched by 2+ batch rows raises at
    * execution; duplicate batch keys that match NOTHING stay legal
    * (Snowflake inserts both — that is deterministic). The guard is
    * one `count` window over the batch keys that reuses the join's
    * own partitioning — no extra shuffle — and a never-dropping
    * assert filter above the join; see [[dupMatchGuard]]. */
  def upsert(corpus: DataFrame, batch: DataFrame, keys: Seq[String],
      failOnDuplicateMatches: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(corpus.columns.sameElements(batch.columns),
      s"schema mismatch: corpus ${corpus.columns.mkString(",")} vs " +
        s"batch ${batch.columns.mkString(",")}")
    // "the batch row was matched" must survive for ALL-NULL value rows,
    // so probe the first key column, not a value column
    val matched = col(s"b.${keys.head}").isNotNull
    val joined = mergeJoin(corpus, batch, keys, failOnDuplicateMatches,
      matched && col(s"c.${keys.head}").isNotNull)
    joined.select(corpus.columns.map { n =>
        when(matched, col(s"b.$n")).otherwise(col(s"c.$n")).as(n)
      }.toIndexedSeq: _*)
  }

  /** The merge family's null-safe key join, with the optional
    * nondeterministic-match guard fused in. `corpus`/`batch` arrive
    * pre-staged (presence markers already attached where the caller
    * needs them) and come back joined under aliases `c`/`b`.
    *
    * Unguarded: one full-outer `<=>` join — byte-identical plans to
    * the pre-guard operators. Guarded: Catalyst would rewrite `<=>`
    * into hash keys `(coalesce(k, typeDefault), isnull(k))` anyway, so
    * the guard MATERIALIZES those surrogates as real columns on both
    * sides, joins on their plain equality (exactly `<=>`: both-NULL
    * agree on `(default, true)`, a genuine `default` key differs in
    * the isnull flag), counts batch rows per key with one window
    * partitioned by the SAME attributes, and asserts. Window and join
    * then share one exchange + sort per side (EnsureRequirements sees
    * identical attribute partitionings; PlanSpec pins ≤ 2 key
    * shuffles) — the Snowflake-faithful loud-fail costs no extra
    * shuffle at any scale. A key type outside [[guardDefault]] falls
    * back to `<=>` + a plain-key window: still exact, one extra
    * batch-side exchange. */
  private def mergeJoin(corpus: DataFrame, batch: DataFrame,
      keys: Seq[String], guard: Boolean, isMatched: Column): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, isnull, lit}
    if (guard) {
      // the guard plants working columns; a user column sharing a name
      // would be silently overwritten by withColumn and projected back
      // out as data — reject loudly instead (round-15 review catch)
      val reserved = (corpus.columns ++ batch.columns).filter(c =>
        c.startsWith("__gk") || c == "__b_matches")
      require(reserved.isEmpty,
        s"failOnDuplicateMatches reserves column names __gk*/__b_matches; " +
          s"rename: ${reserved.distinct.mkString(", ")}")
    }
    val defaults = keys.map(k => guardDefault(corpus.schema(k).dataType))
    if (!guard) {
      val cond = keys.map(k => col(s"c.$k") <=> col(s"b.$k")).reduce(_ && _)
      corpus.alias("c").join(batch.alias("b"), cond, "full_outer")
    } else if (defaults.forall(_.isDefined)) {
      def aug(df: DataFrame): DataFrame =
        keys.zip(defaults).zipWithIndex.foldLeft(df) {
          case (d, ((k, dflt), i)) =>
            d.withColumn(s"__gk${2 * i}", coalesce(col(k), dflt.get))
              .withColumn(s"__gk${2 * i + 1}", isnull(col(k)))
        }
      val gk = keys.indices.flatMap(i => Seq(s"__gk${2 * i}", s"__gk${2 * i + 1}"))
      val b = aug(batch).withColumn("__b_matches", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(gk.map(col): _*))).alias("b")
      val c = aug(corpus).alias("c")
      val cond = gk.map(n => col(s"c.$n") === col(s"b.$n")).reduce(_ && _)
      dupGuardFilter(c.join(b, cond, "full_outer"), isMatched, keys)
    } else {
      val b = batch.withColumn("__b_matches", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*))).alias("b")
      val cond = keys.map(k => col(s"c.$k") <=> col(s"b.$k")).reduce(_ && _)
      dupGuardFilter(corpus.alias("c").join(b, cond, "full_outer"),
        isMatched, keys)
    }
  }

  /** A legal constant of the key's type for the guard's surrogate
    * coalesce. ANY constant works — the `(coalesce(k, d), isnull(k))`
    * pair is a bijection onto the null-safe key class regardless of
    * `d`, because the isnull flag separates a genuine `d` key from a
    * NULL — so these only need to ANALYZE. Epoch temporals are proper
    * literals (Spark rejects `CAST(0 AS DATE)` / `CAST(0 AS
    * TIMESTAMP_NTZ)` at analysis — a round-15 review catch, pinned by
    * GraftSpec's date-keyed guard test). None = fall back to the
    * `<=>` join + plain-key window. */
  private def guardDefault(
      dt: org.apache.spark.sql.types.DataType): Option[Column] = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => Some(lit(0).cast(dt))
      case StringType => Some(lit(""))
      case BooleanType => Some(lit(false))
      case DateType => Some(lit(java.sql.Date.valueOf("1970-01-01")))
      case TimestampType => Some(lit(java.time.Instant.EPOCH))
      case TimestampNTZType =>
        Some(lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)))
      case _ => None
    }
  }

  /** Post-join arm of the guard: a filter that NEVER drops a row —
    * it either passes (assert NULL → coalesce true) or raises with
    * the offending key, exactly Snowflake's "duplicate row detected
    * during DML action". Expressed as a filter (not a projection) so
    * column pruning cannot elide the assertion, and referencing both
    * sides so it can never be pushed below the join. */
  private def dupGuardFilter(joined: DataFrame, isMatched: Column,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{
      assert_true, coalesce, col, concat, concat_ws, lit}
    joined.filter(coalesce(assert_true(
      !(isMatched && col("b.__b_matches") > 1),
      concat(lit("nondeterministic MERGE: target key ("),
        concat_ws(", ", keys.map(k => col(s"b.$k").cast("string")): _*),
        lit(") is matched by "), col("b.__b_matches").cast("string"),
        lit(" source rows — dedupe the source or drop the guard"))),
      lit(true)))
  }

  /** Partial-update MERGE ([[upsert]] with an explicit `UPDATE SET`
    * list — oracle key `q_sql_merge_partial`): matched keys take the
    * batch value ONLY for the columns in `set` (target column →
    * source column) and keep the corpus value elsewhere; unmatched
    * corpus rows survive; unmatched batch rows insert whole (`INSERT
    * *`, so the schemas must still align). Same single full-outer key
    * shuffle as [[upsert]]; same one-row-per-key precondition.
    *
    * `matchedCond` is the `WHEN MATCHED AND <pred>` gate: when set,
    * only matched pairs satisfying it take the SET values — matched
    * rows failing it keep every corpus value. Reference the two sides
    * as aliases `c` (corpus) and `b` (batch), e.g.
    * `expr("b.n_chars > c.n_chars")`.
    *
    * `failOnDuplicateMatches` enforces the one-row-per-matched-key
    * precondition like [[upsert]]'s — and like Snowflake, the gate
    * does NOT exempt: a target row matched by 2+ source rows raises
    * even when every pair fails the `AND` gate (the JOIN match is
    * what is nondeterministic, not the branch outcome). */
  def upsertPartial(corpus: DataFrame, batch: DataFrame,
      keys: Seq[String], set: Seq[(String, String)],
      matchedCond: Option[Column] = None,
      failOnDuplicateMatches: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    require(keys.nonEmpty, "upsertPartial needs at least one key column")
    require(corpus.columns.sameElements(batch.columns),
      s"schema mismatch: corpus ${corpus.columns.mkString(",")} vs " +
        s"batch ${batch.columns.mkString(",")}")
    require(set.nonEmpty, "upsertPartial needs at least one SET column")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate SET target columns: ${set.map(_._1).mkString(",")}")
    val setMap = set.toMap
    set.foreach { case (tc, sc) =>
      require(corpus.columns.contains(tc), s"unknown SET target column: $tc")
      require(batch.columns.contains(sc), s"unknown SET source column: $sc")
      require(!keys.contains(tc), s"SET may not assign a key column: $tc")
    }
    val inNew = col(s"b.${keys.head}").isNotNull
    val inOld = col(s"c.${keys.head}").isNotNull
    // the AND-pred gate rides inside the same single full-outer join —
    // a matched pair failing it falls through to the corpus values
    val gate = matchedCond.getOrElse(org.apache.spark.sql.functions.lit(true))
    mergeJoin(corpus, batch, keys, failOnDuplicateMatches, inNew && inOld)
      .select(corpus.columns.map { n =>
        when(inNew && inOld && gate,
            if (setMap.contains(n)) col(s"b.${setMap(n)}") else col(s"c.$n"))
          .when(inNew && !inOld, col(s"b.$n"))
          .otherwise(col(s"c.$n")).as(n)
      }.toIndexedSeq: _*)
  }

  /** DELETE-action MERGE ([[upsert]]'s CDC sibling — oracle key
    * `q_sql_merge_delete`): remove from `corpus` every row whose key
    * matches a `batch` row — optionally only when `matchedCond` holds
    * for the (corpus, batch) pair; reference the sides as aliases `c`
    * and `b`, e.g. `expr("b.n_chars > c.n_chars")`. With
    * `insertUnmatched`, batch rows with no key match insert whole
    * (`INSERT *`, so the schemas must align — delete-only needs no
    * schema alignment, just the key columns). Engine form: ONE
    * left-anti key join for the survivors (plus one more anti join for
    * the insert arm) — a single key shuffle per side at any scale, no
    * broadcast assumption, and anti joins never fan out, so the batch
    * may even carry duplicate keys on the delete arm. NULL keys never
    * match (SQL join semantics): NULL-keyed corpus rows always
    * survive. */
  def mergeDelete(corpus: DataFrame, batch: DataFrame, keys: Seq[String],
      matchedCond: Option[Column] = None,
      insertUnmatched: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "mergeDelete needs at least one key column")
    keys.foreach { k =>
      require(corpus.columns.contains(k), s"unknown key column in corpus: $k")
      require(batch.columns.contains(k), s"unknown key column in batch: $k")
    }
    if (insertUnmatched)
      require(corpus.columns.sameElements(batch.columns),
        s"INSERT * needs aligned schemas: corpus " +
          s"${corpus.columns.mkString(",")} vs batch " +
          s"${batch.columns.mkString(",")}")
    val keyCond = keys.map(k => col(s"c.$k") === col(s"b.$k")).reduce(_ && _)
    val delCond = matchedCond.map(keyCond && _).getOrElse(keyCond)
    val survivors = corpus.alias("c").join(batch.alias("b"), delCond, "left_anti")
    if (!insertUnmatched) survivors
    else {
      val insCond = keys.map(k => col(s"b.$k") === col(s"c.$k")).reduce(_ && _)
      survivors.unionAll(
        batch.alias("b").join(corpus.alias("c"), insCond, "left_anti"))
    }
  }

  /** Generalized MERGE — the full Snowflake-shaped verb set that
    * [[upsert]] / [[upsertPartial]] / [[mergeDelete]] each cover one
    * slice of (oracle keys `q_sql_merge_branches` /
    * `q_sql_merge_insert_list`): an ORDERED list of `WHEN MATCHED
    * [AND cond] THEN UPDATE SET …/DELETE` branches evaluated
    * FIRST-MATCH-WINS (Snowflake's branch semantics: a matched pair
    * takes the first branch whose gate holds; pairs matching no branch
    * keep the corpus row), plus an optional `WHEN NOT MATCHED THEN
    * INSERT` arm — full-row (`insertCols = Nil` with `insert = true`)
    * or an explicit column list (unlisted corpus columns become
    * typed NULLs, the SQL insert-list semantics).
    *
    * Engine form: ONE full-outer key join; the branch choice is a
    * cascaded `when` chain over presence markers (null-safe even for
    * all-NULL key rows), DELETE branches become a post-join filter,
    * and every output column is one first-match `when` cascade — a
    * single key shuffle of each side at any scale, no broadcast
    * assumption, AQE skew split applies. Branch conds reference the
    * sides as aliases `c` (corpus) and `b` (batch), like
    * [[upsertPartial]]'s gate. Matching is null-safe (`<=>`) like
    * [[upsert]]: NULL keys match NULL keys — note [[mergeDelete]]'s
    * standalone ANSI `===` differs (documented there and in
    * [[SqlText]]).
    *
    * PRECONDITIONS: `batch` has at most one row per key (fan-out
    * otherwise — dedupe upstream); schemas must align whenever the
    * full-row insert arm is used. A branch AFTER an ungated branch is
    * unreachable and rejected loudly. `failOnDuplicateMatches`
    * enforces the one-row-per-matched-key precondition with
    * Snowflake's default `ERROR_ON_NONDETERMINISTIC_MERGE` semantics
    * (see [[upsert]]): matched-by-2+ raises at execution, unmatched
    * duplicates insert both. [[SqlText]]'s MERGE front door turns it
    * ON, so migrated statements fail where the warehouse would. */
  def merge(corpus: DataFrame, batch: DataFrame, keys: Seq[String],
      matched: Seq[MergeBranch], insert: Boolean = false,
      insertCols: Seq[(String, String)] = Nil,
      failOnDuplicateMatches: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keys.nonEmpty, "merge needs at least one key column")
    keys.foreach { k =>
      require(corpus.columns.contains(k), s"unknown key column in corpus: $k")
      require(batch.columns.contains(k), s"unknown key column in batch: $k")
    }
    require(matched.nonEmpty || insert,
      "merge with no matched branches and no insert arm is the identity — " +
        "pass at least one action")
    require(insertCols.isEmpty || insert,
      "insertCols given but insert = false")
    if (insert && insertCols.isEmpty)
      require(corpus.columns.sameElements(batch.columns),
        s"full-row INSERT needs aligned schemas: corpus " +
          s"${corpus.columns.mkString(",")} vs batch " +
          s"${batch.columns.mkString(",")}")
    require(insertCols.map(_._1).distinct.size == insertCols.size,
      s"duplicate INSERT target columns: ${insertCols.map(_._1).mkString(",")}")
    insertCols.foreach { case (tc, sc) =>
      require(corpus.columns.contains(tc), s"unknown INSERT target column: $tc")
      require(batch.columns.contains(sc), s"unknown INSERT source column: $sc")
    }
    // every branch after an ungated one is dead under first-match-wins —
    // reject instead of silently never running it
    matched.dropRight(1).zipWithIndex.foreach { case (br, i) =>
      require(br.cond.nonEmpty,
        s"matched branch ${i + 1} has no AND-gate, so branch ${i + 2} is " +
          "unreachable (first-match-wins) — gate it or drop the later branches")
    }
    matched.foreach { br =>
      br.set.foreach { assigns =>
        require(assigns.nonEmpty, "UPDATE branch with an empty SET list")
        require(assigns.map(_._1).distinct.size == assigns.size,
          s"duplicate SET target columns: ${assigns.map(_._1).mkString(",")}")
        assigns.foreach { case (tc, sc) =>
          require(corpus.columns.contains(tc), s"unknown SET target column: $tc")
          require(batch.columns.contains(sc), s"unknown SET source column: $sc")
          require(!keys.contains(tc), s"SET may not assign a key column: $tc")
        }
      }
    }
    // presence markers, not key-NULL probes: a NULL-keyed row matching
    // null-safely would fool an isNotNull test (upsert's documented
    // edge) — a literal marker column cannot be NULL on a present side
    val isMatched = col("c.__c_present").isNotNull &&
      col("b.__b_present").isNotNull
    val joined = mergeJoin(corpus.withColumn("__c_present", lit(true)),
      batch.withColumn("__b_present", lit(true)),
      keys, failOnDuplicateMatches, isMatched)
    val bOnly = col("c.__c_present").isNull
    // first-match-wins branch index: a `when` chain evaluates in order,
    // so the first satisfied gate claims the pair; -1 = no branch
    // (unmatched row, or matched pair failing every gate)
    val act = matched.zipWithIndex
      .foldLeft(when(lit(false), lit(0))) { case (ch, (br, i)) =>
        ch.when(isMatched && br.cond.getOrElse(lit(true)), lit(i))
      }.otherwise(lit(-1))
    val withAct = joined.withColumn("__act", act)
    // DELETE branches drop the pair (corpus row removed, batch row
    // consumed); everything else survives to the projection
    val delIdx = matched.zipWithIndex.collect {
      case (MergeBranch(_, None), i) => i
    }
    val kept0 =
      if (delIdx.isEmpty) withAct
      else withAct.filter(!col("__act").isInCollection(delIdx))
    // without an insert arm, batch-only rows vanish (matched pairs were
    // already consumed by their branch or fell through to the corpus row)
    val kept = if (insert) kept0 else kept0.filter(!bOnly)
    val insMap = insertCols.toMap
    val updates = matched.zipWithIndex.collect {
      case (MergeBranch(_, Some(assigns)), i) => (assigns.toMap, i)
    }
    kept.select(corpus.columns.map { n =>
      val insVal =
        // no insert arm: bOnly rows are already filtered, but the
        // expression must still RESOLVE — and the batch of an
        // update-only merge need not carry every corpus column
        if (!insert) lit(null).cast(corpus.schema(n).dataType)
        else if (insertCols.isEmpty) col(s"b.$n")
        else insMap.get(n).map(sc => col(s"b.$sc"))
          .getOrElse(lit(null).cast(corpus.schema(n).dataType))
      updates.foldLeft(when(bOnly, insVal)) { case (ch, (setMap, i)) =>
        ch.when(col("__act") === i,
          setMap.get(n).map(sc => col(s"b.$sc")).getOrElse(col(s"c.$n")))
      }.otherwise(col(s"c.$n")).as(n)
    }.toIndexedSeq: _*)
  }

  /** CDC-style snapshot diff (oracle key `q_snapshot_diff`): classify
    * every key of two snapshot frames as added / removed / changed /
    * unchanged. The engine form is ONE full-outer join on `keys` with a
    * row-equality probe over the non-key columns — a single key shuffle
    * of each side at any scale, the same cost envelope as [[upsert]]
    * (both sides may be fact-sized; AQE skew split applies). Row
    * equality is null-safe per column (`<=>`), so a NULL→value edit
    * counts as changed and NULL==NULL counts as unchanged. Callers
    * almost always want `.filter($"diff_status" =!= "unchanged")` next;
    * the classification is returned unfiltered so the unchanged count
    * is still one `groupBy` away for audit totals.
    * PRECONDITIONS (same as [[upsert]]): identical schemas, at most one
    * row per key per side. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, when, coalesce}
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(oldSnap.columns.sameElements(newSnap.columns),
      s"schema mismatch: old ${oldSnap.columns.mkString(",")} vs " +
        s"new ${newSnap.columns.mkString(",")}")
    val valueCols = oldSnap.columns.filterNot(keys.contains)
    val o = oldSnap.alias("o")
    val n = newSnap.alias("n")
    val cond = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    // key-presence probes must survive all-NULL value rows → test the
    // first key column, not a value column (same trap as upsert)
    val inOld = col(s"o.${keys.head}").isNotNull
    val inNew = col(s"n.${keys.head}").isNotNull
    val same = valueCols.map(c => col(s"o.$c") <=> col(s"n.$c"))
      .reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
    o.join(n, cond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) ++
        valueCols.flatMap(c => Seq(
          col(s"o.$c").as(s"old_$c"), col(s"n.$c").as(s"new_$c"))) :+
        when(!inOld, "added").when(!inNew, "removed")
          .when(!same, "changed").otherwise("unchanged").as("diff_status")
        : _*)
  }

  /** Two-stage quantized similarity search (north-star "similarity"
    * block, the path that CONSUMES `q_embedding_quantize`'s int8 codes):
    * stage 1 ranks every candidate by the affine-reconstructed CODE dot —
    * 8× less data in flight than f64 vectors — and stage 2 reranks the
    * top-`rerank` survivors per query by exact cosine. Returns
    * (qid, rank, cid, cosine, approx_cos); oracle-checked as
    * `q_similarity_quantized`. Raise `rerank` to push recall toward the
    * exact top-k at linear extra stage-2 cost. */
  def similaritySearchQuantized(
      spark: SparkSession, sfDir: String,
      queryIds: Seq[Long] = 0L until 5, k: Int = 5,
      rerank: Int = ops.Vector.Rerank): DataFrame = {
    requireQueryBatch(queryIds)
    require(k >= 1, s"k must be positive: $k")
    // a rerank below k would silently return fewer than the k hits the
    // caller asked for (stage 2 only ever sees `rerank` survivors)
    require(rerank >= k,
      s"rerank=$rerank must be >= k=$k: the exact stage reranks only the " +
        "stage-1 survivors")
    ops.Vector.quantizedTopK(spark, sfDir,
      org.apache.spark.sql.functions.col("vec_id").isin(queryIds: _*), k, rerank)
  }

  /** Two-stage similarity search over signed-random-projection sums: the
    * candidate stage scores the EXACT integer dot of the 32-long JL
    * projections (half the width of the f64 vectors; the projK dial on
    * the underlying op trades payload for recall), the rerank stage
    * restores exact cosine on the `rerank` survivors per query.
    * Measured recall@5 = 0.84/0.80 at sf0.001/sf0.01 on the synthetic
    * near-uniform corpus — the JL worst case; see
    * [[ops.Vector.RpSearchK]]. Same batch-query contract as the
    * quantized variant; oracle-checked as `q_similarity_projected`. */
  def similaritySearchProjected(
      spark: SparkSession, sfDir: String,
      queryIds: Seq[Long] = 0L until 5, k: Int = 5,
      rerank: Int = ops.Vector.RpRerank): DataFrame = {
    requireQueryBatch(queryIds)
    require(k >= 1, s"k must be positive: $k")
    require(rerank >= k,
      s"rerank=$rerank must be >= k=$k: the exact stage reranks only the " +
        "stage-1 survivors")
    ops.Vector.projectedTopK(spark, sfDir,
      org.apache.spark.sql.functions.col("vec_id").isin(queryIds: _*), k, rerank)
  }

  /** Embedding near-duplicate pairs (north-star "dedup" block) with the
    * same `nprobe` recall dial: each vector lands in its `nprobe` nearest
    * IVF cells and exact cosine runs on same-cell pairs only (hot cells
    * sub-salted — see [[ops.Dedup.subSalt]]). nprobe=2 recovers pairs
    * straddling a cell boundary that nprobe=1 never compares. `maxCell`
    * is the matching COST dial: the hot-cell guard splits any cell past
    * it into deterministic sub-cells, bounding the pair stage at
    * O(maxCell·n). Any finite cap emits a SUBSET of the unguarded pairs
    * (DedupSpec pins that), but membership is not monotone between two
    * finite caps — the sub-cell modulus changes with the cap.
    *
    * `quantized = true` (opt-in) swaps the candidate stage to the int8
    * path ([[ops.Dedup.embeddingNearDupsQuantized]]): the cell join
    * ships Dim-byte packed codes + 4 scalars instead of the f64
    * vectors (8× narrower at the dominant 100 TB shuffle), scores
    * pairs by the engine-exact affine code dot with a `margin` slack
    * below `minCosine`, and exact-cosine-verifies only the surviving
    * pairs. Output adds the `approx_cos` column; a genuine pair is
    * lost only if quantization error exceeds `margin`. */
  def embeddingNearDups(
      spark: SparkSession, sfDir: String,
      nprobe: Int = 2, minCosine: Double = 0.45,
      maxCell: Int = ops.Dedup.MaxCell,
      quantized: Boolean = false, margin: Double = 0.05): DataFrame =
    if (quantized)
      ops.Dedup.embeddingNearDupsQuantized(
        spark, sfDir, nprobe, minCosine, maxCell, margin)
    else {
      // a custom margin with quantized = false would be silently ignored —
      // the caller believes they widened the recall slack and they didn't
      require(margin == 0.05,
        s"margin=$margin only applies to the quantized candidate stage; " +
          "set quantized = true")
      ops.Dedup.embeddingMultiprobePairs(spark, sfDir, nprobe, minCosine, maxCell)
    }

  /** Text near-duplicate CANDIDATE pairs over `documents` (MinHash → LSH
    * band buckets → guarded self-join). `maxBand` is the hot-bucket cost
    * dial ([[ops.Dedup.subSalt]]): buckets past it split into
    * deterministic sub-buckets, bounding pair output at O(maxBand·n).
    * Any finite cap yields a SUBSET of the unguarded candidates, but
    * membership is NOT monotone between two finite caps (the sub-bucket
    * modulus changes, so a pair split apart at one cap can collide at a
    * tighter one) — treat the cap as a cost bound, not a ranked recall
    * dial. Verify with `q_dedup_ngram`-style exact measures before
    * treating a candidate as a duplicate. */
  def nearDupCandidates(
      spark: SparkSession, sfDir: String,
      maxBand: Int = ops.Dedup.MaxBand): DataFrame =
    ops.Dedup.nearDupCandidates(spark, sfDir, maxBand)

  /** The resolved dedup KEEP-LIST over `documents`: (doc_id, keep_id,
    * is_survivor) for every doc in at least one candidate pair —
    * connected components (HashMin + adaptive pointer jumping) over the
    * guarded LSH candidate graph, survivor = component min. Oracle-checked
    * as `q_dedup_resolve`. */
  def dedupKeepList(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup.resolveClusters(spark, sfDir)

  /** [[dedupKeepList]] with the exact-collapse pre-pass — the LINEAR
    * form for clone-heavy corpora: byte-identical texts collapse to a
    * min-id representative before the banded candidate join, components
    * propagate over representatives only, and one fan-out join restores
    * per-doc labels (identical-text docs are always one cluster). The
    * 100× replica measures 85× wall on 100× data vs 218× uncollapsed
    * (BASELINE.md). Oracle-checked as `q_dedup_resolve_collapsed`. */
  def dedupKeepListCollapsed(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup.resolveClustersCollapsed(spark, sfDir)

  /** Simhash-family keep-list (exact-collapse + Hamming ≤ 3 VERIFIED
    * edges over representative signatures + components + fan-out) —
    * the linear-output sibling of the `q_dedup_simhash_hamming` pair
    * listing, whose output grows with the pair count by definition.
    * Oracle-checked as `q_dedup_simhash_resolve`. */
  def simhashKeepList(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup.simhashResolveCollapsed(spark, sfDir)

  /** Incremental dedup verdicts for the "new batch" slice of `documents`
    * against the standing corpus: (doc_id, exact_dup, n_bands_old,
    * verdict ∈ drop_exact|drop_near|keep). Both old-side probes are
    * MEMBERSHIP sets (distinct digests, distinct LSH buckets), never
    * pairs — O(new + old) with no hot-bucket quadratic risk, and the two
    * old-side sets are the reusable per-batch dedup registry. A
    * `drop_near` verdict is a CANDIDATE gate (≥1 band shared with an old
    * doc); pipelines wanting exact confirmation verify survivors with
    * the `q_dedup_ngram`-style measures. Oracle-checked as
    * `q_dedup_incremental`. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup.incrementalVerdicts(spark, sfDir)

  /** Distributed Lloyd's k-means over the `embeddings` corpus:
    * (cluster_id, n, centroid) after `iters` full E/M rounds from a
    * deterministic init (the k lowest-vec_id vectors). Each round is
    * ONE streaming corpus pass: K·Dim centroid broadcast + per-row
    * higher-order argmin (no shuffle, no ×K inflation) + the mergeable
    * integer-scaled VectorSum re-centroid — no data visits the driver,
    * so this is the at-scale refinement path beyond the bounded-sample
    * quantizer fit behind [[similaritySearch]]. Emptied clusters keep
    * their previous center with n = 0. Oracle-checked as `q_kmeans`
    * (DuckDB replays every round bit-for-bit). */
  def kmeansFit(
      spark: SparkSession, sfDir: String,
      k: Int = 4, iters: Int = 2): DataFrame =
    ops.Vector.kmeansCentroids(spark, sfDir, k, iters)

  /** Z-order (Morton) layout for a two-dimensionally-queried table:
    * range-partition by `zorder2(x, y)` and sort within partitions, so
    * each written file's [min, max] footer stats become a TILE in
    * (x, y) space and predicates on EITHER column prune files — a
    * lexicographic sort prunes only its leading key. Columns are cast
    * to BIGINT and masked to 16 bits by [[functions.ZOrder2]] (map
    * wider domains into rank space first). `partitions` controls the
    * file count; ranges come from Spark's sampling-based range
    * partitioner, so tiles are balanced by ROW COUNT, not area. The
    * bit math is oracle-checked as `q_layout_zorder`; ZOrderSpec
    * demonstrates the pruning win under the footer-stat model. */
  def zorderLayout(
      spark: SparkSession, df: DataFrame,
      xCol: String, yCol: String, partitions: Int): DataFrame = {
    // register on BOTH sessions: the expression resolves against the
    // frame's own session, which need not be the one passed in
    functions.ZOrder2.register(spark)
    functions.ZOrder2.register(df.sparkSession)
    // backtick-quote the names so spaces/dots/keywords stay column
    // references instead of being parsed as expression syntax
    def q(c: String) = "`" + c.replace("`", "``") + "`"
    val z = org.apache.spark.sql.functions
      .expr(s"zorder2(CAST(${q(xCol)} AS BIGINT), CAST(${q(yCol)} AS BIGINT))")
    df.repartitionByRange(partitions, z).sortWithinPartitions(z)
  }

  /** Sequence packing over `documents` (north-star batch-construction
    * primitive): per-document bucket assignment for context-window-sized
    * training groups — bucket = how many full `budget`s precede the
    * doc's running token total, in doc_id order per source. Returns
    * (doc_id, source, n_tokens, bucket).
    *
    * `rangeWidth = None` (default, oracle-pinned via `q_pack_sequences`)
    * packs CONTIGUOUSLY per source — one window task per source, the
    * honest limit when one source dominates. `rangeWidth = Some(w)` is
    * the 100 TB scale-out: the same cumsum inside fixed-width doc_id
    * ranges (fully parallel) with globally dense bucket numbers from a
    * chunk-level offset scan; identical buckets except where a
    * contiguous bucket would straddle a range boundary (≤1 underfilled
    * bucket per boundary — TextSpec pins the equivalence). */
  def packSequences(
      spark: SparkSession, sfDir: String, budget: Long = 2048L,
      rangeWidth: Option[Long] = None): DataFrame =
    ops.Text.packAssignments(
      warehouse.Tables.table(spark, sfDir, "documents"), budget, rangeWidth)

  /** Token-budget corpus selection (north-star training-mix primitive):
    * admit the best documents — quality order, n_chars as the monotone
    * stand-in key — until the running token total reaches `budget`.
    * Returns (doc_id, n_tokens, cum_tokens) for admitted docs. The
    * global-order cumsum runs partitioned by quality bucket with a
    * bucket-summary offset window, never one corpus-sized window task;
    * oracle-checked as `q_select_token_budget` against the naive global
    * cumsum. `bucketWidth` dials the heavy pass's parallelism. */
  def selectTokenBudget(
      spark: SparkSession, sfDir: String, budget: Long,
      bucketWidth: Long = 64L): DataFrame =
    ops.Text.selectTokenBudget(spark, sfDir, budget, bucketWidth)

  /** Exact top-N rows per group under any total order (north-star
    * mixture-construction primitive: cap each source's contribution to a
    * training corpus at its best N documents). Runs as the salted
    * two-level rank — `salts` parallel slices per group keep local
    * top-Ns, the final window ranks only the ≤ salts·N candidates — so
    * ONE dominant group never serializes into one window task the way a
    * plain `row_number() OVER (PARTITION BY group)` would. Appends a
    * 1-based `rank` column. `order` must reach a unique tie-break column
    * or ranks at the cut are ambiguous; oracle-checked as
    * `q_sample_quota` against the naive single-window rank, ScalaCheck-
    * proven equal to it for random corpora, n, and salt counts. */
  def topPerGroup(df: DataFrame, group: Seq[String], order: Seq[Column],
      n: Int, saltKey: Column, salts: Int = 16): DataFrame =
    ops.Text.topNPerGroup(df, group, order, n, saltKey, salts)

  /** Corpus-wide repeated-segment scrub (the CCNet line-dedup layer,
    * north-star sub-document dedup): delete every `segTokens`-token
    * segment occurring `minRepeat`+ times across the corpus — the
    * boilerplate (footers, nav bars, license blurbs) that document-level
    * dedup can never catch. Input needs (doc_id, text); returns (doc_id,
    * clean_text, n_segments, n_dropped). Every stage is linear in corpus
    * size — segmentation is row-local, the corpus count map-side
    * combines, nothing is pairwise. Oracle-checked as
    * `q_dedup_segments`. */
  def scrubRepeatedSegments(docs: DataFrame, segTokens: Int = 3,
      minRepeat: Long = 3): DataFrame =
    ops.Dedup.scrubRepeatedSegments(docs, segTokens, minRepeat)

  /** Sliding-window document chunking (the RAG / long-context indexing
    * primitive): `width`-char windows every `stride` chars, tail window
    * unpadded. Row-local — zero shuffle, pipelines straight into
    * embedding or near-dup. Oracle-checked as `q_text_chunks` at
    * width=120, stride=90. */
  def textChunks(docs: DataFrame, width: Int = 120,
      stride: Int = 90): DataFrame = {
    require(width >= 1 && stride >= 1,
      s"width and stride must be >= 1, got width=$width stride=$stride")
    import org.apache.spark.sql.functions._
    docs
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(stride))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long"),
        col("text").substr(col("start"), lit(width)).as("chunk"))
      .withColumn("chunk_chars", length(col("chunk")).cast("long"))
  }

  /** Fixed-iteration damped PageRank (d = 0.85) over any (src, dst) edge
    * frame — Pregel-as-joins, two exchanges per round, edge/degree tables
    * built once by the caller and reused. Ranks are exact integer
    * micro-units (1.0 ≡ 10^12, floor divisions only) so results are
    * bit-reproducible under any partitioning. Pass the symmetrized edge
    * union for undirected graphs; raw directed graphs drop dangling-node
    * mass (documented simplification). Oracle-checked as
    * `q_graph_pagerank` on the customer↔supplier trade graph.
    *
    * `converge = true` is the production mode for graphs whose mixing
    * time is unknown: iterate until the integer rank vector reaches its
    * EXACT fixed point (≤ `maxIters`, loud error past it), with a
    * lineage cut per round so plan depth stays constant. Because the
    * ranks are integers, the converged result equals any sufficiently
    * long fixed-round run bit-for-bit — GraphSpec pins that equality —
    * so the two modes are one algorithm, not two. */
  def pageRank(edges: DataFrame, iters: Int = 3,
      converge: Boolean = false, maxIters: Int = 50): DataFrame =
    if (converge) ops.Graph.pageRankConverge(edges, maxIters)
    else ops.Graph.pageRank(edges, iters)

  /** Community detection by deterministic label propagation: `iters`
    * semi-synchronous rounds over a symmetrized (src, dst) edge list,
    * each node adopting its neighbours' most frequent label with
    * frequency ties broken to the SMALLEST label — reproducible at any
    * partitioning where GraphX's arbitrary-tie LPA is not. Rounds are
    * counts-then-argmax hash aggs (no per-node window), size-adaptive
    * like [[pageRank]]. Oracle-checked as `q_graph_labelprop`;
    * sequential-replay + dispatch-equality properties in GraphSpec.
    * `converge = true` iterates to the exact integer fixed point like
    * [[pageRank]] (deterministic LPA can 2-cycle on bipartite-ish
    * graphs — that raises rather than returning an arbitrary phase). */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
      converge: Boolean = false, maxIters: Int = 50): DataFrame =
    if (converge) ops.Graph.labelPropagationConverge(edges, maxIters)
    else ops.Graph.labelPropagation(edges, iters)

  /** Personalized PageRank (TrustRank-style): fixed-iteration PageRank
    * whose restart mass lands ONLY on `seeds` (a frame with a `node`
    * column), so rank measures importance relative to the trusted set
    * — the seed-biased curation weighting next to [[pageRank]]'s
    * global centrality. Exact integer micro-units, bit-reproducible
    * at any partitioning; full |V| output vector (non-reached nodes
    * rank 0). Same symmetrize-for-undirected contract as [[pageRank]],
    * and the same `converge = true` production mode (iterate to the
    * exact integer fixed point, ≤ `maxIters`, loud past it).
    * Oracle-checked as `q_graph_ppr`; sequential-replay, seed-mass,
    * and converge≡fixed-round properties in GraphSpec. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, converge: Boolean = false,
      maxIters: Int = 50): DataFrame =
    if (converge) ops.Graph.pageRankFromConverge(edges, seeds, maxIters)
    else ops.Graph.pageRankFrom(edges, seeds, iters)

  /** Multi-source bounded-hop BFS: hop distance from every reachable
    * node to its nearest seed, exploring at most `maxHops` rounds —
    * the seed-expansion primitive (start from trusted documents, pull
    * in everything within k link hops). `edges` is a (src, dst) frame
    * in the orientation distance should flow (symmetrize for
    * undirected graphs, like [[pageRank]]); `seeds` carries a `node`
    * column. Returns (node, dist), seeds at 0. Frontier-as-joins with
    * a lineage cut per round; an exhausted frontier short-circuits,
    * so `maxHops` is a horizon, not a forced cost. Oracle-checked as
    * `q_graph_bfs`; brute-replay + invariance properties in GraphSpec. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int = 4): DataFrame =
    ops.Graph.bfs(edges, seeds, maxHops)

  /** Bounded-round single-source shortest paths from a seed set over
    * weighted edges `(src, dst, w)` — Bellman-Ford relaxation as
    * joins: after round r, `dist` is the exact cheapest cost over
    * paths of ≤ r edges (integer weights, no float accumulation).
    * Each round joins the carried frame only with the STATIC edge
    * list (one edge join + one min-agg, lineage-cut), so Catalyst
    * size stats grow linearly, never square. Unreached nodes are
    * absent, matching [[bfs]]. Oracle-checked as `q_graph_sssp`
    * (unrolled CTE chain); hand-checked fixture in GraphSpec. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int = 4): DataFrame =
    ops.Graph.sssp(edges, seeds, rounds)

  /** Gap-based sessionization: appends `session_seq` — a 1-based
    * per-key session number that increments wherever the gap to the
    * key's previous row exceeds `gapUs` microseconds (default 30 min).
    * Gaps-and-islands as two windows over ONE key-hash partitioning;
    * per-(key, session_seq) aggregates downstream reuse the same
    * partitioning. Needs a unique `idCol` to total-order ties.
    * Oracle-checked (with per-session stats on top) as
    * `q_events_sessionize`; brute-replay + invariance in TemporalSpec. */
  def sessionize(ev: DataFrame, gapUs: Long = 1800000000L,
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame =
    ops.Temporal.sessionize(ev, gapUs, keyCol, tsCol, idCol)

  /** SCD Type-2 dimension build: collapse a change log into versioned
    * validity intervals — per `keyCol`, rows where the `attrCols`
    * tuple differs from the key's previous row (null-safe struct
    * compare) open a new version; emits `(keyCol, version, valid_from,
    * valid_to, attrCols…)` with NULL `valid_to` on the current
    * version. ONE keyCol shuffle; the lag/row_number/lead windows all
    * share its partitioning and the (tsCol, idCol) total order —
    * `idCol` must be unique within ties. Point-in-time lookups against
    * the result are [[asofJoin]] backward on `valid_from` (SCD2
    * intervals partition time, so as-of ≡ the BETWEEN interval join
    * without the range explosion). Oracle-checked as `q_scd2_build` /
    * `q_scd2_lookup`; change-replay + interval-partition invariants in
    * TemporalSpec. */
  def scd2(log: DataFrame, keyCol: String, tsCol: String, idCol: String,
      attrCols: Seq[String]): DataFrame =
    ops.Temporal.scd2(log, keyCol, tsCol, idCol, attrCols)

  /** Exact k-core of an undirected graph, run to convergence: peel
    * degree-<k nodes until a round removes none (peeling is monotone,
    * so the stable survivor set IS the true k-core — every remaining
    * node keeps induced degree ≥ k). Returns (n, dg): the core's nodes
    * with their induced degrees. `edges` carries two numeric endpoint
    * columns, canonicalized like [[triangleCounts]] (self-loops
    * dropped, (min, max) dedup). Each peel round is two semi joins +
    * one degree agg with a lineage cut — the fixed-round variant of
    * the same loop is oracle-checked as `q_graph_kcore`; GraphSpec
    * pins fixed-point equality between the two. */
  def kCore(edges: DataFrame, k: Int, src: String = "src",
      dst: String = "dst", maxRounds: Int = 100): DataFrame = {
    import org.apache.spark.sql.functions.{col, least, greatest}
    require(k >= 1, s"k must be >= 1: $k")
    val canon = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    ops.Graph.kCoreConverge(canon, k, maxRounds)
  }

  /** Per-node triangle participation of an undirected graph: (node,
    * n_tri) for every node in ≥1 triangle. `edges` must carry two
    * numeric endpoint columns; they are canonicalized (self-loops
    * dropped, (min, max) dedup) before the degree-ordered wedge count —
    * out-degrees bounded O(√m) under orientation, wedges expanded
    * row-locally, triangles closed by one equi-join, so no step is
    * quadratic in a hub's degree. Oracle-checked as `q_graph_triangles`
    * on the co-purchase part graph; brute-force property in GraphSpec. */
  def triangleCounts(edges: DataFrame, src: String = "src",
      dst: String = "dst"): DataFrame = {
    import org.apache.spark.sql.functions.{col, least, greatest}
    val canon = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    ops.Graph.triangleParticipation(
      ops.Graph.wedgeTriangles(canon, ops.Graph.orientEdges(canon)))
  }

  /** Deterministic per-group mode: the most frequent `value` per
    * `group`, frequency ties to the SMALLEST value — where the built-in
    * `mode()` returns an arbitrary tied value. One map-side-combinable
    * counting pass; everything after runs on the (group, value)-bounded
    * counts frame. Returns (group..., mode_value, n). Oracle-checked as
    * `q_agg_mode`. */
  def modePerGroup(df: DataFrame, group: Seq[String],
      value: String): DataFrame =
    ops.Relational.modePerGroup(df, group, value)

  /** Explicitly skew-salted equi-join: fact rows salt by
    * xxhash64(`saltBy`) % `salts`, the (broadcastable) dim side
    * replicates `salts`×, and the join key widens to (key, salt) so a
    * hot key's rows spread over `salts` reducers instead of one
    * straggler. Row-set identical to the plain join — `q_join_skew_salted`
    * proves it against the unsalted oracle. Use when the hot keys are
    * KNOWN; AQE's skew split only rescues sort-merge joins at runtime. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, saltBy: String, salts: Int = 8): DataFrame =
    ops.Relational.saltedEquiJoin(fact, dim, factKey, dimKey, saltBy, salts)

  /** Fixed-size uniform sample per group as bottom-k-by-hash: rank each
    * group's rows by the portable md5 of `idCol`, keep the k smallest.
    * Reservoir-uniform, but a pure function of the id set — stable
    * across runs, engines, and partitionings, and mergeable by
    * re-taking bottom-k. Oracle-checked as `q_sample_reservoir`. */
  def reservoirPerGroup(df: DataFrame, group: Seq[String], idCol: String,
      k: Int): DataFrame =
    ops.Text.reservoirPerGroup(df, group, idCol, k)

  /** Seasonal-baseline anomaly report: rows whose `valueCol` exceeds
    * mean + z·σ for their (`keyCol`, hour-of-day) bucket. Exact-decimal
    * moments in one corpus pass, ≤ |keys|×24-row profile broadcast
    * back. Oracle-checked as `q_events_seasonal_outliers`. */
  def seasonalOutliers(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value",
      z: Double = 3.0): DataFrame =
    ops.Temporal.seasonalOutliers(events, keyCol, tsCol, valueCol, z)

  /** Ordered funnel analysis over any events-shaped frame: per step, the
    * count of users whose earliest completion of that step is strictly
    * after their earliest completion of the previous one. N key-local
    * agg passes, every shuffle on `userCol` (one reused partitioning, no
    * corpus-wide window); at 100 TB each stage's output is ≤ one row per
    * surviving user. `windowSeconds` adds the attribution-window bound:
    * each step must land within that many seconds of the previous
    * step's time (timestamp or numeric time columns both work).
    * Oracle-checked as `q_events_funnel` / `q_events_funnel_windowed`. */
  def eventFunnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts",
      windowSeconds: Option[Long] = None): DataFrame =
    ops.Temporal.eventFunnel(events, steps, userCol, typeCol, tsCol,
      windowSeconds)

  /** Cohort retention over any events-shaped frame: activity bucketed
    * into `periodDays`-wide periods from `anchor` (an ISO date), users
    * cohorted by first active period, counted at each (cohort, offset).
    * Three user-keyed stages; output bounded by periods², never by event
    * volume. Oracle-checked as `q_events_retention`. */
  def retentionCohorts(events: DataFrame, anchor: String,
      periodDays: Int = 7, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    ops.Temporal.retentionCohorts(events, anchor, periodDays, userCol, tsCol)

  /** Equi-width histogram of a numeric column — the one-pass profiling
    * primitive for a table too large to eyeball: output is bounded by
    * the bin count, partial aggregation keeps the shuffle bin-sized.
    * Oracle-checked as `q_profile_histogram`. */
  def histogram(df: DataFrame, column: Column, width: Double): DataFrame =
    ops.Relational.histogram(df, column, width)

  /** One-pass multi-column profile: per numeric column, non-null/null
    * counts and min/max — every column through ONE global aggregate
    * whose shuffle carries a single row, unpivoted into the per-column
    * report. Oracle-checked as `q_profile_stats`. */
  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame =
    ops.Relational.profileStats(df, cols)

  /** Per-group z-score outlier flags: rows of `df` whose `value` sits
    * at least `zmin` population standard deviations from their group's
    * mean, with the z-score appended as column `z`. One exact-moment
    * aggregate (group-count-sized) joined back onto the rows — no
    * window, no corpus-sized sort; see
    * [[ops.Relational.zscoreOutliers]] for the scale contract.
    * Oracle-checked as `q_profile_outliers`. */
  def outliers(df: DataFrame, keys: Seq[String], value: Column,
      zmin: Double = 3.0): DataFrame =
    ops.Relational.zscoreOutliers(df, keys, value, zmin)

  /** Signed random projection of a float-vector column to `k` exact
    * integer sums (JL-style distance proxy — the narrowest per-row
    * distance artifact in the vector family, 8 longs from 64 floats at
    * the defaults). Row-local, zero shuffle, deterministic matrix.
    * Oracle-checked as `q_embedding_project`. */
  def randomProjection(df: DataFrame, vecCol: String, idCols: Seq[String],
      k: Int = 8, dim: Int = 64): DataFrame =
    ops.Vector.randomProjection(df, vecCol, idCols, k, dim)

  /** Generic LEFT AS-OF join (Snowflake's ASOF JOIN — the reference's
    * warehouse offers it through the SQL pass-through; Spark has no
    * built-in): for every left row, the most recent right row with
    * `rightTime` ≤ `leftTime` on equal `keys`, nulls when none; NULL
    * keys never match. One shuffle on the keys (union + window), no
    * range explosion. For determinism, pre-aggregate right-side
    * (keys, time) ties. The oracle-checked `q_join_asof` runs through
    * this function.
    *
    * `epochWidth` is the hot-key scale dial — and the default (None)
    * now MEASURES instead of assuming: one summary-row-sized agg
    * (count + time extent per key) picks the windowed arm below the
    * hot-key gate (each key sorts in one task — the common case) and
    * the IDENTICAL-result two-level epoch-chunked scan above it,
    * spreading a hyperactive key over range/width tasks with an
    * auto-chosen width. The same measured-volume dispatch as the graph
    * family's broadcast gate and the dedup resolver's driver/BSP
    * split: at 100 TB the code makes the call, not a human editing a
    * width per corpus. `Some(w)` forces the chunked arm at that width
    * (both arms need integral time columns for chunking —
    * `unix_micros` for timestamps; non-integral times always take the
    * windowed arm). SkewSpec pins the dispatch decision AND
    * arm-equality on a boundary-straddling hot-key fixture. */
  def asofJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      epochWidth: Option[Long] = None,
      forward: Boolean = false): DataFrame =
    epochWidth match {
      case Some(w) =>
        if (forward)
          // earliest right row with rightTime >= leftTime (the
          // next-event / conversion shape) — exact time-reversal reuse
          // of the backward join, numeric time columns required; oracle
          // key `q_join_asof_forward` pins it against DuckDB
          ops.Temporal.asofJoinForward(left, right, keys, leftTime,
            rightTime, Some(w))
        else
          ops.Temporal.asofJoinChunked(left, right, keys, leftTime,
            rightTime, w)
      case None =>
        ops.Temporal.asofJoinAuto(left, right, keys, leftTime, rightTime,
          forward)
    }

  /** Exact interpolated quantiles (`quantile_cont` semantics) per
    * group WITHOUT the exact `percentile` aggregate's whole-column
    * in-memory buffer ([[ops.Relational.histQuantiles]]): value-grain
    * histogram → coarse-bucket rank offsets → in-bucket scan of only
    * the rank-bearing buckets. Every stage is a mergeable hash agg or
    * a bounded/partitioned window, so it survives group sizes that OOM
    * `percentile` — the six `q_agg_percentile`-family oracle keys run
    * through it. `ps` maps each probability to its output column name;
    * results are rounded to 6 decimals (the cross-engine boundary
    * precision the oracle contract uses).
    *
    * EAGER: the call materializes the value-grain histogram
    * (localCheckpoint) before returning, because three internal passes
    * reuse it — so the corpus pass executes at CALL time, not at the
    * first action on the returned frame. The materialized frame is
    * |distinct values|-bounded, not |rows|-bounded, so the eager cost
    * is the histogram build it would pay anyway. */
  def quantiles(df: DataFrame, valueCol: String, groupCols: Seq[String],
      ps: Seq[(Double, String)]): DataFrame = {
    require(ps.nonEmpty, "quantiles needs at least one (p, name)")
    ps.foreach { case (p, _) =>
      require(p >= 0.0 && p <= 1.0, s"probability out of [0,1]: $p") }
    ops.Relational.histQuantiles(df, valueCol, groupCols, ps)
  }

  /** SQL-text entry point ([[SqlText.sql]]): `spark.sql` plus the two
    * warehouse statements a reference `read_snowflake(query)` caller
    * types that Spark SQL lacks — `MERGE INTO` (→ [[upsert]]) and
    * Snowflake-style `ASOF JOIN … MATCH_CONDITION` (→ [[asofJoin]]).
    * Oracle-checked as `q_sql_merge` / `q_sql_asof`. */
  def sql(spark: SparkSession, text: String): DataFrame =
    SqlText.sql(spark, text)

  /** Single-stage corpus curation: guarded MinHash/LSH candidates →
    * connected-component keep-list → drop non-survivors → quality gate.
    * Returns the training-corpus manifest (doc_id, lang, quality_e6).
    * The same code path runs as a restartable micro-batch stream
    * ([[streaming.Streams.curate]]). For the full modern chain with a
    * per-stage audit, see [[curatePipeline]]. */
  def curate(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup.curateCorpus(spark, sfDir)

  /** The END-TO-END curation chain a training job actually runs
    * (oracle-checked as `q_pipeline_curate`): Gopher rule gate → exact
    * dedup → MinHash/LSH near-dup resolve → semantic (SemDeDup) dedup →
    * quality select → deterministic shard shuffle, each stage filtering
    * the previous stage's survivors. Returns one audit row per stage
    * (stage_ord, stage, docs_in, docs_out, tokens_out, units). */
  def curatePipeline(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup.curatePipeline(spark, sfDir)

  /** Small-file compaction — the table-maintenance primitive every
    * long-running ingest needs (a streaming sink or hive-partitioned
    * write leaves thousands of KB-sized files; scans then pay one task +
    * one footer read per file). Rewrites `inDir`'s parquet files into
    * ceil(totalBytes / targetBytes) files at `outDir` via `coalesce` —
    * NO shuffle: coalesce only glues existing partitions, so compaction
    * cost is one linear read+write. Returns (filesBefore, filesAfter).
    * The file COUNT comes from real FileSystem metadata, not a guess, so
    * the target holds whatever wrote the input. Oracle-checked as
    * `q_layout_compact` (content identity through the rewrite). */
  def compactSmallFiles(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(inPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files to compact under $inDir")
    val total = files.map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir).coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (files.length, after)
  }

  /** The `arrow_options.types_mapper` analogue (test_core.py:106-123):
    * cast every column to `to` after the read. */
  def castAll(df: DataFrame, to: DataType): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      org.apache.spark.sql.functions.col(c).cast(to).as(c)): _*)

  /** Per-partition in-memory size estimate —
    * `df.memory_usage_per_partition()` (test_core.py:301). Distributed:
    * one estimate per task, only the Long sizes come back. One
    * SizeEstimator call per partition, so the shared schema object graph
    * every GenericRowWithSchema references is counted once per partition
    * (a per-row estimate would re-count it N times and grossly inflate). */
  def memoryUsagePerPartition(df: DataFrame): Seq[Long] =
    df.rdd.mapPartitions { it =>
      Iterator.single(SizeEstimator.estimate(it.toArray: AnyRef))
    }.collect().toIndexedSeq

  /** `df.npartitions` (test_core.py:88, 310). */
  def npartitions(df: DataFrame): Int = df.rdd.getNumPartitions

  /** Partner-application tagging (core.py:27-30, 49-52; 4 of the
    * reference's 10 tests): the reference injects
    * `application=dask.config.get("snowflake.partner", "dask")` into every
    * warehouse connection, resolved cluster-side. Spark's analogue of a
    * per-connection tag is the job group/description every task carries;
    * the config source is `spark.conf` (broadcast to executors), override
    * beats config beats default — same precedence as the reference. */
  val PartnerConfKey = "spark.graft.partner"
  val DefaultPartner = "graft"

  def partnerTag(spark: SparkSession, explicit: Option[String] = None): String =
    explicit.getOrElse(spark.conf.getOption(PartnerConfKey).getOrElse(DefaultPartner))

  /** Run `body` with every spawned job tagged for the warehouse audit
    * trail — the observable surface the reference's connection-counting
    * tests monkeypatch (test_core.py:149-261). */
  def withPartnerTag[T](spark: SparkSession, explicit: Option[String] = None)
      (body: => T): T = {
    val sc = spark.sparkContext
    val tag = partnerTag(spark, explicit)
    sc.setJobGroup(s"graft.partner=$tag", s"application=$tag", false)
    try body
    finally sc.clearJobGroup()
  }
}
