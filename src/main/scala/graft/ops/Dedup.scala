package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.warehouse.Tables

/** Deduplication operators over `documents` / `embeddings` (SURVEY §2
  * Tier D; north-star "dedup" block: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup).
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup = hash-groupBy on the content key — one shuffle,
  *     map-side combine;
  *   - MinHash/LSH = shingle → K minhashes → band buckets → shuffle BY
  *     BAND and self-join inside buckets. Candidate generation is never
  *     O(n²); only same-bucket pairs are compared;
  *   - n-gram Jaccard verification runs ONLY on LSH candidates;
  *   - SimHash = one shuffle (token explode → per-doc bit aggregation),
  *     duplicate buckets found by grouping on the 16-bit signature;
  *   - embedding near-dup = exact cosine INSIDE coarse partitions (the
  *     `label` column plays the IVF-cell role) — shuffle by cell, never a
  *     global cross join.
  *
  * All hashing is md5-derived (engine-portable); the DuckDB oracle
  * replicates every pipeline step exactly, constants included.
  */
object Dedup {

  // fixed MinHash permutation constants (primes; seeded randomness is
  // banned — SURVEY §7.3)
  private val A = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  private val B = Seq(104729L, 1299709L, 15485867L, 32452867L,
    49979693L, 67867979L, 86028157L, 104395303L)
  private val P = 2147483647L // 2^31 - 1
  private val Bands = 4 // 8 minhashes → 4 bands of 2

  /** HashMin-only rounds before [[connectedComponents]] starts pointer
    * jumping (shallow components — the common near-dup shape — converge
    * within these and never pay the self-join). */
  private val JumpAfter = 2

  /** Hot-bucket guards for candidate generation. A bucket self-join emits
    * O(|bucket|²) pairs, so ONE band value shared by 100k boilerplate docs
    * emits 5·10⁹ pairs from a single bucket — AQE can split the input
    * partition but cannot shrink quadratic OUTPUT. [[subSalt]] bounds it:
    * every bucket larger than the cap is split into ceil(n/cap)
    * deterministic sub-buckets, so pair output per bucket drops from n²/2
    * to ≤ n·cap/2 — LINEAR in bucket size. Recall tradeoff (documented,
    * spec'd in DedupSpec): within an oversized bucket a pair is compared
    * only if both ids land in the same sub-bucket (~1/S chance, S =
    * ceil(n/cap)); a genuine near-dup pair usually shares several of the
    * [[Bands]] band values (and both multiprobe cells), each an
    * independent chance, and a bucket past the cap is near-always a
    * boilerplate band whose pairs are false positives. Buckets ≤ cap get
    * salt ≡ 0 — the guard provably changes NOTHING until a bucket
    * overflows (sf0.1 maxima: band bucket 12, label cell 218, probe cell
    * 571 — all under their caps, so the oracle keys' outputs are
    * unchanged; the DuckDB twins still replay the salt formula exactly). */
  private[graft] val MaxBand = 64
  private[graft] val MaxCell = 1024

  /** Attach the sub-salt column `__salt` to a bucketed table: per-bucket
    * count (map-side-combinable aggregate — a hot bucket collapses to one
    * row before the shuffle), filtered to the buckets OVER the cap, then
    * left-joined back; `salt = md5i(id) % ceil(count/cap)` for hot rows,
    * 0 otherwise — engine-portable (the DuckDB twins replay `md5i %
    * ceil(bn/cap)` over ALL buckets, which is identical: ceil(bn/cap) = 1
    * → salt 0 whenever bn ≤ cap) and deterministic (no RNG).
    *
    * Two scale choices baked in: joining only the HOT list (≤ one row per
    * oversized bucket — empty on a clean corpus) lets AQE broadcast it,
    * so the corpus-sized bucket table is never shuffled just to learn its
    * salts (joining ALL counts would shuffle it — counts has a row per
    * distinct bucket, unbroadcastable at 100 TB); and no window/sort — a
    * row_number cap would sort each bucket inside ONE task (windows can't
    * split a partition key), the very skew being guarded. */
  private[graft] def subSalt(
      df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      idCol: String, cap: Int): org.apache.spark.sql.DataFrame = {
    val hot = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > cap)
    df.join(hot, keyCols, "left")
      .withColumn("__salt",
        expr(s"CASE WHEN __bn IS NULL THEN 0L ELSE " +
          s"${Text.md5i(s"CAST($idCol AS STRING)")} % ((__bn + ${cap - 1}) DIV $cap) END"))
      .drop("__bn")
  }

  /** Distinct candidate pairs (doc_a < doc_b) from a salted bucket table:
    * self-join on (bucket key, sub-salt). The build side is a shuffled
    * hash table, never a broadcast: a multi-key broadcast relation takes
    * at least one whole memory page in the block store (17 MB for the
    * sf0.1 bands on a 4-core driver with a 3 GB heap), where it stays
    * after the query until the JVM has collected the plan and the
    * ContextCleaner has removed the block, while a shuffled hash table
    * is task memory, freed when its task ends. */
  private def saltedPairJoin(
      salted: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val l = salted.withColumnRenamed("doc_id", "doc_a")
    val r = salted.withColumnRenamed("doc_id", "doc_b").hint("shuffle_hash")
    l.join(r, keyCols :+ "__salt")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Attach the per-signature bucket size to a (doc_id, simhash) table
    * via groupBy + broadcast join-back — NOT `count(*) over (partition
    * by simhash)`: the window form sorts each signature inside ONE task,
    * so a degenerate signature (boilerplate corpus — the exact scenario
    * the [[subSalt]] guards exist for) serializes the whole corpus onto
    * one executor. The aggregate is map-side combinable and fully
    * parallel whatever the skew, and the count side is ≤ 2^16 rows by
    * construction (16-bit signature space) → always broadcastable. Same
    * rows as the window form; SkewSpec drives it with a one-signature
    * corpus and PlanSpec pins the no-Window shape.
    *
    * CONTRACT (why the forced broadcast is safe): the `simhash` column
    * MUST come from a bounded signature space — ≤ `maxSignatureBits`
    * (default 16 → ≤65,536 distinct count rows, a few MB broadcast
    * regardless of corpus size). The helper accepts an arbitrary
    * (doc_id, simhash) frame (SkewSpec feeds synthetic longs), so a new
    * call site with a WIDER signature (e.g. a 64-bit simhash) would
    * broadcast an unboundedly large count table; such a caller must pass
    * its real width so the guard can reject it — switch to a plain
    * (non-broadcast) join-back past ~20 bits. */
  private[graft] def simhashBuckets(
      sigs: org.apache.spark.sql.DataFrame,
      maxSignatureBits: Int = 16): org.apache.spark.sql.DataFrame = {
    require(maxSignatureBits <= 20,
      s"simhashBuckets force-broadcasts the per-signature counts; a " +
        s"$maxSignatureBits-bit signature space (2^$maxSignatureBits " +
        "possible count rows) is too wide to broadcast — use a plain " +
        "join-back for wide signatures")
    val bucketCounts = sigs.groupBy("simhash")
      .agg(count(lit(1)).cast(LongType).as("n_bucket"))
    sigs.join(broadcast(bucketCounts), "simhash")
      .select("doc_id", "simhash", "n_bucket")
  }

  /** Guarded candidate generation from an arbitrary (doc_id, band_idx,
    * band_val) table — the unit DedupSpec's adversarial fixture drives
    * directly with a small cap. */
  private[graft] def candidatesFromBands(
      bands: org.apache.spark.sql.DataFrame, cap: Int): org.apache.spark.sql.DataFrame =
    saltedPairJoin(subSalt(bands, Seq("band_idx", "band_val"), "doc_id", cap),
      Seq("band_idx", "band_val"))

  /** Incremental-dedup verdicts ([[graft.Graft.dedupIncremental]];
    * `q_dedup_incremental`): for every doc in the "new batch" slice
    * (deterministic `doc_id % 7 = 0`), `(doc_id, exact_dup,
    * n_bands_old, verdict)` against the standing corpus (the other 6/7).
    *
    * Both old-side probes are MEMBERSHIP sets, never pairs: the exact
    * layer semi-checks the new doc's md5 digest against the old corpus's
    * distinct digests; the near layer semi-joins the new doc's ≤[[Bands]]
    * LSH bands against the old corpus's distinct bucket set. A new doc
    * therefore contributes O(Bands) probe rows whatever the bucket's
    * popularity — no pair blow-up, no [[subSalt]] guard needed on this
    * path — and the two old-side sets are precisely the registry a
    * warehouse materializes once and reuses per ingest batch. Bands are
    * shared with the full-corpus keys via [[graft.CacheRegistry]]. */
  private[graft] def incrementalVerdicts(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val isNew = col("doc_id") % 7 === 0
    val docs = Tables.table(s, d, "documents")
    val oldDg = docs.filter(!isNew).select(md5(col("text")).as("dg")).distinct()
    val raw = graft.CacheRegistry.getOrPersist("dedup_bands_raw", d, sparkBands(s, d))
    val oldBk = raw.filter(!isNew).select("band_idx", "band_val").distinct()
    ingestVerdicts(docs.filter(isNew), oldDg, oldBk,
      newBands = Some(raw.filter(isNew)))
  }

  /** The ingest-verdict CORE shared by the batch key and the streaming
    * nightly-ingest path ([[graft.streaming.Streams.ingestVerdictQuery]]):
    * verdicts for an arbitrary `(doc_id, text)` batch of NEW docs probed
    * against a standing registry — `oldDigests` (distinct `dg` md5 column)
    * and `oldBuckets` (distinct `(band_idx, band_val)`). One code path =
    * batch ≡ stream by construction (StreamingSpec proves it end-to-end).
    *
    * `newBands` lets the batch caller reuse the registry-cached corpus
    * band table instead of re-running the minhash pipeline on the new
    * slice; when absent (the streaming micro-batch case) the bands are
    * computed row-locally from the batch via [[bandsOf]]. */
  private[graft] def ingestVerdicts(
      newDocs: org.apache.spark.sql.DataFrame,
      oldDigests: org.apache.spark.sql.DataFrame,
      oldBuckets: org.apache.spark.sql.DataFrame,
      newBands: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val newd = newDocs.select(col("doc_id"), md5(col("text")).as("dg"))
    val oldDg = oldDigests.select("dg").withColumn("dg_hit", lit(true))
    val nb = newBands.getOrElse(bandsOf(newDocs))
      .join(oldBuckets.select("band_idx", "band_val"),
        Seq("band_idx", "band_val"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_bands_old"))
    newd
      .join(oldDg, Seq("dg"), "left")
      .join(nb, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dg_hit"), lit(false)).as("exact_dup"),
        coalesce(col("n_bands_old"), lit(0L)).as("n_bands_old"),
        when(coalesce(col("dg_hit"), lit(false)), "drop_exact")
          .when(coalesce(col("n_bands_old"), lit(0L)) >= 1, "drop_near")
          .otherwise("keep").as("verdict"))
  }

  /** Facade entry ([[graft.Graft.nearDupCandidates]]): guarded candidates
    * at a caller-chosen cap, always reading the REGISTRY-CACHED raw bands
    * — a bare [[sparkBands]] here would re-run the corpus-scale
    * shingle+md5+minhash pipeline once per consumer (~4× per action:
    * hot-count + join-back + both self-join sides). The default cap takes
    * the fully-shared [[sparkCandidates]] path (cached salted bands too). */
  private[graft] def nearDupCandidates(
      s: org.apache.spark.sql.SparkSession, d: String, cap: Int): org.apache.spark.sql.DataFrame =
    if (cap == MaxBand) sparkCandidates(s, d)
    else candidatesFromBands(
      graft.CacheRegistry.getOrPersist("dedup_bands_raw", d, sparkBands(s, d)), cap)

  // ---- Spark-dialect expression fragments --------------------------------

  // ---- DuckDB-dialect twins ---------------------------------------------

  private val shinglesDuck =
    """list_distinct(list_transform(
      |  generate_series(1, len(tk) - 2),
      |  i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])))""".stripMargin

  private val hashesDuck =
    s"list_transform(sh, s0 -> ${Text.md5iDuck("s0")})"

  private val minhashDuck: String =
    A.zip(B).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $P))"
    }.mkString("[", ", ", "]")

  /** Common CTE prefix computing per-doc band buckets in DuckDB —
    * including the [[subSalt]] hot-bucket guard (count-join + the exact
    * md5-salt formula), so the oracle replays the guarded pipeline
    * step-for-step. */
  private def duckBandsCte: String =
    s"""WITH tk_t AS (
       |  SELECT doc_id, string_split(text,' ') AS tk FROM documents
       |), sh_t AS (
       |  SELECT doc_id, $shinglesDuck AS sh FROM tk_t
       |), hs_t AS (
       |  SELECT doc_id, $hashesDuck AS hs FROM sh_t
       |), mh_t AS (
       |  SELECT doc_id, $minhashDuck AS mh FROM hs_t
       |), bands_raw AS (
       |  SELECT doc_id, band_idx,
       |    mh[2*band_idx + 1] * $P + mh[2*band_idx + 2] AS band_val
       |  FROM mh_t, (SELECT unnest(generate_series(0, ${Bands - 1})) AS band_idx)
       |), bsz AS (
       |  SELECT band_idx, band_val, count(*) AS bn
       |  FROM bands_raw GROUP BY band_idx, band_val
       |), bands AS (
       |  SELECT doc_id, band_idx, band_val,
       |    ${Text.md5iDuck("CAST(doc_id AS VARCHAR)")}
       |      % ((bn + ${MaxBand - 1}) // $MaxBand) AS salt
       |  FROM bands_raw JOIN bsz USING (band_idx, band_val)
       |)""".stripMargin

  /** Spark-side per-doc minhash signatures: (doc_id, mh: array of 8) via
    * the fused codegen'd [[graft.functions.MinHashSig]] — one pass where
    * the HOF pipeline (shingle transform → md5 transform → 8 ×
    * `array_min(transform)`) ran ten interpreted array passes per row. */
  private def sparkMinhash(s: org.apache.spark.sql.SparkSession, d: String) = {
    graft.functions.MinHashSig.register(s, A, B, P)
    Tables.table(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), expr("minhash_sig(tk)").as("mh"))
  }

  /** Spark-side per-doc band buckets: (doc_id, band_idx, band_val). */
  private[graft] def sparkBands(s: org.apache.spark.sql.SparkSession, d: String) =
    bandsOf(sparkMinhash(s, d), preMinhashed = true)

  /** Band buckets for an ARBITRARY `(doc_id, text)` frame — the row-local
    * shingle→minhash→band pipeline with no corpus dependency, so it runs
    * unchanged inside a streaming micro-batch ([[ingestVerdicts]] with
    * `newBands = None`). `preMinhashed` skips the minhash step when the
    * caller already has the `mh` column (the corpus-table path above). */
  private[graft] def bandsOf(
      docs: org.apache.spark.sql.DataFrame,
      preMinhashed: Boolean = false): org.apache.spark.sql.DataFrame = {
    val mh =
      if (preMinhashed) docs
      else {
        graft.functions.MinHashSig.register(docs.sparkSession, A, B, P)
        docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"), expr("minhash_sig(tk)").as("mh"))
      }
    val bandStructs = (0 until Bands).map { bi =>
      s"struct(CAST($bi AS INT) AS band_idx, " +
        s"element_at(mh, ${2 * bi + 1}) * $P + element_at(mh, ${2 * bi + 2}) AS band_val)"
    }.mkString("array(", ", ", ")")
    mh.select(col("doc_id"), explode(expr(bandStructs)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_val"))
  }

  /** Spark-side distinct LSH candidate pairs (doc_a < doc_b), hot-bucket
    * guarded ([[subSalt]] with [[MaxBand]]). The SALTED band table is
    * persisted so the self-join's two sides don't re-run the shingle+md5
    * pipeline or the count-join (tiny: ~4 rows/doc); the persist is shared
    * via [[graft.CacheRegistry]] across the three keys that build
    * candidates (minhash/ngram/levenshtein) and released by the mains — a
    * bare per-invocation persist() leaked one copy per key per run. */
  /** Exact Jaccard-≥-t similarity self-join via the AllPairs/PPJoin
    * prefix filter — COMPLETE (no probabilistic misses), never
    * corpus². `tok` is a distinct (doc_id, token) frame. Per doc, the
    * first n − ⌈t·n⌉ + 1 tokens under the global rarest-first total
    * order (df, token) form its prefix; J(x, y) ≥ t forces the FIRST
    * shared token (in that order) into BOTH prefixes (it has ≥
    * ⌈t·n⌉ − 1 shared successors in each doc, so it sits within
    * prefix reach of either side — the Bayardo/Chaudhuri argument),
    * so the prefix-token self-join is a candidate superset built from
    * each doc's RAREST tokens — hot tokens structurally never
    * generate pairs. Verification counts the exact intersection on
    * candidates only; union = na + nb − inter, no token arrays
    * shipped. Emits (doc_a < doc_b, jaccard rounded 6). Rounding
    * cannot flip the threshold: |i/u − t| is either 0 or ≥ 1/u², far
    * above 5e-7 at any real doc size. */
  /** The candidate stage of [[prefixJaccardJoin]], exposed so the
    * adversarial spec can assert the structural bound directly: a
    * corpus-wide hot token (df = n) never enters any prefix as long
    * as docs carry enough rarer tokens, so it generates ZERO pairs —
    * the exact-completeness counterpart of the LSH hot-bucket cap. */
  private[graft] def prefixCandidates(
      tok: org.apache.spark.sql.DataFrame,
      t: Double): org.apache.spark.sql.DataFrame = {
    val df = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "token")
    val prefix = tok.join(df, "token")
      .withColumn("rn", row_number().over(wDoc))
      .join(sizes, "doc_id")
      // ⌈t·n⌉ guarded against upward FP error: for thresholds where t·n
      // is mathematically an integer but the double product rounds UP
      // (t=0.55, n=20 → 11.000000000000002), a bare ceil would shrink
      // the prefix by one token and silently drop boundary pairs with
      // J exactly = t. Subtracting 1e-9 (far above the product's ulp,
      // far below the 1/n² gap to the next real threshold crossing)
      // errs toward a LONGER prefix — a candidate superset, never a
      // miss. Pinned by DedupSpec's t=0.55 boundary-pair fixture.
      .filter(col("rn") <= col("n") - ceil(col("n") * t - lit(1e-9)) + 1)
      .select("doc_id", "token")
    prefix.select(col("doc_id").as("doc_a"), col("token"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("token")), "token")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Registry key for a helper input frame: the exact canonicalized
    * plan (exprIds normalized, source paths included) plus its semantic
    * hash — two different inputs cannot share an entry, identical
    * inputs (the two prefix keys build the same token frame; repeated
    * bench iterations rebuild it verbatim) share one materialization.
    * Registry-managed so releaseAll frees the blocks instead of leaving
    * per-call checkpoints to GC (r16 advice item 5). */
  private def planKey(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.analyzed.canonicalized
    s"${p.semanticHash()}:${p.toString}"
  }

  private[graft] def prefixJaccardJoin(
      tok: org.apache.spark.sql.DataFrame,
      t: Double): org.apache.spark.sql.DataFrame = {
    require(t > 0.0 && t <= 1.0, s"Jaccard threshold out of (0,1]: $t")
    // the token frame feeds FIVE consumers (df, sizes, the prefix
    // window, and both verification joins); without the cut each one
    // re-runs the caller's scan+split+explode pipeline (r16
    // optimization round: the documents explode executed ~7× per call)
    val tokC = graft.CacheRegistry.getOrCheckpoint(
      "prefix_tok", planKey(tok), tok)
    val sizes = tokC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cand = prefixCandidates(tokC, t)
    val inter = cand
      .join(tokC.select(col("doc_id").as("doc_a"), col("token")), "doc_a")
      .join(tokC.select(col("doc_id").as("doc_b"),
        col("token").as("token_b")), "doc_b")
      .filter(col("token") === col("token_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast(DoubleType)
          / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** The LINEAR-OUTPUT composition of [[prefixJaccardJoin]] with
    * component resolution — the production mode for dup-heavy corpora,
    * where the J≥t pair listing is Ω(#true pairs) (quadratic in clique
    * size) but a curation run only needs the keep-list.
    *
    * The decisive scale move is the EXACT-COLLAPSE pre-pass, the
    * standard exact-before-near-dup pipeline stage: Jaccard is a
    * function of the DISTINCT token set alone, so docs with identical
    * sets are (a) pairwise J=1 — always in one component for any
    * t ≤ 1 — and (b) interchangeable with respect to every other doc.
    * Collapsing each signature group to its min-doc_id representative
    * BEFORE the quadratic candidate stage is therefore semantics-exact,
    * and turns a corpus whose duplication grew pairs 100× back into its
    * distinct-text core: the candidate/verify work is done on
    * representatives only, and everything else (signature hash-agg,
    * group-min, final fan-out join) is one linear pass. keep_id
    * equality holds because each representative is already the min
    * doc_id of its group, so min-over-reps ≡ min-over-docs per
    * component. Groups of size ≥2 whose representative has no external
    * edge are their own component (their members ARE touched by J=1
    * pairs); size-1 groups with no edge drop out — exactly
    * [[prefixJaccardJoin]]∘[[connectedComponents]]'s contract. DedupSpec
    * pins composed ≡ direct on a mixed fixture; the oracle key
    * `q_dedup_prefix_resolve` hash-checks it at four scales.
    *
    * `tok` must be DISTINCT (doc_id, token) rows, same as
    * [[prefixJaccardJoin]]. */
  private[graft] def prefixJaccardResolve(
      tok: org.apache.spark.sql.DataFrame,
      t: Double): org.apache.spark.sql.DataFrame = {
    // materialized once: the signature agg AND the representative-token
    // slice both read it (the join then cuts its own copy for its five
    // consumers); shares q_dedup_prefix's entry when the input plan is
    // identical
    val tokC = graft.CacheRegistry.getOrCheckpoint(
      "prefix_tok", planKey(tok), tok)
    // signature = md5 over the sorted distinct token set; the space joiner
    // cannot occur inside space-split tokens, so the encoding is
    // collision-free. Read twice (groups, final fan-out) — materialized.
    val sig = graft.CacheRegistry.getOrCheckpoint(
      "prefix_sig", planKey(tok),
      tokC.groupBy("doc_id")
        .agg(md5(concat_ws(" ",
          array_sort(collect_set(col("token"))))).as("sig")))
    val groups = sig.groupBy("sig")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("grp_n"))
    val repTok = tokC.join(
      groups.select(col("rep_id").as("doc_id")), Seq("doc_id"))
    val edges = prefixJaccardJoin(repTok, t).select("doc_a", "doc_b")
    val labels = connectedComponents(edges)._1
      .withColumnRenamed("doc_id", "rep_id")
    val repLabel = groups
      .join(labels, Seq("rep_id"), "left")
      .filter(col("keep_id").isNotNull || col("grp_n") >= 2)
      .select(col("sig"),
        coalesce(col("keep_id"), col("rep_id")).as("keep_id"))
    sig.join(repLabel, Seq("sig"))
      .select(col("doc_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_survivor"))
  }

  private def sparkCandidates(s: org.apache.spark.sql.SparkSession, d: String) = {
    // the RAW bands are persisted FIRST: subSalt's count aggregate and its
    // join side then both read cached ids — persisting only the salted
    // result made its one-time materialization run the shingle+md5+minhash
    // pipeline twice (once under the count, once under the join)
    val raw = graft.CacheRegistry.getOrPersist("dedup_bands_raw", d, sparkBands(s, d))
    val salted = graft.CacheRegistry.getOrPersist("dedup_bands", d,
      subSalt(raw, Seq("band_idx", "band_val"), "doc_id", MaxBand))
    saltedPairJoin(salted, Seq("band_idx", "band_val"))
  }

  /** 64-bit frequency-weighted simhash per document, kept as FOUR 16-bit
    * block values `b0..b3` (block k = signature bits [16k, 16k+16);
    * never packed into one long — bit 63 would overflow positive
    * BIGINT, and the Hamming key joins per block anyway). Bits 0..31
    * come from the first 8 md5 hex digits of each token, bits 32..63
    * from the next 8 — one explode + ONE hash-agg with 64 map-side-
    * combinable ±1 votes, the 16-bit `q_dedup_simhash` recipe widened.
    * Consumed by `q_dedup_simhash_hamming`. */
  /** SQL fragments for the 64-bit simhash oracle (and for the parity
    * spec that replays them through Spark SQL): the ±1 bit-vote sums
    * (`divOp` = `div` for Spark SQL, `//` for DuckDB; the only dialect
    * difference) and the four 16-bit block packers. The PRODUCTION
    * Spark path is the fused [[graft.functions.SimHash64]] codegen
    * expression whose scaladoc pins byte-for-byte parity with these
    * fragments; DedupSpec proves expression ≡ SQL on the fixture
    * corpus. */
  private[graft] def simhash64BitSums(divOp: String): Seq[String] =
    (0 until 64).map { j =>
      val src = if (j < 32) "h1" else "h2"
      s"sum(CASE WHEN ($src $divOp ${1L << (j % 32)}) % 2 = 1 THEN 1 ELSE -1 END) AS s_$j"
    }

  private[graft] val simhash64Blocks: Seq[String] = (0 until 4).map { k =>
    (0 until 16).map(i =>
      s"(CASE WHEN s_${16 * k + i} > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
  }

  /** The explode + 64-aggregate SQL formulation of [[simhash64]] — kept
    * ONLY as the parity reference the spec compares the codegen
    * expression against (it IS the oracle's arithmetic, run through
    * Spark). */
  private[graft] def simhash64ViaSql(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val th = Tables.table(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h1", expr(Text.md5i("token")))
      .withColumn("h2",
        expr("CAST(conv(substring(md5(token), 9, 8), 16, 10) AS BIGINT)"))
    val bitSums = simhash64BitSums("div").map(expr)
    th.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), expr(simhash64Blocks(0)).as("b0"),
        expr(simhash64Blocks(1)).as("b1"), expr(simhash64Blocks(2)).as("b2"),
        expr(simhash64Blocks(3)).as("b3"))
  }

  /** Per-doc 64-bit simhash as four 16-bit blocks via the fused
    * [[graft.functions.SimHash64]] expression: a row-local map — no
    * explode, no 64-column aggregate, NO shuffle at all to build
    * signatures (the r10 first cut paid a corpus-sized token explode
    * through a 64-sum hash-agg for the same numbers). Docs with no
    * tokens surface as all-null blocks and are dropped, mirroring the
    * exploded form where they simply had no rows. */
  private[graft] def simhash64(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.SimHash64.register(s)
    Tables.table(s, d, "documents")
      .select(col("doc_id"), expr("simhash64(split(text, ' '))").as("sig"))
      .select(col("doc_id"), col("sig")(0).as("b0"), col("sig")(1).as("b1"),
        col("sig")(2).as("b2"), col("sig")(3).as("b3"))
      .filter(col("b0").isNotNull)
  }

  /** (doc_id, sh) 3-shingle ARRAY frame — the exact-measure input shared
    * by the ngram-Jaccard and containment scoring keys (`sh_t` in their
    * oracles). [[graft.functions.Shingles3]] dedups via LinkedHashSet and
    * the DuckDB twin uses `list_distinct`, so `size(sh)` is a true SET
    * size on both engines. */
  private def sparkShingleFrame(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.Shingles3.register(s)
    Tables.table(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), expr("shingles3(tk)").as("sh"))
  }

  /** The ONE candidate-pair CTE body (distinct `doc_a < doc_b` over the
    * salted band self-join). Every oracle that scores the guarded LSH
    * candidates (minhash / ngram / containment / levenshtein / the
    * resolve walk) splices THIS fragment after `duckBandsCte` — the
    * candidate discipline changes in exactly one place per engine
    * ([[sparkCandidates]] is the Spark twin). */
  private val duckCandCte =
    """cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b USING (band_idx, band_val, salt)
      |  WHERE a.doc_id < b.doc_id
      |)""".stripMargin

  private val duckCandidates =
    s"""$duckBandsCte, $duckCandCte
       |SELECT doc_a, doc_b FROM cand""".stripMargin

  /** HashMin connected components over the LSH candidate graph:
    * (doc_id, keep_id, is_survivor) for every doc in ≥1 candidate pair.
    * O(log component-diameter) BSP rounds via [[connectedComponents]]
    * (HashMin + pointer jumping), parallelism derived from the measured
    * candidate volume. Shared by `q_dedup_resolve` and
    * `q_pipeline_curate`. */
  private[graft] def resolveClusters(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    // the resolved label table is cluster-count-sized (tiny) and two keys
    // consume it — run the propagation once per (session, input)
    graft.CacheRegistry.getOrPersist("dedup_resolved", d, resolveClustersUncached(s, d))

  private def resolveClustersUncached(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    connectedComponents(sparkCandidates(s, d))._1
      .select(col("doc_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_survivor"))

  /** [[resolveClusters]] with the exact-collapse pre-pass — the
    * prefix-resolve move (round 15) applied to the LSH family: group
    * byte-identical texts (one linear md5 hash-agg), run the banded
    * candidate join + component propagation over one REPRESENTATIVE
    * per distinct text, then restore per-doc labels with one linear
    * fan-out join. On a clone-heavy corpus (the 100× replica clones
    * every doc 100×, so bucket pairs grow ×10⁴) the quadratic
    * candidate stage collapses back to the distinct-text core —
    * measured 218× wall for the uncollapsed resolve on 100× data vs
    * ~linear here. NOTE a deliberate semantic refinement vs
    * [[resolveClusters]]: identical-text docs are ALWAYS one cluster
    * (they are J=1 pairs by definition), even where the hot-bucket
    * sub-salt would have split a clone group across salt cells and
    * disconnected them in the salted graph — the collapsed key's
    * oracle replays collapse + rep-banding + fan-out, so the contract
    * is explicit, and the salt discipline still caps the REP buckets.
    * Output rows: every doc whose text occurs ≥ 2× or whose
    * representative lands in ≥ 1 rep-level candidate pair. */
  private[graft] def resolveClustersCollapsed(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.CacheRegistry.getOrPersist("dedup_resolved_collapsed", d, {
      val sig = Tables.table(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("dg"))
      val reps = sig.groupBy("dg")
        .agg(min("doc_id").as("rep"), count(lit(1)).as("gn"))
      val docRep = sig.join(reps, "dg").select("doc_id", "rep", "gn")
      // band only representatives — reuses the registry-cached raw
      // bands (shared with every LSH key), then re-derives the salt
      // over REP bucket sizes so the hot-bucket cap guards what
      // actually joins
      val raw = graft.CacheRegistry.getOrPersist("dedup_bands_raw", d,
        sparkBands(s, d))
      val repBands = raw.join(reps.select(col("rep").as("doc_id")), "doc_id")
      val pairs = saltedPairJoin(
        subSalt(repBands, Seq("band_idx", "band_val"), "doc_id", MaxBand),
        Seq("band_idx", "band_val"))
      val labels = connectedComponents(pairs)._1
        .select(col("doc_id").as("rep"), col("keep_id"))
      docRep.join(labels, Seq("rep"), "left")
        .filter(col("gn") >= 2 || col("keep_id").isNotNull)
        .select(col("doc_id"),
          coalesce(col("keep_id"), col("rep")).as("keep_id"))
        .select(col("doc_id"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("is_survivor"))
    })

  /** Simhash near-dup RESOLUTION with the exact-collapse pre-pass —
    * the linear-output production mode for the Hamming family
    * (`q_dedup_simhash_hamming` lists scored pairs, which is Ω(#pairs):
    * the 100× replica's clones share identical signatures, exploding
    * its output ×10⁴ — measured 150× wall on 100× data). This
    * composition collapses byte-identical texts to a min-id
    * representative (identical text ⇒ identical simhash ⇒ Hamming 0,
    * so collapse is semantics-exact), block-joins REPRESENTATIVE
    * signatures, keeps only Hamming ≤ 3 VERIFIED edges (stronger than
    * the LSH resolve's unverified candidates), propagates components,
    * and fans labels back out — the pair listing never materializes as
    * output. */
  private[graft] def simhashResolveCollapsed(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.CacheRegistry.getOrPersist("simhash_resolved_collapsed", d, {
      val sig = Tables.table(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("dg"))
      val reps = sig.groupBy("dg")
        .agg(min("doc_id").as("rep"), count(lit(1)).as("gn"))
      val docRep = sig.join(reps, "dg").select("doc_id", "rep", "gn")
      val sigs = graft.CacheRegistry.getOrPersist("simhash64_sigs", d,
        simhash64(s, d))
      val repSigs = sigs.join(reps.select(col("rep").as("doc_id")), "doc_id")
      val blocks = repSigs.select(col("doc_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("block_idx", "block_val")))
      val a = repSigs.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
      val b = repSigs.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
      val edges = saltedPairJoin(
          subSalt(blocks, Seq("block_idx", "block_val"), "doc_id", MaxBand),
          Seq("block_idx", "block_val"))
        .join(a, "doc_a").join(b, "doc_b")
        .filter(expr(
          """bit_count(a0 ^ c0) + bit_count(a1 ^ c1)
            |  + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)""".stripMargin) <= 3)
        .select("doc_a", "doc_b")
      val labels = connectedComponents(edges)._1
        .select(col("doc_id").as("rep"), col("keep_id"))
      docRep.join(labels, Seq("rep"), "left")
        .filter(col("gn") >= 2 || col("keep_id").isNotNull)
        .select(col("doc_id"),
          coalesce(col("keep_id"), col("rep")).as("keep_id"))
        .select(col("doc_id"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("is_survivor"))
    })

  /** The END-TO-END curation pipeline as one call (backs
    * `q_pipeline_curate` and [[graft.Graft.curate]]): drop near-dup
    * non-survivors (guarded LSH candidates → connected components →
    * keep-list, cluster-sized so the anti-join broadcasts), then gate on
    * the quality score — what remains IS the training-corpus manifest.
    * ONE code path with the streaming gate ([[graft.streaming.Streams
    * .curate]]): the micro-batch twin can never drift from the batch
    * oracle. */
  private[graft] def curateCorpus(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val dupDrops = resolveClusters(s, d)
      .filter(!col("is_survivor")).select("doc_id")
    graft.streaming.Streams.curate(Tables.table(s, d, "documents"), dupDrops)
  }

  /** The MODERN end-to-end curation chain (r15 verdict task 6) — the
    * manifest a training job actually wants, composed from the library's
    * own keyed operators, each stage filtering the previous stage's
    * survivors:
    *
    *   0 corpus        → raw `documents`
    *   1 gopher_gate   → Rae et al.'s five-rule gate
    *     ([[Text.gopherSignals]], fixture stoplist — the keyed gate's)
    *   2 exact_dedup   → min doc_id per byte-identical text (md5 group)
    *   3 minhash_dedup → min SURVIVING doc_id per LSH component
    *     ([[resolveClusters]] labels; sequential semantics: if a
    *     cluster's global survivor died upstream, the next-smallest
    *     living member survives — labels compose, keep-flags don't)
    *   4 semantic_dedup→ min surviving doc_id per mutual-kNN cluster
    *     ([[Vector.semanticLabels]]; docs without embeddings pass)
    *   5 quality_select→ [[qualityE6]] ≥ 480000
    *   6 shard_shuffle → the seeded deterministic shard assignment
    *     (`q_shuffle_shards`' md5 permutation — the chain ENDS in the
    *     training layout, not just a keep-list)
    *
    * Output = one AUDIT row per stage: (stage_ord, stage, docs_in,
    * docs_out, tokens_out, units), where `units` is the stage's own
    * cardinality — multi-member text groups (2), multi-member LSH
    * clusters among inputs (3), embedded inputs (4), the surviving
    * quality watermark (5), distinct shards (6). docs_in is the lag of
    * docs_out, so every row re-checks the full upstream composition.
    *
    * Scale shape: the expensive artifacts (LSH component labels, the
    * semantic label chain) are registry-persisted and label-sized; the
    * per-stage doc frames are one documents-scan each plus cluster-
    * keyed joins whose small sides broadcast. The audit output is
    * 7 rows. At 100 TB each stage's manifest would be checkpointed to
    * the lake rather than recomputed per audit agg — the composition
    * and join shapes are unchanged. */
  private[graft] def curatePipeline(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // ONE documents pass with per-stage SURVIVAL FLAGS (r16 optimization
    // round; the audit previously aggregated each stage FRAME
    // independently, re-executing the shared upstream chain — md5,
    // gopher signals, quality score, dedup joins — up to seven times:
    // 149 jobs / 27.8 s of task time at sf0.1 for a 7-row answer).
    // Stage-k survival is a boolean column over the single chain:
    //   st1 gopher gate; st2 = st1 ∧ min-doc-of-text-group (a window
    //   over dg — one shuffle where groupBy+join-back was two);
    //   st3/st4 = keep the min SURVIVING doc per LSH / semantic cluster
    //   (cluster-sized aggregates over the flagged frame, joined back —
    //   the same shapes the stage frames used, now over one chain);
    //   st5 quality. Every audit cell is then ONE global aggregation of
    //   flag-conditioned counts/sums — identical arithmetic to the
    //   per-stage aggs, because count(when(stK, 1)) over the chain IS
    //   count(*) over stage k's frame. Text is projected away as soon
    //   as the flags that need it are computed (§2.3: the dedup joins
    //   and the final agg never carry document bytes).
    val docs0 = Tables.table(s, d, "documents")
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        qualityE6.as("quality_e6"),
        md5(col("text")).as("dg"))
      .withColumn("st1", Text.gopherKeep(Text.GopherStopsFixture))
      .select("doc_id", "dg", "n_words", "quality_e6", "st1")
    val wDg = Window.partitionBy("dg")
    val f2 = docs0
      .withColumn("kmin2", min(when(col("st1"), col("doc_id"))).over(wDg))
      .withColumn("gn", count(when(col("st1"), lit(1))).over(wDg))
      .withColumn("st2", col("st1") && col("doc_id") === col("kmin2"))
    // ROW-PRESERVING join contract (r16 advice item 2): c0/t0 and the
    // gopher rows aggregate over `full`, i.e. AFTER these left joins, so
    // both attach sides must be ≤1 row per doc_id or the corpus counts
    // silently inflate. resolveClusters is one row per clustered doc
    // (connectedComponents emits exactly one label per node);
    // semanticLabels is one row per doc (the full vec_id spine
    // left-joined to component labels, coalesced). GraftSpec's
    // audit-telescoping test and the oracle hash both fail on any
    // duplicate-introducing regression.
    val l3 = f2.join(
      resolveClusters(s, d).select("doc_id", "keep_id"),
      Seq("doc_id"), "left")
    val m3 = l3.filter(col("st2") && col("keep_id").isNotNull)
      .groupBy("keep_id")
      .agg(min("doc_id").as("kmin3"), count(lit(1)).as("cn"))
    val f3 = l3.join(m3, Seq("keep_id"), "left")
      .withColumn("st3", col("st2") &&
        (col("keep_id").isNull || col("doc_id") === col("kmin3")))
    val l4 = f3.join(Vector.semanticLabels(s, d), Seq("doc_id"), "left")
    val m4 = l4.filter(col("st3") && col("cluster").isNotNull)
      .groupBy("cluster").agg(min("doc_id").as("kmin4"))
    val full = l4.join(m4, Seq("cluster"), "left")
      .withColumn("st4", col("st3") &&
        (col("cluster").isNull || col("doc_id") === col("kmin4")))
      .withColumn("st5", col("st4") && col("quality_e6") >= 480000L)
      .withColumn("shard", when(col("st5"),
        expr(s"(${Text.md5i("'ep42:' || CAST(doc_id AS STRING)")} " +
          "% 1000000000) % 8")))
    def cnt(flag: org.apache.spark.sql.Column) = count(when(flag, lit(1)))
    def toks(flag: org.apache.spark.sql.Column) =
      coalesce(sum(when(flag, col("n_words"))), lit(0L))
    val a = full.agg(
      count(lit(1)).as("c0"), coalesce(sum("n_words"), lit(0L)).as("t0"),
      cnt(col("st1")).as("c1"), toks(col("st1")).as("t1"),
      cnt(col("st2")).as("c2"), toks(col("st2")).as("t2"),
      cnt(col("st3")).as("c3"), toks(col("st3")).as("t3"),
      cnt(col("st4")).as("c4"), toks(col("st4")).as("t4"),
      cnt(col("st5")).as("c5"), toks(col("st5")).as("t5"),
      // units, same definitions as the per-stage frames': multi-member
      // text groups among gopher survivors; multi-member LSH clusters
      // among exact-dedup survivors (cn non-null ⇒ keep_id non-null);
      // embedded minhash survivors; the surviving quality watermark;
      // distinct shards
      countDistinct(when(col("st1") && col("gn") >= 2, col("dg")))
        .as("u2"),
      countDistinct(when(col("st2") && col("cn") >= 2, col("keep_id")))
        .as("u3"),
      cnt(col("st3") && col("cluster").isNotNull).as("u4"),
      coalesce(min(when(col("st5"), col("quality_e6"))), lit(0L)).as("u5"),
      countDistinct(when(col("st5"), col("shard"))).as("u6"))
    val aud = a.selectExpr(
      """inline(array(
        |  named_struct('stage_ord', 0L, 'stage', 'corpus',
        |    'docs_out', c0, 'tokens_out', t0, 'units', 0L),
        |  named_struct('stage_ord', 1L, 'stage', 'gopher_gate',
        |    'docs_out', c1, 'tokens_out', t1, 'units', 0L),
        |  named_struct('stage_ord', 2L, 'stage', 'exact_dedup',
        |    'docs_out', c2, 'tokens_out', t2, 'units', u2),
        |  named_struct('stage_ord', 3L, 'stage', 'minhash_dedup',
        |    'docs_out', c3, 'tokens_out', t3, 'units', u3),
        |  named_struct('stage_ord', 4L, 'stage', 'semantic_dedup',
        |    'docs_out', c4, 'tokens_out', t4, 'units', u4),
        |  named_struct('stage_ord', 5L, 'stage', 'quality_select',
        |    'docs_out', c5, 'tokens_out', t5, 'units', u5),
        |  named_struct('stage_ord', 6L, 'stage', 'shard_shuffle',
        |    'docs_out', c5, 'tokens_out', t5, 'units', u6)))""".stripMargin)
    val w = Window.orderBy("stage_ord")
    aud.withColumn("docs_in",
        coalesce(lag("docs_out", 1).over(w), col("docs_out")))
      .select("stage_ord", "stage", "docs_in", "docs_out",
        "tokens_out", "units")
      .orderBy("stage_ord")
  }

  /** BSP parallelism derived from MEASURED row volume: one task per
    * `rowsPerTask` rows, capped at `maxParts`. At sf0.1 the candidate
    * graph is tens of rows → 1 partition (each round is a single task,
    * not 32 near-empty shuffle tasks); at 100 TB with a dirty corpus the
    * same formula fans the loop out instead of serializing it on one
    * task — the code makes the call, not a human editing a constant. */
  private[graft] def partitionsFor(rows: Long, rowsPerTask: Long, maxParts: Int): Int =
    math.max(1L, math.min(maxParts.toLong,
      (rows + rowsPerTask - 1) / rowsPerTask)).toInt

  /** Unpersist the RDD blocks behind an eager localCheckpoint'd frame —
    * Dataset.unpersist only drops CacheManager entries, not the
    * checkpoint RDD, which otherwise lingers until GC. */
  private def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** Exact driver-side union-find (path-halving + union by min) over a
    * collected DIRECTED edge list (each undirected edge once): (doc_id,
    * keep_id = component min) for every endpoint. Used only below the
    * [[connectedComponents]] size threshold. */
  private def unionFindLabels(
      und: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    und.select(col("doc_a"), col("doc_b")).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN root: the surviving root is the component min
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.sorted
      .map(doc => (doc, find(doc)))
      .toDF("doc_id", "keep_id")
  }

  /** Connected components over an undirected candidate edge list
    * (`doc_a`, `doc_b`): → (labels `(doc_id, keep_id)` for every endpoint,
    * rounds taken). keep_id = min doc_id of the component. Small graphs
    * (≤ `driverMax` undirected rows) resolve exactly on the driver via
    * [[unionFindLabels]]; everything below describes the distributed
    * path that takes over beyond the threshold.
    *
    * Min-label propagation (HashMin) PLUS per-round pointer jumping
    * (`keep := keep(keep)`, path doubling): the propagation frontier
    * doubles each round, so a component of diameter D converges in
    * O(log₂ D) rounds instead of the O(D) of plain HashMin — on a 100 TB
    * corpus a long duplicate chain costs ~log rounds, each one bounded
    * join + agg. Per-round lineage is truncated with an eager
    * localCheckpoint so plans don't grow; the one driver action per round
    * is the convergence count (O(log D) total actions). */
  private[graft] def connectedComponents(
      edges: org.apache.spark.sql.DataFrame,
      rowsPerTask: Long = 1L << 20,
      driverMax: Long = 1L << 20): (org.apache.spark.sql.DataFrame, Int) = {
    val sc = edges.sparkSession.sparkContext
    // checkpoint the DIRECTED edges BEFORE sizing: the candidate pipeline
    // (the expensive LSH self-join upstream) materializes exactly once,
    // at half the doubled list's size; count and both paths below read
    // the checkpointed blocks
    val edgesCp = edges.localCheckpoint(true)
    val nDir = edgesCp.count() // sizing action over cached blocks: cheap
    val nUnd = 2 * nDir
    // SMALL-GRAPH FAST PATH: when the candidate graph fits what one task
    // would hold anyway (LSH already reduced pairs by orders of magnitude
    // — the common case), exact union-find on the driver beats any BSP
    // loop: zero rounds, zero per-round driver actions, one collect of
    // ≤ driverMax/2 DIRECTED id pairs (union-find needs each edge once —
    // collecting the mirrored copies would double driver transfer for
    // guaranteed no-op unions). The threshold is the same measured-volume
    // decision the BSP partitioning uses — at a dirty-corpus 100× the
    // loop below takes over, hash-partitioned.
    if (nUnd <= driverMax) {
      val labels = unionFindLabels(edgesCp) // built from driver data
      releaseCheckpoint(edgesCp)
      return (labels, 0)
    }
    val parts = partitionsFor(nUnd, rowsPerTask, sc.defaultParallelism)
    // the loop's working copy: doubled + hash-partitioned, checkpointed so
    // rounds don't re-shuffle. Peak storage is directed + doubled (3× the
    // directed list) for the loop's duration — the directed blocks are the
    // price of never re-running the candidate pipeline.
    val und = edgesCp.union(
      edgesCp.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(parts, col("doc_a")).localCheckpoint(true)
    // the loop reads only `und` from here — release the directed blocks
    // (peak storage drops from 3× to 2× the directed list)
    releaseCheckpoint(edgesCp)
    var labels = und.select(col("doc_a").as("doc_id"))
      .distinct()
      .withColumn("keep_id", col("doc_id"))
      .repartition(parts, col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    var prevRound: Option[org.apache.spark.sql.DataFrame] = None
    // ADAPTIVE path doubling: near-dup components are shallow in practice
    // (a pair or a small clique → 1-2 HashMin rounds), so the first
    // `JumpAfter` rounds run plain HashMin at one checkpoint+action each —
    // zero overhead for the common case. A component still unconverged
    // after that is deep (a chain), and only then does each round add the
    // pointer-jump self-join that doubles the propagation frontier.
    while (changed > 0) {
      val useJump = rounds >= JumpAfter
      // HashMin: pull the min neighbor label across every edge
      val neighborMin = und
        .join(labels.select(col("doc_id").as("nbr"), col("keep_id").as("nbr_keep")),
          col("doc_b") === col("nbr"))
        .groupBy(col("doc_a").as("prop_id"))
        .agg(min("nbr_keep").as("nmin"))
      val hashMin = labels
        .join(neighborMin, col("doc_id") === col("prop_id"), "left")
        .select(col("doc_id"), col("keep_id"),
          least(col("keep_id"), coalesce(col("nmin"), col("keep_id")))
            .as("mid_keep"))
        .repartition(parts, col("doc_id"))
        .localCheckpoint(true) // self-joined below when jumping
      // pointer jump: follow the label's own label one hop. Labels are
      // always doc_ids present in the table (they start as self and only
      // ever take other labels' values), so the self-join is total.
      val next =
        if (!useJump) hashMin.withColumnRenamed("mid_keep", "next_keep")
        else hashMin
          .join(hashMin.select(col("doc_id").as("p_id"), col("mid_keep").as("p_keep")),
            col("mid_keep") === col("p_id"), "left")
          .select(col("doc_id"), col("keep_id"),
            least(col("mid_keep"), coalesce(col("p_keep"), col("mid_keep")))
              .as("next_keep"))
          .repartition(parts, col("doc_id"))
          .localCheckpoint(true)
      changed = next.filter(col("next_keep") < col("keep_id")).count()
      // `next` is materialized — round N-1's blocks (and the jump round's
      // hashMin intermediate) are no longer read by anything: release
      // them so executor storage holds O(1) label-table copies, not
      // O(rounds)
      prevRound.foreach(releaseCheckpoint)
      if (useJump) releaseCheckpoint(hashMin)
      prevRound = Some(if (useJump) next else hashMin)
      labels = next.select(col("doc_id"), col("next_keep").as("keep_id"))
      rounds += 1
    }
    (labels, rounds)
  }

  /** Floor-scaled integer quality score over `text` (type-token ratio +
    * length terms; same formula as q_text_quality, engine-exact because
    * the ratio is floored to integer µ-units rather than rounded). Shared
    * by the batch curation key and the streaming gate. */
  private[graft] def qualityE6: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast(DoubleType)
    val nDis = size(array_distinct(toks)).cast(DoubleType)
    val ttr = nDis / nTok
    val avgLen = (length(col("text")) - (nTok - 1)) / nTok
    floor((ttr * lit(0.3)
      + least(nTok / 100.0, lit(1.0)) * lit(0.4)
      + least(avgLen / 10.0, lit(1.0)) * lit(0.3)) * 1e6).cast(LongType)
  }

  /** IVF-cell embedding near-dup with MULTI-PROBE cell assignment: each
    * vector lands in its `nprobe` nearest coarse cells (the codegen'd
    * [[graft.functions.IvfNearestCells]] against the frozen
    * [[IvfCentroids]]), and exact cosine runs on same-cell pairs only.
    * nprobe=1 is the classic single-probe layout — cheap, but a genuine
    * near-dup pair straddling a Voronoi boundary is NEVER compared
    * (assigned to different cells); nprobe≥2 closes that recall gap for
    * one extra explode row per probe. Scale shape: candidate generation
    * carries ONLY ids through the cell join + distinct (16 bytes/pair in
    * the shuffle), vectors re-attach afterwards by id — never a global
    * cross join, never a vector-payload shuffle of the pair table. */
  private[graft] def embeddingMultiprobePairs(
      s: org.apache.spark.sql.SparkSession, d: String,
      nprobe: Int, minCosine: Double,
      maxCell: Int = MaxCell): org.apache.spark.sql.DataFrame = {
    graft.functions.IvfNearestCells.register(s, IvfCentroids.values, nprobe)
    // norms are computed ONCE per vector (corpus-sized work) by the
    // SHARED [[Vector.vecs]] projection (one copy of the cast+norm
    // formula for every similarity/dedup key — the oracle twins depend
    // on them all staying identical), so the pair-sized hot loop is a
    // single dot fold + one division — `dot/(nrm·nrm)` is bit-identical
    // to the fused cosine (independent sequential folds either way)
    val e = Vector.vecs(s, d)
    // the probed projection feeds THREE consumers (the guard's cell-count
    // aggregate + both self-join sides), so it is persisted via the
    // registry: one ivf_cells pass over the corpus instead of three
    // (pre-guard it ran twice — the persist is a net win). Disk-backed
    // at scale (Dataset.persist defaults to MEMORY_AND_DISK).
    val raw = graft.CacheRegistry.getOrPersist(s"dedup_probed_$nprobe", d,
      e.withColumn("cell", explode(expr("ivf_cells(v)")))
        .select("vec_id", "cell", "v", "nrm"))
    // hot-CELL guard: same [[subSalt]] as the band path — a cell holding
    // more than `maxCell` vectors is split into deterministic sub-cells,
    // so pair output per cell is ≤ n·maxCell/2, not n²/2. The cap is a
    // user-facing COST dial next to nprobe ([[graft.Graft
    // .embeddingNearDups]]): any finite cap emits a subset of the
    // unguarded pairs (a sub-cell pair shares its cell), though between
    // two finite caps membership is not monotone (the modulus changes).
    val probed = subSalt(raw, Seq("cell"), "vec_id", maxCell)
      .select("vec_id", "cell", "__salt", "v", "nrm")
    // score INSIDE the cell join and threshold BEFORE any pair-level
    // shuffle: the only dedup shuffle carries the (tiny) passing pairs —
    // a pair sharing both probe cells is scored twice (cheap codegen'd
    // fold, deterministic → identical rows) and collapsed by the
    // distinct. The alternative (id-distinct first, re-attach vectors
    // after) costs two more corpus-sized joins per query.
    probed.toDF("vec_a", "cell", "__salt", "va", "na")
      .join(probed.toDF("vec_b", "cell", "__salt", "vb", "nb"),
        Seq("cell", "__salt"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        round(expr("dot_product(va, vb)") / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("vec_a", "vec_b", "cosine")
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** DuckDB twin of [[embeddingMultiprobePairs]]: replays cell ranking
    * from the same frozen centroid literals (sequential squared-distance
    * folds, ties → smaller cell id), the probe width, the id-level pair
    * distinct, and the cosine folds. */
  private[graft] def duckEmbeddingMultiprobe(nprobe: Int, minCosine: Double): String = {
    val cents = IvfCentroids.values
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(x => "%.17e".format(x)).mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), cents(cell, cv) AS (VALUES
       |    $values
       |), dists AS (
       |  SELECT e.vec_id, c.cell,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, ${cents.head.length}),
       |        i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))),
       |      (s0, x) -> s0 + x) AS d
       |  FROM e, cents c
       |), cellranks AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rk
       |  FROM dists
       |), probed_raw AS (
       |  SELECT vec_id, cell FROM cellranks WHERE rk <= $nprobe
       |), csz AS (
       |  SELECT cell, count(*) AS cn FROM probed_raw GROUP BY cell
       |), probed AS (
       |  SELECT vec_id, cell,
       |    ${Text.md5iDuck("CAST(vec_id AS VARCHAR)")}
       |      % ((cn + ${MaxCell - 1}) // $MaxCell) AS salt
       |  FROM probed_raw JOIN csz USING (cell)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probed a JOIN probed b USING (cell, salt)
       |  WHERE a.vec_id < b.vec_id
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
       |  FROM e
       |), scored AS (
       |  SELECT vec_a, vec_b,
       |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(generate_series(1, len(na.v)),
       |          i -> na.v[i] * nb.v[i])), (s0, x) -> s0 + x)
       |      / (na.nrm * nb.nrm), 6) AS cosine
       |  FROM cand
       |  JOIN n na ON na.vec_id = vec_a
       |  JOIN n nb ON nb.vec_id = vec_b
       |)
       |SELECT vec_a, vec_b, cosine FROM scored
       |WHERE cosine >= $minCosine
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** The QUANTIZED-candidate variant of [[embeddingMultiprobePairs]]
    * ([[graft.Graft.embeddingNearDups]] `quantized = true`; oracle key
    * `q_dedup_embedding_quantized`) — the candidate stage, THE dominant
    * vector shuffle of a 100 TB near-dup pass, ships int8 codes instead
    * of f64 vectors:
    *
    *   - stage 1 (candidates): the probed cell table carries each
    *     vector as its PACKED Dim-byte code cell (`cb`, the codegen'd
    *     [[graft.functions.PackCodes]] binary — 8× narrower than the
    *     Dim×8-byte double array) plus four scalars (mn, sc, csum, nrm).
    *     Same-cell/same-salt pairs are scored in-join by the affine
    *     expansion Σ(amn+acᵢ·asc)(bmn+bcᵢ·bsc) = Dim·amn·bmn +
    *     amn·bsc·Σbc + bmn·asc·Σac + asc·bsc·(ac·bc) — one exact integer
    *     code dot ([[graft.functions.CodeDot]], unsigned bytes, exact in
    *     doubles) plus three scalar cross-terms — and thresholded at
    *     `minCosine - margin` BEFORE any pair-level shuffle: only id
    *     pairs + one double survive into the distinct.
    *   - stage 2 (exact verify): full vectors re-attach BY ID to the
    *     (tiny) surviving pairs only, and the exact cosine applies the
    *     real `minCosine`. The corpus-sized f64 vectors never enter the
    *     pair join — they ride exactly two survivor-sized id joins.
    *
    * Both stages are engine-exact (the integer dot and the identical
    * affine/cosine expression text), so the DuckDB twin replays every
    * score bit-for-bit. Recall contract: a genuine pair is lost iff
    * quantization error pushes its approx score below the cutoff; the
    * error of the affine dot is bounded by ~Dim·(|x|·sc/2 terms), so
    * `margin` (default 0.05, an order of magnitude above the observed
    * fixture error) makes stage 1 a pure cost filter in practice —
    * DedupSpec asserts full recall vs the unquantized sibling on the
    * fixture. */
  private[graft] def embeddingNearDupsQuantized(
      s: org.apache.spark.sql.SparkSession, d: String,
      nprobe: Int, minCosine: Double,
      maxCell: Int = MaxCell, margin: Double = 0.05): org.apache.spark.sql.DataFrame = {
    graft.functions.IvfNearestCells.register(s, IvfCentroids.values, nprobe)
    val cutoff = "%.6f".format(minCosine - margin) // same literal both engines
    val qv = graft.CacheRegistry.getOrPersist("quant_vecs", d,
      Vector.quantizedVecs(s, d))
    // the probed QUANTIZED projection: codes + scalars only — no `v`.
    // Persisted like the unquantized sibling (guard count + two join
    // sides read one copy); `v` stays behind in quant_vecs for stage 2.
    val raw = graft.CacheRegistry.getOrPersist(s"dedup_probed_q8_$nprobe", d,
      qv.withColumn("cell", explode(expr("ivf_cells(v)")))
        .select("vec_id", "cell", "cb", "mn", "sc", "csum", "nrm"))
    val probed = subSalt(raw, Seq("cell"), "vec_id", maxCell)
      .select("vec_id", "cell", "__salt", "cb", "mn", "sc", "csum", "nrm")
    val survivors = probed
      .toDF("vec_a", "cell", "__salt", "cba", "mna", "sca", "csa", "na")
      .join(probed
        .toDF("vec_b", "cell", "__salt", "cbb", "mnb", "scb", "csb", "nb"),
        Seq("cell", "__salt"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("idot", expr("code_dot(cba, cbb)"))
      .withColumn("approx_cos", expr(
        s"round((${Vector.Dim} * mna * mnb + mna * scb * csb + " +
          "mnb * sca * csa + sca * scb * idot) / (na * nb), 6)"))
      .filter(col("approx_cos") >= expr(cutoff))
      .select("vec_a", "vec_b", "approx_cos")
      .distinct() // a pair sharing both probe cells scores identically twice
    val fa = qv.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("fna"))
    val fb = qv.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("fnb"))
    survivors.join(fa, Seq("vec_a")).join(fb, Seq("vec_b"))
      .withColumn("cosine",
        round(expr("dot_product(va, vb)") / (col("fna") * col("fnb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("vec_a", "vec_b", "cosine", "approx_cos")
      .orderBy("vec_a", "vec_b")
  }

  /** DuckDB twin of [[embeddingNearDupsQuantized]]: replays cell ranking,
    * the salt, the int8 quantizer, the exact BIGINT code dot + affine
    * expansion (identical term order), the approx cutoff literal, and the
    * exact-cosine verify. */
  private[graft] def duckEmbeddingNearDupsQuantized(
      nprobe: Int, minCosine: Double, margin: Double = 0.05): String = {
    val cents = IvfCentroids.values
    val cutoff = "%.6f".format(minCosine - margin)
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(x => "%.17e".format(x)).mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), cents(cell, cv) AS (VALUES
       |    $values
       |), dists AS (
       |  SELECT e.vec_id, c.cell,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, ${cents.head.length}),
       |        i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))),
       |      (s0, x) -> s0 + x) AS d
       |  FROM e, cents c
       |), cellranks AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rk
       |  FROM dists
       |), probed_raw AS (
       |  SELECT vec_id, cell FROM cellranks WHERE rk <= $nprobe
       |), csz AS (
       |  SELECT cell, count(*) AS cn FROM probed_raw GROUP BY cell
       |), probed AS (
       |  SELECT vec_id, cell,
       |    ${Text.md5iDuck("CAST(vec_id AS VARCHAR)")}
       |      % ((cn + ${MaxCell - 1}) // $MaxCell) AS salt
       |  FROM probed_raw JOIN csz USING (cell)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probed a JOIN probed b USING (cell, salt)
       |  WHERE a.vec_id < b.vec_id
       |), n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
       |  FROM e
       |), p AS (
       |  SELECT vec_id, v, nrm, list_min(v) AS mn,
       |    (list_max(v) - list_min(v)) / 255.0 AS sc
       |  FROM n
       |), q8 AS (
       |  SELECT vec_id, v, nrm, mn, sc,
       |    list_transform(v, x -> CASE WHEN sc = 0 THEN 0
       |      ELSE CAST(floor((x - mn) / sc + 0.5) AS BIGINT) END) AS codes
       |  FROM p
       |), qc AS (
       |  SELECT vec_id, nrm, mn, sc, codes,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
       |      (a, b) -> a + b) AS csum
       |  FROM q8
       |), approx AS (
       |  SELECT vec_a, vec_b,
       |    round((${Vector.Dim} * a.mn * b.mn + a.mn * b.sc * b.csum
       |      + b.mn * a.sc * a.csum
       |      + a.sc * b.sc * list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(generate_series(1, ${Vector.Dim}),
       |            i -> a.codes[i] * b.codes[i])), (s0, x) -> s0 + x))
       |      / (a.nrm * b.nrm), 6) AS approx_cos
       |  FROM cand
       |  JOIN qc a ON a.vec_id = vec_a
       |  JOIN qc b ON b.vec_id = vec_b
       |), surv AS (
       |  SELECT vec_a, vec_b, approx_cos FROM approx
       |  WHERE approx_cos >= $cutoff
       |), exact AS (
       |  SELECT vec_a, vec_b,
       |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(generate_series(1, len(na.v)),
       |          i -> na.v[i] * nb.v[i])), (s0, x) -> s0 + x)
       |      / (na.nrm * nb.nrm), 6) AS cosine,
       |    approx_cos
       |  FROM surv
       |  JOIN n na ON na.vec_id = vec_a
       |  JOIN n nb ON nb.vec_id = vec_b
       |)
       |SELECT vec_a, vec_b, cosine, approx_cos FROM exact
       |WHERE cosine >= $minCosine
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Recursive-CTE prefix shared by the resolve/curate oracles: the bands
    * CTEs + candidate pairs + undirected reachability walk. */
  private def duckWalkCte: String =
    s"""${duckBandsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")}, $duckCandCte, wund AS (
       |  SELECT doc_a AS a, doc_b AS b FROM cand
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM cand
       |), walk(doc, reach) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM wund) s0
       |  UNION
       |  SELECT u.b, w.reach FROM walk w JOIN wund u ON u.a = w.doc
       |)""".stripMargin

  /** Unrolled HashMin + pointer-jumping rounds for the DuckDB side of
    * component resolution over an `und(a, b)` undirected edge CTE seeded
    * by `l0(doc, lab)` (lab = min of self and direct neighbors). Each
    * round r takes, per doc, the min of its own label, its neighbors'
    * labels, and its label's label (the pointer jump — label values are
    * always endpoint doc ids, so the jump join is total). Linear in
    * |edges| per round vs the recursive closure's Σ|comp|³ join; n
    * jumped rounds converge for any component diameter ≤ 2^n, and an
    * insufficient unroll CANNOT pass silently — the gate hash-compares
    * against Spark's converged labels. Every round is MATERIALIZED:
    * DuckDB inlines plain CTEs per reference, and 3 references per
    * round would expand to 3^n copies of the whole upstream pipeline
    * (measured: "too many open files" before round 1 finished). */
  private[ops] def duckHashMinRounds(n: Int): String =
    (1 to n).map { r =>
      val p = s"l${r - 1}"
      s"""l$r AS MATERIALIZED (
         |  SELECT l.doc, least(min(l.lab), min(nl.lab), min(jl.lab)) AS lab
         |  FROM $p l
         |  JOIN und u ON u.a = l.doc
         |  JOIN $p nl ON nl.doc = u.b
         |  JOIN $p jl ON jl.doc = l.lab
         |  GROUP BY l.doc
         |)""".stripMargin
    }.mkString(", ")

  /** Corpus-wide repeated-segment scrub (the CCNet/RefinedWeb line-dedup
    * layer, adapted to this corpus's newline-free documents): split every
    * document into consecutive `segTokens`-token segments, count identical
    * segments across the WHOLE corpus, and delete every segment occurring
    * `minRepeat`+ times — boilerplate (headers, nav bars, license
    * blurbs) repeats verbatim across documents while real prose does not.
    * Doc-level dedup cannot catch this: two mostly-distinct pages sharing
    * a boilerplate footer are not near-dups, but the footer still
    * poisons training data.
    *
    * Scale shape: segment construction is ROW-LOCAL (one `transform` over
    * the token array — no explode until the count); the corpus-wide count
    * is one map-side-combinable hash agg whose shuffle carries (segment,
    * partial count), not documents; the duplicated-segment list joins
    * back by segment key — left to the size-based planner, because its
    * size is corpus-dependent (boilerplate lists are typically tiny and
    * broadcast, but an adversarial corpus can make it |segments|/minRepeat,
    * which must shuffle-join, and forcing broadcast here would be the
    * simhashBuckets bug in reverse). Reassembly groups by doc — one
    * linear shuffle, collect bounded by document length. Every stage is
    * linear in corpus size; nothing is pairwise. */
  private[graft] def scrubRepeatedSegments(
      docs: org.apache.spark.sql.DataFrame,
      segTokens: Int = 3,
      minRepeat: Long = 3): org.apache.spark.sql.DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    require(minRepeat >= 2,
      s"minRepeat < 2 would delete every segment; got $minRepeat")
    val toks = split(col("text"), " ")
    // ceil(len/W) segments per doc, built row-local: segment i = tokens
    // [i*W+1, i*W+W] joined by single spaces (the corpus separator, so
    // reassembly is byte-identical for untouched docs)
    val nseg = greatest(ceil(size(toks) / lit(segTokens.toDouble)), lit(1))
      .cast(IntegerType)
    val segs = transform(sequence(lit(0), nseg - 1),
      i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " "))
    val exploded = docs
      .select(col("doc_id"), posexplode(segs).as(Seq("idx", "seg")))
    val dupSegs = exploded.groupBy("seg")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minRepeat)
      .select(col("seg"), lit(true).as("is_dup"))
    exploded.join(dupSegs, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(
        // collect_list skips nulls → only kept segments survive; sort by
        // the leading struct field restores document order
        array_join(transform(
          array_sort(collect_list(when(col("is_dup").isNull,
            struct(col("idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"),
        count(lit(1)).cast(LongType).as("n_segments"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"))
      .select("doc_id", "clean_text", "n_segments", "n_dropped")
  }

  /** Quality-representative cluster resolution: the keep-list variant
    * real curation runs want — per near-dup cluster keep the BEST member
    * (here: longest content, ties to lowest doc_id), not the arbitrary
    * lowest-id member [[resolveClusters]] keeps. One extra map-side-
    * combinable agg over the cluster-membership table (cluster-sized,
    * tiny relative to the corpus): `max(struct(score, -id))` is the
    * order-independent argmax, so no window and no second pass. */
  private[graft] def clusterRepresentatives(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val members = resolveClusters(s, d).select("doc_id", "keep_id")
    val docs = Tables.table(s, d, "documents").select("doc_id", "n_chars")
    members.join(docs, "doc_id")
      .groupBy(col("keep_id").as("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("b"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("best_id"),
        col("b.n_chars").as("best_chars"), col("cluster_size"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------ exact dedup
    // hash-groupBy on the FULL-CONTENT md5 digest; survivor = min doc_id
    // (deterministic, unlike dropDuplicates' arbitrary winner). The key is
    // a 32-char digest, not the document itself, so the one shuffle carries
    // 32 bytes + two longs per group at any document size — the 100 TB
    // shape for exact dedup. (An earlier revision keyed on a 50-char text
    // prefix, which is normalized-key dedup, not exact dedup: two docs
    // differing only after char 50 were merged.) Caveat: md5 is
    // collision-broken, so "exact" is exact-up-to-digest-collision — two
    // CRAFTED distinct documents with equal digests would merge silently;
    // for adversarial inputs swap in sha2(text, 256) (also in DuckDB) at
    // 2× key width.
    QueryDef("q_dedup_exact",
      (s, d) => Tables.table(s, d, "documents")
        .groupBy(md5(col("text").cast(BinaryType)).as("content_key"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
        .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, CAST(count(1) AS BIGINT) AS n_dups
             |FROM documents GROUP BY md5(text)
             |ORDER BY keep_id""".stripMargin)),

    // ------------------------------------------------ normalized-key dedup
    // the prefix-key variant kept as its own operator: dedup on a
    // normalization of the content (here: first 50 chars, lowercased,
    // whitespace-squeezed) — the "fuzzy exact" gate real curation
    // pipelines run BEFORE MinHash. Same one-shuffle hash-groupBy shape.
    // The whitespace set is an EXPLICIT char class, not `\s`: Java's `\s`
    // matches vertical tab (U+000B) while DuckDB's RE2 `\s` does not, so
    // a doc with a VT in its first 50 chars would normalize differently
    // per engine — identical-by-construction beats passes-on-this-corpus.
    QueryDef("q_dedup_normalized",
      (s, d) => Tables.table(s, d, "documents")
        .groupBy(lower(regexp_replace(substring(col("text"), 1, 50),
          "[ \\t\\n\\r\\f\\x0b]+", " ")).as("content_key"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
        .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, CAST(count(1) AS BIGINT) AS n_dups
             |FROM documents
             |GROUP BY lower(regexp_replace(substr(text, 1, 50), '[ \t\n\r\f\x0b]+', ' ', 'g'))
             |ORDER BY keep_id""".stripMargin)),

    // ------------------------------------------------ MinHash sketch agg
    // custom typed Aggregator (graft.functions.MinHashSketch): per-source
    // signature = element-wise min union of member sketches. Mergeable →
    // partial aggregation ships K longs per group to the shuffle.
    QueryDef("q_minhash_sketch",
      (s, d) => {
        val union = graft.functions.MinHashSketch.udaf(8)
        val docs = Tables.table(s, d, "documents").select("doc_id", "source")
        val sketches = sparkMinhash(s, d)
          .join(docs, "doc_id")
          .groupBy("source")
          .agg(union(col("mh")).as("sketch"))
        val cols = (0 until 8).map(i =>
          element_at(col("sketch"), i + 1).as(s"mh_$i"))
        sketches.select(col("source") +: cols: _*).orderBy("source")
      },
      Some {
        val mins = (0 until 8).map(i => s"min(mh[${i + 1}]) AS mh_$i").mkString(", ")
        s"""$duckBandsCte
           |SELECT source, $mins
           |FROM mh_t JOIN documents USING (doc_id)
           |GROUP BY source ORDER BY source""".stripMargin
      }),

    // ------------------------------------------------ source overlap
    // cross-source duplication report from the per-source sketches: the
    // standard MinHash Jaccard estimator (fraction of agreeing sketch
    // positions) for every source pair — the "how duplicated are my
    // sources against each other" number a curation run checks BEFORE
    // mixing corpora. One corpus pass builds the registry-cached
    // sketches (K longs per source via the mergeable union aggregate);
    // the pair matrix is a #sources² self-join of that tiny table —
    // driver-trivial at any corpus size. Integer-exact output
    // (matches·1e6 DIV K), so both engines hash-match by construction.
    QueryDef("q_source_overlap",
      (s, d) => {
        val union = graft.functions.MinHashSketch.udaf(8)
        val docs = Tables.table(s, d, "documents").select("doc_id", "source")
        val sketches = graft.CacheRegistry.getOrPersist("source_sketches", d,
          sparkMinhash(s, d)
            .join(docs, "doc_id")
            .groupBy("source")
            .agg(union(col("mh")).as("sketch")))
        val a = sketches.select(col("source").as("source_a"), col("sketch").as("sa"))
        val b = sketches.select(col("source").as("source_b"), col("sketch").as("sb"))
        val matches = (0 until 8).map(i =>
          when(element_at(col("sa"), i + 1) === element_at(col("sb"), i + 1), 1L)
            .otherwise(0L)).reduce(_ + _)
        a.join(b, col("source_a") < col("source_b"))
          .withColumn("n_match", matches)
          .withColumn("jaccard_e6", expr("n_match * 1000000 DIV 8"))
          .select("source_a", "source_b", "n_match", "jaccard_e6")
          .orderBy("source_a", "source_b")
      },
      Some {
        val mins = (0 until 8).map(i => s"min(mh[${i + 1}]) AS mh_$i").mkString(", ")
        val matchSum = (0 until 8)
          .map(i => s"(CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""$duckBandsCte, sk AS (
           |  SELECT source, $mins
           |  FROM mh_t JOIN documents USING (doc_id)
           |  GROUP BY source
           |)
           |SELECT a.source AS source_a, b.source AS source_b,
           |  CAST($matchSum AS BIGINT) AS n_match,
           |  CAST(($matchSum) * 1000000 // 8 AS BIGINT) AS jaccard_e6
           |FROM sk a JOIN sk b ON a.source < b.source
           |ORDER BY source_a, source_b""".stripMargin
      }),

    // ------------------------------------------------ MinHash + LSH
    // candidate near-dup pairs sharing ≥1 of 4 LSH bands over 8 minhashes
    QueryDef("q_dedup_minhash",
      (s, d) => sparkCandidates(s, d).orderBy("doc_a", "doc_b"),
      Some(s"$duckCandidates\nORDER BY doc_a, doc_b")),

    // --------------------------------------- source×source dup matrix
    // WHICH sources duplicate each other — the curation diagnostic that
    // turns the near-dup pair set into an actionable report ("source C
    // is 80% copies of source A; drop C first"). Rides the SAME guarded
    // LSH candidate machinery (registry-cached bands, sub-salted hot
    // buckets) and reduces pairs to the |sources|²-bounded matrix with
    // one doc-keyed join per pair side; the (x, y) cell canonicalizes
    // by least/greatest so the matrix is triangular regardless of pair
    // orientation. Same DuckDB candidate CTEs as q_dedup_minhash: the
    // matrix can never disagree with the pair set it summarizes.
    QueryDef("q_dedup_source_matrix",
      (s, d) => {
        val src = Tables.table(s, d, "documents")
          .select(col("doc_id"), col("source"))
        sparkCandidates(s, d)
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("src_a")), Seq("doc_a"))
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("src_b")), Seq("doc_b"))
          .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
            greatest(col("src_a"), col("src_b")).as("source_y"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_x", "source_y")
      },
      Some(s"""$duckBandsCte, $duckCandCte
              |SELECT least(da.source, db.source) AS source_x,
              |  greatest(da.source, db.source) AS source_y,
              |  CAST(count(1) AS BIGINT) AS n_pairs
              |FROM cand
              |JOIN documents da ON cand.doc_a = da.doc_id
              |JOIN documents db ON cand.doc_b = db.doc_id
              |GROUP BY 1, 2
              |ORDER BY source_x, source_y""".stripMargin)),

    // ------------------------------------------------ incremental dedup
    // the PRODUCTION dedup mode: a newly-ingested batch is deduped
    // against the standing corpus, without ever re-touching old×old.
    // The scale insight: the per-new-doc decision ("is this a dup of
    // anything old?") never needs the old PAIRS — only old MEMBERSHIP.
    // Exact layer = digest semi-lookup (32 bytes/old doc); near layer =
    // the new docs' LSH bands SEMI-joined against the old corpus's
    // distinct (band_idx, band_val) bucket set. No pair enumeration ⇒
    // no quadratic hot-bucket risk ⇒ no salting guard needed on this
    // path, O(new + old) by construction — and both old-side sets
    // (digests, buckets) are exactly what a warehouse would materialize
    // once as a dedup registry and reuse for every nightly batch.
    // "New batch" here is the deterministic doc_id % 7 slice so both
    // engines carve identical batches; band machinery (and its cache)
    // is shared with q_dedup_minhash via the registry.
    QueryDef("q_dedup_incremental",
      (s, d) => incrementalVerdicts(s, d).orderBy("doc_id"),
      Some(s"""$duckBandsCte,
              |newdocs AS (
              |  SELECT doc_id, md5(text) AS dg FROM documents
              |  WHERE doc_id % 7 = 0
              |), olddg AS (
              |  SELECT DISTINCT md5(text) AS dg FROM documents
              |  WHERE doc_id % 7 <> 0
              |), oldbk AS (
              |  SELECT DISTINCT band_idx, band_val FROM bands_raw
              |  WHERE doc_id % 7 <> 0
              |), nb AS (
              |  SELECT r.doc_id, count(*) AS n_bands_old
              |  FROM bands_raw r JOIN oldbk USING (band_idx, band_val)
              |  WHERE r.doc_id % 7 = 0 GROUP BY r.doc_id
              |)
              |SELECT n.doc_id,
              |  (n.dg IN (SELECT dg FROM olddg)) AS exact_dup,
              |  CAST(coalesce(nb.n_bands_old, 0) AS BIGINT) AS n_bands_old,
              |  CASE WHEN n.dg IN (SELECT dg FROM olddg) THEN 'drop_exact'
              |       WHEN coalesce(nb.n_bands_old, 0) >= 1 THEN 'drop_near'
              |       ELSE 'keep' END AS verdict
              |FROM newdocs n LEFT JOIN nb USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ cluster resolution
    // candidate pairs → a KEEP-LIST: connected components over the LSH
    // candidate graph via min-label propagation with pointer jumping,
    // survivor = min doc_id per component. This is the step that turns
    // "near-dup pairs" into a deduplicated corpus. Scale shape:
    // O(log component-diameter) BSP rounds (path doubling), each a
    // bounded join + min-agg, partition count derived from the measured
    // candidate volume (see [[connectedComponents]]). The DuckDB oracle
    // replays reachability exactly with a recursive CTE.
    QueryDef("q_dedup_resolve",
      (s, d) => resolveClusters(s, d).orderBy("doc_id"),
      Some(s"""$duckWalkCte
              |SELECT doc AS doc_id, min(reach) AS keep_id,
              |  doc = min(reach) AS is_survivor
              |FROM walk GROUP BY doc ORDER BY doc_id""".stripMargin)),

    // --------------------------------- collapsed cluster resolution
    // [[resolveClustersCollapsed]]: the LINEAR resolve for clone-heavy
    // corpora — exact-collapse byte-identical texts to one
    // representative (J=1 pairs by definition), band + propagate over
    // representatives only, fan labels back out. The 100× replica
    // clones every doc 100×, exploding the uncollapsed candidate stage
    // ×10⁴ (measured 218× wall on 100× data); the collapsed form's
    // quadratic stage sees only the distinct-text core. The oracle
    // replays collapse, REP-restricted banding (salt re-derived over
    // rep bucket sizes), closure over the rep graph (distinct-text-
    // sized, so the recursive walk stays feasible at every gate
    // scale), and the same fan-out.
    QueryDef("q_dedup_resolve_collapsed",
      (s, d) => resolveClustersCollapsed(s, d).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE docs_sig AS (
              |  SELECT doc_id, md5(text) AS dg FROM documents
              |), reps AS (
              |  SELECT dg, min(doc_id) AS rep, count(1) AS gn
              |  FROM docs_sig GROUP BY dg
              |), doc_rep AS (
              |  SELECT s.doc_id, r.rep, r.gn FROM docs_sig s
              |  JOIN reps r USING (dg)
              |), tk_t AS (
              |  SELECT doc_id, string_split(text,' ') AS tk FROM documents
              |  WHERE doc_id IN (SELECT rep FROM reps)
              |), sh_t AS (
              |  SELECT doc_id, $shinglesDuck AS sh FROM tk_t
              |), hs_t AS (
              |  SELECT doc_id, $hashesDuck AS hs FROM sh_t
              |), mh_t AS (
              |  SELECT doc_id, $minhashDuck AS mh FROM hs_t
              |), bands_raw AS (
              |  SELECT doc_id, band_idx,
              |    mh[2*band_idx + 1] * $P + mh[2*band_idx + 2] AS band_val
              |  FROM mh_t,
              |    (SELECT unnest(generate_series(0, ${Bands - 1})) AS band_idx)
              |), bsz AS (
              |  SELECT band_idx, band_val, count(*) AS bn
              |  FROM bands_raw GROUP BY band_idx, band_val
              |), bands AS (
              |  SELECT doc_id, band_idx, band_val,
              |    ${Text.md5iDuck("CAST(doc_id AS VARCHAR)")}
              |      % ((bn + ${MaxBand - 1}) // $MaxBand) AS salt
              |  FROM bands_raw JOIN bsz USING (band_idx, band_val)
              |), cand AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM bands a JOIN bands b USING (band_idx, band_val, salt)
              |  WHERE a.doc_id < b.doc_id
              |), und AS (
              |  SELECT doc_a AS a, doc_b AS b FROM cand
              |  UNION ALL
              |  SELECT doc_b, doc_a FROM cand
              |), walk(doc, reach) AS (
              |  SELECT a, a FROM (SELECT DISTINCT a FROM und) s0
              |  UNION
              |  SELECT u.b, w.reach FROM walk w JOIN und u ON u.a = w.doc
              |), labels AS (
              |  SELECT doc AS rep, min(reach) AS keep FROM walk GROUP BY doc
              |)
              |SELECT d.doc_id,
              |  coalesce(l.keep, d.rep) AS keep_id,
              |  d.doc_id = coalesce(l.keep, d.rep) AS is_survivor
              |FROM doc_rep d LEFT JOIN labels l ON l.rep = d.rep
              |WHERE d.gn >= 2 OR l.rep IS NOT NULL
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------- collapsed simhash resolution
    // [[simhashResolveCollapsed]]: the linear-output mode for the
    // Hamming family — exact-collapse, block-join REPRESENTATIVE
    // signatures, keep Hamming ≤ 3 VERIFIED edges, components,
    // fan-out. The pair listing (150× wall on the 100× replica —
    // clones share identical signatures, output ×10⁴) never
    // materializes as output. Oracle replays collapse, rep-restricted
    // block salting, the verified-edge graph, recursive reachability
    // over the rep graph (distinct-text-sized), and the fan-out.
    QueryDef("q_dedup_simhash_resolve",
      (s, d) => simhashResolveCollapsed(s, d).orderBy("doc_id"),
      Some {
        val h2 = "CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT)"
        val bitSums = simhash64BitSums("//").mkString(", ")
        s"""WITH RECURSIVE docs_sig AS (
           |  SELECT doc_id, md5(text) AS dg FROM documents
           |), reps AS (
           |  SELECT dg, min(doc_id) AS rep, count(1) AS gn
           |  FROM docs_sig GROUP BY dg
           |), doc_rep AS (
           |  SELECT s.doc_id, r.rep, r.gn FROM docs_sig s
           |  JOIN reps r USING (dg)
           |), th AS (
           |  SELECT doc_id, ${Text.md5iDuck("token")} AS h1, $h2 AS h2
           |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token
           |        FROM documents
           |        WHERE doc_id IN (SELECT rep FROM reps))
           |), bits AS (
           |  SELECT doc_id, $bitSums FROM th GROUP BY doc_id
           |), sigs AS (
           |  SELECT doc_id, ${simhash64Blocks(0)} AS b0, ${simhash64Blocks(1)} AS b1,
           |    ${simhash64Blocks(2)} AS b2, ${simhash64Blocks(3)} AS b3
           |  FROM bits
           |), blocks_raw AS (
           |  SELECT doc_id, block_idx,
           |    CASE block_idx WHEN 0 THEN b0 WHEN 1 THEN b1
           |      WHEN 2 THEN b2 ELSE b3 END AS block_val
           |  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS block_idx)
           |), bsz AS (
           |  SELECT block_idx, block_val, count(*) AS bn
           |  FROM blocks_raw GROUP BY block_idx, block_val
           |), blocks AS (
           |  SELECT doc_id, block_idx, block_val,
           |    ${Text.md5iDuck("CAST(doc_id AS VARCHAR)")}
           |      % ((bn + ${MaxBand - 1}) // $MaxBand) AS salt
           |  FROM blocks_raw JOIN bsz USING (block_idx, block_val)
           |), cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM blocks a JOIN blocks b USING (block_idx, block_val, salt)
           |  WHERE a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a, doc_b FROM cand
           |  JOIN sigs x ON x.doc_id = doc_a
           |  JOIN sigs y ON y.doc_id = doc_b
           |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
           |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 3
           |), und AS (
           |  SELECT doc_a AS a, doc_b AS b FROM edges
           |  UNION ALL
           |  SELECT doc_b, doc_a FROM edges
           |), walk(doc, reach) AS (
           |  SELECT a, a FROM (SELECT DISTINCT a FROM und) s0
           |  UNION
           |  SELECT u.b, w.reach FROM walk w JOIN und u ON u.a = w.doc
           |), labels AS (
           |  SELECT doc AS rep, min(reach) AS keep FROM walk GROUP BY doc
           |)
           |SELECT d.doc_id,
           |  coalesce(l.keep, d.rep) AS keep_id,
           |  d.doc_id = coalesce(l.keep, d.rep) AS is_survivor
           |FROM doc_rep d LEFT JOIN labels l ON l.rep = d.rep
           |WHERE d.gn >= 2 OR l.rep IS NOT NULL
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------ cluster statistics
    // the dedup REPORT: how big are the near-dup clusters? (cluster_size,
    // n_clusters) histogram over the resolved components — the number a
    // curation run publishes ("12k pairs, 4k clusters, largest 40"). Two
    // tiny aggregations over the cluster-sized keep-list; the propagation
    // itself is shared via the registry with resolve/curate.
    QueryDef("q_dedup_cluster_stats",
      (s, d) => resolveClusters(s, d)
        .groupBy("keep_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
      Some(s"""$duckWalkCte, comp AS (
              |  SELECT doc, min(reach) AS keep FROM walk GROUP BY doc
              |), sizes AS (
              |  SELECT keep, CAST(count(1) AS BIGINT) AS cluster_size
              |  FROM comp GROUP BY keep
              |)
              |SELECT cluster_size, CAST(count(1) AS BIGINT) AS n_clusters
              |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // ------------------------------------------------ corpus curation
    // the END-TO-END training-data manifest, refreshed to the modern
    // chain (r15 verdict task 6): gopher gate → exact dedup → minhash
    // dedup → semantic dedup → quality select → deterministic shard
    // shuffle, one audit row per stage. The twin splices the LSH walk
    // fragment AND the full semantic label chain next to per-stage
    // mirror CTEs — every docs_in/docs_out/tokens_out/units cell
    // re-checks the whole upstream composition in both engines.
    QueryDef("q_pipeline_curate",
      (s, d) => curatePipeline(s, d),
      Some(s"""$duckWalkCte, ${graft.ops.Vector.duckSemanticLabCtes
                .stripPrefix("WITH ")},
              |pg AS (
              |  SELECT doc_id, text, md5(text) AS dg,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
              |    len(string_split(text, ' '))::DOUBLE AS nw,
              |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
              |      / len(string_split(text, ' ')) AS mean_len,
              |    ((length(text) - length(replace(text, '#', '')))
              |      + (length(text) - length(replace(text, '...', ''))) / 3
              |     )::DOUBLE / len(string_split(text, ' ')) AS sym_ratio,
              |    len(list_filter(string_split(text, ' '),
              |        w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
              |      / len(string_split(text, ' ')) AS alpha_ratio,
              |    len(list_intersect(list_distinct(string_split(text, ' ')),
              |      ['the','a','an','and','or','of','to','in','is','it']))
              |      AS stop_hits,
              |    CAST(floor((len(list_distinct(string_split(text,' ')))::DOUBLE
              |        / len(string_split(text,' ')) * 0.3
              |      + least(len(string_split(text,' ')) / 100.0, 1.0) * 0.4
              |      + least((length(text) - (len(string_split(text,' ')) - 1))
              |          / len(string_split(text,' '))::DOUBLE / 10.0, 1.0) * 0.3)
              |      * 1000000.0) AS BIGINT) AS quality_e6
              |  FROM documents
              |), ps1 AS (
              |  SELECT * FROM pg
              |  WHERE nw >= 50 AND nw <= 100000
              |    AND mean_len >= 3 AND mean_len <= 10
              |    AND sym_ratio <= 0.1 AND alpha_ratio >= 0.8
              |    AND stop_hits >= 2
              |), pm2 AS (
              |  SELECT dg, min(doc_id) AS kmin2, count(1) AS gn
              |  FROM ps1 GROUP BY dg
              |), ps2 AS (
              |  SELECT s.* FROM ps1 s JOIN pm2 m ON s.dg = m.dg
              |  WHERE s.doc_id = m.kmin2
              |), pcomp AS (
              |  SELECT doc, min(reach) AS keep FROM walk GROUP BY doc
              |), pl3 AS (
              |  SELECT s.*, c.keep FROM ps2 s
              |  LEFT JOIN pcomp c ON c.doc = s.doc_id
              |), pm3 AS (
              |  SELECT keep, min(doc_id) AS kmin3, count(1) AS cn
              |  FROM pl3 WHERE keep IS NOT NULL GROUP BY keep
              |), ps3 AS (
              |  SELECT l.* FROM pl3 l LEFT JOIN pm3 m ON l.keep = m.keep
              |  WHERE l.keep IS NULL OR l.doc_id = m.kmin3
              |), pl4 AS (
              |  SELECT s.*, lb.cluster FROM ps3 s
              |  LEFT JOIN lab lb ON lb.vec_id = s.doc_id
              |), pm4 AS (
              |  SELECT cluster, min(doc_id) AS kmin4
              |  FROM pl4 WHERE cluster IS NOT NULL GROUP BY cluster
              |), ps4 AS (
              |  SELECT l.* FROM pl4 l LEFT JOIN pm4 m ON l.cluster = m.cluster
              |  WHERE l.cluster IS NULL OR l.doc_id = m.kmin4
              |), ps5 AS (
              |  SELECT * FROM ps4 WHERE quality_e6 >= 480000
              |), psh AS (
              |  SELECT doc_id, n_words,
              |    (${graft.ops.Text.md5iDuck(
                     "'ep42:' || CAST(doc_id AS VARCHAR)")}
              |      % 1000000000) % 8 AS shard
              |  FROM ps5
              |), aud AS (
              |  SELECT 0 AS o, 'corpus' AS stage,
              |    (SELECT CAST(count(1) AS BIGINT) FROM pg) AS docs_out,
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM pg)
              |      AS tokens_out,
              |    CAST(0 AS BIGINT) AS units
              |  UNION ALL SELECT 1, 'gopher_gate',
              |    (SELECT CAST(count(1) AS BIGINT) FROM ps1),
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM ps1),
              |    CAST(0 AS BIGINT)
              |  UNION ALL SELECT 2, 'exact_dedup',
              |    (SELECT CAST(count(1) AS BIGINT) FROM ps2),
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM ps2),
              |    (SELECT CAST(count(1) AS BIGINT) FROM pm2 WHERE gn >= 2)
              |  UNION ALL SELECT 3, 'minhash_dedup',
              |    (SELECT CAST(count(1) AS BIGINT) FROM ps3),
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM ps3),
              |    (SELECT CAST(count(1) AS BIGINT) FROM pm3 WHERE cn >= 2)
              |  UNION ALL SELECT 4, 'semantic_dedup',
              |    (SELECT CAST(count(1) AS BIGINT) FROM ps4),
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM ps4),
              |    (SELECT CAST(count(1) AS BIGINT) FROM pl4
              |     WHERE cluster IS NOT NULL)
              |  UNION ALL SELECT 5, 'quality_select',
              |    (SELECT CAST(count(1) AS BIGINT) FROM ps5),
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM ps5),
              |    (SELECT CAST(coalesce(min(quality_e6), 0) AS BIGINT) FROM ps5)
              |  UNION ALL SELECT 6, 'shard_shuffle',
              |    (SELECT CAST(count(1) AS BIGINT) FROM psh),
              |    (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM psh),
              |    (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM psh)
              |)
              |SELECT CAST(o AS BIGINT) AS stage_ord, stage,
              |  CAST(coalesce(lag(docs_out) OVER (ORDER BY o), docs_out)
              |    AS BIGINT) AS docs_in,
              |  docs_out, tokens_out, units
              |FROM aud ORDER BY stage_ord""".stripMargin)),

    // ------------------------------------------------ decontamination
    // benchmark-leak check for a training corpus: flag every train doc
    // (doc_id ≥ 10) sharing at least one 3-shingle with the held-out set
    // (doc_id < 10), with the shared-shingle count as evidence. The
    // 100 TB shape: the held-out shingle set is SMALL → broadcast; the
    // training corpus streams through once (shingle explode → broadcast
    // semi-join → per-doc count), no corpus-sized shuffle of text.
    QueryDef("q_dedup_decontaminate",
      (s, d) => {
        graft.functions.Shingles3.register(s)
        val ex = Tables.table(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"), explode(expr("shingles3(tk)")).as("shingle"))
        val heldOut = ex.filter(col("doc_id") < 10)
          .select("shingle").distinct()
        ex.filter(col("doc_id") >= 10)
          .join(broadcast(heldOut), "shingle")
          .groupBy("doc_id")
          .agg(countDistinct("shingle").as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk_t AS (
              |  SELECT doc_id, string_split(text,' ') AS tk FROM documents
              |), sh_t AS (
              |  SELECT doc_id, $shinglesDuck AS sh FROM tk_t
              |), ex AS (
              |  SELECT doc_id, unnest(sh) AS shingle FROM sh_t
              |), held_out AS (
              |  SELECT DISTINCT shingle FROM ex WHERE doc_id < 10
              |)
              |SELECT e.doc_id,
              |  CAST(count(DISTINCT e.shingle) AS BIGINT) AS n_shared
              |FROM ex e JOIN held_out USING (shingle)
              |WHERE e.doc_id >= 10
              |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin)),

    // ------------------------------------------------ n-gram Jaccard
    // exact 3-shingle Jaccard, verified ONLY on the LSH candidates
    QueryDef("q_dedup_ngram",
      (s, d) => {
        val sh = sparkShingleFrame(s, d)
        sparkCandidates(s, d)
          .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType)
              / size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
          .filter(col("jaccard") >= 0.3)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$duckBandsCte, $duckCandCte
              |SELECT doc_a, doc_b,
              |  round(len(list_intersect(x.sh, y.sh))::DOUBLE
              |        / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
              |FROM cand
              |JOIN sh_t x ON x.doc_id = doc_a
              |JOIN sh_t y ON y.doc_id = doc_b
              |WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
              |      / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------ shingle containment
    // ASYMMETRIC near-dup scoring on the guarded candidates:
    // containment(a in b) = |sh(a) ∩ sh(b)| / |sh(a)| — the measure that
    // catches a short doc quoted inside a long one, which symmetric
    // Jaccard dilutes below any threshold (containment ≥ Jaccard always,
    // since |a| ≤ |a ∪ b|). Both directions reported per pair; same
    // guarded-candidate discipline as q_dedup_ngram (the exact measure
    // never runs corpus²). Candidates are MinHash/Jaccard-biased, so
    // extreme small-in-large pairs may not bucket together — a
    // containment-recall pipeline would band the shorter side's
    // shingles; this key is the exact scoring stage.
    QueryDef("q_dedup_containment",
      (s, d) => {
        val sh = sparkShingleFrame(s, d)
        sparkCandidates(s, d)
          .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .withColumn("inter",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
          .select(col("doc_a"), col("doc_b"),
            when(size(col("sh_a")) === 0, lit(0.0))
              .otherwise(round(col("inter") / size(col("sh_a")), 6))
              .as("containment_a"),
            when(size(col("sh_b")) === 0, lit(0.0))
              .otherwise(round(col("inter") / size(col("sh_b")), 6))
              .as("containment_b"))
          .filter(greatest(col("containment_a"), col("containment_b")) >= 0.4)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$duckBandsCte, $duckCandCte, scored AS (
              |  SELECT doc_a, doc_b,
              |    CASE WHEN len(x.sh) = 0 THEN 0.0 ELSE
              |      round(len(list_intersect(x.sh, y.sh))::DOUBLE / len(x.sh), 6)
              |    END AS containment_a,
              |    CASE WHEN len(y.sh) = 0 THEN 0.0 ELSE
              |      round(len(list_intersect(x.sh, y.sh))::DOUBLE / len(y.sh), 6)
              |    END AS containment_b
              |  FROM cand
              |  JOIN sh_t x ON x.doc_id = doc_a
              |  JOIN sh_t y ON y.doc_id = doc_b
              |)
              |SELECT doc_a, doc_b, containment_a, containment_b
              |FROM scored
              |WHERE greatest(containment_a, containment_b) >= 0.4
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------ edit distance
    // levenshtein verification on the LSH candidates (like q_dedup_ngram:
    // the expensive exact measure runs ONLY on bucketed candidates).
    // Bounded to 40-char prefixes to cap the O(n·m) DP per pair.
    QueryDef("q_dedup_levenshtein",
      (s, d) => {
        val pfx = Tables.table(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("pfx"))
        sparkCandidates(s, d)
          .join(pfx.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), "doc_a")
          .join(pfx.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("pa"), col("pb")).cast(LongType).as("edit_dist"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$duckBandsCte, $duckCandCte
              |SELECT doc_a, doc_b,
              |  CAST(levenshtein(substr(x.text, 1, 40), substr(y.text, 1, 40)) AS BIGINT) AS edit_dist
              |FROM cand
              |JOIN documents x ON x.doc_id = doc_a
              |JOIN documents y ON y.doc_id = doc_b
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // --------------------------------- prefix-filtered EXACT Jaccard
    // the COMPLETE similarity self-join (PPJoin-family prefix filter):
    // unlike the MinHash-LSH keys (probabilistic recall — a pair CAN
    // miss every band), this finds EVERY pair with token-set Jaccard ≥
    // 0.5, without the corpus² join. Per doc, sort its distinct
    // space-tokens rarest-first (global df, ties by token text — a
    // total order needing NO global rank assignment, so no driver-side
    // vocabulary) and keep the first n − ⌈t·n⌉ + 1: if J(x,y) ≥ t the
    // prefixes MUST share a token (pigeonhole on the ≥⌈t·n⌉ shared
    // tokens), so the prefix-token self-join generates a candidate
    // superset — and because prefixes hold each doc's RAREST tokens,
    // hot tokens are structurally excluded from pair generation (the
    // exact-completeness counterpart of the LSH hot-bucket cap).
    // Verify = exact intersection count on candidates; union = na + nb
    // − inter (no arrays shipped). The oracle is the brute any-shared-
    // token join — hash equality proves completeness, not just
    // precision. Sliced to doc_id % 20 (oracle feasibility: the brute
    // twin IS corpus²-shaped; the Spark side is the scale path).
    QueryDef("q_dedup_prefix",
      (s, d) => {
        val tok = Tables.table(s, d, "documents")
          .filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
        prefixJaccardJoin(tok, 0.5).orderBy("doc_a", "doc_b")
      },
      Some("""WITH tok AS (
             |  SELECT DISTINCT doc_id, token FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |    FROM documents WHERE doc_id % 20 = 0)
             |), sizes AS (
             |  SELECT doc_id, count(1) AS n FROM tok GROUP BY 1
             |), pair AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    count(1) AS inter
             |  FROM tok a JOIN tok b
             |    ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT doc_a, doc_b,
             |  round(inter::DOUBLE / (x.n + y.n - inter), 6) AS jaccard
             |FROM pair
             |JOIN sizes x ON x.doc_id = doc_a
             |JOIN sizes y ON y.doc_id = doc_b
             |WHERE inter::DOUBLE / (x.n + y.n - inter) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // --------------------------- prefix join composed with resolution
    // the LINEAR-OUTPUT production mode of the exact similarity join:
    // on a dup-heavy corpus the J≥t pair listing is Ω(#true pairs)
    // (quadratic in clique size — the 10× replica's 10-cliques grew
    // pairs exactly 100×), but what a curation run actually needs is
    // the KEEP-LIST. prefixJaccardResolve composes the exact-collapse
    // pre-pass (identical distinct-token sets → one representative;
    // semantics-exact, see its scaladoc) with the complete
    // prefix-filtered join over representatives and connected
    // components (driver union-find below the measured size threshold,
    // HashMin + pointer jumping above): the pair set exists only as an
    // intermediate edge frame feeding the component propagation —
    // never sorted, hashed, or written as output — and the result is
    // one row per doc touched by ≥1 pair. Same slice as q_dedup_prefix
    // (the brute oracle twin is corpus²-shaped). The
    // oracle replays exact-Jaccard edges, then resolves components with
    // the same HashMin + pointer-jumping scheme UNROLLED as a CTE chain
    // (the q_graph_sssp precedent) instead of q_dedup_resolve's
    // recursive-closure walk: the closure materializes Σ|comp|² rows
    // through a Σ|comp|³ join at the replica's 8.7M-edge clique graph
    // (measured: >25 min in DuckDB), while each HashMin round is one
    // linear |edges| join. 8 jumped rounds converge for any diameter
    // ≤ 2^8; sufficiency is not assumed — hash equality against
    // Spark's CONVERGED labels at all four gate scales fails loudly if
    // the unroll were ever too shallow.
    QueryDef("q_dedup_prefix_resolve",
      (s, d) => {
        val tok = Tables.table(s, d, "documents")
          .filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
        prefixJaccardResolve(tok, 0.5).orderBy("doc_id")
      },
      Some(s"""WITH tok AS MATERIALIZED (
             |  SELECT DISTINCT doc_id, token FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |    FROM documents WHERE doc_id % 20 = 0)
             |), sizes AS MATERIALIZED (
             |  SELECT doc_id, count(1) AS n FROM tok GROUP BY 1
             |), pair AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    count(1) AS inter
             |  FROM tok a JOIN tok b
             |    ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), edges AS (
             |  SELECT doc_a, doc_b FROM pair
             |  JOIN sizes x ON x.doc_id = doc_a
             |  JOIN sizes y ON y.doc_id = doc_b
             |  WHERE inter::DOUBLE / (x.n + y.n - inter) >= 0.5
             |), und AS MATERIALIZED (
             |  SELECT doc_a AS a, doc_b AS b FROM edges
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM edges
             |), l0 AS MATERIALIZED (
             |  SELECT a AS doc, min(least(a, b)) AS lab FROM und GROUP BY a
             |), ${duckHashMinRounds(8)}
             |SELECT doc AS doc_id, lab AS keep_id,
             |  doc = lab AS is_survivor
             |FROM l8 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ SimHash
    // 16-bit frequency-weighted simhash; bucket size surfaces exact-ish
    // duplicates (identical signatures). One explode + one hash-agg.
    QueryDef("q_dedup_simhash",
      (s, d) => {
        val th = Tables.table(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .withColumn("h", expr(Text.md5i("token")))
        val bitSums = (0 until 16).map(i =>
          sum(when(expr(s"(h div ${1L << i}) % 2") === 1, 1).otherwise(-1)).as(s"s_$i"))
        val simhash = (0 until 16).map(i =>
          s"(CASE WHEN s_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")
        // bucket sizes via [[simhashBuckets]] (groupBy + broadcast
        // join-back — no corpus-wide Window task under a degenerate
        // signature); signatures are registry-cached so the per-doc bit
        // aggregation runs once, not once per join branch.
        val sigs = graft.CacheRegistry.getOrPersist("simhash_sigs", d,
          th.groupBy("doc_id")
            .agg(bitSums.head, bitSums.tail: _*)
            .select(col("doc_id"), expr(simhash).as("simhash")))
        simhashBuckets(sigs).orderBy("doc_id")
      },
      Some {
        val bitSums = (0 until 16).map(i =>
          s"sum(CASE WHEN (h // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s_$i")
          .mkString(", ")
        val simhash = (0 until 16).map(i =>
          s"(CASE WHEN s_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")
        s"""WITH th AS (
           |  SELECT doc_id, ${Text.md5iDuck("token")} AS h
           |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token
           |        FROM documents)
           |), bits AS (
           |  SELECT doc_id, $bitSums FROM th GROUP BY doc_id
           |)
           |SELECT doc_id, $simhash AS simhash,
           |  CAST(count(1) OVER (PARTITION BY $simhash) AS BIGINT) AS n_bucket
           |FROM bits ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------- SimHash NEAR-match (Hamming ≤ 3)
    // what q_dedup_simhash's identical-signature buckets miss: documents
    // whose 64-bit simhashes differ in up to 3 bits (the Manku/Jain/
    // Sarma web-dedup criterion). The signature is kept as FOUR 16-bit
    // block values (never one packed long — bit 63 would overflow
    // BIGINT); by pigeonhole, 3 flipped bits dirty at most 3 of 4
    // blocks, so every Hamming-≤3 pair shares at least one identical
    // block. Candidates come from the block self-join under the SAME
    // [[subSalt]] hot-bucket guard as every other generator, which
    // makes the recall contract two-regime: EXACT while no
    // (block_idx, block_val) bucket exceeds the cap (DedupSpec asserts
    // the fixture sits in this regime and proves key ≡ brute force
    // there), and past the cap the guard trades bounded recall loss
    // inside the hot block for the O(cap·n) pair bound — the standard
    // candidate discipline, and a >cap block means 65+ docs agreeing
    // on 16 signature bits, a mass-template regime the exact-match
    // simhash key already surfaces via its bucket sizes. The exact
    // bit_count(xor) verification runs only on guarded candidates.
    // Signatures come from the fused row-local [[graft.functions
    // .SimHash64]] codegen expression (no explode, no 64-column agg, no
    // shuffle), registry-cached like the 16-bit sibling's.
    QueryDef("q_dedup_simhash_hamming",
      (s, d) => {
        val sigs = graft.CacheRegistry.getOrPersist("simhash64_sigs", d,
          simhash64(s, d))
        val blocks = sigs.select(col("doc_id"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
            .as(Seq("block_idx", "block_val")))
        val salted = subSalt(blocks, Seq("block_idx", "block_val"),
          "doc_id", MaxBand)
        val a = sigs.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
          col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
        val b = sigs.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
          col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
        saltedPairJoin(salted, Seq("block_idx", "block_val"))
          .join(a, "doc_a").join(b, "doc_b")
          .withColumn("hamming", expr(
            """CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1)
              |  + bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS BIGINT)""".stripMargin))
          .filter(col("hamming") <= 3)
          .select("doc_a", "doc_b", "hamming")
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val h2 = "CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT)"
        val bitSums = simhash64BitSums("//").mkString(", ")
        s"""WITH th AS (
           |  SELECT doc_id, ${Text.md5iDuck("token")} AS h1, $h2 AS h2
           |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token
           |        FROM documents)
           |), bits AS (
           |  SELECT doc_id, $bitSums FROM th GROUP BY doc_id
           |), sigs AS (
           |  SELECT doc_id, ${simhash64Blocks(0)} AS b0, ${simhash64Blocks(1)} AS b1,
           |    ${simhash64Blocks(2)} AS b2, ${simhash64Blocks(3)} AS b3
           |  FROM bits
           |), blocks_raw AS (
           |  SELECT doc_id, block_idx,
           |    CASE block_idx WHEN 0 THEN b0 WHEN 1 THEN b1
           |      WHEN 2 THEN b2 ELSE b3 END AS block_val
           |  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS block_idx)
           |), bsz AS (
           |  SELECT block_idx, block_val, count(*) AS bn
           |  FROM blocks_raw GROUP BY block_idx, block_val
           |), blocks AS (
           |  SELECT doc_id, block_idx, block_val,
           |    ${Text.md5iDuck("CAST(doc_id AS VARCHAR)")}
           |      % ((bn + ${MaxBand - 1}) // $MaxBand) AS salt
           |  FROM blocks_raw JOIN bsz USING (block_idx, block_val)
           |), cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM blocks a JOIN blocks b USING (block_idx, block_val, salt)
           |  WHERE a.doc_id < b.doc_id
           |)
           |SELECT doc_a, doc_b,
           |  CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
           |     + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
           |    AS BIGINT) AS hamming
           |FROM cand
           |JOIN sigs x ON x.doc_id = doc_a
           |JOIN sigs y ON y.doc_id = doc_b
           |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
           |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // ------------------------------------------------ embedding near-dup
    // exact cosine within coarse cells (`label` = the IVF-cell stand-in):
    // pairs shuffle by cell, never a global cross join. Fold order is the
    // element order in both engines → bit-identical doubles.
    QueryDef("q_dedup_embedding",
      (s, d) => {
        // norms once per vector (codegen'd self-dot), dot once per pair —
        // numerically identical to the folds the DuckDB oracle replays;
        // the cast+norm projection is the shared [[Vector.vecs]],
        // registry-persisted here like the band/probe paths: the guard's
        // per-label count aggregate and both self-join sides read ONE
        // cached copy instead of re-running the corpus-sized cast+norm
        // scan per consumer. The label cells get the same [[subSalt]]
        // hot-cell guard as the multiprobe path: at 100 TB a label cell
        // is corpus-fraction-sized and its self-join otherwise emits
        // quadratic pairs.
        val vecs = graft.CacheRegistry.getOrPersist("dedup_vecs", d,
          Vector.vecs(s, d))
        val e = subSalt(vecs, Seq("label"), "vec_id", MaxCell)
        val a = e.select(col("vec_id").as("vec_a"), col("label"), col("__salt"),
          col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("vec_b"), col("label"), col("__salt"),
          col("v").as("vb"), col("nrm").as("nb"))
        a.join(b, Seq("label", "__salt"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("cosine",
            round(expr("dot_product(va, vb)") / (col("na") * col("nb")), 6))
          .filter(col("cosine") >= 0.45)
          .select("vec_a", "vec_b", "cosine")
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""WITH e AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |), n AS (
             |  SELECT vec_id, label, v,
             |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM e
             |), csz AS (
             |  SELECT label, count(*) AS cn FROM n GROUP BY label
             |), ns AS (
             |  SELECT n.vec_id, n.label, n.v, n.nrm,
             |    ${Text.md5iDuck("CAST(vec_id AS VARCHAR)")}
             |      % ((cn + ${MaxCell - 1}) // $MaxCell) AS salt
             |  FROM n JOIN csz USING (label)
             |)
             |, pairs AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list_transform(generate_series(1, len(a.v)),
             |          i -> a.v[i] * b.v[i])), (s0, x) -> s0 + x)
             |      / (a.nrm * b.nrm), 6) AS cosine
             |  FROM ns a JOIN ns b
             |    ON a.label = b.label AND a.salt = b.salt AND a.vec_id < b.vec_id
             |)
             |SELECT vec_a, vec_b, cosine FROM pairs
             |WHERE cosine >= 0.45
             |ORDER BY vec_a, vec_b""".stripMargin)),

    // ------------------------------------------------ multi-probe near-dup
    // embedding near-dup over IVF cells with nprobe=2: single-probe cell
    // blocking misses any pair straddling a Voronoi boundary (the two
    // vectors land in different cells and are never compared); probing
    // each vector's 2 nearest cells recovers those pairs at the cost of
    // one extra explode row per vector. DedupSpec proves the recall gap:
    // nprobe=2 finds boundary pairs nprobe=1 cannot, and is a strict
    // superset. Threshold 0.45 matches q_dedup_embedding.
    QueryDef("q_dedup_embedding_multiprobe",
      (s, d) => embeddingMultiprobePairs(s, d, nprobe = 2, minCosine = 0.45),
      Some(duckEmbeddingMultiprobe(nprobe = 2, minCosine = 0.45))),

    // ------------------------------------- quantized-candidate near-dup
    // the int8 candidate stage for the near-dup pass: same IVF cells and
    // hot-cell guard as q_dedup_embedding_multiprobe, but the cell join
    // ships Dim-byte packed codes + 4 scalars (8× narrower than the f64
    // vectors — THE dominant shuffle of a 100 TB near-dup run), scores
    // pairs by the engine-exact affine code dot, and re-attaches full
    // vectors only to the surviving id pairs for the exact-cosine
    // verify. DedupSpec pins full recall vs the unquantized sibling on
    // the fixture; PlanSpec pins codes-not-vectors in the exchange.
    QueryDef("q_dedup_embedding_quantized",
      (s, d) => embeddingNearDupsQuantized(s, d, nprobe = 2, minCosine = 0.45),
      Some(duckEmbeddingNearDupsQuantized(nprobe = 2, minCosine = 0.45))),

    // ------------------------------------------- repeated-segment scrub
    // sub-document dedup (the CCNet line-dedup layer): 3-token segments
    // repeated ≥3 times corpus-wide are boilerplate and get deleted from
    // every document; see [[scrubRepeatedSegments]] for the linear-only
    // scale shape. The oracle replays segmentation, the corpus count and
    // ordered reassembly exactly (coalesce('') because string_agg of an
    // all-dropped doc is NULL where array_join of none is '').
    QueryDef("q_dedup_segments",
      (s, d) => scrubRepeatedSegments(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |), sg AS (
             |  SELECT doc_id, i AS idx,
             |    array_to_string(t[(i * 3 + 1):(i * 3 + 3)], ' ') AS seg
             |  FROM tk, UNNEST(generate_series(
             |    0, greatest(CAST(ceil(len(t) / 3.0) AS BIGINT), 1) - 1)) AS u(i)
             |), dup AS (
             |  SELECT seg FROM sg GROUP BY seg HAVING count(1) >= 3
             |)
             |SELECT s.doc_id,
             |  coalesce(string_agg(CASE WHEN d.seg IS NULL THEN s.seg END,
             |    ' ' ORDER BY s.idx), '') AS clean_text,
             |  CAST(count(1) AS BIGINT) AS n_segments,
             |  CAST(count(d.seg) AS BIGINT) AS n_dropped
             |FROM sg s LEFT JOIN dup d ON s.seg = d.seg
             |GROUP BY s.doc_id
             |ORDER BY s.doc_id""".stripMargin)),

    // ------------------------------------------- best-member resolution
    // the keep-the-BEST-duplicate report: per near-dup cluster, the
    // longest member (ties → lowest doc_id) — what a curation run keeps
    // when duplicates differ in truncation, vs resolveClusters' arbitrary
    // lowest-id survivor. One argmax agg over the shared cluster table.
    QueryDef("q_dedup_keep_best",
      (s, d) => clusterRepresentatives(s, d).orderBy("cluster_id"),
      Some(s"""$duckWalkCte, comp AS (
              |  SELECT doc, min(reach) AS keep FROM walk GROUP BY doc
              |), j AS (
              |  SELECT c.keep, dd.doc_id, dd.n_chars
              |  FROM comp c JOIN documents dd ON dd.doc_id = c.doc
              |), r AS (
              |  SELECT keep, doc_id, n_chars,
              |    row_number() OVER (PARTITION BY keep
              |      ORDER BY n_chars DESC, doc_id) AS rn,
              |    count(1) OVER (PARTITION BY keep) AS cluster_size
              |  FROM j
              |)
              |SELECT keep AS cluster_id, doc_id AS best_id,
              |  n_chars AS best_chars, CAST(cluster_size AS BIGINT) AS cluster_size
              |FROM r WHERE rn = 1
              |ORDER BY cluster_id""".stripMargin))
  )
}
