package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Deduplication operators over the `documents` corpus (SURVEY.md §2 C1-C4):
  * exact hash dedup, MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * The reference guarantees no-duplicate loads via keyed MERGE
  * (/root/reference/app/services/etl_service.py:252-293); at LLM-corpus scale
  * the same guarantee needs content dedup, expressed here Spark-first.
  *
  * Scale design (100 TB):
  *  - Signatures (minhash bands, simhash, gram sets) are computed in a single
  *    narrow, codegen'd pass over the scan — no UDFs, no shuffle.
  *  - The only shuffles key on (band, signature) / (source, gram) — bounded
  *    fan-out buckets, so the candidate self-joins never go quadratic in the
  *    corpus; they're quadratic only within a bucket. Skewed buckets (stop-gram
  *    buckets in C4) are the known hazard: cap or salt them at real scale.
  *  - Exactness vs the DuckDB oracle: md5 hex strings (lexicographic min over
  *    fixed-width hex == numeric min, order-independent), integer counts, and
  *    one final double division (SURVEY.md §3).
  */
object DedupOps {

  /** C1: exact dedup — hash-groupBy on normalized text, keep min doc_id.
    * One shuffle keyed on the 128-bit content hash (never the full text, so
    * shuffle volume is O(rows·16B) regardless of document size). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("norm_hash"))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  val dedupExactSql: String = """
    SELECT md5(lower(trim(text))) AS norm_hash,
           min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1 ORDER BY keep_doc_id"""

  /** Band-bucket volume cap for the C2/C14 pair joins: a (band, signature)
    * bucket holding more than this many documents is a DEGENERATE family
    * (boilerplate/template content, near-empty normalized text) whose
    * quadratic pair expansion concentrates in one join partition — the LSH
    * analog of C4's hot grams ([[MaxGramDf]]). Buckets past the cap are
    * dropped from PAIR GENERATION on both engines (the C4 broadcast
    * anti-join pattern), so per-bucket pair work is bounded by cap²/2 at
    * any corpus size; C18's component propagation intentionally keeps the
    * FULL doc↔bucket graph (its per-round sweeps are LINEAR in bucket
    * volume, so giant families still cluster and are still reported
    * there). Far above the largest observed test bucket (3,253 at sf0.1)
    * → test-scale results unchanged. Sub-cap hot buckets spread at runtime
    * via AQE's skew split; [[Skew.saltedJoin]] is the deterministic
    * fallback, pair-set equivalence spec-pinned in SkewSpec.
    * Declared BEFORE every SQL val that interpolates it — object vals
    * initialize in declaration order, and a forward reference silently
    * reads 0 (caught by the oracle gate: every bucket went "hot"). */
  val MaxBucketDocs: Int = 10000

  /** C4's hot-key prune applied to a bucket relation: drop every row of a
    * bucket whose member count exceeds [[MaxBucketDocs]]. The count
    * partial-aggregates map-side (hot keys combine before the shuffle) and
    * the hot set is Zipf-small → one broadcast anti-join, no reshuffle of
    * the bucket stream. */
  private[graft] def dropHotBuckets(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val hot = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > MaxBucketDocs)
      .select(keys.map(col): _*)
    rows.join(broadcast(hot), keys, "left_anti")
  }

  /** C2: MinHash+LSH near-dup candidates — 5-char shingles hashed with a
    * pure-arithmetic polynomial hash (no md5 in the O(chars) hot loop), 4
    * bands × 3 rows: row-k minhash is min over shingles of the universal hash
    * (A_k·h + B_k) mod p (p = 2^31−1), a band signature concatenates its 3
    * rows, and docs sharing any (band, sig) bucket become a pair. With r=3
    * the collision threshold is ≈(1/4)^(1/3)≈0.63 Jaccard, so buckets hold
    * genuine near-dups — candidate generation stays linear in bucket volume,
    * never corpus². All integer math, identical in Spark and DuckDB. */
  /** (band, sig) STRING bucket rows over an arbitrary (doc_id, text)
    * relation — the persisted-signature contract: C58 signs its standing
    * index and the incoming FEED batch with it, and the stream-gate store
    * serializes these rows, so batch and corpus signatures come from one
    * code path and cannot drift. Spread across cores BEFORE any expansion:
    * the corpus parquet is one split locally, and a broadcast join adds no
    * shuffle, so without this a whole bucket expansion runs on one task.
    * The heavy in-memory bucket paths (C2/C18/C29/C93) key on the raw long
    * minima instead — see [[minhashMinsOf]]. */
  private[graft] def minhashSigsOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    val par = spark.sessionState.conf.numShufflePartitions
    docs
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(col("doc_id"),
        posexplode(expr("graft_minhash_sigs(norm)")).as(Seq("band", "sig")))
      .repartition(par, col("doc_id"))
  }

  /** The 12 raw MinHash row minima per doc — the base relation the heavy
    * internal bucket paths (C2 / C18 / C29) key on since round 16. Bucket
    * equality on the raw (band, k1, k2, k3) LONGS is identical to the
    * formatted "k1:k2:k3" string equality (':'-joined decimal formatting
    * of nonnegative ints is injective), and long keys hash, compare and
    * shuffle without per-row string building — profiled: string
    * hashing/equality (ByteArrayMethods.arrayEquals) was 8.6% of the whole
    * bench's CPU. [[minhashSigsOf]] keeps the string contract for the
    * consumers that persist or export sigs (C58's index, the stream-gate
    * store). */
  private[graft] def minhashMinsOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    val par = spark.sessionState.conf.numShufflePartitions
    docs
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(col("doc_id"), expr("graft_minhash_rows(norm)").as("mins"))
      .repartition(par, col("doc_id"))
  }

  private def minhashMins(spark: SparkSession, dir: String): DataFrame =
    minhashMinsOf(spark, Tables.documents(spark, dir))

  /** (doc_id, band, k1, k2, k3) bucket rows derived from a (doc_id, mins)
    * relation — the production 4-band × 3-row grouping over the raw
    * minima. Deliberately explode + element_at, NOT a
    * transform-of-structs: higher-order functions evaluate interpreted
    * (one boxed lambda step per element), while this shape is three
    * codegen'd array reads per exploded row — deriving it (even several
    * times) from a cached mins relation is then far cheaper than caching
    * the 4× exploded rows. Keys stay FLAT long columns: primitive
    * grouping/join keys ride UnsafeRow's fast path where struct keys do
    * not (measured: struct keys regressed the C18 loop 86%). */
  private def bucketRows(mins: DataFrame): DataFrame =
    mins
      .select(col("doc_id"), col("mins"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("band"),
        element_at(col("mins"), col("band") * 3 + 1).as("k1"),
        element_at(col("mins"), col("band") * 3 + 2).as("k2"),
        element_at(col("mins"), col("band") * 3 + 3).as("k3"))

  private val bucketKeys = Seq("band", "k1", "k2", "k3")

  /** C2's distinct candidate pairs WITHOUT the declared output ordering —
    * the internal feed for every composer that aggregates over the pairs
    * (C29/C75/C82/C89/C119): the final orderBy is a range exchange (with
    * its own sampling job) plus a sort that pure-aggregate consumers pay
    * for nothing. `dedupMinhashLsh` itself adds the ordering back. */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Join form, deliberately: this corpus is NEAR-dup-dense (templated
    // small-vocabulary texts; ~10% of all pairs collide in some band even
    // with independent rows), so a collect_list-per-bucket pair expansion
    // would materialize n²/2 structs in single rows on single threads (measured
    // 12× slower at sf0.1). The self-join streams pairs through codegen and
    // spreads each bucket's expansion across its join partitions.
    // cache(): both self-join sides canonicalize differently (aliasing), so
    // ReuseExchange does not fire and the minhash kernel would run twice —
    // one materialization of the tiny (doc_id, mins) rows halves the
    // O(chars) signature work at any corpus size. Buckets key on the raw
    // long minima (see [[minhashMinsOf]]) — the pair set is bit-identical
    // to the formatted-string grouping, spec-pinned against the oracle.
    val mins = Caches.keep(minhashMins(spark, dir))
    val cold = dropHotBuckets(bucketRows(mins), bucketKeys)
    cold.as("a").join(cold.as("b"),
        bucketKeys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** The (band, sig) CTE chain over an arbitrary base relation — the
    * oracle twin of [[minhashSigsOf]]; CTE names are parameterized so two
    * chains (corpus + incoming feed, C58) can coexist in one WITH. Row
    * hashes come from the shared quadratic [[graft.functions.Kernels]]
    * row family (k = b·3+r+1). */
  private[operators] def minhashSigsCtesOver(
      base: String, d: String, h: String, sigs: String): String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    s"""$d AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM $base
      WHERE length(lower(trim(text))) >= 5),
    $h AS (
      SELECT doc_id, list_transform(range(0, length(norm) - 4), i ->
        (ascii(substr(norm, CAST(i + 1 AS INT), 1)) * 923521 +
         ascii(substr(norm, CAST(i + 2 AS INT), 1)) * 29791 +
         ascii(substr(norm, CAST(i + 3 AS INT), 1)) * 961 +
         ascii(substr(norm, CAST(i + 4 AS INT), 1)) * 31 +
         ascii(substr(norm, CAST(i + 5 AS INT), 1)))
        % 2147483647) AS hs
      FROM $d),
    $sigs AS (
      SELECT doc_id, b AS band,
        array_to_string(list_transform(range(0, 3), r ->
          CAST(list_min(list_transform(hs, x ->
            (${rowASql("b * 3 + r + 1")} * x
             + ${rowBSql("b * 3 + r + 1")})
            % 2147483647)) AS VARCHAR)), ':') AS sig
      FROM $h, (SELECT unnest(range(0, 4)) AS b))"""
  }

  /** The corpus-wide instance shared by the C2, C18 and C29 oracles. */
  private val minhashSigsCtes: String =
    minhashSigsCtesOver("documents", "d", "h", "sigs")

  /** Hot-bucket prune + surviving bucket rows, the oracle twin of
    * [[dropHotBuckets]] over the `sigs` CTE (shared by C2 and C29). */
  private[operators] val coldSigsCtes: String = s"""
    hotb AS (
      SELECT band, sig FROM sigs GROUP BY 1, 2
      HAVING count(*) > $MaxBucketDocs),
    cold AS (SELECT * FROM sigs ANTI JOIN hotb USING (band, sig))"""

  val dedupMinhashLshSql: String = s"""
    WITH $minhashSigsCtes,
    $coldSigsCtes
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM cold a JOIN cold b2 ON a.band = b2.band AND a.sig = b2.sig
                            AND a.doc_id < b2.doc_id
    ORDER BY doc_a, doc_b"""

  /** C3: SimHash — 32-bit signature: bit j is the majority vote over tokens
    * of the top bit of hex digit j of md5(token). Pure integer math inside a
    * narrow pass; grouping by signature gives the dup classes. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"), expr("graft_simhash32(toks)").as("simhash"))
    sig.withColumn("n_group",
        count(lit(1)).over(Window.partitionBy("simhash")))
      .select("doc_id", "simhash", "n_group")
      .orderBy("doc_id")
  }

  /** DuckDB twin of the 32-bit simhash signature pass (shared by C3 and
    * C14's banding query). */
  private val simhashSigSql: String = """
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 32), j ->
          CASE WHEN list_sum(list_transform(hashes, h ->
                 CASE WHEN substr(h, CAST(j + 1 AS INT), 1)
                      IN ('8','9','a','b','c','d','e','f')
                 THEN 1 ELSE -1 END)) > 0
          THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      FROM (
        SELECT doc_id, list_transform(
          regexp_split_to_array(lower(trim(text)), '\s+'), t -> md5(t)) AS hashes
        FROM documents WHERE length(trim(text)) > 0)"""

  val dedupSimhashSql: String = s"""
    SELECT doc_id, simhash,
           count(*) OVER (PARTITION BY simhash) AS n_group
    FROM ($simhashSigSql)
    ORDER BY doc_id"""

  /** Max verified hamming distance for C14. With 4 disjoint 8-bit bands,
    * any pair at distance ≤ 3 differs in at most 3 bands, so at least one
    * band matches exactly (pigeonhole) — banding recall is 1.0 up to this
    * radius. Raising it past 3 would need more/wider bands. */
  val SimhashMaxHamming: Int = 3

  /** C14: SimHash hamming-band near-dup pairs — the standard simhash
    * blocking the whole-signature grouping of C3 can't do: docs sharing any
    * of the four 8-bit bands of their 32-bit signature become candidates,
    * then an exact popcount of the XOR verifies hamming ≤
    * [[SimhashMaxHamming]]. One narrow signature pass, one shuffle keyed on
    * (band, band_val) — bounded buckets, never corpus²; the verify popcount
    * is codegen'd integer math on the candidate stream.
    *
    * Scale note: 8-bit bands give only 4·256 = 1024 shuffle keys — at a
    * true 100 TB corpus, widen the signature (64-bit) and bands (16-bit →
    * 256k keys, same pigeonhole bound at radius 3) so bucket volume and
    * parallelism scale; the plan shape is unchanged. */
  /** C14's verified hamming-band pairs WITHOUT the declared output
    * ordering — the internal feed for composers that aggregate or re-sort
    * (C45's edit-distance verifier, C75's agreement matrix, C93's radius
    * sweep); see [[minhashPairs]] for the rationale. */
  private[graft] def simhashBandPairs(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sessionState.conf.numShufflePartitions
    // Same single-split hazard as C2: spread signature rows across cores
    // before the band explode + pair expansion.
    val sig = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"), expr("graft_simhash32(toks)").as("simhash"))
      .repartition(par, col("doc_id"))
    // cache() for the same non-reuse reason as dedupMinhashLsh: the simhash
    // kernel would otherwise run once per self-join side
    val bands = Caches.keep(sig
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val", expr("shiftright(simhash, band * 8) % 256")))
    val cold = dropHotBuckets(bands, Seq("band", "band_val"))
    val cand = cold.as("a").join(cold.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
    cand.withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  def dedupSimhashBand(spark: SparkSession, dir: String): DataFrame =
    simhashBandPairs(spark, dir).orderBy("doc_a", "doc_b")

  val dedupSimhashBandSql: String = s"""
    WITH s AS ($simhashSigSql),
    bands AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) % 256 AS band_val
      FROM s, (SELECT unnest(range(0, 4)) AS b)),
    hotb AS (
      SELECT band, band_val FROM bands GROUP BY 1, 2
      HAVING count(*) > $MaxBucketDocs),
    coldb AS (SELECT * FROM bands ANTI JOIN hotb USING (band, band_val)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.simhash AS sig_a, b2.simhash AS sig_b
      FROM coldb a JOIN coldb b2 ON a.band = b2.band
        AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= $SimhashMaxHamming
    ORDER BY doc_a, doc_b"""

  /** Stop-gram document-frequency cap for C4: a gram shared by more than
    * this many documents (within a source block) carries no Jaccard signal
    * and makes its bucket quadratic — the classic 100 TB hot key. Dropped
    * BEFORE the pair join; Jaccard is then over the pruned shingle space on
    * both engines. Far above the test corpora's max df (6 at sf0.1), so
    * oracle results are unchanged at test scale while the bound holds the
    * pair join to ≤ df²/2 rows per gram at any corpus size. */
  val MaxGramDf: Int = 100

  /** C18: connected components over the MinHash candidate graph — the
    * cluster step a dedup pipeline runs after pair generation: every doc
    * gets its cluster's canonical id (the minimum doc_id reachable through
    * candidate pairs) and the cluster size; keeping `doc_id ==
    * component_id` rows then dedups the corpus one-per-cluster.
    *
    * Iterates the *bipartite* doc↔bucket graph directly — connectivity is
    * identical to the within-bucket cliques the C2 pair query materializes
    * (and to the bucket-star edges the oracle walks) UP TO the
    * [[MaxBucketDocs]] cap: C2 drops degenerate buckets from its pair
    * MATERIALIZATION (quadratic), while this keeps the full graph because
    * its sweeps are linear in bucket volume — equal on every test corpus
    * (cap non-binding, spec-asserted), a superset of C2's reachability on
    * a corpus with capped buckets. One round is a
    * full doc→bucket→doc sweep: two min-aggregates, so labels move two
    * graph hops per round and no star-edge table is ever built (edge volume
    * stays linear in Σ bucket size at 100 TB). Docs sharing no multi-doc
    * bucket can never change label — they are pruned from the loop up front
    * and rejoin as singleton components at the end, so the iterated state
    * is only the docs that can actually cluster. Convergence is detected
    * via the label sum, which strictly decreases until fixpoint;
    * `localCheckpoint` truncates the growing plan lineage each round. */
  def dedupComponents(spark: SparkSession, dir: String,
      maxIters: Int = 50): DataFrame =
    dedupComponentsWithRounds(spark, dir, maxIters)._1

  /** C18 plus its convergence-round count — the doubling pointer jump
    * makes rounds O(log diameter), and a hash-family or edge-shape change
    * that silently loses the shortcut (rounds drifting back to
    * O(diameter)) would only show as wall time. The count is spec-pinned
    * (≤ 4 on the test corpus, OperatorsSpec) so that regression fails
    * loudly instead. */
  private[graft] def dedupComponentsWithRounds(spark: SparkSession,
      dir: String, maxIters: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // bucket identity stays the concat string: a round-16 A/B of packed
    // long keys against it read consistently ~5-10% SLOWER across the
    // C18-riding family at matched methodology, so the r15 shape stands
    val sigs = bucketRows(minhashMins(spark, dir))
      .select(col("doc_id"), concat_ws("#",
        col("band"), col("k1"), col("k2"), col("k3")).as("bucket"))
    // Loop state is only docs in shared buckets; everyone else is provably
    // a singleton. On the dup-dense test corpus this halves the iterated
    // rows; on a mostly-unique real corpus it removes nearly all of them.
    val shared = sigs.groupBy("bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("bucket")
    val multi = Caches.keep(sigs.join(shared, Seq("bucket")))
    val nodes = Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) >= 5) // the LSH domain
      .select(col("doc_id").as("node"))
    // sum("label") over zero rows is NULL — treat as 0 so an empty corpus
    // converges to an empty result instead of NPEing on getLong
    def labelSum(df: DataFrame): Long = {
      val row = df.agg(sum("label")).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    // Fill the cache with ONE single-reference job before any round plan
    // fans out over `multi`: a round references it four times, and racing
    // those references against an unfilled cache re-computed the substrate
    // per reference (measured: 940 → 1094 tasks, task time 50 → 81 s).
    val nMulti = multi.count()
    // No materialized initial-labels relation and no initial label sum:
    // with initial label == own doc_id, round 0's first bucket-min is just
    // min(doc_id) per bucket (specialized below), and the initial sum can
    // never equal round 0's on a non-empty graph (every multi-bucket doc
    // has a partner, so round 0 always lowers some label) — the old
    // init-distinct + init-sum action were one whole driver job of pure
    // overhead per consumer query. The -1 sentinel can never be a real
    // label sum (doc ids are non-negative), so round 0 never false-converges.
    var labels: DataFrame =
      if (nMulti == 0L) multi.select(col("doc_id").as("node"),
        col("doc_id").as("label"))
      else null
    var prevSum = -1L
    var converged = nMulti == 0L
    var it = 0
    // AQE stays ON for the loop: measured 5.2s vs 6.9s warm at sf0.1 with
    // it off — its per-exchange coalescing of the tiny label shuffles saves
    // more task overhead than its per-stage re-planning costs.
    while (!converged && it < maxIters) {
      // doc→bucket→doc sweep: bucket takes its members' min label, every
      // member then takes the min over its buckets — two graph hops in two
      // partial-agg shuffles, no self-join, each subtree computed once.
      // LAZY localCheckpoint: the logical plan is truncated immediately
      // (eager vs lazy makes no difference there), so round plans never
      // nest — re-analyzing a nested plan chain measured O(rounds²) and
      // dominated wall time — while materialization happens inside the
      // SAME job as the convergence agg. One driver round trip per round;
      // an iterative loop's wall time is job-scheduling overhead, not row
      // work.
      def sweep(ls: DataFrame): DataFrame = {
        val bmin = multi.join(ls, multi("doc_id") === ls("node"))
          .groupBy("bucket").agg(min("label").as("blabel"))
        multi.join(bmin, Seq("bucket"))
          .groupBy("doc_id").agg(min("blabel").as("label"))
          .select(col("doc_id").as("node"), col("label"))
      }
      // round 0's first hop reads labels == doc ids straight off `multi`
      def sweep0(): DataFrame = {
        val bmin = multi.groupBy("bucket").agg(min("doc_id").as("blabel"))
        multi.join(bmin, Seq("bucket"))
          .groupBy("doc_id").agg(min("blabel").as("label"))
          .select(col("doc_id").as("node"), col("label"))
      }
      // two sweeps per round (4 graph hops) before the jump — rounds are
      // driver-scheduled jobs and job latency dominates, so packing more
      // hops into each round is nearly free row-work.
      // CHECKPOINTED before the jump: the jump references `swept` twice
      // under different aliases, which canonicalize differently, so
      // ReuseExchange does not fire and the whole two-sweep subtree ran
      // TWICE per round (measured: the round-0 plan held 48 HashAggregate
      // nodes where one sweep chain needs 8) — one lazy checkpoint halves
      // every round's exchange count.
      val swept = sweep(if (it == 0) sweep0() else sweep(labels))
        .localCheckpoint(eager = false)
      // Pointer jump (path shortcut): label ← min(label, label(label)).
      // A label is itself a node id in `swept` (labels only ever move
      // between multi-bucket docs), so one self-join composes the pointer
      // function with itself — hop distance covered per round DOUBLES,
      // turning O(diameter) sweep rounds into O(log diameter) total rounds.
      // One extra partial-agg shuffle per round, but rounds are the cost:
      // each is a driver-scheduled job, and job latency (not row volume)
      // dominates this loop's wall time. Measured 10 → 5 rounds at sf0.1.
      // `next` stays checkpointed too: its materialization rides the SAME
      // job as the convergence sum, and consumers reference the final
      // labels through multi-read caches (C120's grid, C82's funnel) —
      // without the leaf they re-executed the jump join + the final
      // window per reference (measured +1.3 s on q_dup_length_bias).
      val next = swept.as("x")
        .join(swept.select(col("node").as("l_node"), col("label").as("l_label")),
          col("x.label") === col("l_node"), "left")
        .select(col("x.node").as("node"),
          least(col("x.label"), coalesce(col("l_label"), col("x.label"))).as("label"))
        .localCheckpoint(eager = false)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      it += 1
    }
    require(converged, s"component propagation did not converge in $maxIters rounds")
    val out = nodes.join(labels, nodes("node") === labels("node"), "left")
      .select(nodes("node"), coalesce(labels("label"), nodes("node")).as("label"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy("label")))
      .select(col("node").as("doc_id"), col("label").as("component_id"),
        col("component_size"))
      .orderBy("doc_id")
    (out, it)
  }

  /** DuckDB twin — transitive closure by recursive CTE over the same
    * bucket-star edges, min reachable node per doc; singletons are their
    * own component. */
  val dedupComponentsSql: String = s"""
    WITH RECURSIVE $minhashSigsCtes,
    bm AS (SELECT band, sig, min(doc_id) AS m FROM sigs GROUP BY 1, 2),
    star AS (
      SELECT DISTINCT bm.m AS u, sigs.doc_id AS v
      FROM sigs JOIN bm ON sigs.band = bm.band AND sigs.sig = bm.sig
      WHERE sigs.doc_id <> bm.m),
    edges AS (SELECT u, v FROM star UNION SELECT v, u FROM star),
    reach AS (
      SELECT u AS node, v AS r FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.node),
    comp AS (
      SELECT node AS doc_id, least(node, min(r)) AS component_id
      FROM reach GROUP BY node
      UNION ALL
      SELECT doc_id, doc_id FROM d
      WHERE doc_id NOT IN (SELECT node FROM reach))
    SELECT doc_id, component_id,
      count(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp ORDER BY doc_id"""

  /** Shared C4/C94 pair machinery: word-3-gram sets blocked within
    * `source`, stop-grams (df > [[MaxGramDf]]) dropped, gram-keyed
    * self-join counts intersections, set sizes joined onto the SMALL
    * post-agg pair set. Returns (source, doc_a, doc_b, n_common, n_a,
    * n_b) — the sufficient statistics for ANY set-overlap measure
    * (Jaccard, containment, overlap coefficient), so the two consumers
    * differ only in the final scalar arithmetic. */
  private def gramPairStats(spark: SparkSession, dir: String): DataFrame = {
    // Keep set sizes OUT of the pair join: this corpus is duplicate-dense,
    // so the (source, gram) probe stream is the ~10⁸-row hot path — carrying
    // n_grams through it (to skip the sizes aggregate) measured 2-10× slower
    // at sf0.1 than re-deriving sizes in a separate cheap pass and joining
    // them onto the SMALL post-agg pair set. At cluster scale the identical
    // gram subtrees dedup via exchange reuse. Stop-gram buckets are the
    // skew hazard at scale: drop ultra-frequent grams (no Jaccard signal).
    // Same single-split hazard as C2: spread gram rows across cores before
    // the pair expansion (see dedupMinhashLsh). Shared by sizes + both join
    // branches via ReusedExchange, so shingling runs once per doc.
    val par = spark.sessionState.conf.numShufflePartitions
    val raw = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(
        "graft_word_grams_distinct(toks, 3)")).as("gram"))
      .repartition(par, col("doc_id"))
    // Stop-gram cap: the df count partial-aggregates map-side, the hot set
    // is Zipf-small, so the prune costs one broadcast anti-join and no
    // reshuffle of the gram stream.
    val hot = raw.groupBy("source", "gram")
      .agg(count(lit(1)).as("df")).filter(col("df") > MaxGramDf)
      .select("source", "gram")
    // cache(): the gram stream feeds THREE consumers (sizes + both pair-join
    // sides) and per-branch column pruning makes their subtrees canonically
    // different, so ReuseExchange never fires — measured 8 parquet scans of
    // the corpus (scan + regex split + explode + anti-join, recomputed per
    // branch) in the executed plan without this. One materialization of the
    // pruned (doc, source, gram) rows is strictly smaller than three
    // recomputes at any scale; at 100 TB it spills MEMORY_AND_DISK like any
    // cached shuffle-sized intermediate.
    val grams = Caches.keep(
      raw.join(broadcast(hot), Seq("source", "gram"), "left_anti"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.source") === col("b.source") && col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.source").as("source"), col("a.doc_id").as("doc_a"),
               col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_grams", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_grams", "n_b"), "doc_b")
  }

  /** C4: word-3-gram Jaccard pairs, blocked within `source` — distinct grams
    * explode, stop-grams (df > [[MaxGramDf]]) dropped via a broadcast
    * anti-join, gram-keyed join counts intersections, |A|+|B|−∩ gives the
    * union, one double division gives Jaccard. Blocking + the df cap bound
    * the join at any scale. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    gramPairStats(spark, dir)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= 0.2)
      .select("source", "doc_a", "doc_b", "n_common", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Containment floor for C94 — overlap coefficient ≥ this reports the
    * pair (at least this fraction of the smaller document's gram set is
    * inside the larger one's). 0.3 sits below C4's 0.2 Jaccard floor in
    * discrimination terms: at sf0.1 it surfaces the quote-inclusion
    * pairs (jaccard_missed = true) that Jaccard's union denominator
    * buries, while ≥ 0.5 keeps only the pairs C4 already reports. */
  val MinContainment: Double = 0.3

  /** C94: `q_dedup_containment` — ASYMMETRIC near-dup detection via the
    * overlap coefficient |A∩B| / min(|A|,|B|) over the same blocked
    * word-3-gram sets as C4. Jaccard under-scores subset inclusion: a
    * short document quoted wholesale inside a much longer one has
    * |A∩B| ≈ |A| but |A∪B| ≈ |B|, so Jaccard ≈ |A|/|B| → 0 while
    * containment → 1. Those are exactly the quote-inclusion /
    * boilerplate-wrapper pairs a training-data pipeline wants excised at
    * span level (C79) rather than dropped whole, so the report flags
    * `jaccard_missed` — pairs below C4's 0.2 Jaccard floor that only
    * this measure surfaces.
    *
    * Scale: identical shape to C4 (one gram-keyed bucket join bounded by
    * the [[MaxGramDf]] stop-gram cap + source blocking, sizes joined onto
    * the post-agg pair set) — the only difference is the final scalar
    * arithmetic, so the 100 TB argument is C4's verbatim. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    gramPairStats(spark, dir)
      .withColumn("containment",
        col("n_common").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("containment") >= MinContainment)
      .withColumn("jaccard_missed", (col("jaccard") < 0.2).cast("boolean"))
      .select("source", "doc_a", "doc_b", "n_common", "n_a", "n_b",
        "containment", "jaccard", "jaccard_missed")
      .orderBy("doc_a", "doc_b")

  /** Shared CTE chain for the C4/C94 twins — ends in `stats(source,
    * doc_a, doc_b, n_common, n_a, n_b)`, the same sufficient statistics
    * [[gramPairStats]] produces. */
  private val ngramPairStatsCtes: String = s"""d AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g0 AS (
      SELECT doc_id, source, unnest(list_distinct(
        list_transform(range(0, greatest(len(toks) - 3, -1) + 1), i ->
          toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)] || ' ' ||
          toks[CAST(i + 3 AS INT)]))) AS gram
      FROM d WHERE len(toks) >= 3),
    df AS (SELECT source, gram, count(*) AS df FROM g0 GROUP BY 1, 2),
    g AS (
      SELECT g0.* FROM g0 JOIN df ON g0.source = df.source AND g0.gram = df.gram
      WHERE df.df <= $MaxGramDf),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
    inter AS (
      SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_common
      FROM g a JOIN g b ON a.source = b.source AND a.gram = b.gram
                        AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3),
    stats AS (
      SELECT i.source, i.doc_a, i.doc_b, i.n_common,
             sa.n_grams AS n_a, sb.n_grams AS n_b
      FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b)"""

  val dedupNgramJaccardSql: String = s"""
    WITH $ngramPairStatsCtes
    SELECT source, doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) /
             CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
    FROM stats
    WHERE CAST(n_common AS DOUBLE) /
          CAST(n_a + n_b - n_common AS DOUBLE) >= 0.2
    ORDER BY doc_a, doc_b"""

  val dedupContainmentSql: String = s"""
    WITH $ngramPairStatsCtes
    SELECT source, doc_a, doc_b, n_common, n_a, n_b,
           CAST(n_common AS DOUBLE) /
             CAST(least(n_a, n_b) AS DOUBLE) AS containment,
           CAST(n_common AS DOUBLE) /
             CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard,
           (CAST(n_common AS DOUBLE) /
             CAST(n_a + n_b - n_common AS DOUBLE) < 0.2) AS jaccard_missed
    FROM stats
    WHERE CAST(n_common AS DOUBLE) /
          CAST(least(n_a, n_b) AS DOUBLE) >= $MinContainment
    ORDER BY doc_a, doc_b"""

  /** C29: `q_dedup_minhash_est` — signature-based Jaccard ESTIMATION over
    * the C2 candidate pairs: for each pair the fraction of the 12 minhash
    * rows (4 bands × 3 rows) that agree is an unbiased estimate of the
    * shingle-set Jaccard — the number a dedup pipeline thresholds on when
    * re-shingling every candidate (C4-style exact verification) is too
    * expensive. At 100 TB this is the whole point of MinHash: verification
    * touches only the O(1)-size signatures already in hand, never the text.
    *
    * Plan: the cached signature rows feed the bucket self-join (pair
    * generation, same as C2) and — re-grouped WITHOUT a shuffle, since the
    * cache is already hash-partitioned on doc_id — a compact per-doc
    * 4-string signature row. Each pair then joins its two signature rows
    * and the 12 row equalities are ONE codegen'd expression per pair: no
    * band fan-out of the pair stream (4× its volume) and no re-aggregation
    * back down (measured ~25% faster at sf0.1, and the fan-out factor is
    * what grows with more bands). Shuffles key on (band, sig) buckets and
    * the pair's doc ids only. */
  def dedupMinhashEst(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashEstRaw(spark, dir).orderBy("doc_a", "doc_b")

  /** The estimate WITHOUT the presentation sort — consumers that filter or
    * re-aggregate (C33) compose with this so the optimizer never risks
    * sorting the full pair set just to throw the order away downstream.
    *
    * The two relations this operator keeps (the signature rows and the
    * per-doc band aggregate) must outlive it, through the caller's
    * action, so they are released by the unit of work that runs it
    * ([[Caches]]). */
  private[operators] def dedupMinhashEstRaw(
      spark: SparkSession, dir: String): DataFrame = {
    // ONE cached minima pass (96 B/doc) is both the bucket source AND the
    // per-doc signature relation: pair generation inherits C2's hot-bucket
    // cap over the same long bucket keys (the pair sets must stay
    // identical — spec-pinned), and the 12 row equalities compare raw
    // longs in-row — no per-pair string splits, no collect_list
    // re-aggregation (round 16; the old shape formatted band strings and
    // split them back per pair).
    val mins = Caches.keep(minhashMins(spark, dir))
    val cold = dropHotBuckets(bucketRows(mins), bucketKeys)
    val pairs = cold.as("a").join(cold.as("b"),
        bucketKeys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nEq = (for (i <- 1 to 12) yield
      (element_at(col("mins_a"), i) === element_at(col("mins_b"), i))
        .cast("long")).reduce(_ + _)
    pairs
      .join(mins.select(col("doc_id").as("doc_a"), col("mins").as("mins_a")),
        Seq("doc_a"))
      .join(mins.select(col("doc_id").as("doc_b"), col("mins").as("mins_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nEq.as("n_eq"))
      .withColumn("jaccard_est", col("n_eq").cast("double") / lit(12.0d))
  }

  val dedupMinhashEstSql: String = s"""
    WITH $minhashSigsCtes,
    $coldSigsCtes,
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM cold a JOIN cold b2 ON a.band = b2.band AND a.sig = b2.sig
                              AND a.doc_id < b2.doc_id),
    be AS (
      SELECT p.doc_a, p.doc_b,
        (CAST(string_split(sa.sig, ':')[1] = string_split(sb.sig, ':')[1] AS BIGINT)
       + CAST(string_split(sa.sig, ':')[2] = string_split(sb.sig, ':')[2] AS BIGINT)
       + CAST(string_split(sa.sig, ':')[3] = string_split(sb.sig, ':')[3] AS BIGINT))
          AS n_eq_band
      FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.band = sa.band)
    SELECT doc_a, doc_b, CAST(SUM(n_eq_band) AS BIGINT) AS n_eq,
      CAST(SUM(n_eq_band) AS DOUBLE) / CAST(12 AS DOUBLE) AS jaccard_est
    FROM be GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b"""

  /** Prefix width (normalized chars) for C48's truncation-family key. */
  val PrefixChars: Int = 256

  /** C48: `q_dedup_prefix` — truncation/extension duplicate families:
    * documents sharing their first [[PrefixChars]] normalized characters
    * but NOT their full content — the crawler failure class (truncated
    * fetches, pages re-scraped with an appended footer) that exact dedup
    * (C1) is blind to by construction and pair-dedup only catches when the
    * shared prefix dominates the shingle set. One row per prefix family
    * that actually mixes distinct contents, with the canonical keeper.
    *
    * Exactness: md5 keys on both engines; counts exact; deterministic
    * keeper (min doc_id).
    *
    * Scale: narrow hash pass (two md5s per doc, text never shuffles), ONE
    * 16-byte prefix-hash shuffle with map-side partials, families filtered
    * to the interesting (mixed-content) minority before the tiny sort. */
  def dedupPrefix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) >= PrefixChars)
      .select(col("doc_id"),
        md5(substring(lower(trim(col("text"))), 1, PrefixChars)
          .cast("binary")).as("prefix_hash"),
        md5(lower(trim(col("text"))).cast("binary")).as("norm_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("norm_hash").as("n_contents"),
        min("doc_id").as("keep_doc_id"))
      .filter(col("n_contents") > 1)
      .orderBy("keep_doc_id")

  val dedupPrefixSql: String = s"""
    SELECT md5(substr(lower(trim(text)), 1, $PrefixChars)) AS prefix_hash,
      COUNT(*) AS n_docs,
      CAST(COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_contents,
      MIN(doc_id) AS keep_doc_id
    FROM documents
    WHERE length(lower(trim(text))) >= $PrefixChars
    GROUP BY 1
    HAVING COUNT(DISTINCT md5(lower(trim(text)))) > 1
    ORDER BY keep_doc_id"""

  /** Edit-similarity floor for C45 — a candidate pair is a confirmed
    * near-edit when 1 − lev/maxlen ≥ this. */
  val EditSimMin: Double = 0.8

  /** C45: `q_dedup_edit_distance` — edit-distance VERIFICATION of the
    * simhash-band candidates (C14): exact Levenshtein over the normalized
    * texts of each candidate pair, with the relative edit similarity
    * (1 − lev/maxlen) and the ≥ [[EditSimMin]] verdict — the classic
    * fuzzy-dedup two-phase: cheap signatures propose, exact DP disposes.
    * Levenshtein is uniquely defined, so both engines agree integer-exactly.
    *
    * Scale: the O(L²)-per-pair DP runs ONLY on the band-blocked candidate
    * set — work ∝ candidates, never corpus²; text moves only for those
    * pairs (two doc-id joins). This is why the banding exists: at 100 TB
    * the verifier is the expensive step you must keep off the full pair
    * space. */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val norm = Tables.documents(spark, dir)
      .select(col("doc_id"), lower(trim(col("text"))).as("norm"))
    // the verdict needs only lev ≤ k where k = maxlen DIV 5 (the integer
    // form of 1 − lev/maxlen ≥ 0.8), so the DP is BANDED at k: Spark's
    // threshold variant runs O(L·k) and returns −1 past it, and the
    // |len_a − len_b| > k pre-gate skips the DP entirely (lev ≥ the length
    // gap, always). Measured 49 s → bounded at sf0.1; exact verdicts and
    // in-band distances unchanged. Beyond-band pairs report lev = −1 and a
    // NULL similarity rather than a distance nobody thresholds on.
    val maxLen = greatest(length(col("t_a")), length(col("t_b")))
    simhashBandPairs(spark, dir)
      .join(norm.select(col("doc_id").as("doc_a"), col("norm").as("t_a")),
        Seq("doc_a"))
      .join(norm.select(col("doc_id").as("doc_b"), col("norm").as("t_b")),
        Seq("doc_b"))
      // ONE kernel call computes the whole capped verdict: the |Δlen| > k
      // pre-gate, common-prefix/suffix stripping (near-dup candidates
      // share most of their text, so the DP usually runs over a tiny
      // differing core), and the banded threshold DP — bit-identical to
      // the old CASE + levenshtein(t_a, t_b, k) column (edit distance is
      // a pure function; equality spec-pinned against the builtin in
      // KernelsSpec). Profiled before the change: levenshteinDistance was
      // 16% of the whole bench's CPU.
      .withColumn("lev_capped", expr("graft_lev_capped(t_a, t_b)"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("lev_capped"),
        when(col("lev_capped") >= 0,
          lit(1.0) - col("lev_capped").cast("double") / maxLen.cast("double"))
          .as("edit_sim"))
      .withColumn("es_casi_duplicado", col("lev_capped") >= 0)
      .orderBy("doc_a", "doc_b")
  }

  val dedupEditDistanceSql: String = s"""
    WITH cand AS ($dedupSimhashBandSql),
    norm AS (SELECT doc_id, lower(trim(text)) AS norm FROM documents),
    j AS (
      SELECT c.doc_a, c.doc_b, c.hamming, a.norm AS t_a, b.norm AS t_b,
        greatest(length(a.norm), length(b.norm)) // 5 AS k,
        greatest(length(a.norm), length(b.norm)) AS maxlen
      FROM cand c
        JOIN norm a ON a.doc_id = c.doc_a
        JOIN norm b ON b.doc_id = c.doc_b),
    lv AS (
      -- |Δlen| pre-gate first (lev ≥ the length gap, always), then ONE
      -- levenshtein evaluation per surviving pair — the old twin spelled
      -- the call twice (threshold test + value) and ran the O(L²) DP twice
      SELECT doc_a, doc_b, hamming, maxlen, k,
        CASE WHEN abs(length(t_a) - length(t_b)) > k THEN NULL
             ELSE CAST(levenshtein(t_a, t_b) AS BIGINT) END AS lev
      FROM j),
    d AS (
      SELECT doc_a, doc_b, hamming, maxlen,
        CASE WHEN lev IS NULL OR lev > k THEN CAST(-1 AS BIGINT)
             ELSE lev END AS lev_capped
      FROM lv)
    SELECT doc_a, doc_b, hamming, lev_capped,
      CASE WHEN lev_capped >= 0
        THEN 1.0 - CAST(lev_capped AS DOUBLE) / CAST(maxlen AS DOUBLE)
      END AS edit_sim,
      lev_capped >= 0 AS es_casi_duplicado
    FROM d
    ORDER BY doc_a, doc_b"""

  /** C41: `q_doc_novelty` — per-doc 3-gram novelty: the share of a doc's
    * distinct word-3-grams that appear NOWHERE else in the corpus (df = 1).
    * Low novelty = boilerplate assembled from phrases the corpus already
    * contains even when no single document matches (which is why C2/C4
    * pair-dedup can't see it); the Gopher-style repetition signals (C23)
    * catch WITHIN-doc repetition, this catches ACROSS-doc phrase reuse.
    *
    * Exactness: integer gram counts, one final division; docs with < 3
    * tokens carry no grams and are excluded (novelty undefined).
    *
    * Scale: linear — the distinct (doc, gram) stream shuffles keyed on the
    * gram for the df count and the df join (the same bounded-fanout keying
    * as C4, no pair expansion at all), then once on doc_id for the roll-up.
    * The gram stream is cache()d: its two consumers prune different
    * columns, which defeats ReuseExchange (same lesson as C4). */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Caches.keep(Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "graft_word_grams_distinct(toks, 3)")).as("gram")))
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(df, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  val docNoveltySql: String = """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(0, greatest(len(toks) - 3, -1) + 1), i ->
          toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)] || ' ' ||
          toks[CAST(i + 3 AS INT)]))) AS gram
      FROM d WHERE len(toks) >= 3),
    df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
    SELECT g.doc_id, COUNT(*) AS n_grams,
      CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM g JOIN df ON g.gram = df.gram
    GROUP BY g.doc_id
    ORDER BY g.doc_id"""

  /** C39: `q_dedup_cluster_sizes` — the duplicate-cluster size distribution
    * over C18's connected components: how many clusters of each size the
    * candidate graph contains, how many docs they hold, and how many a
    * cluster-collapse would remove — the QA report that tells a pipeline
    * whether its near-dup graph looks like scattered pairs or one
    * pathological mega-cluster (the classic LSH failure mode a stop-gram /
    * banding bug produces — exactly what the round-5 hash-family fix was
    * about; this report is how you SEE it).
    *
    * Scale: rides the C18 component labels (O(log diameter) rounds, its
    * own audit); the roll-ups shuffle label-keyed then land on the ≤
    * max-cluster-size key space. All integer counts. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    clusterSizesOf(dedupComponents(spark, dir))

  /** C39's roll-up over an ALREADY-COMPUTED component relation — the
    * artifact-fed path ([[DedupArtifacts]]) reads C18's persisted labels
    * and feeds them here, so the report is an O(docs) re-read instead of a
    * re-run of the iterative loop. Byte-equality with the inline plan is
    * spec-pinned (ArtifactSpec). */
  private[graft] def clusterSizesOf(comp: DataFrame): DataFrame =
    comp
      .groupBy("component_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removable"))
      .orderBy("cluster_size")

  val dedupClusterSizesSql: String = s"""
    WITH comp AS ($dedupComponentsSql)
    SELECT cluster_size, n_clusters,
      cluster_size * n_clusters AS n_docs,
      (cluster_size - 1) * n_clusters AS docs_removable
    FROM (
      SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        COUNT(*) AS n_clusters
      FROM (
        SELECT component_id, COUNT(*) AS cluster_size
        FROM comp GROUP BY component_id)
      GROUP BY 1)
    ORDER BY cluster_size"""

  /** C119's per-vertex neighbor budget: the wedge census samples each
    * vertex's [[TransNeighborCap]] smallest-id neighbors, bounding the
    * census at docs · C(cap, 2) wedges REGARDLESS of cluster density —
    * the C111 sample-budget device (deterministic, so both engines pick
    * the identical sample; exact when max degree ≤ cap). */
  val TransNeighborCap: Int = 16

  /** C119: `q_dedup_transitivity` — CANDIDATE-GRAPH COHERENCE: over C2's
    * LSH candidate edges, the wedge-closure census — edges (exact),
    * budgeted wedges (paths a–v–c over each center's capped neighbor
    * sample), how many of those wedges the edge set closes, and the
    * closure rate. A sound near-dup relation is close to transitive
    * (dup-of-a-dup is a dup), so a HIGH closure rate says the candidate
    * graph is a union of dense clusters C18's components can safely
    * collapse; a LOW rate says banding is stitching unrelated docs
    * through chance collisions (or hot-bucket truncation is shredding
    * clusters) and a component-collapse would over-merge — the C39 size
    * distribution tells you clusters exist, this tells you whether to
    * TRUST them.
    *
    * Plan: the edge set is C2's own (cache()d once, O(pairs)). The
    * census is BUDGETED, not all-pairs: this corpus is near-dup-DENSE,
    * so the naive oriented two-hop join fans out Σ deg²
    * — measured 52 s at sf0.1 (flat across inflation, but a huge
    * constant: dense clusters make exact triangle counting cubic-ish in
    * cluster size). Instead each wedge center contributes only its
    * [[TransNeighborCap]] smallest-id neighbors (row_number over the
    * doc-id-ordered adjacency — per-partition work is one vertex's
    * degree, hot-cap bounded), the sampled wedge pairs semi-join the
    * edge set once, and the whole census is ≤ docs · C(cap, 2) rows by
    * construction at ANY density — the C111 budget rule. Deterministic:
    * both engines sample the identical neighbors, so the report is
    * bit-equal; it is EXACT (not an estimate) whenever max degree ≤ cap.
    * Pure integer census + ONE final division. */
  def dedupTransitivity(spark: SparkSession, dir: String,
      cap: Int = TransNeighborCap): DataFrame =
    transitivityCensusOf(
      Caches.keep(minhashPairs(spark, dir).select("doc_a", "doc_b")), cap)

  /** The budgeted wedge census over an ARBITRARY undirected edge set
    * (doc_a, doc_b) — the frame-parametric body [[dedupTransitivity]]
    * registers and the exactness spec drives with a constructed clique
    * (cap ≥ max degree ⟹ the census equals the uncapped one exactly —
    * the C105 constructed-fixture device, spec-pinned). */
  private[graft] def transitivityCensusOf(edges: DataFrame,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val sampled = edges.select(col("doc_a").as("v"), col("doc_b").as("u"))
      .unionByName(edges.select(col("doc_b").as("v"), col("doc_a").as("u")))
      .withColumn("rnk",
        row_number().over(Window.partitionBy("v").orderBy("u")))
      .filter(col("rnk") <= cap)
      .select("v", "u")
    val wedges = Caches.keep(sampled.as("s1")
      .join(sampled.as("s2"),
        col("s1.v") === col("s2.v") && col("s1.u") < col("s2.u"))
      .select(col("s1.u").as("doc_a"), col("s2.u").as("doc_b")))
    val nWedges = wedges.agg(count(lit(1)).as("n_wedges"))
    val nClosed = wedges.join(edges, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_closed"))
    nEdges.crossJoin(nWedges).crossJoin(nClosed)
      .select(col("n_edges"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") > 0,
          col("n_closed").cast("double") / col("n_wedges").cast("double"))
          .as("closure_rate"))
  }

  /** DuckDB twin builder (ParamCheck re-interpolates it at a non-default
    * neighbor cap). */
  def dedupTransitivitySqlFor(cap: Int): String = s"""
    WITH mh AS (SELECT doc_a, doc_b FROM ($dedupMinhashLshSql)),
    adj AS (SELECT doc_a AS v, doc_b AS u FROM mh
            UNION ALL SELECT doc_b, doc_a FROM mh),
    smp AS (
      SELECT v, u FROM (
        SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY u) AS rnk
        FROM adj)
      WHERE rnk <= $cap),
    w AS (
      SELECT s1.u AS doc_a, s2.u AS doc_b
      FROM smp s1 JOIN smp s2 ON s1.v = s2.v AND s1.u < s2.u),
    ne AS (SELECT COUNT(*) AS n_edges FROM mh),
    nw AS (SELECT COUNT(*) AS n_wedges FROM w),
    nc AS (SELECT COUNT(*) AS n_closed
           FROM w SEMI JOIN mh USING (doc_a, doc_b))
    SELECT ne.n_edges, nw.n_wedges, nc.n_closed,
      CASE WHEN nw.n_wedges > 0
           THEN CAST(nc.n_closed AS DOUBLE) / CAST(nw.n_wedges AS DOUBLE)
      END AS closure_rate
    FROM ne, nw, nc"""

  lazy val dedupTransitivitySql: String =
    dedupTransitivitySqlFor(TransNeighborCap)

  /** C120: `q_dup_length_bias` — the C80 filter-bias device applied to
    * DEDUP: per duplicate-cluster-size bucket (unique / pair / 3-4 / 5-8 /
    * 9+), how many docs sit there, their total and mean length, and each
    * bucket's share of the corpus. Boilerplate and templated content is
    * usually SHORT — if the 9+ bucket's mean length collapses against the
    * unique bucket's, cluster-collapse dedup is about to make the corpus
    * systematically LONGER (and token estimates built on pre-dedup
    * statistics wrong); if instead long docs dominate the big clusters,
    * the crawl is re-fetching full articles and the savings accounting
    * (C38) is dominated by a few heavy groups. Buckets keep the report
    * fixed-size at any corpus scale.
    *
    * Plan: C18's component labels (its own audited loop) joined to the
    * per-doc n_chars column — doc_id-keyed, text never moves — then a
    * partial-aggregated roll-up onto the 5-bucket key space. Integer
    * sums; the mean and share are single divisions of exact longs. */
  def dupLengthBias(spark: SparkSession, dir: String): DataFrame = {
    val sized = dedupComponents(spark, dir)
      .select(col("doc_id"), col("component_size"))
      .join(Tables.documents(spark, dir).select("doc_id", "n_chars"),
        Seq("doc_id"))
      .select(col("n_chars"),
        when(col("component_size") === 1, "1-unique")
          .when(col("component_size") === 2, "2-pair")
          .when(col("component_size") <= 4, "3-4")
          .when(col("component_size") <= 8, "5-8")
          .otherwise("9+").as("size_bucket"))
    // the ≤ 5-row grid is cache()d: output rows AND the 1-row total read
    // it, so the C18 subtree underneath runs ONCE — uncached, the
    // crossJoin's two grid references replayed the whole component loop
    // + doc join per branch (caught by the round-14 scan pin: 4 documents
    // scans where 2 belong; the C75 plan-shared ≠ materialization-shared
    // lesson, again)
    val grid = Caches.keep(sized.groupBy("size_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars_total")))
    grid
      .crossJoin(grid.agg(sum(col("n_docs")).as("n_total")))
      .select(col("size_bucket"), col("n_docs"), col("n_chars_total"),
        (col("n_chars_total").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("doc_share"))
      .orderBy("size_bucket")
  }

  val dupLengthBiasSql: String = s"""
    WITH comp AS ($dedupComponentsSql),
    sized AS (
      SELECT d.n_chars,
        CASE WHEN c.component_size = 1 THEN '1-unique'
             WHEN c.component_size = 2 THEN '2-pair'
             WHEN c.component_size <= 4 THEN '3-4'
             WHEN c.component_size <= 8 THEN '5-8'
             ELSE '9+' END AS size_bucket
      FROM comp c JOIN documents d USING (doc_id)),
    grid AS (
      SELECT size_bucket, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      FROM sized GROUP BY 1)
    SELECT size_bucket, n_docs, n_chars_total,
      CAST(n_chars_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
      CAST(n_docs AS DOUBLE)
        / CAST((SELECT SUM(n_docs) FROM grid) AS DOUBLE) AS doc_share
    FROM grid ORDER BY size_bucket"""

  /** C38: `q_dedup_savings` — the before/after accounting of exact dedup
    * (C1), per source: how many docs / tokens / chars dedup REMOVES — the
    * number a pipeline reports next to its datasheet (C31) when deciding
    * whether a source's volume is real or copies. Keeper = global
    * min-doc_id per normalized-content hash, exactly C1's rule, so cross-
    * source copies charge the removal to the non-keeper's source.
    *
    * Exactness: every aggregate is an order-independent integer sum; the
    * removal share is one final division. Token/char counts follow the
    * datasheet's definitions (whitespace tokens on trimmed text; empty
    * docs count zero tokens).
    *
    * Scale: ONE shuffle keyed on the 16-byte content hash (the window min
    * rides it; text never moves — per-doc counts are computed in the
    * narrow scan), then a partial-aggregated roll-up onto the tiny source
    * key space. Same shuffle discipline as C1 itself. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(lower(trim(col("text"))).cast("binary")).as("norm_hash"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("n_tok"),
        length(col("text")).cast("long").as("n_chr"))
    docs
      .withColumn("keeper",
        min("doc_id").over(Window.partitionBy("norm_hash")))
      .withColumn("removed", (col("doc_id") =!= col("keeper")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("removed").as("docs_removed"),
        sum("n_tok").as("n_tokens"),
        sum(col("removed") * col("n_tok")).as("tokens_removed"),
        sum("n_chr").as("n_chars"),
        sum(col("removed") * col("n_chr")).as("chars_removed"))
      .select(col("source"), col("n_docs"), col("docs_removed"),
        col("n_tokens"), col("tokens_removed"),
        col("n_chars"), col("chars_removed"),
        (col("docs_removed").cast("double") / col("n_docs").cast("double"))
          .as("removal_share"))
      .orderBy("source")
  }

  val dedupSavingsSql: String = """
    WITH d AS (
      SELECT doc_id, source,
        md5(lower(trim(text))) AS norm_hash,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        END AS n_tok,
        CAST(length(text) AS BIGINT) AS n_chr
      FROM documents),
    k AS (
      SELECT d.*,
        CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY norm_hash)
             THEN 1 ELSE 0 END AS removed
      FROM d)
    SELECT source,
      COUNT(*) AS n_docs,
      CAST(SUM(removed) AS BIGINT) AS docs_removed,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(removed * n_tok) AS BIGINT) AS tokens_removed,
      CAST(SUM(n_chr) AS BIGINT) AS n_chars,
      CAST(SUM(removed * n_chr) AS BIGINT) AS chars_removed,
      CAST(SUM(removed) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS removal_share
    FROM k
    GROUP BY source
    ORDER BY source"""

  /** C58: `q_dedup_incremental` — the PRODUCTION shape of dedup: today's
    * crawl batch ([[graft.sources.Feeds.incomingDocs]]) screened against
    * the standing corpus WITHOUT touching corpus↔corpus pairs. Two
    * verdicts per incoming doc: `exact_dup` (its normalized content hash
    * already exists in the corpus, with the canonical standing partner for
    * the audit trail) and `n_near_partners` (distinct standing docs it
    * shares a MinHash (band, sig) bucket with — C2's collision rule, one
    * side frozen); the triage decision is drop_exact / review_near /
    * admit. A full C2 re-run over corpus+batch would redo the corpus
    * self-join every day — this is the O(batch) daily path, the same
    * asymmetry as A6's incremental sync vs A8's clean reload.
    *
    * Exactness: md5 hex both sides, integer partner counts, min partner
    * id; decision is pure CASE.
    *
    * Scale: both batch joins key on 16-byte hashes or (band, sig) buckets
    * — never text, never corpus². The standing sig relation is hot-capped
    * like C2 ([[MaxBucketDocs]]) and cache()d (the bucket-volume count and
    * the collision join would otherwise each re-sign the corpus). At
    * 100 TB the standing sigs would persist as the INDEX (bucketed
    * parquet, written once, joined daily); here they rebuild per run
    * because the test harness owns no state between queries. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Feeds
    val standing = Tables.documents(spark, dir)
      .filter(col("doc_id") % Feeds.IncrMod =!= Feeds.IncrRem)
    val (indexHash, coldIndexSigs) = buildIncrementalIndex(spark, standing)
    incrementalTriage(Feeds.incomingDocs(spark, dir),
      indexHash, coldIndexSigs)
      .orderBy("doc_id")
  }

  /** The standing-corpus INDEX for incremental dedup — built once, joined
    * per batch (C58) or per micro-batch (D18): the exact-hash relation
    * (h, exact_partner) and the hot-capped (band, sig, partner) bucket
    * rows. The sig relation is cache()d (bucket-volume count + every
    * collision join read it; at 100 TB this is the bucketed parquet index
    * written once a day). */
  private[graft] def buildIncrementalIndex(spark: SparkSession,
      standing: DataFrame): (DataFrame, DataFrame) = {
    val indexHash = standing
      .select(md5(lower(trim(col("text"))).cast("binary")).as("h"),
        col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("exact_partner"))
    // long bucket keys (see [[minhashMinsOf]]) — the index/batch bucket
    // join and the hot-cap count never touch a formatted sig string
    val indexSigs = Caches.keep(bucketRows(minhashMinsOf(spark, standing)))
    val coldIndex = dropHotBuckets(indexSigs, bucketKeys)
      .select((bucketKeys.map(col) :+ col("doc_id").as("partner")): _*)
    (indexHash, coldIndex)
  }

  /** The C58 triage of one incoming batch against a prepared index —
    * shared by the batch query and D18's per-micro-batch scoring so the
    * two verdicts cannot drift. Input batch needs (doc_id, text); index
    * relations come from [[buildIncrementalIndex]]. Unordered (the batch
    * query sorts, the streaming sink appends). */
  private[graft] def incrementalTriage(batch: DataFrame,
      indexHash: DataFrame, coldIndexSigs: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val batchHash = batch.select(col("doc_id"),
      md5(lower(trim(col("text"))).cast("binary")).as("h"))
    val near = bucketRows(minhashMinsOf(spark, batch))
      .join(coldIndexSigs, bucketKeys)
      .groupBy("doc_id")
      .agg(countDistinct("partner").as("n_near_partners"))
    batchHash.join(indexHash, Seq("h"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("exact_partner").isNotNull.as("exact_dup"),
        col("exact_partner"),
        coalesce(col("n_near_partners"), lit(0L)).as("n_near_partners"))
      .withColumn("decision",
        when(col("exact_dup"), "drop_exact")
          .when(col("n_near_partners") > 0, "review_near")
          .otherwise("admit"))
  }

  val dedupIncrementalSql: String = s"""
    WITH incdocs AS (${graft.sources.Feeds.incomingDocsSql}),
    $minhashSigsCtes,
    ${minhashSigsCtesOver("incdocs", "fd", "fh", "fsigs")},
    xsig AS (SELECT * FROM sigs
      WHERE doc_id % ${graft.sources.Feeds.IncrMod}
            <> ${graft.sources.Feeds.IncrRem}),
    hotx AS (
      SELECT band, sig FROM xsig GROUP BY 1, 2
      HAVING count(*) > $MaxBucketDocs),
    coldx AS (SELECT * FROM xsig ANTI JOIN hotx USING (band, sig)),
    near AS (
      SELECT f.doc_id, count(DISTINCT x.doc_id) AS n_near_partners
      FROM fsigs f JOIN coldx x USING (band, sig)
      GROUP BY 1),
    ih AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM incdocs),
    xh AS (
      SELECT md5(lower(trim(text))) AS h, min(doc_id) AS exact_partner
      FROM documents
      WHERE doc_id % ${graft.sources.Feeds.IncrMod}
            <> ${graft.sources.Feeds.IncrRem}
      GROUP BY 1)
    SELECT ih.doc_id,
      xh.exact_partner IS NOT NULL AS exact_dup,
      xh.exact_partner,
      COALESCE(near.n_near_partners, 0) AS n_near_partners,
      CASE WHEN xh.exact_partner IS NOT NULL THEN 'drop_exact'
           WHEN COALESCE(near.n_near_partners, 0) > 0 THEN 'review_near'
           ELSE 'admit' END AS decision
    FROM ih LEFT JOIN xh USING (h) LEFT JOIN near USING (doc_id)
    ORDER BY doc_id"""

  /** C59: `q_dedup_canonical` — QUALITY-AWARE keeper selection per
    * near-dup cluster: C18 labels the clusters, but "keep the minimum
    * doc_id" is the wrong production rule — a truncated fetch can out-id
    * the clean copy. Per multi-member cluster this picks the member with
    * the highest C9 quality score (ties → smallest doc_id, so the rule
    * stays deterministic), the step that turns a dedup report into a
    * drop list a curation pipeline can execute.
    *
    * Exactness: the score is C17's cross-engine-exact quality formula
    * ([[graft.operators.TextOps.qualityScoreCol]] ↔ the shared SQL
    * fragments), so argmax agrees bit-for-bit; counts are integers.
    *
    * Scale: the argmax is a lexicographic struct-MAX aggregate that
    * partial-aggregates MAP-SIDE (the C55 pattern) — giant clusters
    * collapse before the shuffle, so no window sort and no skew from the
    * boilerplate mega-cluster; cost on top of C18 is one narrow quality
    * scan and one cluster-keyed partial-agg shuffle. The oracle twin uses
    * a row_number window (exactness only — it never runs at scale). */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    canonicalFrom(spark, dir, dedupComponents(spark, dir))

  /** C59's keeper selection over an ALREADY-COMPUTED component relation —
    * composers that also need the membership (C82's funnel) pass their
    * cached components here so the iterative C18 loop runs ONCE per
    * action, not once per consumer. */
  private[graft] def canonicalFrom(spark: SparkSession, dir: String,
      comp: DataFrame): DataFrame = {
    val qual = Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) >= 5) // C18's node domain
      .select(col("doc_id"), TextOps.qualityScoreCol(col("text")).as("q"))
    comp.filter(col("component_size") > 1)
      .join(qual, Seq("doc_id"))
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q").as("q"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("component_id"), col("n_members"),
        (-col("m.neg_id")).as("keep_doc_id"),
        col("m.q").as("keep_score"),
        (col("n_members") - 1L).as("n_dropped"))
      .orderBy("component_id")
  }

  val dedupCanonicalSql: String = {
    import TextOps.{qualitySqlMeasures, qualitySqlRatios, qualitySqlScore}
    s"""
    WITH comps AS ($dedupComponentsSql),
    qual AS (
      SELECT doc_id, $qualitySqlScore AS q
      FROM (
        SELECT doc_id, n_tok, $qualitySqlRatios
        FROM (
          SELECT doc_id, $qualitySqlMeasures
          FROM documents WHERE length(lower(trim(text))) >= 5)) ),
    mult AS (
      SELECT c.doc_id, c.component_id, qual.q
      FROM comps c JOIN qual USING (doc_id)
      WHERE c.component_size > 1),
    rk AS (
      SELECT *, row_number() OVER (
        PARTITION BY component_id ORDER BY q DESC, doc_id ASC) AS rn
      FROM mult)
    SELECT component_id,
      count(*) AS n_members,
      max(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
      max(CASE WHEN rn = 1 THEN q END) AS keep_score,
      count(*) - 1 AS n_dropped
    FROM rk GROUP BY component_id ORDER BY component_id"""
  }

  /** C75: `q_dedup_agreement` — method-agreement matrix over the three
    * near-dup candidate generators (C2 minhash-LSH, C14 simhash-band, C4
    * n-gram Jaccard): for each method pair, how many candidate pairs each
    * finds and how many they share (pair-set Jaccard). This is the QA a
    * curator runs before trusting the CHEAP detector fleet: the expensive
    * verifier budget goes where methods disagree, and a method whose
    * agreement collapses after a re-tune (the round-5 hash-family bug's
    * visible symptom) fails loudly here.
    *
    * Exactness: per-pair membership flags are exact max-of-indicator
    * integers; the matrix cells are integer sums; pair-set Jaccard is one
    * division of exact longs.
    *
    * Scale: the three generators keep their own (already bucketed,
    * hot-capped) plans; their tagged union aggregates onto the candidate
    * pair grid (pair-keyed shuffle, map-side combine) and THEN collapses
    * map-side into ONE row of six counters — the 3-row matrix is assembled
    * from that broadcast-sized relation, so nothing downstream of the pair
    * grid scales with the corpus. Cost note: this single-action composition holds
    * all three generators' caches at once (measured ≈ 1.8× the sum of the
    * standalone runs at bench scale); at 100 TB the production shape feeds
    * the matrix from the generators' PERSISTED pair sets (each written
    * once by its own job) — the matrix itself is then an O(pairs) re-read,
    * which is what the post-union plan here already is. That production
    * shape SHIPS as [[DedupArtifacts.agreementStaged]] (the registered
    * `q_dedup_agreement`): each generator's pair set is written by its own
    * job (peak residency = ONE generator's caches) and the matrix action
    * reads only the persisted artifacts. This inline composition is kept
    * as the declarative reference, byte-equality spec-pinned
    * (ArtifactSpec, the C28→C49 precedent).
    *
    * Domain note (round-6 advice): the three pair sets have structurally
    * different domains — C4 emits only SAME-SOURCE pairs already
    * thresholded at jaccard ≥ 0.2, while C2/C14 emit corpus-wide
    * unthresholded band-collision candidates. Cross-source duplicates can
    * therefore never count as agreement in the mh–nj and nj–sb cells:
    * those pair-Jaccard values are deflated BY CONSTRUCTION, not by
    * method disagreement. The matrix is still the right QA signal (each
    * method is compared as DEPLOYED, blocking rules included), but read
    * the nj cells as "candidate-surface overlap", not pure detector
    * agreement. */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame =
    agreementOf(
      minhashPairs(spark, dir),
      dedupNgramJaccard(spark, dir),
      simhashBandPairs(spark, dir))

  /** C75's matrix assembly over three ALREADY-COMPUTED candidate pair
    * relations (any schema with doc_a/doc_b) — shared by the inline
    * composition above and the artifact-fed path, so the two cannot
    * drift. Everything below the pair union is O(pairs). */
  private[graft] def agreementOf(mh: DataFrame, nj: DataFrame,
      sb: DataFrame): DataFrame = {
    val members = Seq(
      "minhash_lsh" -> mh, "ngram_jaccard" -> nj, "simhash_band" -> sb)
      .map { case (m, df) =>
        df.select(col("doc_a"), col("doc_b"), lit(m).as("method"))
      }.reduce(_ unionByName _)
    val flags = members.groupBy("doc_a", "doc_b").agg(
      max(when(col("method") === "minhash_lsh", 1L).otherwise(0L)).as("f_mh"),
      max(when(col("method") === "ngram_jaccard", 1L).otherwise(0L)).as("f_nj"),
      max(when(col("method") === "simhash_band", 1L).otherwise(0L)).as("f_sb"))
    // cache(): the 3-row assembly reads `tot` once per cell and the
    // cells' otherwise identical subtrees defeat exchange reuse — without
    // this the pair-grid aggregation replays per row (the C89 lesson).
    // One cached row of six longs.
    val tot = Caches.keep(flags.agg(
      sum("f_mh").as("n_mh"), sum("f_nj").as("n_nj"), sum("f_sb").as("n_sb"),
      sum(col("f_mh") * col("f_nj")).as("b_mh_nj"),
      sum(col("f_mh") * col("f_sb")).as("b_mh_sb"),
      sum(col("f_nj") * col("f_sb")).as("b_nj_sb")))
    def cell(a: String, b: String, na: String, nb: String, both: String) =
      tot.select(lit(a).as("method_a"), lit(b).as("method_b"),
        col(na).as("n_a"), col(nb).as("n_b"), col(both).as("n_both"),
        (col(na) + col(nb) - col(both)).as("n_union"),
        (col(both).cast("double")
          / (col(na) + col(nb) - col(both)).cast("double")).as("pair_jaccard"))
    cell("minhash_lsh", "ngram_jaccard", "n_mh", "n_nj", "b_mh_nj")
      .unionByName(cell("minhash_lsh", "simhash_band", "n_mh", "n_sb", "b_mh_sb"))
      .unionByName(cell("ngram_jaccard", "simhash_band", "n_nj", "n_sb", "b_nj_sb"))
      .orderBy("method_a", "method_b")
  }

  /** C75b: restrict a pair set to SAME-SOURCE pairs via two doc→source
    * joins. Scale: the pair relation is candidate-bounded (band caps), the
    * source map is corpus-scaled — both joins shuffle on doc ids, so the
    * cost is O(pairs + corpus-map), never pairwise. */
  private[graft] def sameSourceOnly(pairs: DataFrame,
      src: DataFrame): DataFrame =
    pairs.select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_b")), "doc_b")
      .filter(col("src_a") === col("src_b"))
      .select("doc_a", "doc_b")

  /** C75b: `q_dedup_agreement_samesource` — the C75 matrix on a COMMON
    * domain (round-7 advice): C4 emits only same-source pairs by
    * construction, so the production-domain matrix's mh–nj and nj–sb
    * cells are deflated by cross-source candidates C4 can never see.
    * Restricting C2/C14 to same-source pairs makes all three cells
    * measure METHOD disagreement on the same candidate universe; the
    * unrestricted matrix stays registered as the as-deployed view. */
  def dedupAgreementSameSource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    agreementOf(
      sameSourceOnly(minhashPairs(spark, dir), src),
      dedupNgramJaccard(spark, dir),
      sameSourceOnly(simhashBandPairs(spark, dir), src))
  }

  val dedupAgreementSameSourceSql: String = s"""
    WITH src AS (SELECT doc_id, source FROM documents),
    mh AS (
      SELECT p.doc_a, p.doc_b FROM (SELECT doc_a, doc_b FROM ($dedupMinhashLshSql)) p
      JOIN src a ON a.doc_id = p.doc_a JOIN src b ON b.doc_id = p.doc_b
      WHERE a.source = b.source),
    nj AS (SELECT doc_a, doc_b FROM ($dedupNgramJaccardSql)),
    sb AS (
      SELECT p.doc_a, p.doc_b FROM (SELECT doc_a, doc_b FROM ($dedupSimhashBandSql)) p
      JOIN src a ON a.doc_id = p.doc_a JOIN src b ON b.doc_id = p.doc_b
      WHERE a.source = b.source),
    u AS (
      SELECT doc_a, doc_b, 'mh' AS m FROM mh
      UNION ALL SELECT doc_a, doc_b, 'nj' FROM nj
      UNION ALL SELECT doc_a, doc_b, 'sb' FROM sb),
    p AS (
      SELECT doc_a, doc_b,
        MAX(CASE WHEN m = 'mh' THEN 1 ELSE 0 END) AS f_mh,
        MAX(CASE WHEN m = 'nj' THEN 1 ELSE 0 END) AS f_nj,
        MAX(CASE WHEN m = 'sb' THEN 1 ELSE 0 END) AS f_sb
      FROM u GROUP BY 1, 2),
    t AS (
      SELECT CAST(SUM(f_mh) AS BIGINT) AS n_mh,
        CAST(SUM(f_nj) AS BIGINT) AS n_nj,
        CAST(SUM(f_sb) AS BIGINT) AS n_sb,
        CAST(SUM(f_mh * f_nj) AS BIGINT) AS b_mh_nj,
        CAST(SUM(f_mh * f_sb) AS BIGINT) AS b_mh_sb,
        CAST(SUM(f_nj * f_sb) AS BIGINT) AS b_nj_sb
      FROM p)
    SELECT method_a, method_b, n_a, n_b, n_both,
      n_a + n_b - n_both AS n_union,
      CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)
        AS pair_jaccard
    FROM (
      SELECT 'minhash_lsh' AS method_a, 'ngram_jaccard' AS method_b,
        n_mh AS n_a, n_nj AS n_b, b_mh_nj AS n_both FROM t
      UNION ALL SELECT 'minhash_lsh', 'simhash_band', n_mh, n_sb, b_mh_sb
      FROM t
      UNION ALL SELECT 'ngram_jaccard', 'simhash_band', n_nj, n_sb, b_nj_sb
      FROM t)
    ORDER BY method_a, method_b"""

  /** C89: `q_dedup_pair_precision` — EXACT verification of the cheap
    * candidate fleet: every pair each generator emits (C2 minhash-LSH, C4
    * n-gram Jaccard, C14 simhash-band) is re-scored with the EXACT
    * distinct-3-gram Jaccard, and each method gets a precision row. This
    * closes the QA loop C75 opens: the agreement matrix says WHERE the
    * cheap methods disagree; this says WHO is right — the "expensive
    * verifier budget" spent on the candidate surface itself. A method
    * whose precision collapses after a re-tune (the round-5 hash-family
    * failure mode) fails loudly here with a number, not a proxy.
    *
    * Exactness: every column is integer-exact — the J ≥ 1/2 and J ≥ 1/5
    * verdicts are cross-multiplied integer comparisons (2·common ≥ union,
    * 5·common ≥ union; empty-gram pairs never verify), and the
    * micro-Jaccard is ONE division of exact long sums (Σcommon / Σunion)
    * — no distributed double sum anywhere (a mean-of-ratios would be
    * shuffle-order nondeterministic; the micro average is the additive
    * form).
    *
    * Scale: pair sets are candidate-bounded (band caps) but still LARGE
    * on a duplicate-dense corpus (1.3M minhash candidates at sf0.1), so
    * the score is computed once per UNIQUE pair (methods overlap; flags
    * carry each method's claim) and the intersection never explodes to
    * (pair × gram) rows: each doc collapses to its distinct gram-hash
    * ARRAY (~52 longs, smaller than the text), the pairs join that
    * relation twice on ids, and the intersection computes in-row via
    * array_intersect — O(pairs + docs) shuffle. */
  def dedupPairPrecision(spark: SparkSession, dir: String): DataFrame =
    pairPrecisionOf(spark, dir,
      minhashPairs(spark, dir),
      dedupNgramJaccard(spark, dir),
      simhashBandPairs(spark, dir))

  /** C89's verification over three ALREADY-COMPUTED pair relations —
    * shared by the inline composition and the artifact-fed registered
    * query ([[DedupArtifacts.pairPrecisionStaged]]), so the two cannot
    * drift. Everything below the pair union is O(pairs + corpus grams). */
  /** Per-doc distinct 3-gram-hash SETS — the exact-verification side
    * relation shared by C89 and C93. A per-gram explode would make every
    * verification O(pairs × grams): the candidate surface is huge on a
    * duplicate-dense corpus (1.3M minhash pairs at sf0.1), so a
    * (pair × gram) equi-join materializes ~90M rows. The doc→set relation
    * is ~52 longs per doc (smaller than the text); verifiers join it
    * twice on ids and each pair's intersection computes IN-ROW via
    * array_intersect — O(pairs + docs) shuffle. Hashes use the
    * graft_str_hash fold (identical DuckDB twin, the C57/C73 convention);
    * a 31-bit collision merges the same two grams on BOTH engines, so
    * parity is unconditional. */
  private[graft] def gramSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(graft_word_grams(toks, 3), g ->
             graft_str_hash(concat('ppv|', g))))""").as("gl"))
  }

  /** The DuckDB twin of [[gramSets]] (a CTE body over `documents`). */
  private val gramSetsSql: String = """
      SELECT doc_id, list_distinct(list_transform(
        list_transform(range(0, greatest(len(toks) - 3, -1) + 1), i ->
          'ppv|' || toks[CAST(i + 1 AS INT)] || ' '
            || toks[CAST(i + 2 AS INT)] || ' '
            || toks[CAST(i + 3 AS INT)]),
        s -> list_reduce(
          list_transform(range(1, length(s) + 1), j ->
            CAST(ascii(substr(s, CAST(j AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647))) AS gl
      FROM (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0)
      WHERE len(toks) >= 3"""

  private[graft] def pairPrecisionOf(spark: SparkSession, dir: String,
      mh: DataFrame, nj: DataFrame, sb: DataFrame): DataFrame = {
    // Methods overlap heavily (that is what C75 measures), so the
    // expensive gram intersection runs ONCE per UNIQUE pair — membership
    // flags (the C75 max-of-indicator device) carry each method's claim
    // through the cheap post-agg layer, and the three report rows are
    // flag-weighted sums of the same scored relation. Scoring per
    // (method, pair) instead measured ~3x the join volume for identical
    // output.
    val flags = Seq(
      "minhash_lsh" -> mh, "ngram_jaccard" -> nj, "simhash_band" -> sb)
      .map { case (m, df) =>
        df.select(col("doc_a"), col("doc_b"), lit(m).as("method"))
      }.reduce(_ unionByName _)
      .groupBy("doc_a", "doc_b").agg(
        max(when(col("method") === "minhash_lsh", 1L).otherwise(0L))
          .as("f_mh"),
        max(when(col("method") === "ngram_jaccard", 1L).otherwise(0L))
          .as("f_nj"),
        max(when(col("method") === "simhash_band", 1L).otherwise(0L))
          .as("f_sb"))
    val docSets = gramSets(spark, dir)
    val scored = flags
      .join(docSets.select(col("doc_id").as("doc_a"), col("gl").as("gl_a")),
        Seq("doc_a"), "left")
      .join(docSets.select(col("doc_id").as("doc_b"), col("gl").as("gl_b")),
        Seq("doc_b"), "left")
      .select(col("f_mh"), col("f_nj"), col("f_sb"),
        coalesce(expr("graft_common_count(gl_a, gl_b)"), lit(0L))
          .as("n_common"),
        (coalesce(size(col("gl_a")), lit(0)).cast("long")
          + coalesce(size(col("gl_b")), lit(0)).cast("long")).as("n_ab"))
      .select(col("f_mh"), col("f_nj"), col("f_sb"), col("n_common"),
        (col("n_ab") - col("n_common")).as("n_union"))
      .withColumn("v_half", when(col("n_union") > 0 &&
        col("n_common") * 2 >= col("n_union"), 1L).otherwise(0L))
      .withColumn("v_fifth", when(col("n_union") > 0 &&
        col("n_common") * 5 >= col("n_union"), 1L).otherwise(0L))
    // one flag-weighted reduction, then the 3-row report assembles from
    // the single collapsed row (the C75 cell device). cache(): the
    // assembly reads `tot` once per report row, and the rows' otherwise
    // identical subtrees defeat exchange reuse (plan-measured: the full
    // pair-scoring join replayed per branch) — one cached row of 15
    // longs ends that.
    val tot = Caches.keep(scored.agg(
      sum("f_mh").as("p_mh"), sum("f_nj").as("p_nj"), sum("f_sb").as("p_sb"),
      sum(col("f_mh") * col("v_half")).as("h_mh"),
      sum(col("f_nj") * col("v_half")).as("h_nj"),
      sum(col("f_sb") * col("v_half")).as("h_sb"),
      sum(col("f_mh") * col("v_fifth")).as("t_mh"),
      sum(col("f_nj") * col("v_fifth")).as("t_nj"),
      sum(col("f_sb") * col("v_fifth")).as("t_sb"),
      sum(col("f_mh") * col("n_common")).as("c_mh"),
      sum(col("f_nj") * col("n_common")).as("c_nj"),
      sum(col("f_sb") * col("n_common")).as("c_sb"),
      sum(col("f_mh") * col("n_union")).as("u_mh"),
      sum(col("f_nj") * col("n_union")).as("u_nj"),
      sum(col("f_sb") * col("n_union")).as("u_sb")))
    def row(m: String, p: String, h: String, t: String, c: String,
        u: String) =
      tot.select(lit(m).as("method"), col(p).as("n_pairs"),
        col(h).as("n_exact_half"), col(t).as("n_exact_fifth"),
        col(c).as("sum_common"), col(u).as("sum_union"),
        (col(h).cast("double") / col(p).cast("double"))
          .as("precision_half"),
        when(col(u) > 0, col(c).cast("double") / col(u).cast("double"))
          .as("micro_jaccard"))
    row("minhash_lsh", "p_mh", "h_mh", "t_mh", "c_mh", "u_mh")
      .unionByName(row("ngram_jaccard", "p_nj", "h_nj", "t_nj", "c_nj", "u_nj"))
      .unionByName(row("simhash_band", "p_sb", "h_sb", "t_sb", "c_sb", "u_sb"))
      .filter(col("n_pairs") > 0)
      .orderBy("method")
  }

  val dedupPairPrecisionSql: String = s"""
    WITH pairs AS (
      SELECT 'mh' AS m, doc_a, doc_b FROM ($dedupMinhashLshSql)
      UNION ALL SELECT 'nj', doc_a, doc_b FROM ($dedupNgramJaccardSql)
      UNION ALL SELECT 'sb', doc_a, doc_b FROM ($dedupSimhashBandSql)),
    fl AS (
      SELECT doc_a, doc_b,
        MAX(CASE WHEN m = 'mh' THEN 1 ELSE 0 END) AS f_mh,
        MAX(CASE WHEN m = 'nj' THEN 1 ELSE 0 END) AS f_nj,
        MAX(CASE WHEN m = 'sb' THEN 1 ELSE 0 END) AS f_sb
      FROM pairs GROUP BY 1, 2),
    g AS ($gramSetsSql),
    sc AS (
      SELECT f_mh, f_nj, f_sb,
        CAST(coalesce(len(list_intersect(ga.gl, gb.gl)), 0) AS BIGINT)
          AS n_common,
        CAST(coalesce(len(ga.gl), 0) + coalesce(len(gb.gl), 0)
          - coalesce(len(list_intersect(ga.gl, gb.gl)), 0) AS BIGINT)
          AS n_union
      FROM fl
      LEFT JOIN g ga ON ga.doc_id = fl.doc_a
      LEFT JOIN g gb ON gb.doc_id = fl.doc_b),
    sv AS (
      SELECT *,
        CASE WHEN n_union > 0 AND 2 * n_common >= n_union
          THEN 1 ELSE 0 END AS v_half,
        CASE WHEN n_union > 0 AND 5 * n_common >= n_union
          THEN 1 ELSE 0 END AS v_fifth
      FROM sc),
    t AS (
      SELECT
        CAST(SUM(f_mh) AS BIGINT) AS p_mh,
        CAST(SUM(f_nj) AS BIGINT) AS p_nj,
        CAST(SUM(f_sb) AS BIGINT) AS p_sb,
        CAST(SUM(f_mh * v_half) AS BIGINT) AS h_mh,
        CAST(SUM(f_nj * v_half) AS BIGINT) AS h_nj,
        CAST(SUM(f_sb * v_half) AS BIGINT) AS h_sb,
        CAST(SUM(f_mh * v_fifth) AS BIGINT) AS t_mh,
        CAST(SUM(f_nj * v_fifth) AS BIGINT) AS t_nj,
        CAST(SUM(f_sb * v_fifth) AS BIGINT) AS t_sb,
        CAST(SUM(f_mh * n_common) AS BIGINT) AS c_mh,
        CAST(SUM(f_nj * n_common) AS BIGINT) AS c_nj,
        CAST(SUM(f_sb * n_common) AS BIGINT) AS c_sb,
        CAST(SUM(f_mh * n_union) AS BIGINT) AS u_mh,
        CAST(SUM(f_nj * n_union) AS BIGINT) AS u_nj,
        CAST(SUM(f_sb * n_union) AS BIGINT) AS u_sb
      FROM sv)
    SELECT * FROM (
      SELECT 'minhash_lsh' AS method, p_mh AS n_pairs, h_mh AS n_exact_half,
        t_mh AS n_exact_fifth, c_mh AS sum_common, u_mh AS sum_union,
        CAST(h_mh AS DOUBLE) / CAST(p_mh AS DOUBLE) AS precision_half,
        CASE WHEN u_mh > 0 THEN CAST(c_mh AS DOUBLE) / CAST(u_mh AS DOUBLE)
        END AS micro_jaccard
      FROM t
      UNION ALL
      SELECT 'ngram_jaccard', p_nj, h_nj, t_nj, c_nj, u_nj,
        CAST(h_nj AS DOUBLE) / CAST(p_nj AS DOUBLE),
        CASE WHEN u_nj > 0 THEN CAST(c_nj AS DOUBLE) / CAST(u_nj AS DOUBLE)
        END
      FROM t
      UNION ALL
      SELECT 'simhash_band', p_sb, h_sb, t_sb, c_sb, u_sb,
        CAST(h_sb AS DOUBLE) / CAST(p_sb AS DOUBLE),
        CASE WHEN u_sb > 0 THEN CAST(c_sb AS DOUBLE) / CAST(u_sb AS DOUBLE)
        END
      FROM t)
    WHERE n_pairs > 0 ORDER BY method"""

  /** C93's probed (bands × rows-per-band) groupings of the 12 MinHash row
    * minima — all divide 12; (4,3) is the production C2 configuration. */
  val BandingSweep: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2))

  /** C93's verifier budget: 1-in-[[BandingSampleMod]] of each config's
    * pairs is exactly verified (deterministic hash rule, identical on
    * both engines). */
  val BandingSampleMod: Int = 10

  /** C93: `q_dedup_banding_sweep` — the LSH OPERATING CURVE: candidate
    * volume and (sampled) exact precision for four (bands × rows)
    * groupings of the SAME 12 MinHash row minima — the S-curve table an
    * operator reads to pick the banding (more, shorter bands → more
    * candidates, lower precision; the C91 nprobe-curve idea applied to
    * the dedup side). At sf0.1 the curve spans 7.9k pairs at 2×6 to 6.3M
    * at 6×2 around C2's production 4×3.
    *
    * Budgeted verification (the production shape): exactly verifying 6.3M
    * loose-config pairs is the cost the bands exist to avoid, so each
    * config's precision is measured on a DETERMINISTIC 1-in-10 pair
    * sample (graft_str_hash rule, the C57 sampling device) via the C89
    * set-array intersection; `n_pairs` stays the exact full count.
    *
    * Exactness: the sample rule and every count are integer-exact on both
    * engines; precision/micro-Jaccard are single divisions. Sampling
    * makes the precision columns ESTIMATES of the config's true
    * precision, but they are the SAME deterministic numbers on both
    * engines — the oracle checks the computation, the spec checks the
    * curve's direction.
    *
    * Scale: ONE shingle pass (the 12 minima per doc, cached — 96 B/doc);
    * each config regroups minima in-row, band-bucket self-joins with the
    * C2 hot cap, and verifies O(pairs/10) sampled rows against the shared
    * [[gramSets]] relation. Pair sets per config stay candidate-bounded;
    * at 100 TB each config's pair set would persist as its own artifact
    * (the DedupArtifacts contract) — here they cache per run. */
  def dedupBandingSweep(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sessionState.conf.numShufflePartitions
    val minima = Caches.keep(Tables.documents(spark, dir)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(col("doc_id"), expr("graft_minhash_rows(norm)").as("mins"))
      .repartition(par, col("doc_id")))
    // cache()d: each config's budgeted verifier joins the gram sets on
    // BOTH pair sides — un-cached, "shared" was only plan-shared and the
    // sweep re-tokenized the corpus 2x per config (8 document scans,
    // caught by the round-9 scan-shape pin)
    val gsets = Caches.keep(gramSets(spark, dir))
    BandingSweep.map { case (bc, r) =>
      // bucket key: the ':'-formatted sig string — MEASURED faster here
      // than flat long key columns (round-16 A/B: 5.6 s vs 8.9 s matched
      // dev min at sf0.1; the sweep's million-pair self-joins favor the
      // single compact key), so this family deliberately keeps the r15
      // string shape while C2/C29/C58 moved to raw-minima keys.
      // The interpreted transform lambda also STAYS: a codegen'd band-sig
      // kernel measured consistently ~15% SLOWER on this query in two
      // matched A/Bs (6-rep dev mins 6.19 vs 5.23 s; full-pair +0.8 s) —
      // the sig build is not where this query's time goes, and the
      // kernel's digit-division loops lose to the JIT-intrinsified
      // Long.toString under the lambda, so the kernel was deleted.
      val sigs = minima.select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(0, ${bc - 1}), b ->
                concat_ws(':', transform(sequence(0, ${r - 1}), rr ->
                  cast(element_at(mins, b * $r + rr + 1) as string))))""")))
        .toDF("doc_id", "band", "sig")
      val hot = sigs.groupBy("band", "sig")
        .agg(count(lit(1)).as("df")).filter(col("df") > MaxBucketDocs)
        .select("band", "sig")
      val cold = sigs.join(broadcast(hot), Seq("band", "sig"), "left_anti")
      val pairs = Caches.keep(cold.as("a").join(cold.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct())
      // NOT an eager count: a round-17 A/B of pairs.count()-per-config
      // cache fills read 960 tasks (vs 1052) but ~1.2 s SLOWER wall — the
      // one final action runs all four configs' subtrees concurrently,
      // and that overlap buys more than the racing-fill waste costs here
      // (unlike C18's loop, where the fill raced within ONE subtree).
      val total = pairs.agg(count(lit(1)).as("n_pairs"))
      val scored = pairs
        .filter(expr(s"""graft_str_hash(concat('bsw|', doc_a, ':', doc_b))
          % $BandingSampleMod""") === 0)
        .join(gsets.select(col("doc_id").as("doc_a"), col("gl").as("gl_a")),
          Seq("doc_a"), "left")
        .join(gsets.select(col("doc_id").as("doc_b"), col("gl").as("gl_b")),
          Seq("doc_b"), "left")
        .select(
          coalesce(expr("graft_common_count(gl_a, gl_b)"), lit(0L))
            .as("n_common"),
          (coalesce(size(col("gl_a")), lit(0)).cast("long")
            + coalesce(size(col("gl_b")), lit(0)).cast("long")).as("n_ab"))
        .select(col("n_common"), (col("n_ab") - col("n_common")).as("n_union"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(when(col("n_union") > 0 &&
            col("n_common") * 5 >= col("n_union"), 1L).otherwise(0L))
            .as("n_verified_fifth"),
          sum("n_common").as("sum_common"),
          sum("n_union").as("sum_union"))
      total.crossJoin(scored).select(
        lit(s"${bc}x$r").as("banding"),
        lit(bc.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        col("n_pairs"), col("n_sampled"),
        coalesce(col("n_verified_fifth"), lit(0L)).as("n_verified_fifth"),
        when(col("n_sampled") > 0, col("n_verified_fifth").cast("double")
          / col("n_sampled").cast("double")).as("precision_fifth_est"),
        when(col("sum_union") > 0, col("sum_common").cast("double")
          / col("sum_union").cast("double")).as("micro_jaccard_est"))
    }.reduce(_ unionByName _).orderBy("bands")
  }

  lazy val dedupBandingSweepSql: String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    val perConfig = BandingSweep.map { case (bc, r) =>
      s"""
      SELECT '${bc}x$r' AS banding, CAST($bc AS BIGINT) AS bands,
        CAST($r AS BIGINT) AS rows_per_band,
        (SELECT COUNT(*) FROM pairs_${bc}x$r) AS n_pairs,
        (SELECT COUNT(*) FROM sc_${bc}x$r) AS n_sampled,
        (SELECT CAST(coalesce(SUM(CASE WHEN n_union > 0
            AND 5 * n_common >= n_union THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM sc_${bc}x$r) AS n_verified_fifth,
        (SELECT CASE WHEN COUNT(*) > 0 THEN
            CAST(SUM(CASE WHEN n_union > 0 AND 5 * n_common >= n_union
              THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) END
          FROM sc_${bc}x$r) AS precision_fifth_est,
        (SELECT CASE WHEN SUM(n_union) > 0 THEN
            CAST(SUM(n_common) AS DOUBLE) / CAST(SUM(n_union) AS DOUBLE) END
          FROM sc_${bc}x$r) AS micro_jaccard_est"""
    }.mkString(" UNION ALL ")
    val configCtes = BandingSweep.map { case (bc, r) =>
      s"""
    sigs_${bc}x$r AS (
      SELECT doc_id, b AS band,
        array_to_string(list_transform(range(0, $r), rr ->
          CAST(mins[CAST(b * $r + rr + 1 AS INT)] AS VARCHAR)), ':') AS sig
      FROM minima, (SELECT unnest(range(0, $bc)) AS b)),
    hot_${bc}x$r AS (
      SELECT band, sig FROM sigs_${bc}x$r GROUP BY 1, 2
      HAVING count(*) > $MaxBucketDocs),
    cold_${bc}x$r AS (
      SELECT * FROM sigs_${bc}x$r ANTI JOIN hot_${bc}x$r USING (band, sig)),
    pairs_${bc}x$r AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM cold_${bc}x$r a JOIN cold_${bc}x$r b2
        ON a.band = b2.band AND a.sig = b2.sig AND a.doc_id < b2.doc_id),
    sc_${bc}x$r AS (
      SELECT coalesce(len(list_intersect(ga.gl, gb.gl)), 0) AS n_common,
        coalesce(len(ga.gl), 0) + coalesce(len(gb.gl), 0)
          - coalesce(len(list_intersect(ga.gl, gb.gl)), 0) AS n_union
      FROM pairs_${bc}x$r p
      LEFT JOIN g ga ON ga.doc_id = p.doc_a
      LEFT JOIN g gb ON gb.doc_id = p.doc_b
      WHERE list_reduce(list_transform(
          range(1, length('bsw|' || p.doc_a || ':' || p.doc_b) + 1), j ->
            CAST(ascii(substr('bsw|' || p.doc_a || ':' || p.doc_b,
              CAST(j AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647)
          % $BandingSampleMod = 0)"""
    }.mkString(",")
    s"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM documents
      WHERE length(lower(trim(text))) >= 5),
    h AS (
      SELECT doc_id, list_transform(range(0, length(norm) - 4), i ->
        (ascii(substr(norm, CAST(i + 1 AS INT), 1)) * 923521 +
         ascii(substr(norm, CAST(i + 2 AS INT), 1)) * 29791 +
         ascii(substr(norm, CAST(i + 3 AS INT), 1)) * 961 +
         ascii(substr(norm, CAST(i + 4 AS INT), 1)) * 31 +
         ascii(substr(norm, CAST(i + 5 AS INT), 1)))
        % 2147483647) AS hs
      FROM d),
    minima AS (
      SELECT doc_id, list_transform(range(0, 12), k ->
        list_min(list_transform(hs, x ->
          (${rowASql("k + 1")} * x + ${rowBSql("k + 1")})
          % 2147483647))) AS mins
      FROM h),
    g AS ($gramSetsSql),
    $configCtes
    SELECT * FROM ($perConfig)
    ORDER BY bands"""
  }

  /** C98's probed Hamming radii: every radius the 4-band blocking covers
    * COMPLETELY (pigeonhole: 4 bands ⇒ any pair within Hamming ≤ 3 shares
    * a band), so each curve point is the TRUE pair set at that radius,
    * not a blocking-dependent sample. */
  val RadiusSweep: Seq[Int] = 0 to SimhashMaxHamming

  /** C98: `q_simhash_radius_sweep` — the SIMHASH OPERATING CURVE:
    * candidate volume + sampled exact precision at Hamming radius ∈
    * {0..3}, completing the per-family knob tables (C91 tunes IVF's
    * nprobe, C93 tunes MinHash banding, THIS tunes the simhash radius).
    * Radius 0 is exact-signature collision; each +1 trades precision for
    * recall — the table says what each step buys and costs.
    *
    * One-pass shape (the C91 device): the C14 banded candidates are
    * computed ONCE with their hamming distance kept and cached; each
    * radius membership is an in-row `hamming ≤ r` filter over the cached
    * fixed-width pairs — no signature recompute, no re-blocking. The
    * budgeted verifier is C93's verbatim: a deterministic
    * 1-in-[[BandingSampleMod]] pair sample (salt `srs|`) scored against
    * the shared C89 gram-set arrays, sampled ONCE at the loosest radius
    * so every curve point reads the same scored relation.
    *
    * Scale: C14's bucket-capped self-join is the only heavy stage; the
    * sweep adds 4 tiny aggregates over cached bounded relations. */
  def simhashRadiusSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Caches.keep(simhashBandPairs(spark, dir)
      .select("doc_a", "doc_b", "hamming"))
    val gsets = gramSets(spark, dir)
    val sampled = Caches.keep(pairs
      .filter(expr(s"""graft_str_hash(concat('srs|', doc_a, ':', doc_b))
          % $BandingSampleMod""") === 0)
      .join(gsets.select(col("doc_id").as("doc_a"), col("gl").as("gl_a")),
        Seq("doc_a"), "left")
      .join(gsets.select(col("doc_id").as("doc_b"), col("gl").as("gl_b")),
        Seq("doc_b"), "left")
      .select(col("hamming"),
        coalesce(expr("graft_common_count(gl_a, gl_b)"), lit(0L))
          .as("n_common"),
        (coalesce(size(col("gl_a")), lit(0)).cast("long")
          + coalesce(size(col("gl_b")), lit(0)).cast("long")).as("n_ab"))
      .select(col("hamming"), col("n_common"),
        (col("n_ab") - col("n_common")).as("n_union")))
    RadiusSweep.map { r =>
      val total = pairs.filter(col("hamming") <= r)
        .agg(count(lit(1)).as("n_pairs"))
      val sc = sampled.filter(col("hamming") <= r).agg(
        count(lit(1)).as("n_sampled"),
        sum(when(col("n_union") > 0 &&
          col("n_common") * 5 >= col("n_union"), 1L).otherwise(0L))
          .as("n_verified_fifth"),
        sum("n_common").as("sum_common"),
        sum("n_union").as("sum_union"))
      total.crossJoin(sc).select(
        lit(r.toLong).as("radius"), col("n_pairs"), col("n_sampled"),
        coalesce(col("n_verified_fifth"), lit(0L)).as("n_verified_fifth"),
        when(col("n_sampled") > 0, col("n_verified_fifth").cast("double")
          / col("n_sampled").cast("double")).as("precision_fifth_est"),
        when(col("sum_union") > 0, col("sum_common").cast("double")
          / col("sum_union").cast("double")).as("micro_jaccard_est"))
    }.reduce(_ unionByName _).orderBy("radius")
  }

  val simhashRadiusSweepSql: String = {
    val perRadius = RadiusSweep.map { r =>
      s"""
      SELECT CAST($r AS BIGINT) AS radius,
        (SELECT COUNT(*) FROM cand_h WHERE hamming <= $r) AS n_pairs,
        (SELECT COUNT(*) FROM srs WHERE hamming <= $r) AS n_sampled,
        (SELECT CAST(coalesce(SUM(CASE WHEN n_union > 0
            AND 5 * n_common >= n_union THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM srs WHERE hamming <= $r) AS n_verified_fifth,
        (SELECT CASE WHEN COUNT(*) > 0 THEN
            CAST(SUM(CASE WHEN n_union > 0 AND 5 * n_common >= n_union
              THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) END
          FROM srs WHERE hamming <= $r) AS precision_fifth_est,
        (SELECT CASE WHEN SUM(n_union) > 0 THEN
            CAST(SUM(n_common) AS DOUBLE) / CAST(SUM(n_union) AS DOUBLE) END
          FROM srs WHERE hamming <= $r) AS micro_jaccard_est"""
    }.mkString(" UNION ALL ")
    s"""
    WITH cand_h AS (
      SELECT doc_a, doc_b, hamming FROM ($dedupSimhashBandSql)),
    g AS ($gramSetsSql),
    srs AS (
      SELECT p.hamming,
        coalesce(len(list_intersect(ga.gl, gb.gl)), 0) AS n_common,
        coalesce(len(ga.gl), 0) + coalesce(len(gb.gl), 0)
          - coalesce(len(list_intersect(ga.gl, gb.gl)), 0) AS n_union
      FROM cand_h p
      LEFT JOIN g ga ON ga.doc_id = p.doc_a
      LEFT JOIN g gb ON gb.doc_id = p.doc_b
      WHERE list_reduce(list_transform(
          range(1, length('srs|' || p.doc_a || ':' || p.doc_b) + 1), j ->
            CAST(ascii(substr('srs|' || p.doc_a || ':' || p.doc_b,
              CAST(j AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647)
          % $BandingSampleMod = 0)
    SELECT * FROM ($perRadius)
    ORDER BY radius"""
  }

  val dedupAgreementSql: String = s"""
    WITH mh AS (SELECT doc_a, doc_b FROM ($dedupMinhashLshSql)),
    nj AS (SELECT doc_a, doc_b FROM ($dedupNgramJaccardSql)),
    sb AS (SELECT doc_a, doc_b FROM ($dedupSimhashBandSql)),
    u AS (
      SELECT doc_a, doc_b, 'mh' AS m FROM mh
      UNION ALL SELECT doc_a, doc_b, 'nj' FROM nj
      UNION ALL SELECT doc_a, doc_b, 'sb' FROM sb),
    p AS (
      SELECT doc_a, doc_b,
        MAX(CASE WHEN m = 'mh' THEN 1 ELSE 0 END) AS f_mh,
        MAX(CASE WHEN m = 'nj' THEN 1 ELSE 0 END) AS f_nj,
        MAX(CASE WHEN m = 'sb' THEN 1 ELSE 0 END) AS f_sb
      FROM u GROUP BY 1, 2),
    t AS (
      SELECT CAST(SUM(f_mh) AS BIGINT) AS n_mh,
        CAST(SUM(f_nj) AS BIGINT) AS n_nj,
        CAST(SUM(f_sb) AS BIGINT) AS n_sb,
        CAST(SUM(f_mh * f_nj) AS BIGINT) AS b_mh_nj,
        CAST(SUM(f_mh * f_sb) AS BIGINT) AS b_mh_sb,
        CAST(SUM(f_nj * f_sb) AS BIGINT) AS b_nj_sb
      FROM p)
    SELECT method_a, method_b, n_a, n_b, n_both,
      n_a + n_b - n_both AS n_union,
      CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)
        AS pair_jaccard
    FROM (
      SELECT 'minhash_lsh' AS method_a, 'ngram_jaccard' AS method_b,
        n_mh AS n_a, n_nj AS n_b, b_mh_nj AS n_both FROM t
      UNION ALL SELECT 'minhash_lsh', 'simhash_band', n_mh, n_sb, b_mh_sb
      FROM t
      UNION ALL SELECT 'ngram_jaccard', 'simhash_band', n_nj, n_sb, b_nj_sb
      FROM t)
    ORDER BY method_a, method_b"""

  /** C105 degree-bucket ladder (fixed CASE buckets, deliberately not a
    * log(): the C21 no-libm rule, and the report's consumers think in
    * these bands anyway). Shared by the Spark and SQL twins. */
  private def degreeBucket(d: Column): Column =
    when(d === 1L, "1").when(d === 2L, "2")
      .when(d <= 4L, "3-4").when(d <= 8L, "5-8")
      .when(d <= 16L, "9-16").otherwise("17+")
  private def degreeBucketOrd(d: Column): Column =
    when(d === 1L, 1L).when(d === 2L, 2L)
      .when(d <= 4L, 3L).when(d <= 8L, 4L)
      .when(d <= 16L, 5L).otherwise(6L)
  private val degreeBucketSql: String =
    """CASE WHEN deg = 1 THEN '1' WHEN deg = 2 THEN '2'
            WHEN deg <= 4 THEN '3-4' WHEN deg <= 8 THEN '5-8'
            WHEN deg <= 16 THEN '9-16' ELSE '17+' END"""
  private val degreeBucketOrdSql: String =
    """CASE WHEN deg = 1 THEN 1 WHEN deg = 2 THEN 2
            WHEN deg <= 4 THEN 3 WHEN deg <= 8 THEN 4
            WHEN deg <= 16 THEN 5 ELSE 6 END"""

  /** C105: `q_dedup_pair_degree` — the DEGREE DISTRIBUTION of each
    * candidate pair graph (partners per doc, bucketed 1/2/3-4/5-8/9-16/
    * 17+): the HUB-DOC monitor. A fat tail says boilerplate hubs are
    * driving the pair volume — those docs belong to C59's canonical
    * keeper / C79's span excision, not pairwise drops — and the top
    * bucket's max_degree is the early-warning read on how close the
    * corpus runs to the [[MaxBucketDocs]] cap (degree is bounded by
    * bucket-mates, so a max_degree drifting toward the cap means the
    * NEXT crawl increment starts dropping candidate buckets). C75's
    * agreement matrix says whether the methods see the same pairs; this
    * says what SHAPE of graph each one sees.
    *
    * Scale: a consumer of the staged pair artifacts (the once-a-day
    * index; [[DedupArtifacts.pairDegreeStaged]] is the registered form):
    * O(pairs) read → direction union → one doc-keyed count → a 6-cell
    * per-method rollup, nothing touches text or signatures. Exactness:
    * integer degrees/counts, fixed CASE buckets, no division. */
  def pairDegreeOf(mh: DataFrame, nj: DataFrame, sb: DataFrame): DataFrame = {
    def side(p: DataFrame, m: String) = p.select(col("doc_a").as("doc_id"))
      .unionAll(p.select(col("doc_b").as("doc_id")))
      .withColumn("method", lit(m))
    side(mh, "minhash_lsh")
      .unionAll(side(nj, "ngram_jaccard"))
      .unionAll(side(sb, "simhash_band"))
      .groupBy("method", "doc_id").agg(count(lit(1)).as("deg"))
      .select(col("method"), degreeBucket(col("deg")).as("degree_bucket"),
        degreeBucketOrd(col("deg")).as("bucket_ord"), col("deg"))
      .groupBy("method", "degree_bucket", "bucket_ord")
      .agg(count(lit(1)).as("n_docs"), sum("deg").as("sum_degree"),
        max("deg").as("max_degree"))
      .orderBy("method", "bucket_ord")
  }

  lazy val pairDegreeSql: String = s"""
    WITH mh AS (SELECT doc_a, doc_b FROM ($dedupMinhashLshSql)),
    nj AS (SELECT doc_a, doc_b FROM ($dedupNgramJaccardSql)),
    sb AS (SELECT doc_a, doc_b FROM ($dedupSimhashBandSql)),
    u AS (
      SELECT 'minhash_lsh' AS method, doc_a AS doc_id FROM mh
      UNION ALL SELECT 'minhash_lsh', doc_b FROM mh
      UNION ALL SELECT 'ngram_jaccard', doc_a FROM nj
      UNION ALL SELECT 'ngram_jaccard', doc_b FROM nj
      UNION ALL SELECT 'simhash_band', doc_a FROM sb
      UNION ALL SELECT 'simhash_band', doc_b FROM sb),
    degs AS (
      SELECT method, doc_id, count(*) AS deg FROM u GROUP BY 1, 2)
    SELECT method, $degreeBucketSql AS degree_bucket,
      CAST($degreeBucketOrdSql AS BIGINT) AS bucket_ord,
      count(*) AS n_docs,
      CAST(SUM(deg) AS BIGINT) AS sum_degree,
      max(deg) AS max_degree
    FROM degs GROUP BY 1, 2, 3
    ORDER BY method, bucket_ord"""

  /** C73 anchored-span width in tokens: long enough that a repeat is
    * verbatim copying (the ExactSubstr threshold class), short enough that
    * partial overlaps between near-identical docs still align. Declared
    * before the SQL val that interpolates it. */
  val SpanTok: Int = 24

  /** C73 anchor density: a token position opens a span iff the salted
    * content hash of its token ≡ 0 (mod [[AnchorMod]]) — ~1 span per 8
    * tokens. */
  val AnchorMod: Int = 8

  /** C73: `q_substr_dup_spans` — SPAN-level duplicate detection (the
    * ExactSubstr idea: find ≥ [[SpanTok]]-token runs of text repeated
    * VERBATIM across documents, the unit memorization studies remove —
    * finer than C26's fixed chunks, which only match when chunk boundaries
    * align, and actionable unlike C64's 8-gram statistics). Span starts
    * are CONTENT-DEFINED: position p anchors iff
    * `graft_str_hash('anc|' + token_p) % AnchorMod = 0`, so a repeated
    * region anchors at the SAME in-text offsets in every copy regardless
    * of where it sits in each document — the winnowing/CDC trick that
    * makes position-independent span matching possible without all-pairs
    * alignment. Report per repeated span (seen in ≥ 2 docs): occurrence
    * count, doc count, first/last carrier.
    *
    * Exactness: anchor rule and md5 span keys are integer/hash-exact on
    * both engines (the C27 fold for the hash, the C64 md5 convention).
    *
    * Scale: spans explode at ~1/AnchorMod of token mass and collapse
    * IMMEDIATELY to 16-byte md5 keys (the span text never crosses a
    * partition boundary); one fact-scaled map-side-combined shuffle onto
    * the span grid; the ≥ 2-doc filter prunes the (overwhelmingly unique)
    * tail at the aggregate. No pair join anywhere — a boilerplate span
    * repeated a million times is ONE grid row, not 10¹² pairs. */
  def substrDupSpans(spark: SparkSession, dir: String): DataFrame = {
    anchoredSpans(Tables.documents(spark, dir))
      .select(col("doc_id"), col("span_hash"))
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("span_hash")
  }

  val substrDupSpansSql: String = {
    val cat = (1 to SpanTok)
      .map(j => s"toks[CAST(p + $j AS INT)]").mkString(" || ' ' || ")
    val anchor = s"""(list_reduce(list_transform(
        range(1, length('anc|' || toks[CAST(p + 1 AS INT)]) + 1), i ->
          CAST(ascii(substr('anc|' || toks[CAST(p + 1 AS INT)],
                            CAST(i AS INT), 1)) AS BIGINT)),
        (acc, c) -> (acc * 31 + c) % 2147483647)) % $AnchorMod = 0"""
    s"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    s AS (
      SELECT doc_id, md5(span) AS span_hash FROM (
        SELECT doc_id, unnest(list_transform(
          list_filter(range(0, len(toks) - ${SpanTok - 1}), p -> $anchor),
          p -> $cat)) AS span
        FROM d WHERE len(toks) >= $SpanTok))
    SELECT span_hash, COUNT(*) AS n_occ,
      COUNT(DISTINCT doc_id) AS n_docs,
      MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM s GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY 1"""
  }

  /** C106: `q_span_mask_plan` — the ACTIONABLE output of the span family:
    * one row per NON-KEEPER occurrence of every C73 duplicate span —
    * (doc_id, span_start, span_tokens, span_hash) — exactly what a
    * training-data writer consumes to loss-mask (or excise) repeated
    * spans while keeping one canonical occurrence in the corpus. C73
    * reports that duplicate spans exist, C79 prices what masking them
    * saves, C87 excises benchmark contamination; this emits the
    * per-occurrence coordinates for the dedup case — the step between
    * the report and the rewrite. The keeper is the global
    * min-(doc_id, position) occurrence per span (the C26 integer
    * encoder: doc·10⁶ + pos, exact while positions stay under 10⁶ —
    * a 2M-token doc needs the struct-min swap documented there).
    * Adjacent plan rows overlap when anchors sit closer than
    * [[SpanTok]]; the writer coalesces intervals — emitting them
    * pre-merged would hide the per-span provenance (which span_hash
    * caused which mask) that an audit needs.
    *
    * Scale: the anchored-span explode is C73's own (O(tokens/8) rows per
    * doc), cached once for its two consumers (the dup-span set and the
    * keeper mins — both collapse to span-hash relations); the plan join
    * keys on span_hash. Output is O(duplicate occurrences). Exactness:
    * md5 keys, integer positions, min-encoder keeper, no floats at all;
    * the row count reconciles with C79's maskable_occ by construction
    * (spec-pinned). */
  def spanMaskPlan(spark: SparkSession, dir: String): DataFrame =
    spanMaskRows(spark, dir).orderBy("doc_id", "span_start", "span_hash")

  /** The C73/C106 anchored-span relation of an arbitrary (doc_id, text)
    * frame: one row per anchored [[SpanTok]]-token span occurrence —
    * (doc_id, pos, span_hash).
    * Batch-parametric so D34 can run it per micro-batch. */
  private[graft] def anchoredSpans(docs: DataFrame): DataFrame = {
    val els = (1 to SpanTok)
      .map(j => s"element_at(toks, cast(p + $j as int))").mkString(", ")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= SpanTok)
      .select(col("doc_id"), explode(expr(
        s"""transform(
              filter(sequence(0, size(toks) - $SpanTok),
                p -> graft_str_hash(concat('anc|',
                       element_at(toks, cast(p + 1 as int)))) % $AnchorMod = 0),
              p -> struct(p AS pos, concat_ws(' ', $els) AS span))"""))
        .as("o"))
      .select(col("doc_id"), col("o.pos").cast("long").as("pos"),
        md5(col("o.span").cast("binary")).as("span_hash"))
  }

  /** D34's batch body: every anchored-span occurrence in `docs` whose
    * span_hash is in `spanIndex` (a frozen 1-column dup-span relation),
    * as mask coordinates. No keeper election — in the incremental
    * deployment the canonical occurrence already lives in the STANDING
    * corpus the index was built from, so every arriving hit is maskable
    * (C58's batch-vs-index triage, applied to spans). Self-indexed over
    * the standing corpus itself this returns C106 ∪ the keepers — the
    * reconciliation StreamingSpec pins. */
  def spanMaskAgainst(docs: DataFrame, spanIndex: DataFrame): DataFrame =
    anchoredSpans(docs)
      .join(spanIndex.select("span_hash"), Seq("span_hash"))
      .select(col("doc_id"), col("pos").as("span_start"),
        lit(SpanTok.toLong).as("span_tokens"), col("span_hash"))

  /** C106 core (unsorted): shared with C107, which re-partitions by doc
    * for the interval merge — inheriting C106's output sort would pay a
    * global range exchange only to immediately hash-repartition. */
  private def spanMaskRows(spark: SparkSession, dir: String): DataFrame = {
    val occ = Caches.keep(anchoredSpans(Tables.documents(spark, dir)))
    val dup = occ.groupBy("span_hash")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2).select("span_hash")
    val keep = occ
      .select(col("span_hash"),
        (col("doc_id") * 1000000L + col("pos")).as("code"))
      .groupBy("span_hash").agg(min("code").as("keep_code"))
    occ.join(dup, Seq("span_hash")).join(keep, Seq("span_hash"))
      .filter(col("doc_id") * 1000000L + col("pos") =!= col("keep_code"))
      .select(col("doc_id"), col("pos").as("span_start"),
        lit(SpanTok.toLong).as("span_tokens"), col("span_hash"))
  }

  lazy val spanMaskPlanSql: String =
    spanMaskRowsSql + "\n    ORDER BY doc_id, span_start, span_hash"

  private lazy val spanMaskRowsSql: String = {
    val cat = (1 to SpanTok)
      .map(j => s"toks[CAST(p + $j AS INT)]").mkString(" || ' ' || ")
    val anchor = s"""(list_reduce(list_transform(
        range(1, length('anc|' || toks[CAST(p + 1 AS INT)]) + 1), i ->
          CAST(ascii(substr('anc|' || toks[CAST(p + 1 AS INT)],
                            CAST(i AS INT), 1)) AS BIGINT)),
        (acc, c) -> (acc * 31 + c) % 2147483647)) % $AnchorMod = 0"""
    s"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    o AS (
      SELECT doc_id, p AS pos, md5($cat) AS span_hash
      FROM (
        SELECT doc_id, toks,
          unnest(list_filter(range(0, len(toks) - ${SpanTok - 1}),
            p -> $anchor)) AS p
        FROM d WHERE len(toks) >= $SpanTok)),
    dup AS (
      SELECT span_hash FROM o GROUP BY 1
      HAVING COUNT(DISTINCT doc_id) >= 2),
    keep AS (
      SELECT span_hash, MIN(doc_id * 1000000 + pos) AS keep_code
      FROM o GROUP BY 1)
    SELECT o.doc_id, o.pos AS span_start,
      CAST($SpanTok AS BIGINT) AS span_tokens, o.span_hash
    FROM o
    JOIN dup USING (span_hash)
    JOIN keep USING (span_hash)
    WHERE o.doc_id * 1000000 + o.pos <> keep.keep_code"""
  }

  /** C107: `q_mask_coalesce` — the WRITER-side interval merge over C106's
    * plan: per document, the non-keeper span occurrences coalesced into
    * maximal disjoint masked intervals (overlap OR exact adjacency merges
    * — end-exclusive grid), with the EXACT masked token mass that C79
    * could only bound from above (its `maskable_tokens_bound` counts
    * overlapping spans twice; this is the number the loss actually
    * loses). Output per affected doc: plan rows absorbed, interval
    * count, masked tokens, doc tokens, masked share — the per-doc gate a
    * writer reads to decide mask-vs-drop (a doc that is 90% masked
    * boilerplate is a C59 canonicalization candidate, not a masking
    * one). Classic gaps-and-islands: running max-end over a
    * doc-partitioned window marks island starts, a running sum numbers
    * them, two grouped aggregates collapse them.
    *
    * Scale: every window is PARTITIONED BY doc (never global) over
    * O(dup occurrences per doc) rows; the doc-token side joins as a
    * narrow (doc_id, count) projection shuffled once on doc_id. All
    * integer arithmetic off the span grid; one final division.
    * Exactness pins: Σ masked_tokens ∈ [C79 bound / overlap-worst-case,
    * C79 bound], per-doc masked_tokens ≤ doc_tokens (spec). */
  def maskCoalesce(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = maskPerDoc(spark, dir)
    val docTok = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("doc_tokens"))
    perDoc.join(docTok, "doc_id")
      .select(col("doc_id"), col("n_mask_rows"), col("n_intervals"),
        col("masked_tokens"), col("doc_tokens"),
        (col("masked_tokens").cast("double")
          / col("doc_tokens").cast("double")).as("masked_share"))
      .orderBy("doc_id")
  }

  /** C107 per-doc core (no doc join, unsorted): shared with C108's
    * per-source rollup, which joins the corpus on its own terms. */
  private def maskPerDoc(spark: SparkSession, dir: String): DataFrame =
    coalesceIntervals(spanMaskRows(spark, dir))

  /** The C107 gaps-and-islands merge over any (doc_id, span_start) mask
    * relation → per-doc (n_mask_rows, n_intervals, masked_tokens).
    * Shared by the dir-bound C107/C108 and D35's per-batch body. */
  private def coalesceIntervals(maskRows: DataFrame): DataFrame = {
    val rows = maskRows
      .select(col("doc_id"), col("span_start"),
        (col("span_start") + SpanTok).as("span_end"))
    val ord = Window.partitionBy("doc_id").orderBy("span_start")
    val isl = rows
      .withColumn("prev_end",
        max("span_end").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("span_start") > col("prev_end"),
          1L).otherwise(0L))
      .withColumn("island",
        sum("new_island").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    val merged = isl.groupBy("doc_id", "island")
      .agg(min("span_start").as("m_start"), max("span_end").as("m_end"),
        count(lit(1)).as("n_abs"))
    merged.groupBy("doc_id")
      .agg(sum("n_abs").as("n_mask_rows"),
        count(lit(1)).as("n_intervals"),
        sum(col("m_end") - col("m_start")).as("masked_tokens"))
  }

  /** D35's batch body: the C108 accounting grid of an arbitrary
    * (doc_id, source, text) batch against a frozen span index — D34's
    * no-keeper mask semantics (every index hit is maskable; the
    * canonical copy lives in the standing corpus) run through the C107
    * interval merge, rolled up per source as PLAIN ADDITIVE COUNTERS
    * (no shares — ratios are not mergeable across epochs; the consumer
    * divides after summing, the D29/D31 convention). Per-doc quantities
    * are additive across any batch split because docs arrive whole. */
  def maskDatasheetAgainst(docs: DataFrame, spanIndex: DataFrame): DataFrame = {
    val perDoc = coalesceIntervals(spanMaskAgainst(docs, spanIndex))
      .select("doc_id", "masked_tokens")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("doc_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("masked_tokens").isNotNull, 1L).otherwise(0L))
          .as("n_affected_docs"),
        sum(col("doc_tokens")).as("tokens_total"),
        sum(coalesce(col("masked_tokens"), lit(0L))).as("tokens_masked"))
  }

  /** C107 per-doc core as a DuckDB CTE body (mirrors [[maskPerDoc]]). */
  private lazy val maskPerDocSql: String = s"""
    WITH plan_rows AS ($spanMaskRowsSql),
    iv AS (
      SELECT doc_id, span_start, span_start + $SpanTok AS span_end
      FROM plan_rows),
    isl AS (
      SELECT doc_id, span_start, span_end,
        SUM(CASE WHEN prev_end IS NULL OR span_start > prev_end
                 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY span_start
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM (
        SELECT doc_id, span_start, span_end,
          MAX(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM iv)),
    merged AS (
      SELECT doc_id, island, MIN(span_start) AS m_start,
        MAX(span_end) AS m_end, COUNT(*) AS n_abs
      FROM isl GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(n_abs) AS BIGINT) AS n_mask_rows,
      COUNT(*) AS n_intervals,
      CAST(SUM(m_end - m_start) AS BIGINT) AS masked_tokens
    FROM merged GROUP BY 1"""

  lazy val maskCoalesceSql: String = s"""
    WITH per_doc AS ($maskPerDocSql),
    dt AS (
      SELECT doc_id,
        CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
          AS BIGINT) AS doc_tokens
      FROM documents WHERE length(trim(text)) > 0)
    SELECT p.doc_id, p.n_mask_rows, p.n_intervals, p.masked_tokens,
      d.doc_tokens,
      CAST(p.masked_tokens AS DOUBLE) / CAST(d.doc_tokens AS DOUBLE)
        AS masked_share
    FROM per_doc p JOIN dt d USING (doc_id)
    ORDER BY p.doc_id"""

  /** C108: `q_mask_datasheet` — the span family's per-SOURCE rollup, the
    * row a curation lead actually reads: per source, docs, affected
    * docs, token mass, exact masked token mass (C107's merged
    * intervals), and the masked share — naming which sources carry the
    * repeated-span burden. C38 prices removing exact-dup DOCS per
    * source; this prices masking repeated SPANS per source — the two
    * budgets are different levers (drop vs loss-mask) and a source can
    * be clean on one and heavy on the other (templated feeds: unique
    * docs, boilerplate spans). Completes the chain C73 → C106 → C107 →
    * per-source accounting, the same report shape as C31/C47.
    *
    * Scale: C107's per-doc core (doc-partitioned windows over dup
    * occurrences) left-joined under the corpus on doc_id — the corpus
    * side is a narrow (doc_id, source, token-count) projection, the
    * rollup collapses onto O(sources) rows map-side. Integer sums, one
    * division, COALESCE(0) for untouched docs on both engines. */
  def maskDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("doc_tokens"))
    docs.join(maskPerDoc(spark, dir).select("doc_id", "masked_tokens"),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("masked_tokens").isNotNull, 1L).otherwise(0L))
          .as("n_affected_docs"),
        sum(col("doc_tokens")).as("tokens_total"),
        sum(coalesce(col("masked_tokens"), lit(0L))).as("tokens_masked"))
      .select(col("source"), col("n_docs"), col("n_affected_docs"),
        col("tokens_total"), col("tokens_masked"),
        (col("tokens_masked").cast("double")
          / col("tokens_total").cast("double")).as("masked_share"))
      .orderBy("source")
  }

  lazy val maskDatasheetSql: String = s"""
    WITH per_doc AS ($maskPerDocSql),
    docs AS (
      SELECT doc_id, source,
        CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
          AS BIGINT) AS doc_tokens
      FROM documents WHERE length(trim(text)) > 0)
    SELECT d.source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN p.masked_tokens IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_affected_docs,
      CAST(SUM(d.doc_tokens) AS BIGINT) AS tokens_total,
      CAST(SUM(COALESCE(p.masked_tokens, 0)) AS BIGINT) AS tokens_masked,
      CAST(SUM(COALESCE(p.masked_tokens, 0)) AS DOUBLE)
        / CAST(SUM(d.doc_tokens) AS DOUBLE) AS masked_share
    FROM docs d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.source ORDER BY d.source"""

  /** C111's deterministic 1-in-N document sample for the recall ground
    * truth. DEPLOYMENT RULE: N scales with the corpus so the sampled
    * sub-universe (and its all-pairs ground truth) stays a fixed budget —
    * the same capacity-follows-its-driver rule as C35's quantizer k and
    * C84's Bloom bits. */
  val RecallDocMod: Int = 5

  /** C111: `q_dedup_lsh_recall` — the RECALL half of the LSH operating
    * story, measured: C93's banding sweep prices candidate VOLUME and
    * (sampled) precision, but never says what the banding MISSES — the
    * number that decides whether 4×3 is safe or leaking near-dups into
    * training. Ground truth is candidate-INDEPENDENT: a deterministic
    * 1-in-[[RecallDocMod]] doc sample, ALL pairs inside it scored by
    * exact token-3-gram Jaccard (the C89 verification measure), at three
    * thresholds 1/5, 1/3, 1/2; recall = the fraction of true ≥θ pairs
    * present in C2's production pair set. The curve must RISE with θ
    * (LSH's collision S-curve — band collision probability grows with
    * true similarity); a flat-low curve says the banding, not the
    * corpus, is the problem.
    *
    * The sample×sample all-pairs join is the one deliberately
    * non-blocked join in the dedup family — bounded BY the sampling
    * rule, not by data (broadcast side ≈ corpus/N docs × 52 longs), the
    * C6-bruteforce idea applied to dedup ground truth. Thresholds are
    * integer cross-multiplies (n_common·k ≥ n_union ⟺ J ≥ 1/k) — no
    * float thresholds on either engine; every row of the 3-row output
    * exists even when a threshold has no true pairs (conditional sums
    * over the unfiltered threshold explode, recall NULL on an empty
    * denominator). Scale: gram sets are the cached C89 relation cut to
    * the sample; the C2 pair set joins back on (doc_a, doc_b) — O(sample²
    * + pairs), both budget-bounded. */
  def dedupLshRecall(spark: SparkSession, dir: String,
      mod: Int = RecallDocMod): DataFrame =
    lshRecallOf(spark, dir,
      minhashPairs(spark, dir).select("doc_a", "doc_b"), mod)

  /** [[dedupLshRecall]] against an ARBITRARY candidate pair set — the
    * registered query scores C2's production banding; the C111 negative
    * control scores a deliberately degenerate banding through the same
    * metric and must see recall drop (the metric detects what it exists
    * to detect — the C101/C103 constructed-degeneracy pattern). */
  private[graft] def lshRecallOf(spark: SparkSession, dir: String,
      candidates: DataFrame, mod: Int): DataFrame = {
    val gs = Caches.keep(gramSets(spark, dir)
      .filter(expr(
        s"graft_str_hash(concat('rcl|', cast(doc_id as string))) % $mod = 0")))
    val nSample = gs.agg(count(lit(1)).as("n_sample_docs"))
    val mh = candidates
      .select(col("doc_a"), col("doc_b"), lit(1L).as("cand"))
    val truth = gs.select(col("doc_id").as("doc_a"), col("gl").as("gl_a"))
      .join(broadcast(
          gs.select(col("doc_id").as("doc_b"), col("gl").as("gl_b"))),
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("graft_common_count(gl_a, gl_b)").as("n_common"),
        (size(col("gl_a")) + size(col("gl_b"))).cast("long").as("n_ab"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_ab") - col("n_common")).as("n_union"))
      .filter(col("n_union") > 0)
    truth.join(mh, Seq("doc_a", "doc_b"), "left")
      .select(col("n_common"), col("n_union"),
        coalesce(col("cand"), lit(0L)).as("caught"),
        explode(array(lit(5L), lit(3L), lit(2L))).as("k"))
      .groupBy("k")
      .agg(
        sum(when(col("n_common") * col("k") >= col("n_union"), 1L)
          .otherwise(0L)).as("n_true_pairs"),
        sum(when(col("n_common") * col("k") >= col("n_union"),
          col("caught")).otherwise(0L)).as("n_caught"))
      .crossJoin(broadcast(nSample))
      .select(concat(lit("1/"), col("k").cast("string")).as("threshold"),
        col("n_sample_docs"), col("n_true_pairs"), col("n_caught"),
        when(col("n_true_pairs") > 0L, col("n_caught").cast("double")
          / col("n_true_pairs").cast("double")).as("recall_est"))
      .orderBy("threshold")
  }

  /** Candidate pairs from regrouping the SAME 12 raw minima as
    * bands × rowsPer (bands·rowsPer ≤ 12) with the production hot-bucket
    * cap — C93's per-config generator in standalone form, exposed so the
    * C111 negative control can feed a deliberately bad banding through
    * the recall metric. */
  private[graft] def bandedCandidates(spark: SparkSession, dir: String,
      bands: Int, rowsPer: Int): DataFrame = {
    require(bands * rowsPer <= 12, s"banding ${bands}x$rowsPer exceeds 12 rows")
    val sigs = Tables.documents(spark, dir)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(col("doc_id"), expr("graft_minhash_rows(norm)").as("mins"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
              concat_ws(':', transform(sequence(0, ${rowsPer - 1}), rr ->
                cast(element_at(mins, b * $rowsPer + rr + 1) as string))))""")))
      .toDF("doc_id", "band", "sig")
    val hot = sigs.groupBy("band", "sig")
      .agg(count(lit(1)).as("df")).filter(col("df") > MaxBucketDocs)
      .select("band", "sig")
    val cold = sigs.join(broadcast(hot), Seq("band", "sig"), "left_anti")
    cold.as("a").join(cold.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def dedupLshRecallSqlFor(mod: Int = RecallDocMod): String = s"""
    WITH g0 AS ($gramSetsSql),
    smp AS (
      SELECT doc_id, gl FROM g0
      WHERE (list_reduce(list_transform(
          range(1, length('rcl|' || CAST(doc_id AS VARCHAR)) + 1), i ->
            CAST(ascii(substr('rcl|' || CAST(doc_id AS VARCHAR),
                              CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647)) % $mod = 0),
    mh AS ($dedupMinhashLshSql),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(coalesce(len(list_intersect(a.gl, b.gl)), 0) AS BIGINT)
          AS n_common,
        CAST(len(a.gl) + len(b.gl)
          - coalesce(len(list_intersect(a.gl, b.gl)), 0) AS BIGINT)
          AS n_union
      FROM smp a JOIN smp b ON a.doc_id < b.doc_id),
    f AS (
      SELECT t.n_common, t.n_union,
        CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
      FROM truth t LEFT JOIN mh
        ON t.doc_a = mh.doc_a AND t.doc_b = mh.doc_b
      WHERE t.n_union > 0),
    x AS (SELECT f.*, k FROM f, (SELECT unnest([5, 3, 2]) AS k)),
    n AS (SELECT COUNT(*) AS n_sample_docs FROM smp)
    SELECT '1/' || CAST(k AS VARCHAR) AS threshold, n.n_sample_docs,
      CAST(SUM(CASE WHEN n_common * k >= n_union THEN 1 ELSE 0 END)
        AS BIGINT) AS n_true_pairs,
      CAST(SUM(CASE WHEN n_common * k >= n_union THEN caught ELSE 0 END)
        AS BIGINT) AS n_caught,
      CASE WHEN SUM(CASE WHEN n_common * k >= n_union THEN 1 ELSE 0 END) > 0
        THEN CAST(SUM(CASE WHEN n_common * k >= n_union THEN caught
                      ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CASE WHEN n_common * k >= n_union THEN 1 ELSE 0 END)
                  AS DOUBLE) END AS recall_est
    FROM x, n GROUP BY 1, 2 ORDER BY 1"""

  lazy val dedupLshRecallSql: String = dedupLshRecallSqlFor()

  /** C82: `q_dedup_funnel` — the staged dedup WATERFALL: the corpus walked
    * through the full dedup battery in deployment order — exact content
    * dedup (C1 keepers) → near-dup canonicalization (C18 clusters, C59's
    * quality-max keeper) → semantic dedup (C35 verdicts) — with surviving
    * docs, surviving tokens, and the share of the original corpus at each
    * stage. This is the accounting view that justifies the battery: each
    * stage's marginal removal is visible (a stage removing ~nothing after
    * the previous ones is a candidate to drop from the pipeline), and the
    * final row is the post-dedup corpus the mix/pack planners (C27/C28)
    * actually feed on.
    *
    * Semantics: stages are CUMULATIVE keep-set intersections — a doc
    * survives stage k iff it survived every earlier stage too, so the
    * counts are monotone non-increasing by construction. Docs outside a
    * stage's domain (no C18 node, no embedding) pass that stage untouched.
    *
    * Exactness: per-doc keep flags from exact joins; stage rows are
    * conditional integer sums off ONE aggregate; shares divide once.
    *
    * Scale: composes the three components' own 100 TB-shaped plans; the
    * flag joins key on doc_id (16-byte/8-byte keys) and the funnel
    * collapses map-side into ONE six-counter row expanded to 4 stage rows
    * (the C75 assembly). The registered
    * `q_dedup_funnel` is [[DedupArtifacts.funnelStaged]]: C18's labels are
    * PERSISTED by their own job and the funnel action reads the artifact,
    * so the composed action holds at most the semantic stage's caches —
    * this inline form is the declarative reference, byte-equality
    * spec-pinned (ArtifactSpec). */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame =
    // ONE component computation feeds both the membership and the keeper
    // rule (canonicalFrom) — calling dedupCanonical here would re-run the
    // C18 iterative loop a second time
    funnelFrom(spark, dir, Caches.keep(dedupComponents(spark, dir)))

  /** C82's waterfall over an ALREADY-COMPUTED component relation (cached
    * inline upstream, or read back from the persisted artifact) — shared
    * by both paths so they cannot drift. `comp` is consumed twice
    * (membership + keeper rule); the caller decides whether that reuse is
    * a cache or a parquet re-read. */
  private[graft] def funnelFrom(spark: SparkSession, dir: String,
      comp: DataFrame): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("n_tok"))
    val exactKeep = dedupExact(spark, dir)
      .select(col("keep_doc_id").as("doc_id"), lit(true).as("ex"))
    val nearDrop = comp
      .filter(col("component_size") > 1)
      .join(canonicalFrom(spark, dir, comp)
        .select(col("component_id"), col("keep_doc_id")), Seq("component_id"))
      .filter(col("doc_id") =!= col("keep_doc_id"))
      .select(col("doc_id"), lit(true).as("nd")).distinct()
    val semKeep = EmbeddingOps.semanticDedup(spark, dir)
      .select(col("vec_id").as("doc_id"), col("keep").as("sk"))
    val flags = d
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(semKeep, Seq("doc_id"), "left")
      .select(col("n_tok"),
        col("ex").isNotNull.as("s1"),
        (col("ex").isNotNull && col("nd").isNull).as("s2"),
        (col("ex").isNotNull && col("nd").isNull &&
          coalesce(col("sk"), lit(true))).as("s3"))
    // cache(): the 4-stage assembly reads `t` once per stage row — same
    // exchange-reuse defeat as C75/C89's assembly, same one-row fix.
    val t = Caches.keep(flags.agg(
      count(lit(1)).as("n0"), sum("n_tok").as("t0"),
      sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("s1"), col("n_tok")).otherwise(0L)).as("t1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("s2"), col("n_tok")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("s3"), col("n_tok")).otherwise(0L)).as("t3")))
    def stage(i: Int, name: String, n: String, tk: String) =
      t.select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
        col(n).as("n_docs"), col(tk).as("n_tokens"),
        (col(n).cast("double") / col("n0").cast("double")).as("doc_share"),
        (col(tk).cast("double") / col("t0").cast("double")).as("token_share"))
    stage(0, "corpus", "n0", "t0")
      .unionByName(stage(1, "exact", "n1", "t1"))
      .unionByName(stage(2, "near", "n2", "t2"))
      .unionByName(stage(3, "semantic", "n3", "t3"))
      .orderBy("stage")
  }

  /** A `def`, not a `val` (round 15 — a latent object-initialization
    * cycle): this SQL interpolates [[EmbeddingOps.semanticDedupSql]],
    * and EmbeddingOps's own init interpolates [[dedupMinhashEstSql]]
    * from THIS object. If EmbeddingOps initialized first (any ANN query
    * touched before the oracle map is built), its init re-entered
    * DedupOps's init, which then read the not-yet-assigned
    * `semanticDedupSql` as null and baked `FROM (null)` into the oracle
    * forever. As a def the interpolation happens at CALL time, after
    * both objects complete initialization — DedupOps's init no longer
    * references EmbeddingOps at all, so the cycle is gone in either
    * touch order. */
  def dedupFunnelSql: String = s"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                  AS BIGINT) END AS n_tok
      FROM documents),
    ek AS (SELECT keep_doc_id AS doc_id FROM ($dedupExactSql)),
    comp AS (SELECT doc_id, component_id, component_size
             FROM ($dedupComponentsSql)),
    can AS (SELECT component_id, keep_doc_id FROM ($dedupCanonicalSql)),
    ndrop AS (
      SELECT DISTINCT c.doc_id FROM comp c
      JOIN can ON c.component_id = can.component_id
      WHERE c.component_size > 1 AND c.doc_id <> can.keep_doc_id),
    sem AS (SELECT vec_id AS doc_id, keep
            FROM (${graft.operators.EmbeddingOps.semanticDedupSql})),
    f AS (
      SELECT d.n_tok,
        (ek.doc_id IS NOT NULL) AS s1,
        (ek.doc_id IS NOT NULL AND nd.doc_id IS NULL) AS s2,
        (ek.doc_id IS NOT NULL AND nd.doc_id IS NULL
          AND coalesce(sem.keep, TRUE)) AS s3
      FROM d
      LEFT JOIN ek USING (doc_id)
      LEFT JOIN ndrop nd USING (doc_id)
      LEFT JOIN sem USING (doc_id)),
    t AS (
      SELECT COUNT(*) AS n0, CAST(SUM(n_tok) AS BIGINT) AS t0,
        CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN s1 THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN s2 THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
        CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        CAST(SUM(CASE WHEN s3 THEN n_tok ELSE 0 END) AS BIGINT) AS t3
      FROM f)
    SELECT stage, stage_name, n_docs, n_tokens,
      CAST(n_docs AS DOUBLE) / CAST(n0 AS DOUBLE) AS doc_share,
      CAST(n_tokens AS DOUBLE) / CAST(t0 AS DOUBLE) AS token_share
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage, 'corpus' AS stage_name,
        n0 AS n_docs, t0 AS n_tokens, n0, t0 FROM t
      UNION ALL SELECT 1, 'exact', n1, t1, n0, t0 FROM t
      UNION ALL SELECT 2, 'near', n2, t2, n0, t0 FROM t
      UNION ALL SELECT 3, 'semantic', n3, t3, n0, t0 FROM t)
    ORDER BY stage"""

  /** C79: `q_span_savings` — the C38 savings-pricing read applied to C73's
    * span report: if every repeated anchored span kept ONE copy and masked
    * the rest (the substring-dedup training recipe — drop the repeat from
    * the loss, keep the context), how many span slots and tokens does that
    * cover? Reported as a masking-cost CEILING: overlapping spans
    * double-count tokens, so the true unique-token mass is ≤ this bound
    * (stated in the column name). The share rides the corpus token total
    * on a 1-row broadcast.
    *
    * Exactness: integer counts off the span grid; one final division.
    * Scale: C73's plan + a ≤ spans-row aggregate + one narrow token-count
    * pass — nothing new touches the corpus twice. */
  def spanSavings(spark: SparkSession, dir: String): DataFrame = {
    val spans = substrDupSpans(spark, dir)
    val agg = spans.agg(
      count(lit(1)).as("n_repeated_spans"),
      sum("n_occ").as("n_span_occ"),
      sum(col("n_occ") - 1).as("maskable_occ"))
    val tok = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))
        .as("total_tokens"))
    agg.crossJoin(broadcast(tok))
      .select(col("n_repeated_spans"), col("n_span_occ"),
        col("maskable_occ"),
        (col("maskable_occ") * SpanTok).as("maskable_tokens_bound"),
        col("total_tokens"),
        ((col("maskable_occ") * SpanTok).cast("double")
          / col("total_tokens").cast("double")).as("maskable_share_bound"))
  }

  val spanSavingsSql: String = s"""
    WITH spans AS ($substrDupSpansSql),
    a AS (
      SELECT COUNT(*) AS n_repeated_spans,
        CAST(SUM(n_occ) AS BIGINT) AS n_span_occ,
        CAST(SUM(n_occ - 1) AS BIGINT) AS maskable_occ
      FROM spans),
    t AS (
      SELECT CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
        AS BIGINT) AS total_tokens
      FROM documents WHERE length(trim(text)) > 0)
    SELECT n_repeated_spans, n_span_occ, maskable_occ,
      maskable_occ * $SpanTok AS maskable_tokens_bound,
      total_tokens,
      CAST(maskable_occ * $SpanTok AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        AS maskable_share_bound
    FROM a, t"""

  /** C101: `q_minhash_row_health` — per-permutation SKETCH-HEALTH monitor
    * over the 12 MinHash row minima: distinct-minima count, the modal
    * minimum with its share, the exact min/max, and the mean minimum as
    * a fraction of the hash modulus. This is the production read that
    * catches a DEGENERATE hash family BEFORE it floods LSH buckets: the
    * round-5 bug (a linear row family collapsing the 12 rows to far
    * fewer distinct behaviors) surfaces here as the ROWS agreeing with
    * each other — identical modal values / counts across permutations
    * that should be independent — and in the limit as top_share → 1,
    * n_distinct → 1 per row. Within-row minima collisions alone are NOT
    * a defect: two docs share a row minimum exactly when both contain
    * that row's argmin shingle, which is the similarity signal MinHash
    * exists to measure (on a shared-vocabulary corpus distinct_frac sits
    * well below 1 by construction); what must differ is the BEHAVIOR
    * ACROSS ROWS — 12 independent permutations pick 12 different argmin
    * shingles, so the modal values should be (near-)distinct and
    * mean_frac should track 1/(E[shingles]+1). C29 calibrates the
    * ESTIMATOR against exact Jaccard (expensive, sampled); this monitors
    * the RAW SKETCH — cheap enough to ride every signature build as a
    * standing QA row.
    *
    * Scale: the kernel's minima explode partial-aggregates onto the
    * (row_idx, min_value) grid map-side (12 rows/doc in, ≤ 12 × distinct
    * values out — the same O(rows·96B) budget as the signature build
    * itself), then three bounded rollups over the cached grid emit 12
    * rows. Exactness: integer counts/sums; the modal value is max-count-
    * then-min-value (deterministic ties); shares and the mean are single
    * divisions of exact longs (sum(min) ≤ n_docs·P stays in a long up to
    * ~4·10⁹ docs; past that the grid would carry decimal partial sums). */
  def minhashRowHealth(spark: SparkSession, dir: String): DataFrame = {
    val grid = Caches.keep(Tables.documents(spark, dir)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(posexplode(expr("graft_minhash_rows(norm)")))
      .toDF("row_idx", "m")
      .groupBy("row_idx", "m").agg(count(lit(1)).as("n")))
    val stats = grid.groupBy("row_idx").agg(
      sum("n").as("n_docs"), count(lit(1)).as("n_distinct"),
      min("m").as("min_min"), max("m").as("max_min"),
      sum(col("m") * col("n")).as("sum_min"))
    val tc = grid.groupBy("row_idx").agg(max("n").as("top_n"))
    val modal = grid.join(tc, Seq("row_idx"))
      .filter(col("n") === col("top_n"))
      .groupBy("row_idx")
      .agg(min("m").as("top_value"), max("top_n").as("top_count"))
    stats.join(modal, Seq("row_idx"))
      .select(col("row_idx").cast("long").as("row_idx"),
        col("n_docs"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_docs").cast("double"))
          .as("distinct_frac"),
        col("top_value"), col("top_count"),
        (col("top_count").cast("double") / col("n_docs").cast("double"))
          .as("top_share"),
        col("min_min"), col("max_min"),
        (col("sum_min").cast("double")
          / (col("n_docs") * lit(2147483647L)).cast("double")).as("mean_frac"))
      .orderBy("row_idx")
  }

  lazy val minhashRowHealthSql: String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    s"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM documents
      WHERE length(lower(trim(text))) >= 5),
    h AS (
      SELECT doc_id, list_transform(range(0, length(norm) - 4), i ->
        (ascii(substr(norm, CAST(i + 1 AS INT), 1)) * 923521 +
         ascii(substr(norm, CAST(i + 2 AS INT), 1)) * 29791 +
         ascii(substr(norm, CAST(i + 3 AS INT), 1)) * 961 +
         ascii(substr(norm, CAST(i + 4 AS INT), 1)) * 31 +
         ascii(substr(norm, CAST(i + 5 AS INT), 1)))
        % 2147483647) AS hs
      FROM d),
    minima AS (
      SELECT doc_id, list_transform(range(0, 12), k ->
        list_min(list_transform(hs, x ->
          (${rowASql("k + 1")} * x + ${rowBSql("k + 1")})
          % 2147483647))) AS mins
      FROM h),
    flat AS (
      SELECT k AS row_idx, mins[CAST(k + 1 AS INT)] AS m
      FROM minima, (SELECT unnest(range(0, 12)) AS k)),
    grid AS (SELECT row_idx, m, count(*) AS n FROM flat GROUP BY 1, 2),
    stats AS (
      SELECT row_idx, CAST(SUM(n) AS BIGINT) AS n_docs,
        count(*) AS n_distinct,
        min(m) AS min_min, max(m) AS max_min,
        CAST(SUM(m * n) AS BIGINT) AS sum_min
      FROM grid GROUP BY 1),
    tc AS (SELECT row_idx, max(n) AS top_n FROM grid GROUP BY 1),
    modal AS (
      SELECT g.row_idx, min(g.m) AS top_value, max(t.top_n) AS top_count
      FROM grid g JOIN tc t ON g.row_idx = t.row_idx AND g.n = t.top_n
      GROUP BY 1)
    SELECT s.row_idx, s.n_docs, s.n_distinct,
      CAST(s.n_distinct AS DOUBLE) / CAST(s.n_docs AS DOUBLE)
        AS distinct_frac,
      m.top_value, m.top_count,
      CAST(m.top_count AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS top_share,
      s.min_min, s.max_min,
      CAST(s.sum_min AS DOUBLE) / CAST(s.n_docs * 2147483647 AS DOUBLE)
        AS mean_frac
    FROM stats s JOIN modal m ON m.row_idx = s.row_idx
    ORDER BY s.row_idx"""
  }

  /** C103: `q_minhash_cross_row_agreement` — the DIRECT degeneracy metric
    * completing C101's story: for each of the 66 unordered permutation-row
    * pairs, the fraction of documents whose two row minima are EQUAL.
    * Independent permutations agree on a doc only when the same shingle
    * wins both rows (probability ≈ 1/distinct-shingles — small), so a
    * healthy family reads near-zero everywhere; a correlated family (the
    * round-5 linear-family bug: distinct (A,B) parameters collapsing to
    * the same function of h) reads agree_frac → 1 on exactly the
    * collapsed pairs — this table NAMES which rows to replace. C101 reads
    * each row alone (modal collapse); this reads the pairwise structure
    * the banding math assumes away ("12 independent rows") — together
    * they are the sketch's full health panel, cheap enough to ride every
    * signature build.
    *
    * Scale: the kernel's minima are computed once per doc (the signature
    * build's own cost), the 66 in-row comparisons explode to 66
    * fixed-width rows/doc that partial-aggregate map-side onto the
    * 66-cell grid — O(rows·66·16B) mapper output collapsing to 66 rows,
    * no joins, no extra shuffle beyond the grid's. Exactness: integer
    * counts, one division per cell. */
  def minhashCrossRowAgreement(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(expr("graft_minhash_rows(norm)").as("mins"))
      .select(explode(expr(
        """flatten(transform(sequence(0, 10), i ->
             transform(sequence(i + 1, 11), j ->
               struct(i AS row_a, j AS row_b,
                 IF(element_at(mins, i + 1) = element_at(mins, j + 1),
                    CAST(1 AS BIGINT), CAST(0 AS BIGINT)) AS eq))))"""))
        .as("p"))
      .select(col("p.row_a").cast("long").as("row_a"),
        col("p.row_b").cast("long").as("row_b"), col("p.eq"))
      .groupBy("row_a", "row_b")
      .agg(count(lit(1)).as("n_docs"), sum("eq").as("n_agree"))
      .select(col("row_a"), col("row_b"), col("n_docs"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_docs").cast("double"))
          .as("agree_frac"))
      .orderBy("row_a", "row_b")
  }

  lazy val minhashCrossRowAgreementSql: String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    s"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM documents
      WHERE length(lower(trim(text))) >= 5),
    h AS (
      SELECT doc_id, list_transform(range(0, length(norm) - 4), i ->
        (ascii(substr(norm, CAST(i + 1 AS INT), 1)) * 923521 +
         ascii(substr(norm, CAST(i + 2 AS INT), 1)) * 29791 +
         ascii(substr(norm, CAST(i + 3 AS INT), 1)) * 961 +
         ascii(substr(norm, CAST(i + 4 AS INT), 1)) * 31 +
         ascii(substr(norm, CAST(i + 5 AS INT), 1)))
        % 2147483647) AS hs
      FROM d),
    minima AS (
      SELECT doc_id, list_transform(range(0, 12), k ->
        list_min(list_transform(hs, x ->
          (${rowASql("k + 1")} * x + ${rowBSql("k + 1")})
          % 2147483647))) AS mins
      FROM h),
    pairs AS (
      SELECT ii.i AS row_a, jj.j AS row_b,
        CASE WHEN mins[CAST(ii.i + 1 AS INT)] = mins[CAST(jj.j + 1 AS INT)]
             THEN 1 ELSE 0 END AS eq
      FROM minima,
        (SELECT unnest(range(0, 12)) AS i) ii,
        (SELECT unnest(range(0, 12)) AS j) jj
      WHERE ii.i < jj.j)
    SELECT row_a, row_b, count(*) AS n_docs,
      CAST(SUM(eq) AS BIGINT) AS n_agree,
      CAST(SUM(eq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS agree_frac
    FROM pairs GROUP BY 1, 2 ORDER BY 1, 2"""
  }
}
