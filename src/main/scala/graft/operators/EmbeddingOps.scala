package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Feeds, Tables}

/** Similarity search over the `embeddings` table (SURVEY.md §2 C5-C7):
  * cosine near-dup pairs, brute-force ANN and LSH-bucketed ANN.
  *
  * Exactness vs the DuckDB oracle (SURVEY.md §3): every float reduction is a
  * *sequential left fold* over the same element order in both engines
  * (Spark `aggregate`, DuckDB `list_reduce`), float→double widening is exact,
  * so dot products and norms are bit-identical doubles.
  *
  * Scale design (100 TB):
  *  - Norms are computed once per vector in a narrow pass, so pair joins move
  *    only (id, key, vec, norm) and compute one dot per candidate pair.
  *  - C5 joins only within a `label` block; C7 only within an LSH bucket —
  *    the all-pairs surface is bounded by bucket volume, never corpus².
  *  - C6's probe side is a FIXED-SIZE batch ([[EmbeddingOps.ProbeBatch]]
  *    probes max, not a corpus fraction) and explicitly `broadcast()`, so the
  *    broadcast is O(batch) bytes at any corpus size and the scan side never
  *    shuffles: brute-force ANN is one pass over the corpus per probe batch.
  *  - C13's coarse quantizer is capped at [[EmbeddingOps.IvfK]] centroids —
  *    fixed k regardless of corpus size, so the centroid broadcast stays
  *    driver-small at 100 TB.
  */
object EmbeddingOps {

  /** Max probes per ANN batch. The selection predicate
    * (vec_id % 100 == 0 AND probeLo*100 <= vec_id < (probeLo+batch)*100)
    * keeps the probe side a bounded broadcast at any corpus size; callers
    * with more probes run successive batches by advancing `probeLo` (each
    * batch is one corpus pass). Each ANN oracle is a `...SqlFor(params)`
    * builder interpolating the SAME argument values the operator takes
    * (the registered `val` is the builder at defaults), so a non-default
    * call re-generates its oracle instead of silently desyncing from a
    * default-constant SQL. */
  val ProbeBatch: Int = 64

  /** Probe-batch predicate: every 100th vector id, windowed to
    * [lo·100, (lo+batch)·100). */
  private[operators] def probeFilter(lo: Int, batch: Int) =
    col("vec_id") % 100 === 0 &&
      col("vec_id") >= lit(lo.toLong * 100L) &&
      col("vec_id") < lit((lo.toLong + batch) * 100L)

  /** SQL twin of [[probeFilter]] — the one place the probe-window predicate
    * is spelled for oracles, parameterized identically. */
  private def probeSqlPred(c: String, lo: Int, batch: Int): String =
    s"$c % 100 = 0 AND $c >= ${lo.toLong * 100L} AND $c < ${(lo.toLong + batch) * 100L}"

  /** SQL twin of [[ivfCentroids]]'s selection predicate. */
  private def centSqlPred(c: String, k: Int): String =
    s"$c % 100 = 50 AND $c < ${k.toLong * 100L}"

  /** Coarse-centroid count cap for IVF — fixed k (real deployments train
    * k ≈ thousands of centroids); never a corpus fraction. */
  val IvfK: Int = 4096

  /** Cells searched per IVF probe. nprobe=2 measured recall@10 of 0.46 at
    * sf0.001 — deployable but modest; 4 lifts it to 0.90 (0.96 at sf0.01)
    * for exactly 2× the bounded per-probe candidate work (nprobe/k of the
    * corpus per probe at scale — with k = [[IvfK]], still ~0.1%). */
  val IvfNprobe: Int = 4

  /** Sequential-fold dot product of two float vectors as doubles — native
    * codegen kernel [[graft.functions.Kernels.dotF]], same fold order as the
    * oracle's `list_reduce`. */
  private[operators] def dotExpr(a: String, b: String): String =
    s"graft_dot($a, $b)"

  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        expr("graft_norm2(embedding)").as("n2"))
  }

  /** C5: near-duplicate pairs — cosine ≥ 0.30 within a `label` block.
    * Shuffles once on `label`; each block is an independent all-pairs. */
  def neardupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    v.as("a").join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (expr(dotExpr("a.embedding", "b.embedding")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cosine"))
      .filter(col("cosine") >= 0.30)
      .orderBy("vec_a", "vec_b")
  }

  val neardupEmbeddingSql: String = """
    WITH v AS (
      SELECT vec_id, label, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings)
    SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      list_reduce(list_transform(range(1, len(a.embedding) + 1), i ->
        CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) *
        CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(range(1, len(a.embedding) + 1), i ->
        CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) *
        CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(a.n2) * sqrt(b.n2)) >= 0.30
    ORDER BY vec_a, vec_b"""

  /** C5b: the 100 TB path for C5 — same cosine ≥ 0.30 verification, but a
    * candidate pair must ALSO share one of the
    * [[graft.functions.Kernels.LshTables]] multi-table LSH buckets inside
    * its label block, so a hot label is never all-pairs: per-label work is
    * T·|label|²/2^planes instead of |label|². Pairs found by several tables
    * collapse in one pair-keyed aggregate (identical cosine → max). C5 stays
    * the exact small-block baseline; this is the bounded variant a pipeline
    * runs when labels are unbounded. */
  def neardupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"), col("n2"),
        posexplode(expr("graft_lsh_buckets(embedding)")).as(Seq("t", "bucket")))
    v.as("a").join(v.as("b"),
        col("a.label") === col("b.label") && col("a.t") === col("b.t") &&
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (expr(dotExpr("a.embedding", "b.embedding")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cosine"))
      .groupBy("label", "vec_a", "vec_b").agg(max("cosine").as("cosine"))
      .filter(col("cosine") >= 0.30)
      .orderBy("vec_a", "vec_b")
  }

  val neardupEmbeddingLshSql: String = s"""
    WITH v AS (
      SELECT vec_id, label, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    tb AS (
      SELECT vec_id, label, embedding, n2, t,
        CAST(list_sum(list_transform(range(0, ${graft.functions.Kernels.LshPlanes}), p ->
          CASE WHEN list_reduce(list_transform(range(0, 64), j ->
              CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) *
              CAST(${graft.functions.Kernels.planeWSql(s"CAST(t * ${graft.functions.Kernels.LshPlanes} + p AS BIGINT)", "j")} AS DOUBLE)), (x, y) -> x + y)
              > CAST(0 AS DOUBLE)
          THEN (1 << p) ELSE 0 END)) AS INT) AS bucket
      FROM v, (SELECT unnest(range(0, ${graft.functions.Kernels.LshTables})) AS t))
    SELECT label, vec_a, vec_b, cosine FROM (
      SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        max(list_reduce(list_transform(range(1, len(a.embedding) + 1), i ->
          CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(a.n2) * sqrt(b.n2))) AS cosine
      FROM tb a JOIN tb b ON a.label = b.label AND a.t = b.t
        AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      GROUP BY 1, 2, 3)
    WHERE cosine >= 0.30
    ORDER BY vec_a, vec_b"""

  /** C6: brute-force ANN — top-k cosine neighbors for a fixed-size probe
    * batch (vec_id ≡ 0 mod 100, capped at [[ProbeBatch]]). Probes broadcast;
    * ties broken by neighbor id so the ranking is deterministic. */
  def annBruteforce(spark: SparkSession, dir: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame =
    bruteforceHits(vectors(spark, dir), probeBatch, probeLo)

  /** C6's search over an ARBITRARY (vec_id, embedding, n2) relation —
    * frame-parametric so [[AnnArtifacts]]' flat-index store can feed it
    * the persisted serving snapshot instead of the embeddings table
    * (probes come from the same relation: the store-fed serve path scans
    * ZERO embeddings, plan-pinned). */
  private[operators] def bruteforceHits(v: DataFrame,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = v.filter(probeFilter(probeLo, probeBatch))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("n2").as("p_n2"))
    val scored = v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select("probe_id", "neighbor_id", "cosine", "rnk")
      .orderBy("probe_id", "rnk")
  }

  def annBruteforceSqlFor(probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    s AS (
      SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
        list_reduce(list_transform(range(1, len(p.embedding) + 1), i ->
          CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(p.n2) * sqrt(e.n2)) AS cosine
      FROM v p, v e WHERE ${probeSqlPred("p.vec_id", probeLo, probeBatch)}
                      AND e.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, cosine, rnk FROM (
      SELECT probe_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM s) WHERE rnk <= 10
    ORDER BY probe_id, rnk"""

  val annBruteforceSql: String = annBruteforceSqlFor()

  /** Served-snippet width for C74 (characters of leading context). */
  val ServeSnippet: Int = 120

  /** C74: `q_ann_serve` — the retrieval SERVING read (the RAG-shaped
    * query that completes the ANN story: C62 trains the quantizer, C13/C56
    * index and search, THIS returns the payload a retrieval consumer
    * actually wants): for each probe, the exact top-10 neighbors joined
    * back to their documents — source, language, token count, and the
    * leading [[ServeSnippet]]-char snippet.
    *
    * Scale: the hit set is O(probeBatch · 10) BY CONSTRUCTION — a bounded
    * relation at any corpus size — so it BROADCASTS and the document fetch
    * is one map-side hash join against the corpus scan (column-pruned to
    * the served fields; the full text never shuffles, only the snippet
    * projection survives). Joining the other way (shuffling documents to
    * the hits) would move the corpus to serve 640 rows. */
  def annServe(spark: SparkSession, dir: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame =
    serveJoin(spark, dir, annBruteforce(spark, dir, probeBatch, probeLo))

  /** C74's payload fetch for an ARBITRARY bounded hit set — shared by the
    * inline plan and the store-fed serve so the document-side join shape
    * cannot drift. */
  private[operators] def serveJoin(spark: SparkSession, dir: String,
      hits: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("n_tok"),
        substring(trim(col("text")), 1, ServeSnippet).as("snippet"))
    docs.join(broadcast(hits), col("doc_id") === col("neighbor_id"))
      .select(col("probe_id"), col("rnk"), col("doc_id"), col("cosine"),
        col("source"), col("lang"), col("n_tok"), col("snippet"))
      .orderBy("probe_id", "rnk")
  }

  def annServeSqlFor(probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = s"""
    WITH hits AS (${annBruteforceSqlFor(probeBatch, probeLo)})
    SELECT h.probe_id, h.rnk, d.doc_id, h.cosine, d.source, d.lang,
      CASE WHEN length(trim(d.text)) = 0 THEN 0
           ELSE CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
                AS BIGINT) END AS n_tok,
      substr(trim(d.text), 1, $ServeSnippet) AS snippet
    FROM hits h JOIN documents d ON d.doc_id = h.neighbor_id
    ORDER BY h.probe_id, h.rnk"""

  val annServeSql: String = annServeSqlFor()

  /** C7: multi-table LSH ANN — [[graft.functions.Kernels.LshTables]]
    * independent sign-LSH tables of [[graft.functions.Kernels.LshPlanes]]
    * deterministic integer-arithmetic hyperplanes each (global plane g has
    * weights w_j = ((g·31 + j·17) mod 13) − 6). A probe meets candidates
    * sharing ANY table's bucket — the table union multiplies single-table
    * recall (measured 0.02-0.08 alone) while per-probe work stays
    * T·corpus/2^planes, bucket-sized, never corpus-sized. Duplicate
    * candidates from multiple tables collapse in one pair-keyed aggregate
    * before ranking. This is the scale path next to C6's exact baseline. */
  def annLsh(spark: SparkSession, dir: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vectors(spark, dir)
      .select(col("vec_id"), col("embedding"), col("n2"),
        posexplode(expr("graft_lsh_buckets(embedding)")).as(Seq("t", "bucket")))
    val probes = v.filter(probeFilter(probeLo, probeBatch))
      .select(col("vec_id").as("probe_id"), col("t"), col("bucket"),
        col("embedding").as("p_emb"), col("n2").as("p_n2"))
    val scored = v.join(broadcast(probes), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
      // same pair from several tables → identical cosine; max() dedupes
      // without shuffling embedding arrays
      .groupBy("probe_id", "neighbor_id").agg(max("cosine").as("cosine"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select("probe_id", "neighbor_id", "cosine", "rnk")
      .orderBy("probe_id", "rnk")
  }

  def annLshSqlFor(probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    tb AS (
      SELECT vec_id, t,
        CAST(list_sum(list_transform(range(0, ${graft.functions.Kernels.LshPlanes}), p ->
          CASE WHEN list_reduce(list_transform(range(0, 64), j ->
              CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) *
              CAST(${graft.functions.Kernels.planeWSql(s"CAST(t * ${graft.functions.Kernels.LshPlanes} + p AS BIGINT)", "j")} AS DOUBLE)), (x, y) -> x + y)
              > CAST(0 AS DOUBLE)
          THEN (1 << p) ELSE 0 END)) AS INT) AS bucket
      FROM v, (SELECT unnest(range(0, ${graft.functions.Kernels.LshTables})) AS t)),
    s AS (
      SELECT pb.vec_id AS probe_id, eb.vec_id AS neighbor_id,
        max(list_reduce(list_transform(range(1, len(p.embedding) + 1), i ->
          CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(p.n2) * sqrt(e.n2))) AS cosine
      FROM tb pb JOIN tb eb ON pb.t = eb.t AND pb.bucket = eb.bucket
        JOIN v p ON p.vec_id = pb.vec_id
        JOIN v e ON e.vec_id = eb.vec_id
      WHERE ${probeSqlPred("pb.vec_id", probeLo, probeBatch)}
        AND eb.vec_id <> pb.vec_id
      GROUP BY 1, 2)
    SELECT probe_id, neighbor_id, cosine, rnk FROM (
      SELECT probe_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM s) WHERE rnk <= 10
    ORDER BY probe_id, rnk"""

  val annLshSql: String = annLshSqlFor()

  /** C13: IVF ANN — the inverted-file scale path next to C6 (exact) and C7
    * (LSH). A deterministic coarse quantizer (vectors with vec_id ≡ 50 mod
    * 100 stand in for trained centroids, capped at k = [[IvfK]]) is
    * broadcast; one narrow pass assigns every vector to its nearest
    * centroid's cell (argmax cosine, centroid id tie-break); each probe
    * searches only its [[IvfNprobe]] nearest cells. At 100 TB: the centroid
    * broadcast is O(k) — fixed, never a corpus fraction — assignment is a
    * single scan, and per-probe work is bounded by cell volume — the corpus
    * is never cross-joined. */
  /** Deterministic coarse centroids (vec_id ≡ 50 mod 100, capped at k) —
    * the stand-in for a trained quantizer, shared by C13 and C35. */
  private[graft] def ivfCentroids(v: DataFrame, k: Int): DataFrame =
    v.filter(col("vec_id") % 100 === 50 && col("vec_id") < lit(k.toLong * 100L))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))

  /** Nearest-centroid cell assignment (argmax cosine, centroid-id
    * tie-break): ONE narrow pass over the corpus — the k·64-double
    * codebook rides a 1-row broadcast and the argmax is one codegen'd
    * kernel call per vector (identical cosine fold + DESC/ties-to-
    * smallest-id ordering as the old crossJoin + per-vec_id row_number
    * window, which shuffled k rows per vector; round 16). Shared by C13
    * (IVF search) and C35 (semantic dedup). */
  private[operators] def ivfAssigned(v: DataFrame, cents: DataFrame): DataFrame = {
    val cb = cents
      .select(col("cent_id"), col("c_emb").cast("array<double>").as("c_emb"),
        col("c_n2"))
      .agg(expr("sort_array(collect_list(struct(cent_id, c_emb, c_n2)))")
        .as("icb"))
    v.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("embedding"), col("n2"),
        expr("graft_ivf_argmax(embedding, n2, icb)").as("cent_id"))
      .filter(col("cent_id").isNotNull)
      .select("vec_id", "embedding", "n2", "cent_id")
  }

  def annIvf(spark: SparkSession, dir: String, k: Int = IvfK,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0,
      nprobe: Int = IvfNprobe): DataFrame = {
    val v = vectors(spark, dir)
    val cents = ivfCentroids(v, k)
    ivfSearch(v, cents, ivfAssigned(v, cents), probeBatch, probeLo, nprobe)
  }

  /** C13's search over ARBITRARY index relations — frame-parametric so
    * [[AnnArtifacts]] can feed the PERSISTED centroid set and cell-major
    * assignments (probes from the persisted flat index): `probeSrc` needs
    * (vec_id, embedding, n2), `cents` (cent_id, c_emb, c_n2), `assigned`
    * (vec_id, embedding, n2, cent_id). */
  private[operators] def ivfSearch(probeSrc: DataFrame, cents: DataFrame,
      assigned: DataFrame, probeBatch: Int, probeLo: Int,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def centCos = (expr(dotExpr("embedding", "c_emb")) /
      (sqrt(col("n2")) * sqrt(col("c_n2")))).as("c_cos")
    val probeCells = probeSrc.filter(probeFilter(probeLo, probeBatch))
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("n2").as("p_n2"), col("cent_id"), centCos)
      .withColumn("prnk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("c_cos").desc, col("cent_id"))))
      .filter(col("prnk") <= nprobe)
      .select("probe_id", "p_emb", "p_n2", "cent_id")
    val scored = assigned
      .join(broadcast(probeCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cent_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select("probe_id", "neighbor_id", "cent_id", "cosine", "rnk")
      .orderBy("probe_id", "rnk")
  }

  def annIvfSqlFor(k: Int = IvfK, probeBatch: Int = ProbeBatch,
      probeLo: Int = 0, nprobe: Int = IvfNprobe): String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
      FROM v WHERE ${centSqlPred("vec_id", k)}),
    asg AS (
      SELECT vec_id, embedding, n2, cent_id FROM (
        SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
          row_number() OVER (PARTITION BY v.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(v.embedding) + 1), i ->
              CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) *
              CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(v.n2) * sqrt(c.c_n2)) DESC, c.cent_id) AS arnk
        FROM v, c) WHERE arnk = 1),
    pc AS (
      SELECT probe_id, p_emb, p_n2, cent_id FROM (
        SELECT p.vec_id AS probe_id, p.embedding AS p_emb, p.n2 AS p_n2,
          c.cent_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(p.embedding) + 1), i ->
              CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) *
              CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(p.n2) * sqrt(c.c_n2)) DESC, c.cent_id) AS prnk
        FROM v p, c WHERE ${probeSqlPred("p.vec_id", probeLo, probeBatch)})
        WHERE prnk <= $nprobe),
    s AS (
      SELECT pc.probe_id, a.vec_id AS neighbor_id, pc.cent_id,
        list_reduce(list_transform(range(1, len(pc.p_emb) + 1), i ->
          CAST(pc.p_emb[CAST(i AS INT)] AS DOUBLE) *
          CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(pc.p_n2) * sqrt(a.n2)) AS cosine
      FROM asg a JOIN pc ON a.cent_id = pc.cent_id
      WHERE a.vec_id <> pc.probe_id)
    SELECT probe_id, neighbor_id, cent_id, cosine, rnk FROM (
      SELECT probe_id, neighbor_id, cent_id, cosine,
        row_number() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM s) WHERE rnk <= 10
    ORDER BY probe_id, rnk"""

  val annIvfSql: String = annIvfSqlFor()

  /** C12: multimodal binary-column plumbing — the corpus text stands in for
    * an opaque media payload (utf-8 encode = the only codec in this
    * container). Byte length, sha2-256 content id and a leading-bytes header
    * peek are the real, tested Spark-side plumbing; actual image/audio
    * decode is stubbed in [[MultimodalOps.decodeStub]]. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        octet_length(col("text")).cast("long").as("byte_len"),
        sha2(col("text").cast("binary"), 256).as("sha256_hex"),
        lower(hex(substring(col("text").cast("binary"), 1, 8))).as("header_hex"))
      .orderBy("doc_id")

  val multimodalMetaSql: String = """
    SELECT doc_id, source,
      CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      sha256(text) AS sha256_hex,
      substr(lower(hex(CAST(text AS BLOB))), 1, 16) AS header_hex
    FROM documents ORDER BY doc_id"""

  /** C33 thresholds: a pair must look textually similar (signature-Jaccard
    * ≥ [[ModalEstMin]]) to be audited, and its embeddings agree when
    * cosine ≥ [[ModalCosMin]]. */
  val ModalEstMin: Double = 0.5
  val ModalCosMin: Double = 0.5

  /** C33: `q_modal_consistency` — cross-modal QA audit: do the embeddings
    * agree with the text? Every confidently-text-similar pair (signature
    * Jaccard ≥ [[ModalEstMin]], from C29's estimates — signatures only,
    * text never re-read) is scored with its embedding cosine; pairs where
    * the modalities disagree (`consistente = false`) are exactly the rows
    * a pipeline investigates before trusting either signal for dedup.
    * (On this synthetic corpus embeddings are independent of text, so the
    * audit flags nearly everything — which is the correct report.)
    *
    * Plan: the audited pair set is the small high-similarity slice; the
    * two vector joins key on doc id, and the cosine is the codegen'd
    * sequential-fold kernel — bit-exact vs the oracle's list_reduce. */
  def modalConsistency(spark: SparkSession, dir: String): DataFrame = {
    val est = DedupOps.dedupMinhashEstRaw(spark, dir)
      .filter(col("jaccard_est") >= ModalEstMin)
    // the vector side scales with the corpus — a planner-chosen broadcast
    // of ALL embeddings (twice) is a driver-side build that dies at 100 TB
    // and measurably dominates this query at bench scale; shuffle-hash
    // keys both sides on the doc id instead (measured 5.1s → ~2s at sf0.1)
    val v = vectors(spark, dir).hint("shuffle_hash")
    est
      .join(v.select(col("vec_id").as("doc_a"), col("embedding").as("e_a"),
        col("n2").as("n2_a")), Seq("doc_a"))
      .join(v.select(col("vec_id").as("doc_b"), col("embedding").as("e_b"),
        col("n2").as("n2_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_est"),
        (expr(dotExpr("e_a", "e_b")) /
          (sqrt(col("n2_a")) * sqrt(col("n2_b")))).as("coseno"))
      .withColumn("consistente", col("coseno") >= ModalCosMin)
      .orderBy("doc_a", "doc_b")
  }

  val modalConsistencySql: String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings)
    SELECT est.doc_a, est.doc_b, est.jaccard_est,
      list_reduce(list_transform(range(1, len(va.embedding) + 1), i ->
        CAST(va.embedding[CAST(i AS INT)] AS DOUBLE) *
        CAST(vb.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(va.n2) * sqrt(vb.n2)) AS coseno,
      list_reduce(list_transform(range(1, len(va.embedding) + 1), i ->
        CAST(va.embedding[CAST(i AS INT)] AS DOUBLE) *
        CAST(vb.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(va.n2) * sqrt(vb.n2)) >= $ModalCosMin AS consistente
    FROM (${DedupOps.dedupMinhashEstSql}) est
      JOIN v va ON va.vec_id = est.doc_a
      JOIN v vb ON vb.vec_id = est.doc_b
    WHERE est.jaccard_est >= $ModalEstMin
    ORDER BY est.doc_a, est.doc_b"""

  /** C35 cosine threshold — a pair inside one IVF cell with cosine ≥ this
    * is a semantic duplicate (kept aligned with C5's near-dup bar). */
  val SemTau: Double = 0.30

  /** |z| threshold for C46's norm outliers. */
  val NormZ: Double = 3.0

  /** C46: `q_embed_norm_audit` — unit-norm drift QA: embedding stores
    * normalize their vectors, so every |x|² should sit at 1.0 up to float
    * rounding; a vector whose drift e = n2 − 1 is a corpus-wide z-score
    * outlier is the classic symptom of a broken encoder batch (zeros,
    * double-normalized, truncated) and gets flagged BEFORE any cosine
    * trusts it. The moments are computed over the drift QUANTIZED to
    * integer nano-units (round(e·10⁹) — a distributed double sum is
    * shuffle-order-nondeterministic, integer sums are exact, B26's
    * pattern); quantizing the DRIFT, not the norm, is what keeps the
    * spread visible (norm ≈ 1 everywhere) and the squares inside a long
    * (|e_u| ~ 10³ → Σe² fits past 10¹⁰ rows). Zero variance → NULL z.
    *
    * Scale: one narrow kernel pass for n2, a 1-row moments aggregate
    * broadcast back over the corpus. */
  def embedNormAudit(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
      .select(col("vec_id"), col("label"), col("n2"),
        round((col("n2") - lit(1.0)) * lit(1.0e9)).cast("long").as("eu"))
    val stats = v.agg(count(lit(1)).as("n"), sum("eu").as("s1"),
      sum(col("eu") * col("eu")).as("s2"))
    val mean = col("s1").cast("double") / col("n").cast("double")
    val variance = col("s2").cast("double") / col("n").cast("double") -
      (col("s1").cast("double") / col("n").cast("double")) *
      (col("s1").cast("double") / col("n").cast("double"))
    v.crossJoin(broadcast(stats))
      .withColumn("media_u", mean)
      .withColumn("varianza_u", variance)
      .withColumn("z", when(col("varianza_u") > 0,
        (col("eu").cast("double") - col("media_u")) / sqrt(col("varianza_u"))))
      .withColumn("atipico", abs(col("z")) > NormZ)
      .select("vec_id", "label", "n2", "z", "atipico")
      .orderBy("vec_id")
  }

  val embedNormAuditSql: String = s"""
    WITH v AS (
      SELECT vec_id, label,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    u AS (
      SELECT vec_id, label, n2,
        CAST(round((n2 - 1.0) * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS eu
      FROM v),
    stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(eu) AS BIGINT) AS s1,
        CAST(SUM(eu * eu) AS BIGINT) AS s2
      FROM u)
    SELECT vec_id, label, n2,
      CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
          (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
          (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) > 0
        THEN (CAST(eu AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
          sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
            (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      END AS z,
      abs(CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
          (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
          (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) > 0
        THEN (CAST(eu AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
          sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
            (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
            (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      END) > $NormZ AS atipico
    FROM u, stats
    ORDER BY vec_id"""

  /** C35: `q_semantic_dedup` — SemDeDup-style semantic deduplication
    * (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with the
    * coarse quantizer, then WITHIN each cell mark every vector that has a
    * smaller-id neighbor at cosine ≥ [[SemTau]] as a duplicate; the
    * smallest id of such a group survives. Output is the full per-vector
    * keep/drop verdict with the evidence (how many prior dups, and the
    * smallest one).
    *
    * Spark-first plan: reuses C13's broadcast-centroid assignment (ONE
    * narrow corpus pass), then a cell-keyed self-join generates candidate
    * pairs — per-cell volume is bounded by quantizer sizing (k scales with
    * the corpus), so no hot label ever goes all-pairs the way a naive
    * global join would. The verdict join keys on vec_id. At 100 TB this is
    * exactly the published recipe: k-means cells ≈ √N, per-cell pair work
    * bounded, embeddings never shuffle except keyed on their cell. */
  def semanticDedup(spark: SparkSession, dir: String, k: Int = IvfK): DataFrame = {
    val v = vectors(spark, dir)
    val assigned = ivfAssigned(v, ivfCentroids(v, k))
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("b.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("prior_id"),
        (expr(dotExpr("a.embedding", "b.embedding")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cosine"))
      .filter(col("cosine") >= SemTau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_prior_dups"), min("prior_id").as("dup_of"))
    assigned.select("vec_id", "cent_id")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        col("dup_of"),
        col("n_prior_dups").isNull.as("keep"))
      .orderBy("vec_id")
  }

  def semanticDedupSqlFor(k: Int = IvfK): String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
      FROM v WHERE ${centSqlPred("vec_id", k)}),
    asg AS (
      SELECT vec_id, embedding, n2, cent_id FROM (
        SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
          row_number() OVER (PARTITION BY v.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(v.embedding) + 1), i ->
              CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) *
              CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(v.n2) * sqrt(c.c_n2)) DESC, c.cent_id) AS arnk
        FROM v, c) WHERE arnk = 1),
    dups AS (
      SELECT vec_id, COUNT(*) AS n_prior_dups, MIN(prior_id) AS dup_of
      FROM (
        SELECT a.vec_id, b.vec_id AS prior_id,
          list_reduce(list_transform(range(1, len(a.embedding) + 1), i ->
            CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) *
            CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
        FROM asg a JOIN asg b ON a.cent_id = b.cent_id
          AND b.vec_id < a.vec_id)
      WHERE cosine >= $SemTau
      GROUP BY vec_id)
    SELECT a.vec_id, a.cent_id,
      coalesce(d.n_prior_dups, 0) AS n_prior_dups,
      d.dup_of,
      d.n_prior_dups IS NULL AS keep
    FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
    ORDER BY a.vec_id"""

  val semanticDedupSql: String = semanticDedupSqlFor()

  /** Hard-negative rank band for C42 — neighbors ranked
    * ([[HardNegLo]], [[HardNegHi]]] by cosine: past the true-neighbor zone
    * (those are the positives, rank ≤ 10) but still close enough to the
    * decision boundary to be informative. */
  val HardNegLo: Int = 10
  val HardNegHi: Int = 30

  /** C42: `q_ann_hard_negatives` — hard-negative mining for embedding-model
    * training: for each probe, the neighbors ranked just BELOW the top-k
    * positives (rank 11-30 by cosine) — semantically close but not
    * duplicates, exactly the contrastive negatives that make a retrieval
    * model learn the boundary (random negatives are too easy; top-k are
    * false negatives). Same exact-scored ranking as C6 so positives and
    * negatives come from ONE consistent ordering.
    *
    * Scale: identical shape to C6 — fixed-size probe batch broadcast, one
    * corpus pass per batch, per-probe rank window over the probe's scored
    * stream; the band filter keeps ≤ (hi−lo) rows per probe. */
  def annHardNegatives(spark: SparkSession, dir: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vectors(spark, dir)
    val probes = v.filter(probeFilter(probeLo, probeBatch))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("n2").as("p_n2"))
    val scored = v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") > HardNegLo && col("rnk") <= HardNegHi)
      .select("probe_id", "neighbor_id", "cosine", "rnk")
      .orderBy("probe_id", "rnk")
  }

  def annHardNegativesSqlFor(probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    s AS (
      SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
        list_reduce(list_transform(range(1, len(p.embedding) + 1), i ->
          CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(p.n2) * sqrt(e.n2)) AS cosine
      FROM v p, v e WHERE ${probeSqlPred("p.vec_id", probeLo, probeBatch)}
                      AND e.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, cosine, rnk FROM (
      SELECT probe_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM s) WHERE rnk > $HardNegLo AND rnk <= $HardNegHi
    ORDER BY probe_id, rnk"""

  val annHardNegativesSql: String = annHardNegativesSqlFor()

  /** C40: `q_ann_recall_report` — the ANN evaluation artifact: recall@10 of
    * the LSH (C7) and IVF (C13) indexes against the exact brute-force
    * baseline (C6), per method — the number that decides whether an
    * approximate index is deployable. The spec-pinned recall floors
    * (OperatorsSpec) gate regressions; this query MATERIALIZES the metric
    * so the curation loop can trend it per corpus snapshot, like C32 does
    * for language ID.
    *
    * Exactness: hits/probes/recall are exact integer counts + one final
    * division (recall is micro-averaged over all probe-neighbor pairs).
    *
    * Scale: composes the three ANN plans (each already scale-audited);
    * the verdict joins key on (probe_id, neighbor_id) — top-k-bounded
    * rows, k·|probes| each side, dimension-free. */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    // the C112 assembly lesson, caught by the round-10 repeated-scan audit:
    // each bounded list is computed ONCE and cached (top-k rows, probe-batch
    // bounded), and the rrf row fuses the SAME cached lsh/ivf lists
    // ([[rrfFuse]] is C96's arithmetic, so the fused list is bit-identical
    // to retrievalRrf's). The previous shape replayed the brute-force
    // ground truth per union branch and re-ran both searches inside the
    // fusion — 18 embeddings file scans; now each search runs once.
    val base = Caches.keep(annBruteforce(spark, dir)
      .select(col("probe_id"), col("neighbor_id")))
    val lsh = Caches.keep(annLsh(spark, dir))
    val ivf = Caches.keep(annIvf(spark, dir))
    def recallOf(method: String, approx: DataFrame): DataFrame = {
      val hits = base.join(approx.select(col("probe_id"), col("neighbor_id"))
          .withColumn("hit", lit(1L)),
        Seq("probe_id", "neighbor_id"), "left")
      hits.agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(method).as("metodo"), col("n_true"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_true").cast("double"))
            .as("recall_at_10"))
    }
    recallOf("lsh", lsh)
      .unionByName(recallOf("ivf", ivf))
      // round-8: the fused C96 list measured against the same truth set -
      // "fusion recovers recall neither index has alone" as a number the
      // report ships, not a claim the scaladoc makes
      .unionByName(recallOf("rrf", rrfFuse(
        lsh.select(col("probe_id"), col("neighbor_id"),
          col("rnk").as("lsh_rnk")),
        ivf.select(col("probe_id"), col("neighbor_id"),
          col("rnk").as("ivf_rnk")))))
      .orderBy("metodo")
  }

  /** C91's probed nprobe operating points (powers of two around the
    * production default [[IvfNprobe]] = 4). */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4, 8)

  /** C91: `q_ann_nprobe_sweep` — the IVF OPERATING CURVE: recall@10 vs
    * candidate volume at nprobe ∈ {1,2,4,8}, the table an operator reads
    * to pick the search-time knob (C40 reports the default point; this
    * reports the trade — how much recall each doubling of probe work
    * buys). The C63 threshold-sweep device applied to ANN serving.
    *
    * One-pass shape: candidates are scored ONCE at the largest sweep
    * point (the dot products are the cost) with their cell rank kept;
    * each sweep membership (`prnk ≤ nprobe`) is then a theta-join of the
    * 4-row nprobe dimension against the already-scored narrow rows — no
    * per-point re-scoring, no index rebuild (centroids and the inverted
    * file are shared across the curve, as deployed).
    *
    * Exactness: candidate/true/hit counts are exact integers; recall is
    * one division. Ranking ties break on neighbor_id (total order).
    *
    * Scale: the index pass is C13's (one narrow assignment against the
    * broadcast centroid set); probe cells and scored candidates are
    * bounded by (probeBatch × nprobe_max × cell size); the sweep explode
    * multiplies only post-scoring fixed-width rows. Caches: the inverted
    * file (the persisted index at 100 TB) and the bounded scored set. */
  def annNprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxNp = NprobeSweep.max
    val v = vectors(spark, dir)
    val cents = ivfCentroids(v, IvfK)
    val assigned = Caches.keep(ivfAssigned(v, cents))
    def centCos = (expr(dotExpr("embedding", "c_emb")) /
      (sqrt(col("n2")) * sqrt(col("c_n2")))).as("c_cos")
    val probeCells = v.filter(probeFilter(0, ProbeBatch))
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("n2").as("p_n2"), col("cent_id"), centCos)
      .withColumn("prnk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("c_cos").desc, col("cent_id"))))
      .filter(col("prnk") <= maxNp)
      .select("probe_id", "p_emb", "p_n2", "cent_id", "prnk")
    val scored = Caches.keep(assigned
      .join(broadcast(probeCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("prnk"),
        col("vec_id").as("neighbor_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine")))
    val nps = spark.range(1).select(
      explode(array(NprobeSweep.map(lit(_)): _*)).as("nprobe"))
    val s = nps.join(scored, col("prnk") <= col("nprobe"))
    val vol = s.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    val top = s.withColumn("rnk", row_number().over(
        Window.partitionBy("nprobe", "probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 10)
      .select(col("nprobe"), col("probe_id"), col("neighbor_id"),
        lit(1L).as("hit"))
    val base = annBruteforce(spark, dir)
      .select(col("probe_id"), col("neighbor_id"))
    val rec = nps.crossJoin(base)
      .join(top, Seq("nprobe", "probe_id", "neighbor_id"), "left")
      .groupBy("nprobe").agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    vol.join(rec, Seq("nprobe"))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_candidates"),
        col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true").cast("double"))
          .as("recall_at_10"))
      .orderBy("nprobe")
  }

  val annNprobeSweepSql: String = {
    val maxNp = NprobeSweep.max
    val npValues = NprobeSweep.map(n => s"($n)").mkString(", ")
    s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
      FROM v WHERE ${centSqlPred("vec_id", IvfK)}),
    asg AS (
      SELECT vec_id, embedding, n2, cent_id FROM (
        SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
          row_number() OVER (PARTITION BY v.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(v.embedding) + 1), i ->
              CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) *
              CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(v.n2) * sqrt(c.c_n2)) DESC, c.cent_id) AS arnk
        FROM v, c) WHERE arnk = 1),
    pc AS (
      SELECT probe_id, p_emb, p_n2, cent_id, prnk FROM (
        SELECT p.vec_id AS probe_id, p.embedding AS p_emb, p.n2 AS p_n2,
          c.cent_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(p.embedding) + 1), i ->
              CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) *
              CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(p.n2) * sqrt(c.c_n2)) DESC, c.cent_id) AS prnk
        FROM v p, c WHERE ${probeSqlPred("p.vec_id", 0, ProbeBatch)})
        WHERE prnk <= $maxNp),
    scored AS (
      SELECT pc.probe_id, pc.prnk, a.vec_id AS neighbor_id,
        list_reduce(list_transform(range(1, len(pc.p_emb) + 1), i ->
          CAST(pc.p_emb[CAST(i AS INT)] AS DOUBLE) *
          CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(pc.p_n2) * sqrt(a.n2)) AS cosine
      FROM asg a JOIN pc ON a.cent_id = pc.cent_id
      WHERE a.vec_id <> pc.probe_id),
    np AS (SELECT * FROM (VALUES $npValues) AS t(nprobe)),
    s AS (
      SELECT np.nprobe, sc.probe_id, sc.neighbor_id, sc.cosine
      FROM np JOIN scored sc ON sc.prnk <= np.nprobe),
    vol AS (SELECT nprobe, COUNT(*) AS n_candidates FROM s GROUP BY 1),
    top AS (
      SELECT nprobe, probe_id, neighbor_id FROM (
        SELECT nprobe, probe_id, neighbor_id,
          row_number() OVER (PARTITION BY nprobe, probe_id
                             ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM s) WHERE rnk <= 10),
    bf AS (SELECT probe_id, neighbor_id FROM ($annBruteforceSql)),
    rec AS (
      SELECT np.nprobe, COUNT(*) AS n_true,
        CAST(SUM(CASE WHEN t.probe_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit
      FROM np CROSS JOIN bf b
      LEFT JOIN top t ON t.nprobe = np.nprobe
        AND t.probe_id = b.probe_id AND t.neighbor_id = b.neighbor_id
      GROUP BY 1)
    SELECT CAST(v.nprobe AS BIGINT) AS nprobe, v.n_candidates,
      r.n_true, r.n_hit,
      CAST(r.n_hit AS DOUBLE) / CAST(r.n_true AS DOUBLE) AS recall_at_10
    FROM vol v JOIN rec r ON r.nprobe = v.nprobe
    ORDER BY nprobe"""
  }

  // declared lazy: interpolates retrievalRrfSql, which is declared below
  // (object init order would otherwise splice a null)
  lazy val annRecallReportSql: String = s"""
    WITH base AS (
      SELECT probe_id, neighbor_id FROM ($annBruteforceSql)),
    lsh AS (
      SELECT probe_id, neighbor_id FROM ($annLshSql)),
    ivf AS (
      SELECT probe_id, neighbor_id FROM ($annIvfSql)),
    rrf AS (
      SELECT probe_id, neighbor_id FROM ($retrievalRrfSql))
    SELECT metodo, n_true, n_hit,
      CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall_at_10
    FROM (
      SELECT 'lsh' AS metodo, COUNT(*) AS n_true,
        CAST(SUM(CASE WHEN l.probe_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM base b LEFT JOIN lsh l
        ON b.probe_id = l.probe_id AND b.neighbor_id = l.neighbor_id
      UNION ALL
      SELECT 'ivf', COUNT(*),
        CAST(SUM(CASE WHEN i.probe_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM base b LEFT JOIN ivf i
        ON b.probe_id = i.probe_id AND b.neighbor_id = i.neighbor_id
      UNION ALL
      SELECT 'rrf', COUNT(*),
        CAST(SUM(CASE WHEN r.probe_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM base b LEFT JOIN rrf r
        ON b.probe_id = r.probe_id AND b.neighbor_id = r.neighbor_id)
    ORDER BY metodo"""

  /** C36: `q_embed_quantize` — symmetric int8 scalar quantization of the
    * embedding column (the 4× compression every vector store applies before
    * ANN serving): per-vector scale = max |x|, code_i = round(x_i·127 /
    * scale), plus the quality report a pipeline gates on — saturated-code
    * count and reconstruction MSE. Codes are emitted as an md5 digest of
    * the comma-joined ints (stable to compare, no engine-specific array
    * formatting).
    *
    * Exactness: scale is a max over |x| (order-independent, exact doubles);
    * each code is one double expression with identical operation order in
    * both engines, and round() is half-away-from-zero in both; the MSE is
    * a SEQUENTIAL left fold over positions (a distributed double sum would
    * be shuffle-order-nondeterministic) with one final division.
    *
    * Scale: zero shuffle — a single narrow codegen'd pass over the corpus,
    * embarrassingly parallel at any size (the per-vector fold is O(dim)).
    * Zero vectors quantize to all-zero codes (scale-0 guard, no NaNs). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val codeExpr = "CASE WHEN scale = CAST(0 AS DOUBLE) THEN 0 ELSE " +
      "CAST(round((CAST(x AS DOUBLE) * CAST(127 AS DOUBLE)) / scale) AS INT) END"
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        expr("aggregate(embedding, CAST(0 AS DOUBLE), " +
          "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))").as("scale"))
      .withColumn("codes",
        expr(s"transform(embedding, x -> $codeExpr)"))
      .select(col("vec_id"), col("scale"),
        md5(expr("concat_ws(',', transform(codes, c -> CAST(c AS STRING)))")
          .cast("binary")).as("codes_md5"),
        expr("size(filter(codes, c -> abs(c) = 127))").cast("long").as("n_sat"),
        (expr(("aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + " +
          "(CAST(x AS DOUBLE) - CAST(CODE AS DOUBLE) * scale / CAST(127 AS DOUBLE)) * " +
          "(CAST(x AS DOUBLE) - CAST(CODE AS DOUBLE) * scale / CAST(127 AS DOUBLE)))")
          .replace("CODE", codeExpr)) /
          expr("CAST(size(embedding) AS DOUBLE)")).as("mse"))
      .orderBy("vec_id")
  }

  val embedQuantizeSql: String = {
    val code = "CASE WHEN scale = CAST(0 AS DOUBLE) THEN 0 ELSE " +
      "CAST(round((CAST(x AS DOUBLE) * CAST(127 AS DOUBLE)) / scale) AS INT) END"
    s"""
    WITH sc AS (
      SELECT vec_id, embedding,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
          (acc, x) -> greatest(acc, x)) AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, embedding, scale,
        list_transform(embedding, x -> $code) AS codes
      FROM sc)
    SELECT vec_id, scale,
      md5(array_to_string(codes, ',')) AS codes_md5,
      CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT) AS n_sat,
      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(embedding, x ->
          (CAST(x AS DOUBLE) - CAST(($code) AS DOUBLE) * scale / CAST(127 AS DOUBLE)) *
          (CAST(x AS DOUBLE) - CAST(($code) AS DOUBLE) * scale / CAST(127 AS DOUBLE)))),
        (acc, x) -> acc + x) / CAST(len(embedding) AS DOUBLE) AS mse
    FROM q
    ORDER BY vec_id"""
  }

  /** C53: `q_ann_cell_balance` — IVF index QA: per-cell population, corpus
    * share, and load factor (n_vecs · n_cells / n_total — 1.0 = perfectly
    * uniform). The health report for C13/C35's inverted file: a skewed
    * quantizer concentrates probe work in hot cells (the ANN analog of a
    * hot shuffle partition), and recall (C40) silently degrades when
    * probed cells are unbalanced — this is the report that says REBALANCE
    * before those bite at 100 TB. Composes C13's exact centroid set and
    * cell assignment, so the report describes the index the search
    * queries actually use.
    *
    * Exactness: populations are integers; share and load factor are each
    * ONE division of exact longs. Plan: one narrow assignment pass over
    * the corpus against the O(k) broadcast centroid set (C13's shape), a
    * partial-agg shuffle onto the ≤ k-row cell grid, and a broadcast
    * 1-row total — no corpus-scaled shuffle, no driver data. */
  def annCellBalance(spark: SparkSession, dir: String,
      k: Int = IvfK): DataFrame = {
    val v = vectors(spark, dir)
    val cells = ivfAssigned(v, ivfCentroids(v, k))
      .groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum("n_vecs").as("n_total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("n_total").cast("double"))
          .as("share"),
        ((col("n_vecs") * col("n_cells")).cast("double") /
          col("n_total").cast("double")).as("load_factor"))
      .orderBy("cent_id")
  }

  def annCellBalanceSqlFor(k: Int = IvfK): String = s"""
    WITH v AS (
      SELECT vec_id, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
      FROM v WHERE ${centSqlPred("vec_id", k)}),
    asg AS (
      SELECT vec_id, cent_id FROM (
        SELECT v.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY v.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(v.embedding) + 1), i ->
              CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) *
              CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(v.n2) * sqrt(c.c_n2)) DESC, c.cent_id) AS arnk
        FROM v, c) WHERE arnk = 1),
    cells AS (SELECT cent_id, count(*) AS n_vecs FROM asg GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
                   count(*) AS n_cells FROM cells)
    SELECT cent_id, n_vecs,
      CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
      CAST(n_vecs * n_cells AS DOUBLE) / CAST(n_total AS DOUBLE)
        AS load_factor
    FROM cells, tot
    ORDER BY cent_id"""

  val annCellBalanceSql: String = annCellBalanceSqlFor()

  /** PQ geometry: 4 subspaces × 16 dims over the 64-dim embeddings;
    * codeword cap per subspace (deterministic stand-in codebook — the
    * vec_id ≡ 50 (mod 100) family C13 uses; a trained PQ learns a
    * DIFFERENT codebook per subspace, but the assignment/reporting
    * plumbing is identical). */
  val PqSub: Int = 4
  val PqSubDim: Int = 16
  val PqK: Int = 256

  /** C55: `q_embed_pq` — product quantization, the memory-compression
    * half of the canonical billion-scale ANN index (IVF routes to cells =
    * C13; PQ compresses residents 64-float → [[PqSub]] bytes): every
    * vector's subspace slices are assigned to their nearest codeword by
    * L2², with the per-subspace reconstruction MSE the index-quality gate
    * (next to C36's scalar-quantize MSE and C53's cell balance).
    *
    * Exactness: each distance is a SEQUENTIAL fold of per-dimension
    * squared differences (both engines fold the 16 slice elements in
    * order); the argmin is a lexicographic (dist, cent_id) MIN —
    * order-independent, tie-broken on codeword id — and sub_mse is one
    * final division.
    *
    * Plan: subspace explode is a narrow ×[[PqSub]] transform; the
    * codebook is an O([[PqK]]) broadcast (never a corpus fraction); the
    * argmin is a partial-aggregating struct-MIN onto the (vec, subspace)
    * grid — map-side combine collapses the ×k fanout BEFORE the shuffle,
    * unlike a window argmin which would sort the full expansion. */
  /** Sequential-fold L2² between the `sub_id`-th subspace slices of two
    * float-vector columns (both engines fold the [[PqSubDim]] elements in
    * order) — shared by C55 (assignment) and C56 (probe LUT). */
  private def pqDistExpr(a: String, b: String) = expr(s"""aggregate(
      zip_with(
        slice($a, CAST(sub_id * $PqSubDim + 1 AS INT), $PqSubDim),
        slice($b, CAST(sub_id * $PqSubDim + 1 AS INT), $PqSubDim),
        (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                  (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
      CAST(0 AS DOUBLE), (acc, d) -> acc + d)""")

  def embedPq(spark: SparkSession, dir: String, k: Int = PqK): DataFrame = {
    val v = vectors(spark, dir)
    val cb = ivfCentroids(v, k).select("cent_id", "c_emb")
    // all PqSub subspace argmins in one kernel call per vector — same
    // (dist, cent_id) minima as the exploded crossJoin + struct-MIN shape
    // (round 16); posexplode's position IS the sub_id
    v.crossJoin(broadcast(pqCodebookRow(cb)))
      .select(col("vec_id"),
        posexplode(expr(s"graft_pq_codes(embedding, pcb, $PqSub, $PqSubDim)"))
          .as(Seq("sub_id", "m")))
      .select(col("vec_id"), col("sub_id").cast("long").as("sub_id"),
        col("m.cent_id").as("code"),
        (col("m.dist") / lit(PqSubDim.toDouble)).as("sub_mse"))
      .orderBy("vec_id", "sub_id")
  }

  def embedPqSqlFor(k: Int = PqK): String = s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb
      FROM v WHERE ${centSqlPred("vec_id", k)}),
    d AS (
      SELECT v.vec_id, u.sub_id, c.cent_id,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, ${PqSubDim + 1}), i ->
            (CAST(v.embedding[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE) -
             CAST(c.c_emb[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE)) *
            (CAST(v.embedding[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE) -
             CAST(c.c_emb[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE)))),
          (acc, x) -> acc + x) AS dist
      FROM v, unnest(range(0, $PqSub)) AS u(sub_id), c)
    SELECT vec_id, sub_id, cent_id AS code,
      dist / CAST($PqSubDim AS DOUBLE) AS sub_mse
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                   ORDER BY dist, cent_id) AS r
      FROM d) WHERE r = 1
    ORDER BY vec_id, sub_id"""

  val embedPqSql: String = embedPqSqlFor()

  /** C117's oracle: DuckDB recomputes the per-vector codes inline (the
    * C55 pick) and aggregates the per-(subspace, codeword) usage grid —
    * hash equality across the store round-trip is the correctness pin.
    * The share is one division of exact longs (the window sums integers
    * over the ≤ sub·k grid). */
  def pqCodeUsageSqlFor(k: Int = PqK): String = s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb
      FROM v WHERE ${centSqlPred("vec_id", k)}),
    d AS (
      SELECT v.vec_id, u.sub_id, c.cent_id,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, ${PqSubDim + 1}), i ->
            (CAST(v.embedding[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE) -
             CAST(c.c_emb[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE)) *
            (CAST(v.embedding[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE) -
             CAST(c.c_emb[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE)))),
          (acc, x) -> acc + x) AS dist
      FROM v, unnest(range(0, $PqSub)) AS u(sub_id), c),
    pick AS (
      SELECT vec_id, sub_id, cent_id AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                     ORDER BY dist, cent_id) AS r
      FROM d) WHERE r = 1)
    SELECT sub_id, code, count(*) AS n_vecs,
      CAST(count(*) AS DOUBLE) /
        CAST(SUM(count(*)) OVER (PARTITION BY sub_id) AS DOUBLE) AS share
    FROM pick GROUP BY 1, 2
    ORDER BY 1, 2"""

  val pqCodeUsageSql: String = pqCodeUsageSqlFor()

  /** C56: `q_ann_pq_adc` — asymmetric-distance ANN search over the PQ
    * codes: the QUERY path of IVF-PQ (C55 compresses, this searches the
    * compressed corpus). Each probe precomputes a lookup table of
    * subspace distances to every codeword (O(batch · [[PqSub]] ·
    * [[PqK]]) — fixed-size, broadcast); a compressed vector's
    * approximate distance is then FOUR TABLE LOOKUPS AND THREE ADDS,
    * never a 64-dim fold — exactly why PQ search scans billions of codes
    * per node while exact search (C6) cannot.
    *
    * Exactness: LUT entries are C55's sequential folds; the ADC sum is a
    * FIXED left-associated chain ((d0+d1)+d2)+d3 spelled identically in
    * both engines (a groupBy SUM over the 4 parts would be
    * partition-order-nondeterministic); top-k ties break on neighbor_id.
    *
    * Plan: codes assemble map-side (the C55 struct-MIN, conditional per
    * subspace, ONE aggregate); the LUT joins are 4 broadcast hash joins —
    * the first fans out ×batch, the rest are 1:1 on (probe, code) — and
    * the top-k window partitions per probe (the C6-vetted shape). No
    * corpus-side shuffle before the window. */
  def annPqAdc(spark: SparkSession, dir: String, k: Int = PqK,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    val v = vectors(spark, dir)
    val cb = ivfCentroids(v, k).select("cent_id", "c_emb")
    adcSearch(v, pqCodesWide(v, cb), cb, probeBatch, probeLo)
  }

  /** C56's per-vector code assembly in the INDEX layout (vec_id,
    * code_0..code_{[[PqSub]]−1}) — the rows [[AnnArtifacts]] persists as
    * `pq_codes`. One aggregate: the per-subspace argmins land map-side
    * as conditional struct-MINs. */
  private[graft] def pqCodesWide(v: DataFrame, cb: DataFrame): DataFrame = {
    v.crossJoin(broadcast(pqCodebookRow(cb)))
      .select(col("vec_id"),
        expr(s"graft_pq_codes(embedding, pcb, $PqSub, $PqSubDim)").as("pq"))
      .filter(col("pq").isNotNull)
      .select(col("vec_id") +:
        (0 until PqSub).map(s => col("pq")(s)("cent_id").as(s"code_$s")): _*)
  }

  /** The PQ codebook collapsed to ONE broadcastable cent_id-sorted row —
    * [[graft.functions.Kernels.pqCodes]]'s input shape (the float→double
    * cast of the centroid components is exact). */
  private def pqCodebookRow(cb: DataFrame): DataFrame =
    cb.select(col("cent_id"), col("c_emb").cast("array<double>").as("c_emb"))
      .agg(expr("sort_array(collect_list(struct(cent_id, c_emb)))").as("pcb"))

  /** C56's ADC search over ARBITRARY code/codebook relations — frame-
    * parametric so [[AnnArtifacts]] can feed the persisted codes and
    * codebook (probes from the persisted flat index). */
  private[operators] def adcSearch(probeSrc: DataFrame, codes: DataFrame,
      cb: DataFrame, probeBatch: Int, probeLo: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subSeq =
      expr(s"sequence(CAST(0 AS BIGINT), CAST(${PqSub - 1} AS BIGINT))")
    // cache(): the four subspace joins each slice this LUT — uncached,
    // every lutS(s) would re-run the probe scan + distance folds (the C29
    // alias-divergence lesson). Bounded O(batch·PqSub·k) rows.
    val lut = Caches.keep(probeSrc.filter(probeFilter(probeLo, probeBatch))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      .select(col("probe_id"), col("p_emb"), explode(subSeq).as("sub_id"))
      .crossJoin(cb)
      .select(col("probe_id"), col("sub_id"), col("cent_id"),
        pqDistExpr("p_emb", "c_emb").as("d")))
    def lutS(s: Int) = broadcast(lut.filter(col("sub_id") === s)
      .select(col("probe_id"), col("cent_id").as(s"code_$s"),
        col("d").as(s"d_$s")))
    val scored = codes
      .join(lutS(0), Seq("code_0"))
      .join(lutS(1), Seq("probe_id", "code_1"))
      .join(lutS(2), Seq("probe_id", "code_2"))
      .join(lutS(3), Seq("probe_id", "code_3"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (((col("d_0") + col("d_1")) + col("d_2")) + col("d_3"))
          .as("adc_dist"))
    scored.withColumn("rnk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("adc_dist").asc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .orderBy("probe_id", "rnk")
  }

  def annPqAdcSqlFor(k: Int = PqK, probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = {
    val fold = (a: String, b: String) => s"""
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, ${PqSubDim + 1}), i ->
            (CAST($a[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE) -
             CAST($b[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE)) *
            (CAST($a[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE) -
             CAST($b[CAST(u.sub_id * $PqSubDim + i AS INT)] AS DOUBLE)))),
          (acc, x) -> acc + x)"""
    s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb
      FROM v WHERE ${centSqlPred("vec_id", k)}),
    sub AS (
      SELECT v.vec_id, u.sub_id, c.cent_id,
        ${fold("v.embedding", "c.c_emb")} AS dist
      FROM v, unnest(range(0, $PqSub)) AS u(sub_id), c),
    pick AS (
      SELECT vec_id, sub_id, cent_id AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                     ORDER BY dist, cent_id) AS r
        FROM sub) WHERE r = 1),
    codes AS (
      SELECT vec_id,
        ${(0 until PqSub).map(s =>
          s"MAX(CASE WHEN sub_id = $s THEN code END) AS code_$s")
          .mkString(",\n        ")}
      FROM pick GROUP BY 1),
    lut AS (
      SELECT p.vec_id AS probe_id, u.sub_id, c.cent_id,
        ${fold("p.embedding", "c.c_emb")} AS d
      FROM v p, unnest(range(0, $PqSub)) AS u(sub_id), c
      WHERE ${probeSqlPred("p.vec_id", probeLo, probeBatch)}),
    s AS (
      SELECT l0.probe_id, codes.vec_id AS neighbor_id,
        ((l0.d + l1.d) + l2.d) + l3.d AS adc_dist
      FROM codes
        JOIN lut l0 ON l0.sub_id = 0 AND l0.cent_id = codes.code_0
        JOIN lut l1 ON l1.sub_id = 1 AND l1.cent_id = codes.code_1
          AND l1.probe_id = l0.probe_id
        JOIN lut l2 ON l2.sub_id = 2 AND l2.cent_id = codes.code_2
          AND l2.probe_id = l0.probe_id
        JOIN lut l3 ON l3.sub_id = 3 AND l3.cent_id = codes.code_3
          AND l3.probe_id = l0.probe_id
      WHERE codes.vec_id <> l0.probe_id)
    SELECT probe_id, neighbor_id, adc_dist, rnk FROM (
      SELECT probe_id, neighbor_id, adc_dist,
        row_number() OVER (PARTITION BY probe_id
                           ORDER BY adc_dist, neighbor_id) AS rnk
      FROM s) WHERE rnk <= 10
    ORDER BY probe_id, rnk"""
  }

  val annPqAdcSql: String = annPqAdcSqlFor()

  /** Cluster count for C62's Lloyd refinement. */
  val KmClusters: Int = 8

  /** Fixed Lloyd rounds for C62 — fixed, not convergence-looped, so the
    * whole refinement is ONE lazy dataflow with zero driver round trips
    * (production would loop to convergence with checkpointed rounds, the
    * C18 pattern). */
  val KmIters: Int = 2

  /** Centroid-sum quantization for C62: component sums accumulate as
    * floor(x·10⁷ + 0.5) BIGINTs, because a cross-row DOUBLE sum is
    * partition-order-nondeterministic — the one floating-point operation
    * Spark cannot make deterministic at scale. Integer sums are exact and
    * order-free; the final mean is ONE correctly-rounded division.
    * Headroom: sums overflow BIGINT only past ~9·10¹¹ rows per
    * (cluster, dim), and n·10⁷ stays under 2⁵³ to ~9·10⁸ members. */
  val KmScale: Long = 10000000L

  /** The codebook collapsed to ONE broadcastable row: (cluster, c_emb
    * double[64]) structs sorted by cluster id —
    * [[graft.functions.Kernels.kmArgmin]]'s input shape. The float→double
    * cast of seed centroids is exact, and the cluster sort makes the
    * kernel's strict-< keep-first rule reproduce
    * `min(struct(dist, cluster))`'s smallest-cluster tie-break. */
  private def kmCodebook(cents: DataFrame): DataFrame =
    cents.select(col("cluster"), col("c_emb").cast("array<double>").as("c_emb"))
      .agg(expr("sort_array(collect_list(struct(cluster, c_emb)))").as("cb"))

  /** Nearest-centroid assignment for C62: the k·64-double codebook rides a
    * 1-row broadcast and the argmin is ONE codegen'd kernel call per vector
    * (identical sequential-fold distance + tie-break as the old
    * crossJoin + struct-MIN shape) — no per-round groupBy(vec_id) shuffle
    * of the corpus at all (round-16 optimization, guide §2.4). Shared with
    * D19's per-micro-batch serving path. */
  private[graft] def kmAssign(v: DataFrame, cents: DataFrame): DataFrame = {
    v.crossJoin(broadcast(kmCodebook(cents)))
      .select(col("vec_id"), expr("graft_km_argmin(embedding, cb)").as("m"))
      .filter(col("m").isNotNull)
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.dist").as("dist"))
  }

  /** Centroid update for C62: assignment is fused into the SAME narrow
    * pass (the argmin kernel over the broadcast codebook), so the
    * per-(cluster, dim) exact scaled-integer partial sums are map-side over
    * the explode with NO vec_id join — the only exchange per round is the
    * ≤ k·64-group partial-agg shuffle (round-16: was a 64×-exploded join
    * shuffle + an N-row argmin shuffle per round). */
  private def kmUpdate(v: DataFrame, cents: DataFrame): DataFrame = {
    v.crossJoin(broadcast(kmCodebook(cents)))
      .select(expr("graft_km_argmin(embedding, cb)").as("m"), col("embedding"))
      .filter(col("m").isNotNull)
      .select(col("m.cluster").as("cluster"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(sum(floor(col("x").cast("double") * lit(KmScale.toDouble)
          + lit(0.5)).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("cluster"), col("dim"),
        (col("sx").cast("double") /
          (col("n").cast("double") * lit(KmScale.toDouble))).as("cval"))
      .groupBy("cluster")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cval)))," +
        " s -> s.cval)").as("c_emb"))
  }

  /** C62: `q_embed_kmeans` — Lloyd's k-means over the embedding corpus:
    * the REAL training step behind the quantizers the ANN family rides
    * (C13/C35/C53 select seed vectors as their stand-in codebook; this
    * refines those seeds through [[KmIters]] assignment→update rounds and
    * reports the final assignment). Seeds are the C13 selection rule at
    * k = [[KmClusters]], so the two codebook families stay comparable.
    *
    * Exactness: distance is the C55 sequential fold (identical order both
    * engines); centroid means are exact scaled-integer sums
    * ([[KmScale]]) with one correctly-rounded division per component;
    * argmin ties break on cluster id. A cluster that loses all members
    * simply drops out of later rounds — same rule both engines.
    *
    * Scale: per round — ONE broadcast of k·64 doubles + a map-side
    * struct-MIN argmin (no window, no shuffle of vectors), then ONE
    * (cluster, dim)-keyed partial-agg shuffle bounded at k·64 groups.
    * Fixed rounds make the whole refinement a single lazy plan: no
    * driver loop, no checkpoint, no collect. The vector relation and the
    * final assignment are cache()d (each feeds ≥ 2 consumers — the C4
    * lesson). */
  /** The trained C62 codebook — the "model" D19's serving path freezes:
    * seeds refined through `iters` Lloyd rounds, over a kept vector
    * relation. */
  private[graft] def kmeansCentroids(spark: SparkSession, dir: String,
      k: Int = KmClusters, iters: Int = KmIters): DataFrame = {
    val v = Caches.keep(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")))
    val seeds = v
      .filter(col("vec_id") % 100 === 50 &&
        col("vec_id") < lit(k.toLong * 100L))
      .select(col("vec_id").as("cluster"), col("embedding").as("c_emb"))
    var cents = seeds
    for (_ <- 1 to iters)
      cents = kmUpdate(v, cents)
    cents
  }

  def embedKmeans(spark: SparkSession, dir: String,
      k: Int = KmClusters, iters: Int = KmIters): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents = kmeansCentroids(spark, dir, k, iters)
    val asg = Caches.keep(kmAssign(v, cents))
    val sizes = asg.groupBy("cluster").agg(count(lit(1)).as("n_members"))
    asg.join(broadcast(sizes), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("dist").as("d2"),
        col("n_members"))
      .orderBy("vec_id")
  }

  /** Shared oracle CTE chain for the C62 family (C62 itself + C70's
    * composition report): `v`, seed codebook `c0`, `iters` spelled-out
    * Lloyd rounds, and the final assignment relation. Returns the CTE text
    * (no `WITH`, no final SELECT) and the assignment relation's name. */
  private def kmeansAssignCtes(k: Int, iters: Int): (String, String) = {
    // per-round CTE generator — the oracle spells every Lloyd round
    // explicitly (d_r: distances, a_r: argmin, c_r: updated centroids)
    def distCte(r: Int, cents: String) = s"""d$r AS (
      SELECT v.vec_id, c.cluster,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, 65), i ->
            (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) -
             CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)) *
            (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) -
             CAST(c.c_emb[CAST(i AS INT)] AS DOUBLE)))),
          (acc, x) -> acc + x) AS dist
      FROM v, $cents c)"""
    def argminCte(r: Int) = s"""a$r AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rk
        FROM d$r) WHERE rk = 1)"""
    def updateCte(r: Int) = s"""s$r AS (
      SELECT a$r.cluster, u.i AS dim,
        SUM(CAST(floor(CAST(v.embedding[CAST(u.i + 1 AS INT)] AS DOUBLE)
          * $KmScale + 0.5) AS BIGINT)) AS sx,
        COUNT(*) AS n
      FROM v JOIN a$r USING (vec_id), unnest(range(0, 64)) AS u(i)
      GROUP BY 1, 2),
    c$r AS (
      SELECT cluster,
        list(CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * $KmScale)
             ORDER BY dim) AS c_emb
      FROM s$r GROUP BY 1)"""
    val rounds = (1 to iters).map { r =>
      val cents = if (r == 1) "c0" else s"c${r - 1}"
      s"${distCte(r, cents)},\n    ${argminCte(r)},\n    ${updateCte(r)}"
    }.mkString(",\n    ")
    val fin = iters + 1
    val ctes = s"""v AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (
      SELECT vec_id AS cluster, embedding AS c_emb FROM v
      WHERE vec_id % 100 = 50 AND vec_id < ${k.toLong * 100L}),
    $rounds,
    ${distCte(fin, s"c$iters")},
    ${argminCte(fin)}"""
    (ctes, s"a$fin")
  }

  def embedKmeansSqlFor(k: Int = KmClusters, iters: Int = KmIters): String = {
    val (ctes, asg) = kmeansAssignCtes(k, iters)
    s"""
    WITH $ctes
    SELECT a.vec_id, a.cluster, a.dist AS d2, s.n_members
    FROM $asg a JOIN (
      SELECT cluster, COUNT(*) AS n_members FROM $asg GROUP BY 1) s
      USING (cluster)
    ORDER BY vec_id"""
  }

  val embedKmeansSql: String = embedKmeansSqlFor()

  /** C70: `q_cluster_profile` — cluster × source composition of the corpus
    * (the "corpus cartography" read of C62's clustering: which sources a
    * semantic cluster draws from, how pure it is, and whether one cluster
    * is a single-source silo — the signal a curator reads before trusting
    * per-cluster sampling or dedup decisions). Per cluster: member count,
    * distinct sources, dominant source (ties → lexicographically smallest,
    * via a map-side struct-MIN on (−count, source)), purity = dominant
    * share, and Gini impurity 1 − Σ share² — computed from EXACT integer
    * cross products (Σcnt² and total² as DECIMAL(38,0) — BIGINT cnt²
    * overflows past ~3·10⁹ docs per (cluster, source)) with ONE double
    * division at the end, so no float sum ever crosses a partition
    * boundary (the C69 exact-integer-domain rule).
    *
    * Scale: the assignment is C62's map-side argmin (broadcast k·64
    * codebook, no vector shuffle); the doc-id join keys two corpus-scaled
    * relations with `shuffle_hash` (C33's rule — a planner broadcast of
    * either side is a driver-side build that dies at 100 TB); everything
    * after lives on the ≤ k·sources grid. */
  def clusterProfile(spark: SparkSession, dir: String,
      k: Int = KmClusters, iters: Int = KmIters): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val asg = kmAssign(v, kmeansCentroids(spark, dir, k, iters))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val grid = asg.join(docs.hint("shuffle_hash"), Seq("vec_id"))
      .groupBy("cluster", "source").agg(count(lit(1)).as("cnt"))
    grid
      .groupBy("cluster")
      .agg(sum("cnt").as("n_docs"),
        count(lit(1)).as("n_sources"),
        min(struct((-col("cnt")).as("neg"), col("source").as("src"))).as("top"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt").cast("decimal(38,0)"))
          .as("ss"))
      .select(col("cluster"), col("n_docs"), col("n_sources"),
        col("top.src").as("top_source"), (-col("top.neg")).as("top_docs"),
        ((-col("top.neg")).cast("double") / col("n_docs").cast("double"))
          .as("purity"),
        ((col("n_docs").cast("decimal(38,0)") * col("n_docs").cast("decimal(38,0)")
            - col("ss")).cast("double") /
          (col("n_docs").cast("decimal(38,0)") * col("n_docs").cast("decimal(38,0)"))
            .cast("double")).as("gini"))
      .orderBy("cluster")
  }

  def clusterProfileSqlFor(k: Int = KmClusters, iters: Int = KmIters): String = {
    val (ctes, asg) = kmeansAssignCtes(k, iters)
    s"""
    WITH $ctes,
    grid AS (
      SELECT a.cluster, d.source, COUNT(*) AS cnt
      FROM $asg a JOIN documents d ON a.vec_id = d.doc_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster
                                   ORDER BY cnt DESC, source ASC) AS rk
      FROM grid),
    tot AS (
      SELECT cluster, SUM(cnt) AS n_docs, COUNT(*) AS n_sources,
        SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS ss
      FROM grid GROUP BY 1)
    SELECT t.cluster, CAST(t.n_docs AS BIGINT) AS n_docs, t.n_sources,
      r.source AS top_source, r.cnt AS top_docs,
      CAST(r.cnt AS DOUBLE) / CAST(t.n_docs AS DOUBLE) AS purity,
      CAST(CAST(t.n_docs AS HUGEINT) * CAST(t.n_docs AS HUGEINT) - t.ss
           AS DOUBLE) /
        CAST(CAST(t.n_docs AS HUGEINT) * CAST(t.n_docs AS HUGEINT) AS DOUBLE)
        AS gini
    FROM tot t JOIN ranked r ON t.cluster = r.cluster AND r.rk = 1
    ORDER BY t.cluster"""
  }

  val clusterProfileSql: String = clusterProfileSqlFor()

  /** C78: `q_semantic_drift` — per-source SEMANTIC drift of the incoming
    * crawl: total-variation distance between the standing slice's and the
    * feed slice's cluster-assignment mixes under C62's clustering, plus
    * the worst-drifting cluster. C69 catches a crawler whose page SHAPE
    * changed (length/language); this catches one whose page MEANING
    * changed while the shape stayed put — a forum source suddenly serving
    * product pages lands in different semantic clusters at the same
    * length mix. Exactly C69's comparison frame: base = the source's
    * standing-corpus cluster mix, feed = the incoming batch's
    * ([[Feeds.incomingDocs]]) cluster mix, where a re-fetched page carries
    * the embedding OF THE BYTES IT FETCHED (the source page's id-keyed
    * vector — production embeds the fetched payload at ingest; the
    * synthetic feed's re-fetch bytes ARE the source page's bytes, so its
    * embedding is that page's row). Feed-absent sources report NULL (went
    * dark — C69's rule).
    *
    * Exactness: C69's integer-domain TV verbatim — per-cluster
    * DECIMAL(18,0) cross products a_i·B − b_i·A summed exactly, ONE double
    * division per report column, identical association order.
    *
    * Scale: C62's map-side argmin assignment (broadcast k·64 codebook, no
    * vector shuffle), one `shuffle_hash` doc-id join (C33's rule) of the
    * two-side union, then everything lives on the cache()d ≤ sources·k
    * grid; the top-cluster window partitions that grid by source —
    * grid-bounded, never corpus-bounded. */
  def semanticDrift(spark: SparkSession, dir: String,
      k: Int = KmClusters, iters: Int = KmIters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(18,0)"
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val asg = kmAssign(v, kmeansCentroids(spark, dir, k, iters))
    val docs = Tables.documents(spark, dir)
    val baseSide = docs.select(col("source"), col("doc_id").as("vec_id"),
      lit("base").as("side"))
    val feedSide = docs
      .filter(col("doc_id") % Feeds.IncrMod === Feeds.IncrRem)
      .select(col("source"),
        when(col("doc_id") % Feeds.RefetchMod === Feeds.IncrRem,
          col("doc_id") - Feeds.IncrRem).otherwise(col("doc_id"))
          .as("vec_id"),
        lit("feed").as("side"))
    val grid = Caches.keep(baseSide.unionByName(feedSide)
      .join(asg.hint("shuffle_hash"), Seq("vec_id"))
      .groupBy("source", "cluster").agg(
        sum(when(col("side") === "base", 1L).otherwise(0L)).as("a"),
        sum(when(col("side") === "feed", 1L).otherwise(0L)).as("b")))
    val tot = grid.groupBy("source")
      .agg(sum("a").cast("long").as("base_docs"),
        sum("b").cast("long").as("feed_docs"))
    val dev = grid.join(tot, "source")
      .withColumn("dev", abs(col("a").cast(dec) * col("feed_docs").cast(dec)
        - col("b").cast(dec) * col("base_docs").cast(dec)))
    val num = dev.groupBy("source").agg(sum("dev").as("num"))
    val top = dev.withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("dev").desc, col("cluster").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("cluster").as("top_cluster"),
        when(col("feed_docs") === 0, lit(null).cast("double"))
          .otherwise(col("dev").cast("double")
            / (col("base_docs").cast("double")
              * col("feed_docs").cast("double"))).as("top_gap"))
    tot.join(num, "source").join(top, "source")
      .select(col("source"), col("base_docs"), col("feed_docs"),
        when(col("feed_docs") === 0, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / (lit(2.0)
            * col("base_docs").cast("double")
            * col("feed_docs").cast("double"))).as("tv_cluster"),
        col("top_cluster"), col("top_gap"))
      .orderBy("source")
  }

  def semanticDriftSqlFor(k: Int = KmClusters,
      iters: Int = KmIters): String = {
    val (ctes, asg) = kmeansAssignCtes(k, iters)
    val (m, r) = (Feeds.IncrMod, Feeds.IncrRem)
    val rf = Feeds.RefetchMod
    s"""
    WITH $ctes,
    sides AS (
      SELECT source, doc_id AS vec_id, 'base' AS side FROM documents
      UNION ALL
      SELECT source,
        CASE WHEN doc_id % $rf = $r THEN doc_id - $r ELSE doc_id END,
        'feed'
      FROM documents WHERE doc_id % $m = $r),
    g AS (
      SELECT s.source, a.cluster,
        CAST(SUM(CASE WHEN s.side = 'base' THEN 1 ELSE 0 END)
          AS BIGINT) AS ga,
        CAST(SUM(CASE WHEN s.side = 'feed' THEN 1 ELSE 0 END)
          AS BIGINT) AS gb
      FROM sides s JOIN $asg a ON a.vec_id = s.vec_id
      GROUP BY 1, 2),
    t AS (
      SELECT source, CAST(SUM(ga) AS BIGINT) AS base_docs,
        CAST(SUM(gb) AS BIGINT) AS feed_docs
      FROM g GROUP BY 1),
    dv AS (
      SELECT g.source, g.cluster,
        abs(CAST(g.ga AS HUGEINT) * t.feed_docs
          - CAST(g.gb AS HUGEINT) * t.base_docs) AS dev,
        t.base_docs, t.feed_docs
      FROM g JOIN t USING (source)),
    n AS (SELECT source, SUM(dev) AS num FROM dv GROUP BY 1),
    tp AS (
      SELECT source, cluster, dev, feed_docs, base_docs,
        row_number() OVER (PARTITION BY source
                           ORDER BY dev DESC, cluster ASC) AS rn
      FROM dv)
    SELECT t.source, t.base_docs, t.feed_docs,
      CASE WHEN t.feed_docs > 0
           THEN CAST(n.num AS DOUBLE) / (2.0 * CAST(t.base_docs AS DOUBLE)
                * CAST(t.feed_docs AS DOUBLE)) END AS tv_cluster,
      tp.cluster AS top_cluster,
      CASE WHEN t.feed_docs > 0
           THEN CAST(tp.dev AS DOUBLE) / (CAST(t.base_docs AS DOUBLE)
                * CAST(t.feed_docs AS DOUBLE)) END AS top_gap
    FROM t JOIN n USING (source)
    JOIN tp ON tp.source = t.source AND tp.rn = 1
    ORDER BY t.source"""
  }

  val semanticDriftSql: String = semanticDriftSqlFor()

  /** Retrieved labels per query group for C85. */
  val MaxSimTopK: Int = 3

  /** C85: `q_retrieval_maxsim` — late-interaction (ColBERT-style MaxSim)
    * retrieval scoring, the multi-vector step past C74's single-vector
    * serving read: the probe slice grouped by `label` forms multi-vector
    * QUERIES, the non-probe vectors grouped by `label` form multi-vector
    * DOCUMENTS, and score(q, d) = Σ_{v∈q} max_{w∈d} cos(v, w) — each query
    * vector keeps only its best-matching document vector, so a document
    * scores high iff it covers every facet of the query. Top-[[MaxSimTopK]]
    * document labels per query label.
    *
    * Exactness: cosines are the shared sequential-fold kernel; each
    * per-probe maximum is an exact pick; the per-query SUM of maxima is a
    * sequential fold in probe_id order (sorted bounded array, never a
    * reassociable double agg), so the score is bit-reproducible on both
    * engines.
    *
    * Scale: probes are the bounded broadcast every ANN query here uses —
    * the corpus side streams once through a codegen'd broadcast nested
    * loop, reduces map-side to (query vector × doc label) maxima
    * (|probes|·|labels| rows, corpus-independent), and everything after is
    * arithmetic on that bounded grid. At 100 TB the one corpus pass is the
    * cost; a deployment needing sub-scan latency swaps the exact max for
    * the C13/C56 index path per probe and keeps the identical fold. */
  def retrievalMaxsim(spark: SparkSession, dir: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vectors(spark, dir)
    val probes = v.filter(probeFilter(probeLo, probeBatch))
      .select(col("vec_id").as("probe_id"), col("label").as("qlabel"),
        col("embedding").as("p_emb"), col("n2").as("p_n2"))
    val docs = v.filter(col("vec_id") % 100 =!= 0)
    val mx = docs.join(broadcast(probes))
      .select(col("qlabel"), col("probe_id"), col("label").as("dlabel"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
      .groupBy("qlabel", "probe_id", "dlabel").agg(max("cosine").as("mx"))
    val scored = mx.groupBy("qlabel", "dlabel")
      .agg(sort_array(collect_list(struct(col("probe_id"), col("mx"))))
        .as("l"))
      .select(col("qlabel"), col("dlabel"),
        expr("aggregate(l, cast(0 as double), (a, x) -> a + x.mx)")
          .as("score"),
        size(col("l")).cast("long").as("n_q"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("qlabel")
          .orderBy(col("score").desc, col("dlabel"))).cast("long"))
      .filter(col("rnk") <= MaxSimTopK)
      .select("qlabel", "dlabel", "score", "n_q", "rnk")
      .orderBy("qlabel", "rnk")
  }

  def retrievalMaxsimSqlFor(probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = s"""
    WITH v AS (
      SELECT vec_id, label, embedding,
        list_reduce(list_transform(range(1, len(embedding) + 1), i ->
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y) AS n2
      FROM embeddings),
    p AS (SELECT * FROM v WHERE ${probeSqlPred("vec_id", probeLo, probeBatch)}),
    d AS (SELECT * FROM v WHERE vec_id % 100 <> 0),
    s AS (
      SELECT p.label AS qlabel, p.vec_id AS probe_id, d.label AS dlabel,
        max(list_reduce(list_transform(range(1, len(p.embedding) + 1), i ->
          CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) *
          CAST(d.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
          / (sqrt(p.n2) * sqrt(d.n2))) AS mx
      FROM p, d GROUP BY 1, 2, 3),
    g AS (
      SELECT qlabel, dlabel,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(mx ORDER BY probe_id)),
          (x, y) -> x + y) AS score,
        COUNT(*) AS n_q
      FROM s GROUP BY 1, 2)
    SELECT qlabel, dlabel, score, n_q, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY qlabel
        ORDER BY score DESC, dlabel) AS BIGINT) AS rnk
      FROM g) WHERE rnk <= $MaxSimTopK
    ORDER BY qlabel, rnk"""

  val retrievalMaxsimSql: String = retrievalMaxsimSqlFor()

  /** RRF smoothing constant for C96 — the k in 1/(k + rank). 60 is the
    * value the reciprocal-rank-fusion literature standardized on: large
    * enough that a single list's rank-1 (1/61) cannot outvote two lists'
    * mid-ranks (2/(60+r)), small enough that rank order still matters. */
  val RrfK: Int = 60

  /** C96: `q_retrieval_rrf` — RECIPROCAL RANK FUSION of the two
    * approximate ANN indexes (sign-LSH C7 and IVF C13): each candidate
    * pair scores Σ 1/([[RrfK]] + rank) over the lists that surfaced it,
    * and the fused top-10 re-ranks on that sum. This is the standard
    * score-free ensemble for retrieval serving — the two indexes fail
    * differently (LSH misses by plane geometry, IVF by cell boundaries),
    * so a candidate BOTH surface is a stronger neighbor than either
    * rank alone implies, and fusion recovers recall neither index has by
    * itself without touching a single extra vector.
    *
    * Exactness: each term is one division of exact integers and the
    * 2-term sum of exact-rounded doubles is order-free (IEEE addition is
    * commutative) — computed as a single coalesce expression over the
    * FULL OUTER join of the two lists, no distributed double aggregate.
    *
    * Scale: both inputs are the already-bounded ANN outputs (O(probes ×
    * 10) each, by construction), so the fusion join + the per-probe
    * re-rank window operate on ≤ 20 rows per probe — the expensive parts
    * (index search) are exactly C7/C13's bucket/cell-bounded plans,
    * unchanged. At 100 TB fusion cost stays O(probe batch). */
  /** The C96 fusion arithmetic, shared by the registered batch query and
    * the D32 streaming serve: full-outer join of two (probe_id,
    * neighbor_id, {lsh,ivf}_rnk) lists, 2-term RRF score, fused top-10. */
  private def rrfFuse(lsh: DataFrame, ivf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = lsh.join(ivf, Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("n_lists",
        (col("lsh_rnk").isNotNull.cast("long") +
          col("ivf_rnk").isNotNull.cast("long")))
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(RrfK.toLong) + col("lsh_rnk")).cast("double"),
            lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK.toLong) + col("ivf_rnk")).cast("double"),
            lit(0.0)))
    fused.withColumn("rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("rrf_score").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select("probe_id", "neighbor_id", "lsh_rnk", "ivf_rnk", "n_lists",
        "rrf_score", "rnk")
      .orderBy("probe_id", "rnk")
  }

  def retrievalRrf(spark: SparkSession, dir: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    val lsh = annLsh(spark, dir, probeBatch, probeLo)
      .select(col("probe_id"), col("neighbor_id"), col("rnk").as("lsh_rnk"))
    val ivf = annIvf(spark, dir, probeBatch = probeBatch, probeLo = probeLo)
      .select(col("probe_id"), col("neighbor_id"), col("rnk").as("ivf_rnk"))
    rrfFuse(lsh, ivf)
  }

  /** PROBE-PARAMETRIC C96 — the serving twin: fused top-10 for an
    * ARBITRARY probe relation (probe_id, embedding) against a static
    * corpus (vec_id, embedding), the shape the D32 stream runs per
    * micro-batch. Same sign-LSH table union, same IVF cell search
    * (deterministic centroids from the corpus), same exclusion of the
    * probe's own vec_id, same fusion arithmetic ([[rrfFuse]]) — serve on
    * the batch probe slice ≡ the registered query, spec-pinned.
    *
    * Scale: the probe batch is bounded by arrival (a micro-batch), so
    * both probe sides broadcast; corpus-side work is bucket/cell-bounded
    * exactly as C7/C13. */
  def retrievalRrfServe(corpus: DataFrame, probes: DataFrame,
      k: Int = IvfK, nprobe: Int = IvfNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = corpus.select(col("vec_id"), col("embedding"),
      expr("graft_norm2(embedding)").as("n2"))
    val p = probes.select(col("probe_id"), col("embedding").as("p_emb"),
      expr("graft_norm2(embedding)").as("p_n2"))
    // sign-LSH: bucket both sides with the SAME kernel, meet on any table
    val vb = v.select(col("vec_id"), col("embedding"), col("n2"),
      posexplode(expr("graft_lsh_buckets(embedding)")).as(Seq("t", "bucket")))
    val pb = p.select(col("probe_id"), col("p_emb"), col("p_n2"),
      posexplode(expr("graft_lsh_buckets(p_emb)")).as(Seq("t", "bucket")))
    val lsh = vb.join(broadcast(pb), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
      .groupBy("probe_id", "neighbor_id").agg(max("cosine").as("cosine"))
      .withColumn("lsh_rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("lsh_rnk") <= 10)
      .select("probe_id", "neighbor_id", "lsh_rnk")
    // IVF: corpus-derived centroids, probe cells from the probe batch
    val cents = ivfCentroids(v, k)
    val assigned = ivfAssigned(v, cents)
    val probeCells = p.crossJoin(broadcast(cents))
      .select(col("probe_id"), col("p_emb"), col("p_n2"), col("cent_id"),
        (expr(dotExpr("p_emb", "c_emb")) /
          (sqrt(col("p_n2")) * sqrt(col("c_n2")))).as("c_cos"))
      .withColumn("prnk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("c_cos").desc, col("cent_id"))))
      .filter(col("prnk") <= nprobe)
      .select("probe_id", "p_emb", "p_n2", "cent_id")
    val ivf = assigned.join(broadcast(probeCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (expr(dotExpr("p_emb", "embedding")) /
          (sqrt(col("p_n2")) * sqrt(col("n2")))).as("cosine"))
      .withColumn("ivf_rnk", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("ivf_rnk") <= 10)
      .select("probe_id", "neighbor_id", "ivf_rnk")
    rrfFuse(lsh, ivf)
  }

  def retrievalRrfSqlFor(probeBatch: Int = ProbeBatch,
      probeLo: Int = 0): String = s"""
    WITH lsh AS (${annLshSqlFor(probeBatch, probeLo)}),
    ivf AS (${annIvfSqlFor(probeBatch = probeBatch, probeLo = probeLo)}),
    fused AS (
      SELECT COALESCE(l.probe_id, i.probe_id) AS probe_id,
        COALESCE(l.neighbor_id, i.neighbor_id) AS neighbor_id,
        l.rnk AS lsh_rnk, i.rnk AS ivf_rnk,
        CAST(CASE WHEN l.rnk IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN i.rnk IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS n_lists,
        COALESCE(1.0 / CAST($RrfK + l.rnk AS DOUBLE), 0.0)
          + COALESCE(1.0 / CAST($RrfK + i.rnk AS DOUBLE), 0.0) AS rrf_score
      FROM lsh l FULL OUTER JOIN ivf i
        ON l.probe_id = i.probe_id AND l.neighbor_id = i.neighbor_id)
    SELECT probe_id, neighbor_id, lsh_rnk, ivf_rnk, n_lists, rrf_score, rnk
    FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
        ORDER BY rrf_score DESC, neighbor_id) AS BIGINT) AS rnk
      FROM fused) WHERE rnk <= 10
    ORDER BY probe_id, rnk"""

  val retrievalRrfSql: String = retrievalRrfSqlFor()

  /** C88: `q_embed_covariance` — the second-moment audit of the embedding
    * space: quantized Gram matrix (upper triangle), per-dim sums and the
    * vector count, from which a consumer derives covariance / correlation
    * to design PQ subspace splits (C55), detect redundant dimensions
    * before whitening, or catch an encoder regression that collapses
    * dimensions (the C46 norm audit's cross-dim sibling).
    *
    * Exactness: values quantize to integers (q = floor(x·10^4 + 0.5), the
    * C62 device), so every cell is an exact long sum — order-independent
    * where a distributed double covariance would be shuffle-order
    * nondeterministic. The quantization bias is bounded (|x·S − q| ≤ ½ per
    * element) and irrelevant for an audit read.
    *
    * Scale: ONE pass through a native distributive aggregate
    * ([[graft.functions.GramMatrixAgg]]) whose state is a flat 33 KiB cell
    * array per partition — partial aggregation map-side, one tiny merge,
    * never a (vector × dim × dim) explode (the naive shape shuffles
    * 4096× the corpus). The 2080-row output is grid-sized at any corpus
    * size. */
  /** The C88 grid builder over any relation with an `embedding` column —
    * shared by batch C88 and its streaming twin (D29,
    * [[graft.streaming.GramStream]]): one aggregate pass → the 2080-row
    * upper-triangle relation. Every cell is an exact integer, and the grid
    * is ADDITIVE over disjoint row sets (cellwise long sums), which is
    * what makes the streaming twin's per-epoch grids composable. */
  private[graft] def gramGrid(embeds: DataFrame): DataFrame = {
    val k = graft.functions.Kernels
    val d2 = k.GramDims * k.GramDims
    val g = embeds.agg(expr("graft_gram_agg(embedding)").as("g"))
    g.select(col("g"), posexplode(expr(s"slice(g, 1, $d2)")))
      .select(col("g"),
        expr(s"cast(pos div ${k.GramDims} as bigint)").as("dim_i"),
        expr(s"cast(pos % ${k.GramDims} as bigint)").as("dim_j"),
        col("col").as("s_prod"))
      .filter(col("dim_i") <= col("dim_j"))
      .select(col("dim_i"), col("dim_j"), col("s_prod"),
        expr(s"element_at(g, cast($d2 + dim_i + 1 as int))").as("s_i"),
        expr(s"element_at(g, cast($d2 + dim_j + 1 as int))").as("s_j"),
        expr(s"element_at(g, ${k.GramBufLen})").as("n_vecs"))
  }

  def embedCovariance(spark: SparkSession, dir: String): DataFrame =
    gramGrid(Tables.embeddings(spark, dir)).orderBy("dim_i", "dim_j")

  /** C92: `q_embed_dim_audit` — the CONSUMER read of C88's moment grid,
    * the audit its scaladoc promises: per dimension, the (quantized-unit)
    * variance and the most-correlated partner dimension. This is how a
    * curator catches an encoder collapse (variance ≈ 0: the dim carries
    * nothing) or redundancy (|corr| ≈ 1: two dims carry the same signal —
    * fold them into one PQ subspace, or drop one before whitening)
    * WITHOUT ever re-reading the vectors: everything derives from the
    * 2080-row exact-integer grid, so the audit is free at any corpus
    * size once C88 ran.
    *
    * Exactness: variance and correlation are single double expressions
    * over the grid's exact integer moments with IDENTICAL operation
    * order in both engines (no distributed double sum anywhere); the
    * argmax partner breaks |corr| ties on the lower partner id (total
    * order); zero-variance dims yield NULL correlations and a NULL
    * partner, never a divide-by-zero row.
    *
    * Scale: one gramGrid pass (C88's single distributive-aggregate scan)
    * + O(dims²) post-processing — fixed 2080 rows whatever the corpus. */
  def embedDimAudit(spark: SparkSession, dir: String): DataFrame = {
    val g = Caches.keep(gramGrid(Tables.embeddings(spark, dir)))
    def dbl(c: String) = col(c).cast("double")
    val diag = g.filter(col("dim_i") === col("dim_j"))
      .select(col("dim_i").as("dim"), col("s_prod").as("s_dd"),
        col("s_i").as("s_d"), col("n_vecs"))
      .withColumn("den",
        dbl("n_vecs") * dbl("s_dd") - dbl("s_d") * dbl("s_d"))
      .withColumn("var_q",
        col("den") / (dbl("n_vecs") * dbl("n_vecs")))
    val off = g.filter(col("dim_i") =!= col("dim_j"))
    val sym = off.select(col("dim_i").as("dim"), col("dim_j").as("partner"),
        col("s_prod"), col("s_i").as("s_a"), col("s_j").as("s_b"),
        col("n_vecs"))
      .unionByName(off.select(col("dim_j").as("dim"),
        col("dim_i").as("partner"), col("s_prod"),
        col("s_j").as("s_a"), col("s_i").as("s_b"), col("n_vecs")))
    val corr = sym
      .join(diag.select(col("dim"), col("den").as("den_a")), Seq("dim"))
      .join(diag.select(col("dim").as("partner"),
        col("den").as("den_b")), Seq("partner"))
      .filter(col("den_a") > 0.0 && col("den_b") > 0.0)
      .select(col("dim"), col("partner"),
        ((dbl("n_vecs") * dbl("s_prod") - dbl("s_a") * dbl("s_b"))
          / (sqrt(col("den_a")) * sqrt(col("den_b")))).as("corr"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("dim")
      .orderBy(abs(col("corr")).desc, col("partner").asc)
    val top = corr.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dim"), col("partner").as("top_partner"),
        col("corr").as("top_corr"))
    diag.join(top, Seq("dim"), "left")
      .select(col("dim"), col("n_vecs"), col("var_q"),
        col("top_partner"), col("top_corr"))
      .orderBy("dim")
  }

  // declared lazy: interpolates embedCovarianceSql, which is declared
  // below (object init order would otherwise splice a null)
  lazy val embedDimAuditSql: String = s"""
    WITH cov AS ($embedCovarianceSql),
    diag AS (
      SELECT dim_i AS dim, n_vecs,
        CAST(n_vecs AS DOUBLE) * CAST(s_prod AS DOUBLE)
          - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE) AS den
      FROM cov WHERE dim_i = dim_j),
    sym AS (
      SELECT dim_i AS dim, dim_j AS partner, s_prod,
        s_i AS s_a, s_j AS s_b, n_vecs
      FROM cov WHERE dim_i <> dim_j
      UNION ALL
      SELECT dim_j, dim_i, s_prod, s_j, s_i, n_vecs
      FROM cov WHERE dim_i <> dim_j),
    corr AS (
      SELECT s.dim, s.partner,
        (CAST(s.n_vecs AS DOUBLE) * CAST(s.s_prod AS DOUBLE)
          - CAST(s.s_a AS DOUBLE) * CAST(s.s_b AS DOUBLE))
          / (sqrt(a.den) * sqrt(b.den)) AS corr
      FROM sym s
      JOIN diag a ON a.dim = s.dim
      JOIN diag b ON b.dim = s.partner
      WHERE a.den > 0.0 AND b.den > 0.0),
    top AS (
      SELECT dim, partner AS top_partner, corr AS top_corr FROM (
        SELECT dim, partner, corr,
          row_number() OVER (PARTITION BY dim
                             ORDER BY abs(corr) DESC, partner ASC) AS rn
        FROM corr) WHERE rn = 1)
    SELECT d.dim, d.n_vecs,
      d.den / (CAST(d.n_vecs AS DOUBLE) * CAST(d.n_vecs AS DOUBLE))
        AS var_q,
      t.top_partner, t.top_corr
    FROM diag d LEFT JOIN top t ON t.dim = d.dim
    ORDER BY d.dim"""

  val embedCovarianceSql: String = {
    val k = graft.functions.Kernels
    s"""
    WITH q AS (
      SELECT vec_id, u.i AS dim,
        CAST(floor(CAST(embedding[CAST(u.i + 1 AS INT)] AS DOUBLE)
          * ${k.GramScale} + 0.5) AS BIGINT) AS q
      FROM embeddings, unnest(range(0, ${k.GramDims})) AS u(i)
      WHERE embedding IS NOT NULL),
    s AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY 1),
    -- COUNT(embedding), not COUNT(*): GramMatrixAgg.update skips NULL
    -- embedding inputs (count and sums alike), so the oracle must too
    n AS (SELECT COUNT(embedding) AS n_vecs FROM embeddings),
    p AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
        CAST(SUM(a.q * b.q) AS BIGINT) AS s_prod
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      GROUP BY 1, 2)
    SELECT p.dim_i, p.dim_j, p.s_prod, si.s AS s_i, sj.s AS s_j, n.n_vecs
    FROM p JOIN s si ON si.dim = p.dim_i JOIN s sj ON sj.dim = p.dim_j, n
    ORDER BY dim_i, dim_j"""
  }

  /** C99 power-iteration count — fixed, part of the operator's contract
    * (the output is "the 8-step power iterate from the uniform start",
    * a deterministic quantity, not "the eigenvector to tolerance ε"). */
  val PowerIters: Int = 8

  /** C99: `q_embed_pca_power` — the TOP PRINCIPAL COMPONENT of the
    * embedding space, extracted from C88's moment grid by [[PowerIters]]
    * steps of power iteration: the scatter matrix A[i][j] = n·Σxᵢxⱼ −
    * ΣxᵢΣxⱼ (derived per cell from the exact integer moments, the C92
    * device) is a fixed 64×64 grid whatever the corpus, so after the ONE
    * corpus-scale pass (C88's distributive aggregate) the iteration is
    * driver-scale math over a bounded 2080-row collect — the Bloom-words
    * model-freeze category, NOT a distributed hot path (a dataflow
    * formulation measured ~10× the query's whole cost in scheduler
    * rounds for 33 KiB of state).
    * Ships per dimension: the component loading, plus the eigenvalue
    * estimate ‖A·v‖ and its share of trace(A) — the "how much of total
    * variance does ONE direction own" number that prices whitening and
    * PQ subspace design (a dominant share means the encoder wastes its
    * width; C92 catches pairwise redundancy, this catches the global
    * kind).
    *
    * Exactness: every matrix cell is a single double expression over
    * exact integers; every reduction (mat-vec rows, norms, trace) is a
    * SEQUENTIAL fold in ascending dim order seeded with 0.0 on BOTH
    * engines (a driver foldLeft here; DuckDB `list_reduce` over
    * `[0.0] || list(... ORDER BY ...)`, MATERIALIZED per iterate so the
    * chained CTEs don't re-inline exponentially) — IEEE +,*,/ and sqrt
    * are exactly rounded, so identical op order means identical bits;
    * no libm transcendentals, no distributed double sums.
    *
    * Scale: the corpus is touched ONCE (C88's distributive-aggregate
    * pass); the iteration costs O(dims² · iters) — corpus-independent —
    * so the query's price at 100 TB is exactly C88's. */
  def embedPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val D = graft.functions.Kernels.GramDims
    // bounded model-freeze (the Bloom-words / NumShards category): the
    // grid is EXACTLY D(D+1)/2 = 2080 rows by construction at any corpus
    // size — the corpus-scale work is the ONE distributive-aggregate scan
    // inside gramGrid; iterating a 64x64 matrix through distributed jobs
    // would spend 8 scheduler rounds on driver-scale math (measured ~10x
    // the whole query's cost as dataflow)
    val rows = gramGrid(Tables.embeddings(spark, dir)).collect()
    val aM = Array.ofDim[Double](D, D)
    for (r <- rows) {
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val cell = r.getLong(5).toDouble * r.getLong(2).toDouble -
        r.getLong(3).toDouble * r.getLong(4).toDouble
      // IEEE multiplication commutes, so the mirrored cell the oracle
      // derives from (s_j, s_i) is bit-identical
      aM(i)(j) = cell
      aM(j)(i) = cell
    }
    // every reduction: sequential fold in ascending dim order seeded 0.0
    // — the exact op order the oracle's ordered list_reduce uses
    val trace = (0 until D).foldLeft(0.0)((acc, i) => acc + aM(i)(i))
    var v = Array.fill(D)(1.0)
    var nrm = 0.0
    for (_ <- 1 to PowerIters) {
      val y = Array.tabulate(D)(i =>
        (0 until D).foldLeft(0.0)((acc, j) => acc + aM(i)(j) * v(j)))
      nrm = math.sqrt((0 until D).foldLeft(0.0)((acc, i) => acc + y(i) * y(i)))
      v = if (nrm > 0.0) y.map(_ / nrm) else Array.fill(D)(Double.NaN)
    }
    val out = (0 until D).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        if (nrm > 0.0) java.lang.Double.valueOf(v(i)) else null,
        java.lang.Double.valueOf(nrm),
        if (trace > 0.0) java.lang.Double.valueOf(nrm / trace) else null)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("eigenvalue",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("explained_share",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava), schema)
      .orderBy("dim")
  }

  lazy val embedPcaPowerSql: String = {
    def iterCtes(k: Int): String = s"""
    y$k AS MATERIALIZED (
      SELECT a.i AS dim,
        list_reduce([CAST(0.0 AS DOUBLE)] ||
          list(a.a * v.v ORDER BY a.j), (x, y) -> x + y) AS y
      FROM a JOIN v${k - 1} v ON v.dim = a.j GROUP BY a.i),
    n$k AS MATERIALIZED (
      SELECT sqrt(list_reduce([CAST(0.0 AS DOUBLE)] ||
        list(y * y ORDER BY dim), (x, y) -> x + y)) AS nrm FROM y$k),
    v$k AS MATERIALIZED (
      SELECT dim, CASE WHEN nrm > 0.0 THEN y / nrm END AS v
      FROM y$k, n$k)"""
    val iters = (1 to PowerIters).map(iterCtes).mkString(",")
    s"""
    WITH cov AS MATERIALIZED ($embedCovarianceSql),
    a AS MATERIALIZED (
      SELECT dim_i AS i, dim_j AS j,
        CAST(n_vecs AS DOUBLE) * CAST(s_prod AS DOUBLE)
          - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE) AS a
      FROM cov
      UNION ALL
      SELECT dim_j, dim_i,
        CAST(n_vecs AS DOUBLE) * CAST(s_prod AS DOUBLE)
          - CAST(s_j AS DOUBLE) * CAST(s_i AS DOUBLE)
      FROM cov WHERE dim_i <> dim_j),
    v0 AS MATERIALIZED (SELECT dim_i AS dim, CAST(1.0 AS DOUBLE) AS v
           FROM cov WHERE dim_i = dim_j),
    $iters,
    tr AS (
      SELECT list_reduce([CAST(0.0 AS DOUBLE)] ||
        list(CAST(n_vecs AS DOUBLE) * CAST(s_prod AS DOUBLE)
          - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE) ORDER BY dim_i),
        (x, y) -> x + y) AS trace
      FROM cov WHERE dim_i = dim_j)
    SELECT v.dim, v.v AS loading, n.nrm AS eigenvalue,
      CASE WHEN tr.trace > 0.0 THEN n.nrm / tr.trace END AS explained_share
    FROM v$PowerIters v, n$PowerIters n, tr
    ORDER BY v.dim"""
  }
  /** C104: `q_embed_subspace_variance` — the PQ-SUBSPACE variance budget
    * read off C88's moment grid: per 16-dim subspace (C55's split
    * geometry), the exact scatter trace, its share of the total, and the
    * highest-/lowest-scatter dimensions inside it. This is the check that
    * C55's fixed contiguous split actually balances information across
    * codebooks: a subspace owning most of the trace means its 16-entry
    * codebook is quantizing most of the space's energy (raise its bits or
    * re-split), one near zero means dead dims are wasting a codebook —
    * C92 catches per-dim pathology, C99 the global one-direction kind;
    * this is the read at exactly the granularity the PQ design consumes.
    *
    * Scale: one gramGrid pass (C88's single distributive-aggregate scan);
    * everything here is O(dims) post-processing on the 64 diagonal rows.
    * Exactness: per-dim scatter n·Σx² − (Σx)² stays an exact LONG
    * (|q| ≤ 2·10⁴ ⇒ n·Σx² < 2⁶³ up to ~5·10⁹ vectors — same headroom as
    * the grid itself), subspace sums are order-independent long adds, the
    * extreme dims use max-then-min-dim (deterministic ties), and
    * trace_q / trace_share are single divisions. */
  def embedSubspaceVariance(spark: SparkSession, dir: String): DataFrame = {
    val diag = Caches.keep(gramGrid(Tables.embeddings(spark, dir))
      .filter(col("dim_i") === col("dim_j"))
      .select(col("dim_i").as("dim"),
        (col("n_vecs") * col("s_prod") - col("s_i") * col("s_i"))
          .as("den"), col("n_vecs"))
      .withColumn("sub_id", expr(s"dim div $PqSubDim")))
    val per = diag.groupBy("sub_id").agg(
      count(lit(1)).as("n_dims"), max("n_vecs").as("n_vecs"),
      sum("den").as("sub_den"), max("den").as("max_den"), min("den").as("min_den"))
    val top = diag.join(per.select(col("sub_id"), col("max_den")), Seq("sub_id"))
      .filter(col("den") === col("max_den"))
      .groupBy("sub_id").agg(min("dim").as("top_dim"))
    val bot = diag.join(per.select(col("sub_id"), col("min_den")), Seq("sub_id"))
      .filter(col("den") === col("min_den"))
      .groupBy("sub_id").agg(min("dim").as("min_dim"))
    val tot = diag.agg(sum("den").as("tot_den"))
    per.join(top, Seq("sub_id")).join(bot, Seq("sub_id"))
      .crossJoin(broadcast(tot))
      .select(col("sub_id"), col("n_dims"), col("n_vecs"),
        (col("sub_den").cast("double")
          / (col("n_vecs") * col("n_vecs")).cast("double")).as("trace_q"),
        when(col("tot_den") > 0L, col("sub_den").cast("double")
          / col("tot_den").cast("double")).as("trace_share"),
        col("top_dim"),
        (col("max_den").cast("double")
          / (col("n_vecs") * col("n_vecs")).cast("double")).as("top_var_q"),
        col("min_dim"),
        (col("min_den").cast("double")
          / (col("n_vecs") * col("n_vecs")).cast("double")).as("min_var_q"))
      .orderBy("sub_id")
  }

  // lazy: interpolates embedCovarianceSql (declared above) — kept lazy so
  // a future reorder cannot silently splice a null (the object-init rule)
  lazy val embedSubspaceVarianceSql: String = s"""
    WITH cov AS ($embedCovarianceSql),
    diag AS (
      SELECT dim_i AS dim, dim_i // $PqSubDim AS sub_id,
        n_vecs * s_prod - s_i * s_i AS den, n_vecs
      FROM cov WHERE dim_i = dim_j),
    per AS (
      SELECT sub_id, count(*) AS n_dims, max(n_vecs) AS n_vecs,
        CAST(SUM(den) AS BIGINT) AS sub_den,
        max(den) AS max_den, min(den) AS min_den
      FROM diag GROUP BY 1),
    top AS (
      SELECT d.sub_id, min(d.dim) AS top_dim
      FROM diag d JOIN per p ON p.sub_id = d.sub_id AND d.den = p.max_den
      GROUP BY 1),
    bot AS (
      SELECT d.sub_id, min(d.dim) AS min_dim
      FROM diag d JOIN per p ON p.sub_id = d.sub_id AND d.den = p.min_den
      GROUP BY 1),
    tot AS (SELECT CAST(SUM(den) AS BIGINT) AS tot_den FROM diag)
    SELECT p.sub_id, p.n_dims, p.n_vecs,
      CAST(p.sub_den AS DOUBLE) / CAST(p.n_vecs * p.n_vecs AS DOUBLE)
        AS trace_q,
      CASE WHEN t.tot_den > 0 THEN
        CAST(p.sub_den AS DOUBLE) / CAST(t.tot_den AS DOUBLE) END
        AS trace_share,
      tp.top_dim,
      CAST(p.max_den AS DOUBLE) / CAST(p.n_vecs * p.n_vecs AS DOUBLE)
        AS top_var_q,
      bt.min_dim,
      CAST(p.min_den AS DOUBLE) / CAST(p.n_vecs * p.n_vecs AS DOUBLE)
        AS min_var_q
    FROM per p
    JOIN top tp ON tp.sub_id = p.sub_id
    JOIN bot bt ON bt.sub_id = p.sub_id, tot t
    ORDER BY p.sub_id"""

  /** C109: `q_embed_pq_distortion` — the MEASURED quantization loss per PQ
    * subspace, the consumer read that closes the codebook-design loop:
    * C104 says where the information LIVES (variance budget), this says
    * where quantization LOSES it (per-subspace reconstruction MSE off
    * C55's assignments), and comparing the two shares is the
    * bits-allocation check — a subspace whose distortion share runs far
    * above its variance share is under-coded (needs more codewords or a
    * re-split), one far below wastes bits. `n_codes_used` < [[PqK]] on
    * top flags dead codewords (quantizer collapse, the k-means failure
    * mode C53 reads for IVF cells). Per subspace: vectors, codewords
    * actually used, mean/max reconstruction MSE, share of total
    * distortion.
    *
    * Exactness: C55's `sub_mse` doubles are nano-quantized to longs
    * before the distributed sum (the D31/C90 device — a double sum across
    * partitions would be order-nondeterministic), identical
    * round-to-nano on both engines; max is order-free; single divisions
    * at the end. Plan: C55's assignment plan (the broadcast-codebook
    * struct-MIN — no new corpus pass) collapsing onto a [[PqSub]]-row
    * grid map-side; the total is a 1-row broadcast. O(corpus) work, 4-row
    * output at any scale. */
  def embedPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val pq = embedPq(spark, dir)
      .select(col("sub_id"), col("code"),
        round(col("sub_mse") * lit(1000000000.0)).cast("long").as("mse_n"))
    // cache(): the 4-row grid feeds BOTH the output and the 1-row total —
    // uncached, the total's branch would replay the whole C55 assignment
    // subtree (the C75/C90 report-assembly lesson)
    val per = Caches.keep(pq.groupBy("sub_id").agg(
      count(lit(1)).as("n_vecs"),
      countDistinct("code").as("n_codes_used"),
      sum("mse_n").as("sum_mse_n"),
      max("mse_n").as("max_mse_n")))
    val tot = per.agg(sum("sum_mse_n").as("tot_mse_n"))
    per.crossJoin(broadcast(tot))
      .select(col("sub_id"), col("n_vecs"), col("n_codes_used"),
        (col("sum_mse_n").cast("double") / col("n_vecs").cast("double")
          / lit(1000000000.0)).as("mean_mse"),
        (col("max_mse_n").cast("double") / lit(1000000000.0)).as("max_mse"),
        when(col("tot_mse_n") > 0L, col("sum_mse_n").cast("double")
          / col("tot_mse_n").cast("double")).as("mse_share"))
      .orderBy("sub_id")
  }

  // lazy: interpolates embedPqSql (the object-init rule)
  lazy val embedPqDistortionSql: String = s"""
    WITH pq AS ($embedPqSql),
    q AS (
      SELECT sub_id, code,
        CAST(round(sub_mse * 1000000000.0) AS BIGINT) AS mse_n
      FROM pq),
    per AS (
      SELECT sub_id, COUNT(*) AS n_vecs,
        COUNT(DISTINCT code) AS n_codes_used,
        CAST(SUM(mse_n) AS BIGINT) AS sum_mse_n,
        CAST(MAX(mse_n) AS BIGINT) AS max_mse_n
      FROM q GROUP BY 1),
    tot AS (SELECT CAST(SUM(sum_mse_n) AS BIGINT) AS tot_mse_n FROM per)
    SELECT p.sub_id, p.n_vecs, p.n_codes_used,
      CAST(p.sum_mse_n AS DOUBLE) / CAST(p.n_vecs AS DOUBLE)
        / 1000000000.0 AS mean_mse,
      CAST(p.max_mse_n AS DOUBLE) / 1000000000.0 AS max_mse,
      CASE WHEN t.tot_mse_n > 0 THEN
        CAST(p.sum_mse_n AS DOUBLE) / CAST(t.tot_mse_n AS DOUBLE) END
        AS mse_share
    FROM per p, tot t
    ORDER BY p.sub_id"""

  /** C112: `q_ann_overlap` — the INDEX-AGREEMENT matrix over the three
    * approximate top-10 lists (sign-LSH C7, IVF C13, PQ-ADC C56): per
    * unordered index pair, the per-probe |A∩B| rolled up to mean/min/max
    * overlap@10. This is the number that EXPLAINS the C96 fusion gain
    * C40 reports: RRF only recovers recall the single indexes lack when
    * the indexes DISAGREE (low overlap = diverse failure modes = fusion
    * headroom; overlap → 10 = redundant index, drop one and save the
    * serving cost). The C75 method-agreement idea applied to retrieval.
    *
    * Plan: each bounded list (O(probes × 10) rows) is computed once and
    * cached — its expensive search plan never replays across the three
    * report branches (the C75/C109 report-assembly lesson); per pair one
    * (probe, neighbor) equi-join + a per-probe count + a probes-side
    * LEFT join so zero-overlap probes count in the mean (an inner
    * groupBy would silently drop them and inflate it). Integer counts,
    * one division; min/max are order-free. Output is 3 rows at any
    * corpus size; all real work lives in the three already-bounded
    * searches. */
  def annOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lists = Seq(
      "ivf" -> annIvf(spark, dir),
      "lsh" -> annLsh(spark, dir),
      "pq_adc" -> annPqAdc(spark, dir))
      .map { case (n, df) =>
        n -> Caches.keep(df.select("probe_id", "neighbor_id"))
      }
    val cells = for {
      i <- lists.indices; j <- lists.indices if i < j
    } yield {
      val (na, a) = lists(i)
      val (nb, b) = lists(j)
      val probes = a.select("probe_id").unionByName(b.select("probe_id"))
        .distinct()
      val common = a.join(b, Seq("probe_id", "neighbor_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("c"))
      probes.join(common, Seq("probe_id"), "left")
        .select(coalesce(col("c"), lit(0L)).as("c"))
        .agg(count(lit(1)).as("n_probes"), sum("c").as("sum_overlap"),
          min("c").as("min_overlap"), max("c").as("max_overlap"))
        .select(lit(na).as("index_a"), lit(nb).as("index_b"),
          col("n_probes"), col("sum_overlap"),
          (col("sum_overlap").cast("double")
            / (col("n_probes") * lit(10L)).cast("double"))
            .as("mean_overlap_at_10"),
          col("min_overlap"), col("max_overlap"))
    }
    cells.reduce(_ unionByName _).orderBy("index_a", "index_b")
  }

  // lazy: interpolates the three list SQL vals (the object-init rule)
  lazy val annOverlapSql: String = {
    def pairSql(na: String, nb: String): String = s"""
      SELECT '$na' AS index_a, '$nb' AS index_b,
        COUNT(*) AS n_probes,
        CAST(SUM(c) AS BIGINT) AS sum_overlap,
        CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) * 10 AS DOUBLE)
          AS mean_overlap_at_10,
        CAST(MIN(c) AS BIGINT) AS min_overlap,
        CAST(MAX(c) AS BIGINT) AS max_overlap
      FROM (
        SELECT COALESCE(cc.c, 0) AS c
        FROM (SELECT DISTINCT probe_id FROM (
                SELECT probe_id FROM $na
                UNION ALL SELECT probe_id FROM $nb)) p
        LEFT JOIN (
          SELECT x.probe_id, COUNT(*) AS c
          FROM $na x JOIN $nb y
            ON x.probe_id = y.probe_id AND x.neighbor_id = y.neighbor_id
          GROUP BY 1) cc USING (probe_id))"""
    s"""
    WITH ivf AS (SELECT probe_id, neighbor_id FROM ($annIvfSql)),
    lsh AS (SELECT probe_id, neighbor_id FROM ($annLshSql)),
    pq_adc AS (SELECT probe_id, neighbor_id FROM ($annPqAdcSql))
    SELECT * FROM (
      ${pairSql("ivf", "lsh")}
      UNION ALL ${pairSql("ivf", "pq_adc")}
      UNION ALL ${pairSql("lsh", "pq_adc")})
    ORDER BY index_a, index_b"""
  }

}
