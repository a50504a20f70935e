package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Kernels
import graft.operators.{EmbeddingOps, Pipeline}

/** µs per call of the hot public kernels, called directly on values taken
  * from the workload's own inputs and outputs (the traced run only). The
  * values are read through Spark so each kernel sees exactly the
  * representation it gets inside a query. Edit distance is also checked
  * against a plain dynamic program on a sample of the timed pairs. */
object KernelTimings {
  private val MinNanos = 200L * 1000 * 1000
  /** Results are folded into this so the JIT cannot drop the timed calls. */
  @volatile var sink = 0

  /** Whole passes over `xs` (after one warm-up pass) until 200 ms elapse. */
  def usPerCall[A](xs: IndexedSeq[A])(f: A => Any): Double = {
    var acc = 0
    xs.foreach(x => acc ^= f(x).##)
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinNanos) {
      xs.foreach(x => acc ^= f(x).##)
      n += xs.size
    }
    sink = acc
    (System.nanoTime() - t0) / 1e3 / n
  }

  private def values(df: DataFrame): IndexedSeq[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect().toIndexedSeq

  def run(spark: SparkSession, base: String): (Map[String, Double], Seq[String]) = {
    val docs = graft.sources.Tables.documents(spark, base)
      .selectExpr("lower(trim(text)) AS norm")
      .selectExpr("norm", "split(norm, '\\\\s+') AS toks")
    val text = values(docs)
    val norms = text.map(_.getUTF8String(0))
    val toks = text.map(_.getArray(1))
    // candidate pairs exactly as the near-duplicate search emits them
    val withIds = graft.sources.Tables.documents(spark, base)
      .selectExpr("doc_id", "lower(trim(text)) AS norm")
    val lev = values(graft.Corpus.nearDuplicates(spark, base).limit(2000)
      .join(withIds.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("norm", "t_a"), "doc_a")
      .join(withIds.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("norm", "t_b"), "doc_b")
      .select("t_a", "t_b"))
      .map(r => (r.getUTF8String(0), r.getUTF8String(1)))
    val vecs = values(EmbeddingOps.vectors(spark, base).selectExpr("embedding"))
      .map(_.getArray(0))
    val cb = values(graft.sources.Tables.embeddings(spark, base)
      .filter("vec_id % 100 = 50")
      .selectExpr("sort_array(collect_list(struct(vec_id, CAST(embedding AS array<double>) AS c_emb))) AS cb"))
      .head.getArray(0)
    val keys = values(graft.sources.Tables.events(spark, base)
      .selectExpr("CAST(CAST(floor(value) AS BIGINT) AS STRING) AS key"))
      .map(_.getUTF8String(0))
    val problems = lev.take(200).flatMap { case (a, b) =>
      val want = Checks.levCapped(a.toString, b.toString)
      val got = Kernels.levCapped(a, b)
      Option.when(got != want)(s"levCapped($a, $b) = $got, plain DP says $want")
    }
    val timings = Map(
      "Kernels.lev_capped_us" -> usPerCall(lev) { case (a, b) => Kernels.levCapped(a, b) },
      "Kernels.minhash_rows_us" -> usPerCall(norms)(Kernels.minhashRows),
      "Kernels.simhash32_us" -> usPerCall(toks)(Kernels.simHash32),
      "Kernels.word_grams_us" -> usPerCall(toks)(Kernels.wordGrams(_, Pipeline.MemGram)),
      "Kernels.km_argmin_us" -> usPerCall(vecs)(Kernels.kmArgmin(_, cb)),
      "Kernels.pq_codes_us" -> usPerCall(vecs)(Kernels.pqCodes(_, cb,
        EmbeddingOps.PqSub, EmbeddingOps.PqSubDim)),
      "Kernels.cms_cells_us" -> usPerCall(keys)(Kernels.cmsCells))
    (timings, problems)
  }
}
