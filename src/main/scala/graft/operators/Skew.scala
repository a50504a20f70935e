package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4). AQE's skew-join split handles
  * most cases at runtime; explicit salting remains necessary when one side
  * must be aggregated on a hot key (AQE cannot split a hash-aggregate
  * partition) or when a medium-sized build side defeats both broadcast and
  * AQE's sort-merge splitting. These helpers keep the pattern in one audited
  * place instead of re-derived per query.
  */
object Skew {

  /** Salted equi-join: the large (skewed) side gets a uniform random-free
    * deterministic salt derived from a high-entropy column, the small side is
    * replicated `factor` times, and the join keys on (key, salt). Each hot
    * key's rows spread over `factor` partitions at the cost of replicating
    * the small side — use when the small side is too big to broadcast but
    * far smaller than the hot key's row count.
    *
    * `entropy` must be a column of the large side that varies within a key
    * (a row id, line number, hash of the payload); using a deterministic
    * salt keeps reruns and AQE re-optimizations stable.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 entropy: Column, factor: Int): DataFrame = {
    require(factor > 0, s"salt factor must be positive, got $factor")
    val salted = large.withColumn("_salt", pmod(hash(entropy), lit(factor)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-phase aggregation for hot grouping keys: partial-aggregate on
    * (key, salt) first, then merge the partials per key. `merge` maps each
    * phase-1 output column to the expression that combines partials (sum of
    * sums, sum of counts, max of maxes, ...). Catalyst's own partial/final
    * split already does this per-partition; the explicit salt phase matters
    * when a single key exceeds one task's memory — the classic 100 TB hot
    * key (empty string, null-ish sentinel, bot user id).
    */
  def saltedAgg(df: DataFrame, key: String, entropy: Column, factor: Int,
                partials: Seq[Column], merge: Seq[Column]): DataFrame = {
    require(factor > 0, s"salt factor must be positive, got $factor")
    df.withColumn("_salt", pmod(hash(entropy), lit(factor)))
      .groupBy(col(key), col("_salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col(key))
      .agg(merge.head, merge.tail: _*)
  }

  /** Salt fan-out for the registered C113 run — at 100 TB the deployment
    * rule is factor ∝ hot-key depth / per-task budget (the `skew` sweep
    * of [[graft.ScaleProbe]] measures exactly that curve); the RESULT is
    * factor-invariant, which is what the shared oracle row proves. */
  val SaltedAggFactor: Int = 8

  /** Per-key exact top-k carried through the salted two-phase. */
  val SaltedTopK: Int = 3

  /** C113: `q_skew_salted_agg` — the mitigation C102's audit prescribes for
    * hundreds-× aggregate keys, RUN AS A QUERY on the hottest audited
    * family (events.user_id): per user the event count, exact cents total,
    * and the exact top-[[SaltedTopK]] event values, all computed through
    * [[saltedAgg]]'s two-phase (key, salt) → key plan. The algebraic
    * columns (count/sum) re-partial trivially; the HOLISTIC top-k is the
    * one that needs the salt at scale — collect-list state is O(rows per
    * key) and Catalyst's map-side partials bound it per TASK but the
    * reduce step for one hot key is a single task, which a bot user
    * (C102's named 100 TB sentinel) grows without bound. Phase 1 caps
    * every task's state at hot/factor rows and emits k-bounded partials;
    * phase 2 merges ≤ factor·k candidates per key — exact because the
    * global top-k is contained in the union of per-salt top-ks.
    *
    * The oracle row is the UNSALTED plain GROUP BY: the salted plan must
    * be bit-identical at any factor (ParamCheck re-runs it at factor 3
    * against the SAME SQL; SkewSpec pins factor-invariance on real data;
    * the `skew` sweep of [[graft.ScaleProbe]] measures the straggler curve
    * the salt exists to flatten).
    *
    * Exactness: integer cents throughout; top-k are picked values, not
    * arithmetic; ties among equal cents collapse (values equal). */
  def skewSaltedAgg(spark: org.apache.spark.sql.SparkSession, dir: String,
      factor: Int = SaltedAggFactor): DataFrame = {
    import graft.sources.Tables
    val ev = Tables.events(spark, dir).select(col("user_id"),
      col("event_id"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    saltedAgg(ev, "user_id", col("event_id"), factor,
      partials = Seq(count(lit(1)).as("n_p"), sum("cents").as("s_p"),
        expr(s"slice(sort_array(collect_list(cents), false), 1, $SaltedTopK)")
          .as("t_p")),
      merge = Seq(sum("n_p").as("n_events"),
        sum("s_p").as("value_cents_total"),
        expr(s"slice(sort_array(flatten(collect_list(t_p)), false), 1, $SaltedTopK)")
          .as("t")))
      .select(col("user_id"), col("n_events"), col("value_cents_total"),
        expr("try_element_at(t, 1)").as("top1_cents"),
        expr("try_element_at(t, 2)").as("top2_cents"),
        expr("try_element_at(t, 3)").as("top3_cents"))
      .orderBy("user_id")
  }

  val skewSaltedAggSql: String = s"""
    SELECT user_id, count(*) AS n_events,
      CAST(SUM(cents) AS BIGINT) AS value_cents_total,
      (list(cents ORDER BY cents DESC))[1] AS top1_cents,
      (list(cents ORDER BY cents DESC))[2] AS top2_cents,
      (list(cents ORDER BY cents DESC))[3] AS top3_cents
    FROM (SELECT user_id,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents FROM events)
    GROUP BY user_id ORDER BY user_id"""

  /** Hot keys reported per family by C102's audit. */
  val SkewTopK: Int = 3

  /** The shuffle-key families C102 audits: every key this engine's heavy
    * joins/aggregations actually hash-partition on, plus one deliberately
    * low-cardinality column (event_type) as the it-should-fire control. */
  val AuditFamilies: Seq[(String, String, String)] = Seq(
    ("events.user_id", "events", "CAST(user_id AS STRING)"),
    ("events.event_type", "events", "event_type"),
    ("lineitem.l_orderkey", "lineitem", "CAST(l_orderkey AS STRING)"),
    ("orders.o_custkey", "orders", "CAST(o_custkey AS STRING)"),
    ("documents.content_hash", "documents", "md5(lower(trim(text)))"))

  /** C102: `q_skew_audit` — the HOT-KEY AUDIT over the shuffle keys the
    * engine's own plans hash-partition on: per key family, the
    * [[SkewTopK]] hottest keys with their exact row count, the key's
    * share of family rows, and `skew_x` — how many times hotter than the
    * mean key it runs (count · n_keys / n_rows). This is the table an
    * operator reads BEFORE picking mitigation: skew_x near 1 needs
    * nothing, tens → AQE's skew split absorbs it, hundreds-plus on an
    * aggregate key → [[saltedAgg]] (AQE cannot split a hash-aggregate
    * partition); it also names the key, which is how the classic 100 TB
    * sentinels (empty string, bot user, null-ish id) get found and
    * filtered at the source. The `event_type` family is the deliberate
    * low-cardinality control — its skew_x ≈ 1 · n_rows/n_keys shows the
    * report firing, while genuinely uniform keys (order keys) read ≈ 1.
    *
    * Plan, per family: ONE narrow single-column scan partial-aggregates
    * map-side onto the key-count relation (cached — the totals rollup
    * and the top-k both read it), the top-k is TakeOrderedAndProject
    * (map-side per-partition top-[[SkewTopK]], never a global sort), the
    * rank window runs over ≤ [[SkewTopK]] collected rows (bounded) and
    * the 1-row totals ride a broadcast. Exactness: integer counts,
    * deterministic (count desc, key asc) ties, two single divisions. */
  def skewAudit(spark: org.apache.spark.sql.SparkSession,
                dir: String): DataFrame = {
    import graft.sources.Tables
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("key"))
    def family(name: String, keys: DataFrame): DataFrame = {
      val kc = Caches.keep(keys.groupBy("key").agg(count(lit(1)).as("n")))
      val tot = kc.agg(sum("n").as("n_rows"), count(lit(1)).as("n_keys"))
      val top = kc.orderBy(col("n").desc, col("key")).limit(SkewTopK)
        .withColumn("rank", row_number().over(w).cast("long"))
      top.crossJoin(broadcast(tot)).select(
        lit(name).as("family"), col("rank"), col("key"),
        col("n").as("key_count"), col("n_rows"), col("n_keys"),
        (col("n").cast("double") / col("n_rows").cast("double"))
          .as("key_share"),
        ((col("n") * col("n_keys")).cast("double")
          / col("n_rows").cast("double")).as("skew_x"))
    }
    val loaders = Map[String, String => DataFrame](
      "events" -> (d => Tables.events(spark, d)),
      "lineitem" -> (d => Tables.lineitem(spark, d)),
      "orders" -> (d => Tables.orders(spark, d)),
      "documents" -> (d => Tables.documents(spark, d)))
    AuditFamilies.map { case (name, table, keyExpr) =>
      family(name, loaders(table)(dir).select(expr(keyExpr).as("key")))
    }.reduce(_ unionByName _).orderBy("family", "rank")
  }

  lazy val skewAuditSql: String = {
    val parts = AuditFamilies.zipWithIndex.map { case ((name, table, keyExpr), i) =>
      s"""
    k$i AS (SELECT $keyExpr AS key, count(*) AS n FROM $table GROUP BY 1),
    s$i AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows, count(*) AS n_keys
            FROM k$i),
    t$i AS (SELECT '$name' AS family,
        CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rank,
        key, n AS key_count
      FROM k$i QUALIFY rank <= $SkewTopK),
    r$i AS (SELECT family, rank, key, key_count, s.n_rows, s.n_keys,
        CAST(key_count AS DOUBLE) / CAST(s.n_rows AS DOUBLE) AS key_share,
        CAST(key_count * s.n_keys AS DOUBLE) / CAST(s.n_rows AS DOUBLE)
          AS skew_x
      FROM t$i, s$i s)"""
    }
    val unions = AuditFamilies.indices.map(i => s"SELECT * FROM r$i")
      .mkString(" UNION ALL ")
    s"""
    WITH ${parts.mkString(",")}
    SELECT * FROM ($unions) ORDER BY family, rank"""
  }
}
