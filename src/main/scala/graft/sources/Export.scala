package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Export sinks (SURVEY.md §2 E) — the Spark-first analog of the reference's
  * Google-Sheets report export (/root/reference/app/db/sheets_sync.py) plus
  * the partitioned lake write its BigQuery tables imply.
  *
  * Scale notes: `csvReport` coalesces to ONE file because it models a small
  * aggregated report (the Sheets use case) — never call it on a fact table;
  * `partitionedParquet` is the fact-table path: partition pruning on the
  * given columns is what makes later incremental reads (A6) cheap.
  */
object Export {

  /** Small aggregated report → a single headered CSV (Sheets analog). */
  def csvReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** Line-delimited JSON export. */
  def jsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Fact-table write partitioned by low-cardinality columns, so downstream
    * date/type-bounded reads prune whole directories. */
  def partitionedParquet(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** ORC export — the interchange format for warehouse stacks standardized
    * on ORC (Hive/Trino lakes); columnar + predicate-pushdown-capable like
    * parquet, so the engine's scan-side pruning guarantees carry over.
    * Snappy to match the parquet sinks' codec choice. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "snappy").orc(path)

  /** Small-file compaction — the operational chore every incremental lake
    * accumulates (a streaming sink or hourly batch leaves thousands of
    * KB-sized files; scans then pay one task + one open per file). Sizes
    * the rewrite from the ACTUAL bytes on disk: output file count =
    * ceil(total / targetFileBytes), repartitioned round-robin so files come
    * out even, then published with [[publish]]'s write-new → rename swap
    * (Hadoop FileSystem API — local, HDFS, S3A alike). A target stranded
    * by an earlier crashed publish is restored first
    * ([[restoreStranded]]). Returns (files before, files after). At
    * 100 TB this runs per partition directory, not whole-table — pass the
    * partition path. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreStranded(fs, target): Unit
    val parts = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // `_`-prefixed so a compaction of a partition dir never leaves a
    // sibling the table root's FileIndex would discover as data
    val tmp = new Path(target.getParent, "_" + target.getName + ".compact")
    Tables.readParquet(spark, path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    publish(fs, tmp, target)
    (parts.length, nOut)
  }

  /** The write-new → rename swap that makes a directory replacement
    * atomic-ish on rename-capable filesystems (local, HDFS; S3A via its
    * committers): stage the old dir out, rename the new one in, drop the
    * old. Readers see the old contents or the new, never a mix. Shared by
    * [[compact]], [[graft.operators.Etl.replaceSlice]], slice-log
    * compaction and [[graft.streaming.UpsertSink]].
    *
    * The staged-out dir is `_`-PREFIXED (`_<name>.old`): when the target
    * is a hive partition dir (`key=value`) inside a table root, a
    * `key=value.old` sibling would be DISCOVERED as a data partition by
    * any concurrent or post-crash `spark.read` of the root — duplicating
    * the slice and flipping the inferred partition type to string.
    * Spark's FileIndex ignores `_`/`.`-prefixed paths, so a crash between
    * the two renames leaves the root readable (old slice absent, swap
    * retriable) instead of corrupted. Same reasoning as
    * [[graft.operators.Etl.replaceSlice]]'s `_`-prefixed staging dir. */
  private[graft] def publish(fs: FileSystem, tmp: Path, target: Path): Unit = {
    val old = stagedOut(target)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      sys.error(s"could not stage out $target")
    if (!fs.rename(tmp, target)) sys.error(s"could not publish $tmp")
    fs.delete(old, true): Unit
  }

  /** Restore a directory stranded mid-[[publish]] — target absent, data
    * parked under `_<name>.old` (the state a crash between publish's two
    * renames leaves). Returns whether a restore happened; errors if the
    * rename back fails. Every publisher runs it before reading its
    * target, so a retry starts from the old contents. */
  private[graft] def restoreStranded(fs: FileSystem,
      target: Path): Boolean = {
    val old = stagedOut(target)
    if (fs.exists(target) || !fs.exists(old)) false
    else if (!fs.rename(old, target))
      sys.error(s"could not restore stranded $old to $target")
    else true
  }

  private def stagedOut(target: Path) =
    new Path(target.getParent, "_" + target.getName + ".old")

  /** Sharded corpus export — the C65 plan EXECUTED: every kept doc routes
    * to its content-keyed shard (`graft_str_hash('shard|…') % NumShards`,
    * the exact corpusShard rule) and lands in a `shard_id=N` directory via
    * ONE full shuffle (`repartition(N, shard_id)` + `partitionBy` — the
    * shuffle the manifest query itself never pays). Re-crawled content
    * with fresh doc_ids lands in the SAME shard, which is what makes two
    * exports comparable by manifest alone. Pair with
    * [[Tables.readShardedVerified]] to read it back checksum-checked. */
  def shardedCorpus(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val routed = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("shard_id",
        expr("graft_str_hash(concat('shard|', lower(trim(text))))")
          % graft.operators.Pipeline.NumShards)
    routed.repartition(graft.operators.Pipeline.NumShards, col("shard_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard_id").parquet(path)
  }

  /** Bucketed catalog table — pre-shuffled on the join key at write time so
    * repeated key joins/aggregations between tables bucketed the same way
    * run WITHOUT a shuffle (Spark reads bucket files as pre-partitioned,
    * SortMergeJoin gets Exchange-free inputs). This is the 100 TB answer to
    * "the same fact-fact join runs every day": pay the shuffle once at load,
    * never at query time. Requires `saveAsTable` (bucket metadata lives in
    * the catalog). */
  def bucketedTable(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
