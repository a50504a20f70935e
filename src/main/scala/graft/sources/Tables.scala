package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters
import org.apache.spark.sql.types.StructType

/** Schema-stable loaders for the engine's table universe.
  *
  * Mirrors the reference's entity model (clients/products/documents/details,
  * /root/reference/app/db/bigquery_client.py:100-137) mapped onto the
  * driver's TPC-H-ish star schema plus the LLM-pipeline corpus tables.
  *
  * Scale note: these are plain parquet scans so Catalyst can push filters
  * and prune columns into the scan; callers should filter/select straight
  * off the returned DataFrame (never cache the raw scan) so PushedFilters /
  * ReadSchema stay minimal at 100 TB. Building a loader's frame schedules
  * no Spark job: [[readParquet]] reads the schema from one footer on the
  * driver, where `spark.read.parquet` would run a one-task inference job.
  */
object Tables {
  val fact: Seq[String] = Seq("orders", "lineitem", "events")
  val dims: Seq[String] = Seq("region", "nation", "customer", "supplier", "part")
  val corpus: Seq[String] = Seq("documents", "embeddings")
  val all: Seq[String] = dims ++ fact ++ corpus

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema read on the driver, so the
    * read schedules no schema-inference job (about 65 ms each, most of a
    * small call's cost). The schema comes from the file Spark's
    * `ParquetUtils.inferSchema` would pick off the same `InMemoryFileIndex`
    * listing — `_common_metadata`, else `_metadata`, else the first data
    * file by path; every data footer under `spark.sql.parquet.mergeSchema`
    * — converted by Spark's own reader ([[GraftFooters]]), with the
    * inferred partition columns appended. Missing paths (and so globs),
    * paths with no data file and data files that carry a partition column
    * fall back to `spark.read.parquet`, so those keep Spark's own
    * behaviour and errors. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, Seq(path), mergeAll = false).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The rows under a parquet path — what `readParquet(spark,
    * path).count()` returns — summed from its data files' footers on the
    * driver, so it schedules no Spark job. Files are listed as
    * [[readParquet]] lists them; a missing path fails. */
  private[graft] def footerRows(spark: SparkSession, path: String): Long = {
    val index = listing(spark, path)
      .getOrElse(sys.error(s"no parquet at $path"))
    GraftFooters.rows(spark, index.allFiles()
      .filterNot(f => SummaryFiles(f.getPath.getName)))
  }

  private val SummaryFiles = Set("_common_metadata", "_metadata")

  /** `df` (a bare read of one listed file relation) over exactly the
    * files its listing found, or `df` itself when it is anything else. A
    * cached plan is matched by the paths its scan names: a read of a directory
    * made after the directory changed still matches an entry cached
    * before the change, while a read of the listed files matches only an
    * entry over those same files. The new index answers from the listing
    * `df` already holds, so nothing is listed again and no listing job
    * runs, however many files there are. */
  private[graft] def pinned(spark: SparkSession, df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case LogicalRelation(r @ HadoopFsRelation(index: PartitioningAwareFileIndex,
          _, _, _, _, _), _, _, _, _) =>
        val files = index.allFiles()
        val byPath = files.map(f => f.getPath -> Array(f)).toMap
        val listed = new FileStatusCache {
          override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p)
          override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        }
        spark.baseRelationToDataFrame(r.copy(location = new InMemoryFileIndex(
          spark, files.map(_.getPath), Map.empty, None, listed,
          Some(index.partitionSpec()), None))(r.sparkSession))
      case _ => df
    }

  private def listing(spark: SparkSession, path: String): Option[InMemoryFileIndex] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Option.when(fs.exists(root))(
      new InMemoryFileIndex(spark, Seq(fs.makeQualified(root)), Map.empty, None))
  }

  /** The schema Spark would infer for a read of `paths`, from footers read
    * on the driver: `mergeAll` (or `spark.sql.parquet.mergeSchema`) merges
    * every data footer, as the `mergeSchema` option does in a Spark job.
    * None when a path is missing or no path holds a data file. */
  private def footerSchema(spark: SparkSession, paths: Seq[String],
      mergeAll: Boolean): Option[StructType] = {
    val indexes = paths.map(listing(spark, _))
    Option.when(indexes.forall(_.isDefined))(indexes.flatten).flatMap { idx =>
      val files = idx.flatMap(_.allFiles()).sortBy(_.getPath.toString)
      def named(n: String) = files.filter(_.getPath.getName == n)
      val (common, meta) = (named("_common_metadata"), named("_metadata"))
      val data = files.diff(common ++ meta)
      val conf = spark.sessionState.conf
      val touch =
        if (mergeAll || conf.isParquetSchemaMergingEnabled)
          (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ meta ++ common
        else common.headOption.orElse(meta.headOption).orElse(data.headOption).toSeq
      val parts = idx.flatMap(_.partitionSchema.fields).distinctBy(_.name)
      if (data.isEmpty) None
      else GraftFooters.schema(spark, touch)
        .filterNot(_.fieldNames.exists(f => parts.exists(_.name.equalsIgnoreCase(f))))
        .map(s => StructType(s.fields ++ parts))
    }
  }

  def region(s: SparkSession, d: String)    = load(s, d, "region")
  def nation(s: SparkSession, d: String)    = load(s, d, "nation")
  def customer(s: SparkSession, d: String)  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = load(s, d, "supplier")
  def part(s: SparkSession, d: String)      = load(s, d, "part")
  def orders(s: SparkSession, d: String)    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = load(s, d, "lineitem")
  /** The NTZ→epoch-nanos conversion as a ZONE-INDEPENDENT expression:
    * date + time-of-day parts composed into epoch µs, so the result never
    * depends on `spark.sql.session.timeZone` (a cast through TIMESTAMP
    * would interpret the wall clock in the session zone). Exact: every
    * term is integer µs; `extract(SECOND)` carries the fractional part as
    * an exact decimal. */
  private def ntzEpochNanos(c: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"""(unix_date(CAST($c AS DATE)) * 86400000000L
          + 3600000000L * hour($c) + 60000000L * minute($c)
          + CAST(extract(SECOND FROM $c) * 1000000 AS BIGINT)) * 1000L""")

  /** events.ts normalized to the engine contract: EPOCH NANOS AS BIGINT.
    * Integer event-time math is exact, order-independent, and cheaper than
    * timestamp codecs in a 100 TB event scan. The driver has shipped the
    * column under two encodings — parquet TIMESTAMP(NANOS) (readable only
    * as a raw long via the session-pinned legacy conf, see
    * [[graft.GraftSession]]) and plain µs timestamp (Spark TIMESTAMP_NTZ)
    * — so the loader dispatches on the file schema and converts; every
    * operator downstream sees the same nanos long either way. The NTZ wall
    * clock is UTC BY THE ENGINE CONTRACT and the conversion is
    * zone-independent ([[ntzEpochNanos]]), so loading a table never
    * mutates session state (round-6 advice: the old per-load conf sets
    * silently changed timestamp semantics for the whole session). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts", ntzEpochNanos("ts"))
    }
  }

  /** Events with a pushdown-safe event-time lower bound: the µs-timestamp
    * encoding makes `ts` a DERIVED column after [[events]]'s normalization,
    * so a caller-side `filter(ts >= nanos)` can no longer reach the scan.
    * This applies the bound to the RAW scan column (a timestamp-vs-literal
    * predicate parquet can evaluate against row-group stats → PushedFilters
    * prunes whole row groups / partitions at 100 TB) and THEN normalizes.
    * The NTZ bound is built as a LocalDateTime (an NTZ literal), so the
    * pushed comparison is zone-independent too. */
  def eventsSince(s: SparkSession, d: String, startNanos: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.filter(col("ts") >= lit(startNanos))
      case _ =>
        val bound = java.time.LocalDateTime.ofEpochSecond(
          startNanos / 1000000000L, (startNanos % 1000000000L).toInt,
          java.time.ZoneOffset.UTC)
        raw.filter(col("ts") >= lit(bound))
          .withColumn("ts", ntzEpochNanos("ts"))
    }
  }
  def documents(s: SparkSession, d: String) = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = load(s, d, "embeddings")

  /** ORC read — the scan-side twin of [[Export.orc]]. Plain `spark.read`
    * so Catalyst pushes filters and prunes columns into the ORC reader
    * exactly as it does for parquet (PushedFilters/ReadSchema verified in
    * the roundtrip spec). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-drift-tolerant parquet read: conform files written under
    * EVOLVING schemas (new columns added, old ones retired, files reordered)
    * to one canonical schema — the read side of the lake chore `compact` is
    * the write side of. Per canonical column: present in the file → cast to
    * the canonical type; absent → NULL of that type. Extra file columns are
    * dropped by the projection.
    *
    * Scale: the file schema is every footer under `paths` merged on the
    * driver (what the `mergeSchema` option infers, without its Spark job;
    * still O(files) footer reads) — at true lake scale a catalog
    * (Delta/Iceberg) tracks the schema instead; the conform projection is
    * the part that stays. It is a narrow codegen'd Project that fuses
    * into the scan, and column pruning still reaches the reader because
    * the projection is per-column. Building the frame schedules no Spark
    * job; paths that [[readParquet]] would hand to Spark fall back to the
    * `mergeSchema` read. */
  def readParquetEvolved(s: SparkSession,
                         schema: org.apache.spark.sql.types.StructType,
                         paths: String*): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // one read over all paths; files missing a merged column yield NULLs
    val raw = footerSchema(s, paths, mergeAll = true)
      .fold(s.read.option("mergeSchema", "true").parquet(paths: _*))(
        s.read.schema(_).parquet(paths: _*))
    val have = raw.schema.fieldNames.toSet
    raw.select(schema.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Manifest-verified read of an [[Export.shardedCorpus]] export: before
    * handing the data out, re-derive every shard's (docs, tokens,
    * order-independent XOR content checksum) FROM THE FILES — the checksum
    * is content-keyed, so a truncated file, a lost task's missing part, or
    * a flipped byte all surface — and compare against the expected
    * manifest (C65's `q_corpus_shard` output, stored at export time).
    * Fails fast naming the bad shards; returns the frame only when every
    * shard reconciles. The verification is ONE narrow pass collapsing
    * map-side onto NumShards rows (the manifest plan itself), so checking
    * a 100 TB export costs a scan, never a shuffle — and skipping the
    * check is strictly worse: silent shard loss reads as a clean smaller
    * corpus. */
  def readShardedVerified(s: SparkSession, path: String,
      expected: org.apache.spark.sql.DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = readParquet(s, path)
    val got = df
      .select(col("shard_id").cast("long").as("shard_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        expr("graft_str_hash(concat('cksum|', lower(trim(text))))").as("ck"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        expr("bit_xor(ck)").as("content_checksum"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val want = expected
      .select(col("shard_id").cast("long"), col("n_docs"), col("n_tokens"),
        col("content_checksum"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val bad = (want.keySet ++ got.keySet).toSeq.sorted
      .filter(k => want.get(k) != got.get(k))
    if (bad.nonEmpty)
      sys.error(s"sharded read failed verification for shard(s) " +
        s"${bad.mkString(", ")}: expected " +
        bad.map(k => s"$k=${want.get(k)}").mkString("; ") + " got " +
        bad.map(k => s"$k=${got.get(k)}").mkString("; "))
    df
  }

  /** Headered CSV with an EXPLICIT schema — never schema inference, which
    * costs a full extra pass over the data at 100 TB and guesses types. */
  def readCsv(s: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).option("header", "true").csv(path)

  /** Line-delimited JSON with an explicit schema (same inference caveat). */
  def readJsonLines(s: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** Raw text-file corpus ingest — the shape a crawler dump lands in (one
    * document per `*.txt` file, the id in the file name): wholetext read →
    * `documents`-shaped rows (doc_id, text). Files whose names don't carry
    * an id are surfaced with doc_id NULL (quarantine them, don't guess).
    *
    * Scale: file listing is driver-side but parallelized by Spark's
    * InMemoryFileIndex; each file is one row, so the small-files problem is
    * the real enemy at 100 TB — size `spark.sql.files.openCostInBytes` for
    * packing many tiny files per task, and compact with [[Export.compact]]
    * into parquet after ONE pass (this reader is the ingest edge, never the
    * steady-state format). */
  def readTextCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.read.option("wholetext", "true").text(dir)
      .select(
        nullif(regexp_extract(input_file_name(), "doc_(\\d+)\\.txt$", 1),
          lit("")).cast("long").as("doc_id"),
        col("value").as("text"))
  }

  /** Raw binary corpus ingest (images/audio/video payloads) via the
    * `binaryFile` source, normalized to the multimodal plumbing's shape:
    * (doc_id from the file name, payload, byte_len, sha256). The codec
    * decode stays downstream (MultimodalOps' documented stub); this is the
    * storage edge. Same small-files guidance as [[readTextCorpus]];
    * `pathGlobFilter` keeps the listing from sweeping unrelated files. */
  def readBinaryCorpus(s: SparkSession, dir: String,
                       glob: String = "*.bin"): DataFrame = {
    import org.apache.spark.sql.functions._
    s.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(
        nullif(regexp_extract(col("path"), "doc_(\\d+)\\.[a-z0-9]+$", 1),
          lit("")).cast("long").as("doc_id"),
        col("content").as("payload"),
        col("length").as("byte_len"),
        sha2(col("content"), 256).as("sha256"))
  }

  /** CSV ingest with a MALFORMED-ROW QUARANTINE — the file-feed face of
    * the reference's skip-and-log validators (etl_service.py's per-row
    * quarantine, A14): PERMISSIVE parsing keeps the load alive through
    * bad rows (a FAILFAST load of a 100 TB drop dies on row one billion
    * and loses the night; DROPMALFORMED silently eats data — the one
    * thing an auditable pipeline must never do), every unparseable line
    * lands VERBATIM in the quarantine with its source file, and the good
    * rows come out schema-typed. Returns (good, quarantine).
    *
    * Scale: one distributed CSV scan, the corrupt-record column rides the
    * same pass — the parsed relation is cache()d because (a) Spark
    * disallows querying ONLY the corrupt column off a raw scan
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and (b) both returned branches
    * then share one parse instead of re-reading the feed; quarantine rows
    * carry
    * `input_file_name()` so a bad EXPORTER (one feed shard producing all
    * the garbage) is identifiable without re-reading anything. The
    * malformed column must NOT be in the user schema (Spark requires the
    * corrupt column typed string and nullable; enforced here). */
  def readCsvQuarantined(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StringType, StructField}
    require(!schema.fieldNames.contains("_malformed"),
      "the quarantine column name '_malformed' is reserved")
    val withCorrupt = org.apache.spark.sql.types.StructType(
      schema.fields :+ StructField("_malformed", StringType, nullable = true))
    val parsed = graft.operators.Caches.keep(s.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_malformed")
      .schema(withCorrupt)
      .csv(path)
      .withColumn("_src_file", input_file_name()))
    val good = parsed.filter(col("_malformed").isNull)
      .select(schema.fieldNames.map(col).toSeq: _*)
    val bad = parsed.filter(col("_malformed").isNotNull)
      .select(col("_malformed").as("raw_line"), col("_src_file").as("src_file"))
    (good, bad)
  }
}
