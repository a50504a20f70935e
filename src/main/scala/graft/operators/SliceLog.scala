package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A LOG-STRUCTURED store: families of day slices under one root, each
  * family hive-partitioned by `partCol` and carrying its
  * `_graft_manifest.json` (n_rows, checksum, params). The stream-gate
  * index ([[StreamArtifacts]]), the ANN per-vector relations
  * ([[AnnArtifacts]]) and the sketch day families ([[SketchArtifacts]])
  * are slice logs; each store declares its families and delegates the
  * whole lifecycle here. The reference's analog is its keyed staging
  * table, written once and then maintained incrementally
  * (etl_service.py:252-325).
  *
  * A [[SliceLog.Family]] declares a directory name, the params its
  * manifest records (the build geometry), `canon` and an optional slice
  * key. `canon` is the view the manifest digests, taken over the rows as
  * read, partition column included, so each family decides whether the
  * column is dropped:
  *  - a family whose slices merge on read (per-slice distincts, partial
  *    counters, disjoint vector sets) drops it and merges, so an
  *    append-built family is MANIFEST-EQUAL to a single-pass rebuild, and
  *    compaction keeps the digest;
  *  - a family whose day label is data (a sketch day) keeps it: dropped,
  *    two days with equal registers would cancel in the XOR digest. Such
  *    a family never compacts.
  *
  * The lifecycle:
  *  - [[write]] builds every family and stamps it;
  *  - [[append]] lands one day's slice per family
  *    ([[Etl.replaceSlice]]: a replayed or restated day replaces its own
  *    slice, run-twice ≡ run-once), then re-stamps unless the caller
  *    defers it to one [[restamp]] per batch — until then verified reads
  *    fail fast (data ahead of manifest, never a silent misread);
  *  - [[compact]] / [[compactIfNeeded]] merge old slices
  *    ([[DedupArtifacts.compactSlices]]), [[recover]] repairs a crashed
  *    publish, and [[read]] is the manifest-verified read, which digests
  *    each snapshot once per JVM.
  * Append and re-stamp first run the params HANDSHAKE over every family
  * ([[DedupArtifacts.requireParams]]), so nothing is written to a store
  * with a half-built family or one built at other params. The families
  * share no directory, so every step runs them concurrently
  * ([[DedupArtifacts.concurrently]]); the steps themselves must be
  * serialized by the caller (the compactSlices concurrency contract —
  * [[Nightly.runDay]] is the sequenced cadence). */
final case class SliceLog(root: String, partCol: String,
    families: Seq[SliceLog.Family]) {

  private def path(f: SliceLog.Family) = s"$root/${f.name}"

  private def each[A](step: SliceLog.Family => A): Seq[A] =
    DedupArtifacts.concurrently(families.map(f => () => step(f)))

  private def stamp(spark: SparkSession, f: SliceLog.Family): Unit =
    DedupArtifacts.refreshManifest(spark, path(f), f.params, f.canon)

  /** Build every family from `rows(name)` (which carries `partCol`), then
    * stamp it from the files. Each family keeps its own order (write, then
    * the digest, then the manifest). Reclaiming the caches the producing
    * plans registered is the caller's. */
  def write(spark: SparkSession, rows: String => DataFrame): Unit =
    each { f =>
      DedupArtifacts.writeSlices(rows(f.name), path(f), partCol, f.sliceKey)
      stamp(spark, f)
    }: Unit

  /** The params handshake over every family; `op` names the operation
    * in the error. */
  private def requireParams(spark: SparkSession, op: String): Unit =
    families.foreach(f =>
      DedupArtifacts.requireParams(spark, path(f), f.params, op): Unit)

  /** Land day `day`'s slice `slice(name)` in every family — an O(day)
    * pass plus one slice swap each; the standing slices are never
    * re-read. `restamp = false` defers the re-stamp to [[restamp]]. */
  def append(spark: SparkSession, day: Long, slice: String => DataFrame,
      restamp: Boolean): Unit = {
    requireParams(spark, "append")
    each(f => Etl.replaceSlice(spark, path(f), partCol, day.toString,
      slice(f.name))): Unit
    if (restamp) each(stamp(spark, _)): Unit
  }

  /** Re-stamp every family from its files — one narrow O(family) digest
    * pass each — after the handshake. */
  def restamp(spark: SparkSession): Unit = {
    requireParams(spark, "re-stamp")
    each(stamp(spark, _)): Unit
  }

  /** Merge every slice with label ≤ `upTo` into one slice labeled `upTo`,
    * in every family ([[DedupArtifacts.compactSlices]]: the manifest
    * travels with the publish, and a crashed run is repaired by running
    * it again). The session cache is cleared once, if anything merged. */
  def compact(spark: SparkSession, upTo: Long): Unit =
    if (each(f => DedupArtifacts.compactSlices(spark, path(f), partCol, upTo,
        f.canon, f.sliceKey)).contains(true))
      spark.catalog.clearCache()

  /** The CADENCE POLICY (round 14): compact when a family's log has grown
    * past `maxSlices` slices. The decision is an FS directory listing per
    * family ([[DedupArtifacts.sliceDays]]) — no Spark job on the nights it
    * answers "no". Under a steady daily feed this bounds the slice count
    * at `maxSlices + 1` forever (the ScaleProbe `stream_index_cadence`
    * pin).
    *
    * `protectFrom` is the REPLAY HORIZON — the oldest day the caller's
    * crash-replay could re-append; only slices STRICTLY BELOW it merge. A
    * replayed append REPLACES its slice, so if compaction had merged the
    * whole log into slice `d`, a replay of `d` would overwrite the merged
    * history with one day's rows. Batch maintainers pass their current
    * day ([[Nightly.runDay]]); streaming maintainers their micro-batch's
    * min day ([[graft.streaming.AnnStoreStream]]). Returns whether a
    * compaction ran. */
  def compactIfNeeded(spark: SparkSession, maxSlices: Int,
      protectFrom: Long): Boolean = {
    val days = families.map(f =>
      DedupArtifacts.sliceDays(spark, path(f), partCol))
    val mergeable = days.flatten.distinct.filter(_ < protectFrom)
    if (days.map(_.length).max <= maxSlices || mergeable.size <= 1) false
    else { compact(spark, mergeable.max); true }
  }

  /** CRASH-RECOVERY PROLOGUE (rounds 14-15): rename back every family
    * stranded mid-publish (target gone, data under `_<family>.old`).
    * A MISSING manifest FAILS: the manifest travels with compaction's
    * publish, so its absence means a HALF-BUILT family — possibly built
    * under other params than the caller asserts — and re-stamping it
    * would bless unverified rows; the repair is a rebuild. FS operations
    * only, no Spark job. Returns whether anything was restored. */
  def recover(spark: SparkSession): Boolean =
    families.map { f =>
      val dir = new org.apache.hadoop.fs.Path(path(f))
      val restored = graft.sources.Export.restoreStranded(
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
      if (DedupArtifacts.manifestMissing(spark, path(f)))
        DedupArtifacts.noManifest(path(f))
      restored
    }.exists(identity)

  /** Family `name`'s raw rows (partition column included), after the
    * handshake and a digest of its canonical view against the manifest
    * ([[DedupArtifacts.readVerifiedCanonical]]). The digest runs once per
    * snapshot: a re-read of a family whose manifest and data files
    * (path, length, modification time) are unchanged since a verified
    * read in this JVM skips it, while an [[append]], restatement,
    * [[compact]] or [[restamp]] changes the snapshot, so the next read
    * verifies again. A read that failed verification records nothing.
    * An out-of-band rewrite that keeps a file's length and modification
    * time after a verified read is not re-checked. */
  def read(spark: SparkSession, name: String): DataFrame = {
    val f = families.find(_.name == name)
      .getOrElse(sys.error(s"$root has no slice-log family $name"))
    DedupArtifacts.readVerifiedCanonical(spark, path(f), f.params, f.canon)
  }
}

object SliceLog {

  /** One declared family: its directory under the root, the params its
    * manifest records, the canonical view its digest covers (over the
    * rows as read, partition column included) and the column rows
    * co-partition on inside a slice. */
  final case class Family(name: String, params: Map[String, String],
      canon: DataFrame => DataFrame, sliceKey: Option[String])

  /** [[SliceLog.compactIfNeeded]]'s default slice-count threshold for the
    * stream and ANN stores. It sits under the `slice` sweep's measured
    * read-cost knee (SCALING_r13.md: 33 slices read 2.1× a single pass,
    * the ANN curve 1.7× at 17): 16 keeps the per-read merge below 2× while
    * letting ~2 weeks of nightly appends ride between compactions —
    * compaction is an O(index) rewrite, so firing it nightly would pay
    * more than the reads it saves. */
  val DefaultMaxSlices: Int = 16
}
