package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [[Tables.readParquet]] reads the schema from a footer on the driver
  * instead of running Spark's inference job; these specs pin that the
  * frame it builds is the frame `spark.read.parquet` builds. */
class TablesReadSpec extends SparkSpec {

  private def sameFrame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema\n${got.schema}\n${want.schema}")
    val g = got.collect().map(_.toSeq)
    val w = want.collect().map(_.toSeq)
    def key(r: Seq[Any]) = r.map(String.valueOf).mkString("\u0001")
    assert(g.map(key).sorted.sameElements(w.map(key).sorted), s"$what: rows differ")
  }

  test("every sf table reads with the schema and rows of spark.read.parquet") {
    // events is covered under the session's nanosAsLong setting: the
    // footer conversion reads the same conf Spark's inference does
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (t <- Tables.all) {
      val path = s"$sf/$t.parquet"
      sameFrame(Tables.readParquet(spark, path), spark.read.parquet(path), t)
    }
  }

  test("a partitionBy family with a manifest beside it: partition column appended") {
    val root = tmpDir("graft-tables-read-") + "/fam"
    spark.range(0, 60).select(col("id"), (col("id") % 3).as("day_epoch"),
        concat(lit("v"), col("id").cast("string")).as("s"))
      .write.partitionBy("day_epoch").parquet(root)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_graft_manifest.json"),
      """{"n_rows": 60}""")
    val got = Tables.readParquet(spark, root)
    sameFrame(got, spark.read.parquet(root), "family")
    assert(got.schema.last.name == "day_epoch" &&
      got.schema.last.dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("mergeSchema reads every data footer, like Spark's inference") {
    val root = tmpDir("graft-tables-merge-")
    spark.range(0, 5).select(col("id")).write.parquet(s"$root/m/part=1")
    spark.range(5, 9).select(col("id"), lit("x").as("extra"))
      .write.parquet(s"$root/m/part=2")
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try sameFrame(Tables.readParquet(spark, s"$root/m"),
      spark.read.parquet(s"$root/m"), "merged")
    finally spark.conf.unset(key)
    // without merging, the first data file by path decides the schema
    sameFrame(Tables.readParquet(spark, s"$root/m"),
      spark.read.parquet(s"$root/m"), "first file")
  }

  test("building a table loader's frame schedules zero Spark jobs") {
    assert(graft.obs.Meter.measure(spark) {
      Tables.orders(spark, sf)
      Tables.events(spark, sf)
    }.jobs == 0)
  }

  test("an evolved read builds its frame with zero Spark jobs, all footers merged") {
    import org.apache.spark.sql.types._
    val root = tmpDir("graft-tables-evolved-")
    // two drifted files in one path: the first by name lacks `score`
    spark.range(0, 3).select(col("id"), lit("a").as("name"))
      .coalesce(1).write.parquet(s"$root/v/a")
    spark.range(3, 5).select(col("id"), (col("id") * 1.5).as("score"))
      .coalesce(1).write.parquet(s"$root/v/b")
    val canonical = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    var out: DataFrame = null
    val jobs = graft.obs.Meter.measure(spark) {
      out = Tables.readParquetEvolved(spark, canonical, s"$root/v/a", s"$root/v/b")
    }.jobs
    assert(jobs == 0, s"building the evolved frame ran $jobs job(s)")
    sameFrame(out, spark.read.option("mergeSchema", "true")
      .parquet(s"$root/v/a", s"$root/v/b")
      .select(col("id"), col("name"), col("score")), "evolved")
  }

  test("a pinned read of a 40-file family lists nothing and runs no job") {
    val root = tmpDir("graft-tables-pinned-") + "/fam"
    spark.range(0, 400).repartition(40).write.parquet(root)
    val raw = Tables.readParquet(spark, root)
    val files = raw.inputFiles.toSeq
    assert(files.size == 40)
    // the naive pin, one path per file, lists its 40 paths in a job
    assert(graft.obs.Meter.measure(spark)(
      spark.read.schema(raw.schema).parquet(files: _*)).jobs > 0)
    var pinned: DataFrame = null
    assert(graft.obs.Meter.measure(spark) {
      pinned = Tables.pinned(spark, raw)
    }.jobs == 0)
    assert(pinned.inputFiles.toSeq.sorted == files.sorted)
    sameFrame(pinned, raw, "pinned")
    // a verified re-read of the family (the snapshot memo skips the
    // digest) is pinned the same way and runs no job either
    import graft.operators.DedupArtifacts
    DedupArtifacts.refreshManifest(spark, root, Map.empty, identity)
    DedupArtifacts.readVerified(spark, root): Unit
    var reread: DataFrame = null
    assert(graft.obs.Meter.measure(spark) {
      reread = DedupArtifacts.readVerified(spark, root)
    }.jobs == 0)
    assert(reread.inputFiles.toSeq.sorted == files.sorted)
  }

  test("an empty directory and a missing path raise spark.read.parquet's errors") {
    val empty = tmpDir("graft-tables-empty-")
    for (p <- Seq(empty, s"$empty/no_such.parquet")) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.readParquet(spark, p))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage,
        s"$p: ${got.getMessage} vs ${want.getMessage}")
    }
  }
}
