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
    Audit.JobCount.ensure(spark)
    Audit.JobCount.reset()
    Tables.orders(spark, sf)
    Tables.events(spark, sf)
    assert(Audit.JobCount.value() == 0)
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
