package graft

import graft.sources.Export

/** §E export sinks: CSV report, JSON lines, partitioned parquet. */
class ExportSpec extends SparkSpec {

  test("csvReport writes a single headered csv readable back") {
    val sp = spark
    import sp.implicits._
    val df = Seq(("2024-01", 10.5), ("2024-02", 20.0)).toDF("mes", "total")
    val dir = tmpDir("csv") + "/report"
    Export.csvReport(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val back = sp.read.option("header", "true").csv(dir)
    assert(back.orderBy("mes").collect().map(r => (r.getString(0), r.getString(1).toDouble)).toSeq
      == Seq(("2024-01", 10.5), ("2024-02", 20.0)))
  }

  test("partitionedParquet prunes by partition column") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 3.0)).toDF("id", "seg", "v")
    val dir = tmpDir("pp") + "/t"
    Export.partitionedParquet(df, dir, Seq("seg"))
    assert(new java.io.File(dir, "seg=A").exists())
    val onlyA = sp.read.parquet(dir).filter(org.apache.spark.sql.functions.col("seg") === "A")
    assert(onlyA.count() == 2)
    // partition filter must show up as a partition-pruning scan (no seg=B read)
    val plan = onlyA.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || onlyA.inputFiles.forall(_.contains("seg=A")))
  }

  test("replaceSlice swaps exactly one partition, idempotently") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("repl") + "/t"
    val base = Seq((1L, "d1", 10.0), (2L, "d1", 20.0),
      (3L, "d2", 30.0), (4L, "d3", 40.0)).toDF("id", "fecha", "v")
    Export.partitionedParquet(base, dir, Seq("fecha"))
    val before = new java.io.File(dir, "fecha=d1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq
    // the slice carries the partition column AND a mislabeled row — the
    // operator must filter to the target value, so the stray row cannot leak
    val slice = Seq((30L, "d2", 99.0), (31L, "d2", 77.0),
      (99L, "d1", 1.0)).toDF("id", "fecha", "v")
    graft.operators.Etl.replaceSlice(sp, dir, "fecha", "d2", slice)
    def readAll = sp.read.parquet(dir)
      .select(col("id"), col("fecha").cast("string"), col("v"))
      .orderBy("id").collect().toSeq
    val once = readAll
    assert(once.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) ==
      Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (4L, "d3", 40.0),
        (30L, "d2", 99.0), (31L, "d2", 77.0)))
    // idempotence: re-running the same load changes nothing (run 2 ≡ run 1)
    graft.operators.Etl.replaceSlice(sp, dir, "fecha", "d2", slice)
    assert(readAll == once)
    // untouched partitions were not rewritten (same files, same mtimes)
    val after = new java.io.File(dir, "fecha=d1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq
    assert(after == before)
    // no staging/old leftovers — and the names Spark's FileIndex would
    // ignore anyway (`_`-prefixed, never `fecha=d2.staging` which hive
    // partition discovery would read as a data partition)
    assert(!new java.io.File(dir, "_fecha=d2.staging").exists())
    assert(!new java.io.File(dir, "_fecha=d2.old").exists())
    assert(!new java.io.File(dir, "fecha=d2.staging").exists())
    assert(!new java.io.File(dir, "fecha=d2.old").exists())
    // a reader discovering the root mid-crash must never see a phantom
    // partition: every child dir is a clean key=value name
    assert(new java.io.File(dir).listFiles().filter(_.isDirectory)
      .forall(_.getName.matches("fecha=d[123]")))
  }

  test("evolved read conforms drifted files to the canonical schema") {
    import org.apache.spark.sql.types._
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("evo")
    // v1 files: (id, name); v2 files: (id, name2 renamed-away, score added)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(dir + "/v1")
    Seq((3L, 9.5, "x"), (4L, 8.0, "y")).toDF("id", "score", "extra")
      .write.parquet(dir + "/v2")
    val canonical = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val out = graft.sources.Tables.readParquetEvolved(sp, canonical,
      dir + "/v1", dir + "/v2")
    // exact canonical shape: names, order, types
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      canonical.fields.map(f => (f.name, f.dataType)).toSeq)
    val rows = out.orderBy("id").collect()
    assert(rows.length == 4)
    // v1 rows: score NULL-filled; v2 rows: name NULL-filled, extra dropped
    assert(rows(0).getString(1) == "a" && rows(0).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).getDouble(2) == 9.5)
  }

  test("bucketedTable joins without a shuffle on the bucket key") {
    val sp = spark
    val o = graft.sources.Tables.orders(sp, sf)
      .select("o_orderkey", "o_totalprice")
    val l = graft.sources.Tables.lineitem(sp, sf)
      .select("l_orderkey", "l_extendedprice")
    Export.bucketedTable(o, "b_orders", "o_orderkey", 4)
    Export.bucketedTable(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 4)
    // force the join down the sort-merge path: with auto-broadcast on, the
    // tiny test tables plan as BHJ and bucketing is never exercised
    val prevThreshold = sp.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = sp.table("b_orders").join(sp.table("b_lineitem"), "o_orderkey")
      // ShuffleExchangeExec renders as "Exchange hashpartitioning(...)";
      // both sides pre-bucketed on the key -> SMJ with no such node
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // sanity: the same join over the UNbucketed parquet DOES shuffle
      val unbucketed = o.join(l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey").queryExecution.executedPlan.toString
      assert(unbucketed.contains("Exchange hashpartitioning"))
      assert(joined.count() == l.count())
    } finally {
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      sp.sql("DROP TABLE IF EXISTS b_orders")
      sp.sql("DROP TABLE IF EXISTS b_lineitem"): Unit
    }
  }

  test("sharded export verifies against its manifest; corruption is caught") {
    val sp = spark
    val dir = tmpDir("shard") + "/corpus"
    val docs = graft.sources.Tables.documents(sp, sf)
    Export.shardedCorpus(sp, docs, dir)
    // the stored manifest is C65's query at export time
    val manifest = graft.operators.Pipeline.corpusShard(sp, sf).collect()
    val manifestDf = sp.createDataFrame(
      sp.sparkContext.parallelize(manifest.toSeq),
      graft.operators.Pipeline.corpusShard(sp, sf).schema)
    sp.catalog.clearCache() // C65's cache contract
    // clean read: verifies and returns every kept doc
    val back = graft.sources.Tables.readShardedVerified(sp, dir, manifestDf)
    val kept = docs.filter(
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.col("text"))) > 0).count()
    assert(back.count() == kept)
    // every shard directory really landed
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.length == graft.operators.Pipeline.NumShards)
    // corrupt ONE shard (drop its data files): the read must fail fast
    // and name that shard
    val victim = shardDirs.minBy(_.getName)
    val vid = victim.getName.stripPrefix("shard_id=").toLong
    victim.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete()))
    val err = intercept[RuntimeException] {
      graft.sources.Tables.readShardedVerified(sp, dir, manifestDf).count()
    }
    assert(err.getMessage.contains(s"$vid="), err.getMessage)
  }

  test("jsonLines roundtrip") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("json") + "/j"
    Export.jsonLines(Seq((1L, "x"), (2L, "y")).toDF("id", "name"), dir)
    assert(sp.read.json(dir).count() == 2)
  }

  test("schema'd csv/json readers roundtrip the export sinks") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.types._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val cdir = tmpDir("csvr") + "/c"
    Export.csvReport(df, cdir)
    val backC = graft.sources.Tables.readCsv(sp, cdir, schema)
    assert(backC.schema == schema)
    assert(backC.orderBy("id").as[(Long, String, Double)].collect().toSeq
      == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    val jdir = tmpDir("jsonr") + "/j"
    Export.jsonLines(df, jdir)
    val backJ = graft.sources.Tables.readJsonLines(sp, jdir, schema)
    assert(backJ.schema == schema)
    assert(backJ.orderBy("id").as[(Long, String, Double)].collect().toSeq
      == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("orc roundtrip preserves rows; filters push into the ORC scan") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("orc") + "/t"
    val df = sources.Tables.lineitem(sp, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Export.orc(df, dir)
    val back = sources.Tables.readOrc(sp, dir)
    assert(back.count() == df.count())
    assert(back.schema == df.schema)
    // exact row fidelity
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
    // scan-side pruning carries over: pushed filter + minimal ReadSchema
    val plan = back.filter(org.apache.spark.sql.functions.col("l_orderkey") === 1L)
      .select("l_partkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"), plan)
  }

  test("compact bin-packs small files, preserves rows, publishes atomically") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("compact") + "/t"
    // a streaming-sink-shaped mess: 16 tiny files
    sp.range(0, 1000).selectExpr("id", "id % 7 AS k")
      .repartition(16).write.parquet(dir)
    val before = sp.read.parquet(dir)
    val expect = before.as[(Long, Long)].collect().toSeq.sorted
    val (nBefore, nAfter) = Export.compact(sp, dir, targetFileBytes = 1L << 30)
    assert(nBefore == 16 && nAfter == 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(files.length == 1)
    // no stray staging dirs left behind (old or `_`-prefixed names)
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    val base = new org.apache.hadoop.fs.Path(dir).getName
    for (n <- Seq(dir + ".compact", dir + ".old",
        new org.apache.hadoop.fs.Path(parent, "_" + base + ".compact").toString,
        new org.apache.hadoop.fs.Path(parent, "_" + base + ".old").toString))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(n)), n)
    // identical content modulo order
    val after = sp.read.parquet(dir).as[(Long, Long)].collect().toSeq.sorted
    assert(after == expect)
    // a crash between an earlier publish's two renames left the table
    // staged out under _<name>.old: compact restores it, then compacts
    val stranded = new org.apache.hadoop.fs.Path(parent, "_" + base + ".old")
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir), stranded))
    assert(Export.compact(sp, dir, targetFileBytes = 1L << 30) == ((1, 1)))
    assert(!fs.exists(stranded))
    assert(sp.read.parquet(dir).as[(Long, Long)].collect().toSeq.sorted == expect)
  }

  test("raw text-corpus ingest: one doc per file, ids from names") {
    val sp = spark
    val dir = tmpDir("raw_text")
    val docs = Seq(3L -> "first document text", 17L -> "second one\nwith a newline")
    for ((id, text) <- docs)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"doc_$id.txt"), text)
    // an EMPTY file yields no row (the text source's contract — a crawler's
    // zero-byte fetch is absence, not an empty document)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "doc_42.txt"), "")
    // a file the naming contract doesn't cover → doc_id NULL, not a guess
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "README.txt"), "not a doc")
    val got = graft.sources.Tables.readTextCorpus(sp, dir)
    val byId = got.collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
      .toMap
    assert(byId.size == 3 && !byId.contains(Some(42L)))
    assert(byId(Some(3L)) == "first document text")
    assert(byId(Some(17L)) == "second one\nwith a newline")
    assert(byId(None) == "not a doc")
  }

  test("raw binary-corpus ingest: payload, length and sha round-trip") {
    val sp = spark
    val dir = tmpDir("raw_bin")
    val payload = Array.tabulate[Byte](257)(i => (i * 7 % 251).toByte)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "doc_9.bin"), payload)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "ignore.txt"), "filtered out by glob")
    val got = graft.sources.Tables.readBinaryCorpus(sp, dir).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 9L)
    assert(r.getAs[Array[Byte]](1).toSeq == payload.toSeq)
    assert(r.getLong(2) == 257L)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    assert(r.getString(3) == hex)
  }
  test("csv quarantine: bad rows land verbatim with their file, good rows typed") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("csvq")
    val f = new java.io.PrintWriter(s"$dir/feed_1.csv")
    f.println("id,name,amount")
    f.println("1,ana,10.5")
    f.println("2,luis,not_a_number")   // type failure -> quarantine
    f.println("3,eva,7.25")
    f.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("amount", DoubleType)))
    val (good, bad) = sources.Tables.readCsvQuarantined(spark, dir, schema)
    assert(good.columns.toSeq == Seq("id", "name", "amount"))
    val g = good.orderBy("id").collect()
    assert(g.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(g.map(_.getDouble(2)).toSeq == Seq(10.5, 7.25))
    val b = bad.collect()
    assert(b.length == 1)
    assert(b.head.getString(0) == "2,luis,not_a_number")
    assert(b.head.getString(1).contains("feed_1.csv"))
    // the reserved column name is enforced, not silently shadowed
    intercept[IllegalArgumentException] {
      sources.Tables.readCsvQuarantined(spark, dir, StructType(Seq(
        StructField("_malformed", StringType))))
    }
  }

}
