package graft

import org.apache.spark.sql.functions._

/** The native kernels must be bit-identical to the declarative
  * higher-order-function formulations they replace (which in turn mirror the
  * DuckDB oracle SQL). Each test evaluates both on real sf0.001 data and
  * requires zero differing rows. The kernels come from GraftExtensions
  * injection (no Kernels.register call here), which also covers the
  * spark.sql.extensions path. */
class KernelsSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sf)
  private def embs = graft.sources.Tables.embeddings(spark, sf)

  test("graft_minhash_sigs matches the HOF polynomial-hash formulation") {
    val d = docs.withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .withColumn("hs", expr(
        """transform(sequence(0, length(norm) - 5), i ->
             (cast(ascii(substring(norm, i + 1, 1)) as bigint) * 923521 +
              cast(ascii(substring(norm, i + 2, 1)) as bigint) * 29791 +
              cast(ascii(substring(norm, i + 3, 1)) as bigint) * 961 +
              cast(ascii(substring(norm, i + 4, 1)) as bigint) * 31 +
              cast(ascii(substring(norm, i + 5, 1)) as bigint))
             % 2147483647)"""))
      .withColumn("hof", expr(
        s"""transform(sequence(0, 3), b -> concat_ws(':',
             transform(sequence(0, 2), r ->
               cast(array_min(transform(hs, h ->
                 (${graft.functions.Kernels.rowASql("cast(b * 3 + r + 1 as bigint)")} * h
                  + ${graft.functions.Kernels.rowBSql("cast(b * 3 + r + 1 as bigint)")})
                 % 2147483647)) as string))))"""))
      .withColumn("ker", expr("graft_minhash_sigs(norm)"))
    assert(d.filter(col("hof") =!= col("ker")).count() == 0)
  }

  test("graft_simhash32 matches the HOF md5-nibble-vote formulation") {
    val d = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("hof", expr(
        """aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) ->
             acc + CASE WHEN aggregate(toks, 0, (s, t) ->
                 s + CASE WHEN substring(md5(cast(t as binary)), j + 1, 1)
                          IN ('8','9','a','b','c','d','e','f')
                     THEN 1 ELSE -1 END) > 0
               THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"""))
      .withColumn("ker", expr("graft_simhash32(toks)"))
    assert(d.filter(col("hof") =!= col("ker")).count() == 0)
  }

  test("graft_winnow_fp matches the HOF min-md5-shingle formulation") {
    val d = docs.withColumn("norm", lower(trim(col("text"))))
      .withColumn("hof", expr(
        """array_min(transform(sequence(0, greatest(length(norm) - 5, 0)),
             i -> md5(cast(substring(norm, i + 1, 5) as binary))))"""))
      .withColumn("ker", expr("graft_winnow_fp(norm)"))
    assert(d.filter(col("hof") =!= col("ker")).count() == 0)
  }

  test("graft_dot and graft_norm2 match sequential-fold HOF bit-exactly") {
    val v = embs.limit(50).select(col("vec_id"), col("embedding"))
    val pairs = v.as("a").crossJoin(v.as("b"))
      .withColumn("hof", expr(
        """aggregate(zip_with(a.embedding, b.embedding, (x, y) ->
             cast(x as double) * cast(y as double)),
             cast(0 as double), (s, v) -> s + v)"""))
      .withColumn("ker", expr("graft_dot(a.embedding, b.embedding)"))
    assert(pairs.filter(col("hof") =!= col("ker")).count() == 0)
    val norms = embs
      .withColumn("hof", expr(
        """aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)),
             cast(0 as double), (s, v) -> s + v)"""))
      .withColumn("ker", expr("graft_norm2(embedding)"))
    assert(norms.filter(col("hof") =!= col("ker")).count() == 0)
  }

  test("graft_lsh_buckets matches the HOF per-table sign-plane formulation") {
    import graft.functions.Kernels.{LshPlanes, LshTables}
    val b = embs
      .withColumn("hof", expr(
        s"""transform(sequence(0, ${LshTables - 1}, 1), t ->
              aggregate(sequence(0, ${LshPlanes - 1}, 1), 0, (acc, p) ->
                acc + CASE WHEN aggregate(sequence(0, 63), cast(0 as double), (s, j) ->
                    s + cast(element_at(embedding, j + 1) as double) *
                        cast(${graft.functions.Kernels.planeWSql(s"(t * $LshPlanes + p)", "j")} as double)) > cast(0 as double)
                  THEN shiftleft(1, p) ELSE 0 END))"""))
      .withColumn("ker", expr("graft_lsh_buckets(embedding)"))
    assert(b.filter(col("hof") =!= col("ker")).count() == 0)
  }

  test("optimizer rule rewrites self dot product to squared norm") {
    import graft.functions.KernelCall
    def exprsOf[T](df: org.apache.spark.sql.DataFrame)(
        pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, T]): Seq[T] =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions.flatMap(_.collect(pf)) }.flatten
    val df = embs.selectExpr("graft_dot(embedding, embedding) AS d",
      "graft_norm2(embedding) AS n")
    assert(exprsOf(df) { case e @ KernelCall("graft_dot", _) => e }.isEmpty,
      "self dot product survived optimization")
    assert(exprsOf(df) { case e @ KernelCall("graft_norm2", _) => e }.size == 2)
    // and a genuine two-vector dot is left alone
    val df2 = embs.as("a").crossJoin(embs.as("b")).limit(1)
      .selectExpr("graft_dot(a.embedding, b.embedding) AS d")
    assert(exprsOf(df2) { case e @ KernelCall("graft_dot", _) => e }.nonEmpty)
    assert(df.filter(col("d") =!= col("n")).count() == 0)
  }

  test("graft_common_count matches size(array_intersect) exactly") {
    // real gram-set pairs: every doc against a few shifted partners —
    // covers disjoint, partial-overlap and identical-set pairs
    val gs = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3), i ->
             graft_str_hash(concat(element_at(toks, i + 1), ' ',
               element_at(toks, i + 2), ' ', element_at(toks, i + 3)))))""")
        .as("gl"))
    val pairs = gs.as("a").join(gs.as("b"),
        col("b.doc_id") - col("a.doc_id") <= 3 &&
          col("a.doc_id") <= col("b.doc_id"))
      .select(col("a.gl").as("gl_a"), col("b.gl").as("gl_b"))
    assert(pairs.filter(
      expr("graft_common_count(gl_a, gl_b)") =!=
        size(array_intersect(col("gl_a"), col("gl_b"))).cast("long"))
      .count() == 0)
    // synthetic edges: duplicates inside an input must not double-count,
    // empties give 0, null propagates
    val sp = spark
    import sp.implicits._
    val edge = Seq(
      (Seq(1L, 1L, 2L, 3L), Seq(1L, 2L, 2L, 9L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(5L), Seq.empty[Long]),
      (Seq(-1L, Long.MinValue, 0L), Seq(Long.MinValue, -1L, 7L)))
      .toDF("gl_a", "gl_b")
    assert(edge.filter(
      expr("graft_common_count(gl_a, gl_b)") =!=
        size(array_intersect(col("gl_a"), col("gl_b"))).cast("long"))
      .count() == 0)
    assert(edge.selectExpr("graft_common_count(gl_a, NULL) AS nc")
      .filter(col("nc").isNotNull).count() == 0)
  }

  test("graft_km_argmin matches the crossJoin + struct-MIN argmin exactly") {
    // the codebook the C62 family trains from: the seed rule's vectors,
    // cast to double — plus a DUPLICATED centroid under a higher cluster
    // id, so the smallest-cluster tie-break is exercised on every vector
    // that lands on it
    val seeds = embs
      .filter(col("vec_id") % 100 === 50 && col("vec_id") < 800)
      .select(col("vec_id").as("cluster"),
        col("embedding").cast("array<double>").as("c_emb"))
    val dup = seeds.orderBy("cluster").limit(1)
      .select((col("cluster") + 10000).as("cluster"), col("c_emb"))
    val cents = seeds.unionByName(dup)
    val v = embs.select(col("vec_id"), col("embedding"))
    val old = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"), expr("""aggregate(
          zip_with(embedding, c_emb,
            (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                      (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
          CAST(0 AS DOUBLE), (acc, d) -> acc + d)""").as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist").as("dist"), col("cluster").as("cluster")))
        .as("m"))
      .select(col("vec_id"), col("m.cluster").as("c_old"),
        col("m.dist").as("d_old"))
    val cb = cents.agg(
      expr("sort_array(collect_list(struct(cluster, c_emb)))").as("cb"))
    val ker = v.crossJoin(broadcast(cb))
      .select(col("vec_id"), expr("graft_km_argmin(embedding, cb)").as("m"))
      .select(col("vec_id"), col("m.cluster").as("c_ker"),
        col("m.dist").as("d_ker"))
    val joined = old.join(ker, "vec_id")
    assert(joined.count() == v.count())
    // bit-exact: same winning cluster (ties → smallest id) and the same
    // IEEE double distance (identical sequential fold)
    assert(joined.filter(col("c_old") =!= col("c_ker") ||
      col("d_old") =!= col("d_ker")).count() == 0)
    // the duplicated centroid must never win (its twin has the lower id)
    assert(ker.filter(col("c_ker") >= 10000).count() == 0)
    // empty codebook → null, the degenerate-corpus contract
    val empty = cents.filter(col("cluster") < 0)
      .agg(expr("sort_array(collect_list(struct(cluster, c_emb)))").as("cb"))
    assert(v.limit(5).crossJoin(broadcast(empty))
      .selectExpr("graft_km_argmin(embedding, cb) AS m")
      .filter(col("m").isNotNull).count() == 0)
  }

  test("graft_word_grams matches the transform + concat_ws formulation") {
    val d = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= 3)
    for (n <- Seq(2, 3, 4)) {
      val els = (1 to n)
        .map(j => s"element_at(toks, cast(i + $j as int))").mkString(", ")
      val hof = d
        .withColumn("hof", expr(
          s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', $els))"))
        .withColumn("ker", expr(s"graft_word_grams(toks, $n)"))
        .withColumn("hofd", array_distinct(col("hof")))
        .withColumn("kerd", expr(s"graft_word_grams_distinct(toks, $n)"))
      assert(hof.filter(col("hof") =!= col("ker") ||
        col("hofd") =!= col("kerd")).count() == 0, s"n=$n")
    }
    // short-doc edge: size(toks) < n yields an empty array
    val sp = spark
    import sp.implicits._
    val short = Seq(Tuple1(Seq("one", "two"))).toDF("toks")
    assert(short.selectExpr("size(graft_word_grams(toks, 3)) AS s")
      .head.getInt(0) == 0)
  }

  test("graft_lev_capped matches the CASE + levenshtein(threshold) column") {
    val sp = spark
    import sp.implicits._
    // randomized pairs with multibyte atoms (surrogate-safe), plus mutated
    // near-dup twins — long shared prefixes/suffixes exercise exactly the
    // stripping path the kernel adds
    val atoms = Vector("a", "b", "c", "d", " ", "α", "β",
      "界", new String(Character.toChars(0x1F642)))
    val rnd = new scala.util.Random(4516)
    def randStr(max: Int): String =
      (0 until rnd.nextInt(max)).map(_ => atoms(rnd.nextInt(atoms.size)))
        .mkString
    val pairs = (1 to 400).map { i =>
      val a = randStr(60)
      val b =
        if (i % 3 == 0) randStr(60) // unrelated
        else { // near-dup: a few point edits on a copy
          val chars = a.toCharArray.toBuffer
          val edits = rnd.nextInt(4)
          for (_ <- 0 until edits if chars.nonEmpty) {
            val pos = rnd.nextInt(chars.size)
            rnd.nextInt(3) match {
              case 0 => chars.remove(pos): Unit
              case 1 => chars.insert(pos, 'x')
              case _ => chars(pos) = 'y'
            }
          }
          new String(chars.toArray)
        }
      (a, b)
    } :+ (("", "")) :+ (("", "abc")) :+ (("abcdefghij", "abcdefghij"))
    val df = pairs.toDF("t_a", "t_b")
    val oldCol = when(
      abs(length(col("t_a")) - length(col("t_b"))) >
        expr("greatest(length(t_a), length(t_b)) DIV 5"), lit(-1L))
      .otherwise(expr(
        "levenshtein(t_a, t_b, greatest(length(t_a), length(t_b)) DIV 5)")
        .cast("long"))
    val bad = df
      .withColumn("ker", expr("graft_lev_capped(t_a, t_b)"))
      .withColumn("ref", oldCol)
      .filter(col("ker") =!= col("ref"))
    assert(bad.count() == 0, bad.collect().take(5).mkString("\n"))
  }

  test("graft_lev_capped decodes a truncated multi-byte tail as one code point") {
    // binary casts keep any bytes: "abcde" + a 2-, 3- and 4-byte sequence
    // cut one byte short (é, 界, U+1F642) — each tail is one code point
    for (cut <- Seq("C3", "E795", "F09F99")) {
      val s = s"cast(unhex('6162636465$cut') AS STRING)"
      val r = spark.range(1).selectExpr(
        s"graft_lev_capped($s, 'abcdef') AS sub",
        s"graft_lev_capped($s, 'abcde') AS del",
        s"graft_lev_capped($s, $s) AS same").head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 0L)), cut)
    }
  }

  test("graft_lev_capped matches the builtin on LONG cores (multi-block Myers)") {
    val sp = spark
    import sp.implicits._
    // corpus-length strings (up to ~600 chars) force the bit-parallel DP
    // over 2..10 blocks of 64, with cores both tiny (point edits) and
    // full-length (shuffled halves); the existing 60-char test only ever
    // exercises one block
    val atoms = Vector("a", "b", "c", "d", "e", " ", "α", "界",
      new String(Character.toChars(0x1F642)))
    val rnd = new scala.util.Random(1707)
    def randStr(lo: Int, hi: Int): String =
      (0 until (lo + rnd.nextInt(hi - lo))).map(_ =>
        atoms(rnd.nextInt(atoms.size))).mkString
    val pairs = (1 to 120).map { i =>
      val a = randStr(65, 600)
      val b = i % 4 match {
        case 0 => randStr(65, 600) // unrelated, usually len-gated or cut off
        case 1 => // scattered point edits: in-band, full multi-block DP
          val chars = a.toCharArray.toBuffer
          for (_ <- 0 until (3 + rnd.nextInt(a.length / 6))
               if chars.nonEmpty) {
            val pos = rnd.nextInt(chars.size)
            rnd.nextInt(3) match {
              case 0 => chars.remove(pos): Unit
              case 1 => chars.insert(pos, 'x')
              case _ => chars(pos) = 'y'
            }
          }
          new String(chars.toArray)
        case 2 => // shared prefix, divergent tail: exercises the strip + DP
          a.substring(0, a.length / 2) + randStr(30, 300)
        case _ => // same length, middle block rewritten
          val third = a.length / 3
          a.substring(0, third) + randStr(third, third + 2)
            .padTo(a.length - 2 * third, 'z').take(a.length - 2 * third) +
            a.substring(a.length - third)
      }
      (a, b)
    }
    val df = pairs.toDF("t_a", "t_b")
    val oldCol = when(
      abs(length(col("t_a")) - length(col("t_b"))) >
        expr("greatest(length(t_a), length(t_b)) DIV 5"), lit(-1L))
      .otherwise(expr(
        "levenshtein(t_a, t_b, greatest(length(t_a), length(t_b)) DIV 5)")
        .cast("long"))
    val bad = df
      .withColumn("ker", expr("graft_lev_capped(t_a, t_b)"))
      .withColumn("ref", oldCol)
      .filter(col("ker") =!= col("ref"))
    assert(bad.count() == 0, bad.collect().take(5).mkString("\n"))
  }

  test("graft_ivf_argmax matches the crossJoin + row_number argmax exactly") {
    import org.apache.spark.sql.expressions.Window
    val v = embs.selectExpr("vec_id", "embedding",
      "graft_norm2(embedding) AS n2")
    val cents = v.filter(col("vec_id") % 100 === 50 && col("vec_id") < 800)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))
    val old = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (expr("graft_dot(embedding, c_emb)") /
          (sqrt(col("n2")) * sqrt(col("c_n2")))).as("c_cos"))
      .withColumn("arnk", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("c_cos").desc, col("cent_id"))))
      .filter(col("arnk") === 1)
      .select(col("vec_id"), col("cent_id").as("c_old"))
    val cb = cents
      .select(col("cent_id"), col("c_emb").cast("array<double>").as("c_emb"),
        col("c_n2"))
      .agg(expr("sort_array(collect_list(struct(cent_id, c_emb, c_n2)))")
        .as("icb"))
    val ker = v.crossJoin(broadcast(cb))
      .select(col("vec_id"),
        expr("graft_ivf_argmax(embedding, n2, icb)").as("c_ker"))
    val joined = old.join(ker, "vec_id")
    assert(joined.count() == v.count())
    assert(joined.filter(col("c_old") =!= col("c_ker")).count() == 0)
  }

  test("two graft_ivf_argmax calls compile into one generated function") {
    // non-nullable children: nullSafeCodeGen wraps neither call in a
    // null-check block, so both calls' locals share one Java scope
    val in = spark.range(64).selectExpr("id",
      "array(CAST(id AS FLOAT), CAST(id * 3 + 1 AS FLOAT)) AS emb",
      "CAST(id * id * 10 + 1 AS DOUBLE) AS n2",
      """array(
           named_struct('cent_id', id + 1, 'c_emb', array(1.0D, 0.0D), 'c_n2', 1.0D),
           named_struct('cent_id', 0L, 'c_emb', array(0.0D, 1.0D), 'c_n2', 1.0D)) AS cb""")
    assert(!in.schema.exists(_.nullable))
    def argmaxes(conf: Map[String, String]): Seq[(Long, Long, Long)] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try in.selectExpr("id", "graft_ivf_argmax(emb, n2, cb) AS a",
          "graft_ivf_argmax(emb, n2 * 2.0D, cb) AS b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._1)
      finally conf.keys.foreach(spark.conf.unset)
    }
    val compiled = argmaxes(Map("spark.sql.codegen.fallback" -> "false"))
    val interpreted = argmaxes(Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    assert(compiled.size == 64 && compiled == interpreted)
  }

  test("graft_pq_codes matches the exploded crossJoin + struct-MIN argmins") {
    val v = embs.select(col("vec_id"), col("embedding"))
    val cents = embs.filter(col("vec_id") % 100 === 50)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val dist = expr("""aggregate(
      zip_with(
        slice(embedding, CAST(sub_id * 16 + 1 AS INT), 16),
        slice(c_emb, CAST(sub_id * 16 + 1 AS INT), 16),
        (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                  (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
      CAST(0 AS DOUBLE), (acc, d) -> acc + d)""")
    val old = v
      .select(col("vec_id"), col("embedding"),
        explode(expr("sequence(CAST(0 AS BIGINT), CAST(3 AS BIGINT))"))
          .as("sub_id"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("sub_id"), col("cent_id"), dist.as("dist"))
      .groupBy("vec_id", "sub_id")
      .agg(min(struct(col("dist").as("dist"), col("cent_id").as("cent_id")))
        .as("m"))
      .select(col("vec_id"), col("sub_id"),
        col("m.cent_id").as("c_old"), col("m.dist").as("d_old"))
    val cb = cents
      .select(col("cent_id"), col("c_emb").cast("array<double>").as("c_emb"))
      .agg(expr("sort_array(collect_list(struct(cent_id, c_emb)))").as("pcb"))
    val ker = v.crossJoin(broadcast(cb))
      .select(col("vec_id"),
        posexplode(expr("graft_pq_codes(embedding, pcb, 4, 16)"))
          .as(Seq("sub_id", "m")))
      .select(col("vec_id"), col("sub_id").cast("long").as("sub_id"),
        col("m.cent_id").as("c_ker"), col("m.dist").as("d_ker"))
    val joined = old.join(ker, Seq("vec_id", "sub_id"))
    assert(joined.count() == v.count() * 4)
    assert(joined.filter(col("c_old") =!= col("c_ker") ||
      col("d_old") =!= col("d_ker")).count() == 0)
  }

  /** Deepest cause: a kernel's own exception, whichever task or analysis
    * wrapper carried it out of Spark. */
  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)

  /** One scalar kernel's rows: the calls over argument columns a0..an,
    * the argument rows that evaluate (one SQL literal per argument), and
    * the rows that must fail with the same one-line error on both paths. */
  private case class KernelRows(calls: Seq[String],
      ok: Seq[Seq[String]], fail: Seq[Seq[String]] = Nil)

  /** Every scalar kernel on adversarial rows: null, empty, malformed and
    * truncated UTF-8, 4-byte code points, long edit-distance cores,
    * extreme longs, NaN/±Inf vectors, empty codebooks. */
  private def adversarialRows: Map[String, KernelRows] = {
    val smile = new String(Character.toChars(0x1F642))
    val strs = Seq("NULL", "''", "'abcd'", "'the quick brown fox jumps'",
      "CAST(X'61C3FF62E282' AS STRING)", // bad continuation + cut 3-byte tail
      "CAST(X'6162636465F09F99' AS STRING)", // cut 4-byte tail
      s"'x${smile}y${smile}z${smile}w${smile}v'")
    def one(rows: Seq[String]) = rows.map(Seq(_))
    val toks = one(Seq("NULL", "CAST(array() AS ARRAY<STRING>)", "array('a')",
      "split('a b a b c a b c d e f g h i j k l m n o', ' ')",
      s"array('', CAST(X'C3' AS STRING), '$smile', CAST(X'FFFE' AS STRING), '$smile')"))
    def fv(xs: String*) = xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val vecs = Seq("NULL", "CAST(array() AS ARRAY<FLOAT>)", fv("1.5", "-2", "0.25"),
      fv("'NaN'", "1"), fv("'Infinity'", "'-Infinity'", "2"), fv("'Infinity'", "3"))
    val vec64 = one(Seq("NULL", "array_repeat(CAST(0.5 AS FLOAT), 64)",
      "CAST(sequence(-30, 33) AS ARRAY<FLOAT>)",
      "array_repeat(CAST('NaN' AS FLOAT), 64)",
      "concat(array(CAST('Infinity' AS FLOAT)), array_repeat(CAST(-1 AS FLOAT), 63))",
      "concat(array(CAST('-Infinity' AS FLOAT), CAST('Infinity' AS FLOAT)), " +
        "array_repeat(CAST(0 AS FLOAT), 62))"))
    val short64 = one(Seq("CAST(array() AS ARRAY<FLOAT>)",
      "array_repeat(CAST(1 AS FLOAT), 63)"))
    val (lo, hi) = ("CAST('-9223372036854775808' AS BIGINT)", "9223372036854775807L")
    val longs = Seq("NULL", "CAST(array() AS ARRAY<BIGINT>)",
      "CAST(array(1, 1, 2, 3) AS ARRAY<BIGINT>)",
      s"array($lo, $hi, 0L, -1L)", s"array($hi, $hi, $lo)")
    def cb(field: String, n2: Boolean, rows: (Long, Seq[String])*) =
      rows.map { case (id, xs) =>
        val ds = xs.map(x => s"CAST($x AS DOUBLE)")
        s"named_struct('$field', ${id}L, 'c_emb', ${ds.mkString("array(", ", ", ")")}" +
          (if (n2) ds.map(d => s"$d * $d").mkString(", 'c_n2', ", " + ", "") else "") + ")"
      }.mkString("array(", ", ", ")")
    def emptyCb(field: String, n2: Boolean) =
      s"CAST(array() AS ARRAY<STRUCT<$field: BIGINT, c_emb: ARRAY<DOUBLE>" +
        (if (n2) ", c_n2: DOUBLE" else "") + ">>)"
    def cbs(field: String, n2: Boolean) = Seq(
      cb(field, n2, 1L -> Seq("0", "1"), 2L -> Seq("1", "0"), 3L -> Seq("1", "0")),
      emptyCb(field, n2),
      cb(field, n2, 1L -> Seq("'NaN'", "0"), 2L -> Seq("1", "1")),
      cb(field, n2, 5L -> Seq("'Infinity'", "2", "3", "4"), 6L -> Seq("0", "0", "0", "0")))
    val embs = Seq(fv("1", "2", "3", "4"), fv("'NaN'", "1", "0", "2"),
      fv("'Infinity'", "'-Infinity'", "1", "1"), "CAST(array() AS ARRAY<FLOAT>)", fv("0.5"))
    def against(cbs: Seq[String], extra: Seq[String] = Nil) =
      Seq("NULL" +: cbs.head +: extra) ++
        (for (e <- embs; c <- cbs) yield (e +: c +: extra))
    val grams = Seq("graft_word_grams(a0, 1)", "graft_word_grams(a0, 2)",
      "graft_word_grams(a0, 16)")
    Map(
      "graft_minhash_sigs" -> KernelRows(Seq("graft_minhash_sigs(a0)"), one(strs)),
      "graft_minhash_rows" -> KernelRows(Seq("graft_minhash_rows(a0)"), one(strs)),
      "graft_simhash32" -> KernelRows(Seq("graft_simhash32(a0)"), toks),
      "graft_winnow_fp" -> KernelRows(Seq("graft_winnow_fp(a0)"), one(strs)),
      "graft_dot" -> KernelRows(Seq("graft_dot(a0, a1)"),
        for (a <- vecs; b <- vecs) yield Seq(a, b)),
      "graft_norm2" -> KernelRows(Seq("graft_norm2(a0)"), one(vecs)),
      "graft_lsh_buckets" -> KernelRows(Seq("graft_lsh_buckets(a0)"), vec64, short64),
      "graft_str_hash" -> KernelRows(Seq("graft_str_hash(a0)"), one(strs)),
      "graft_bloom_cells" -> KernelRows(Seq("graft_bloom_cells(a0)",
        "graft_bloom_cells(a0, 1)", "graft_bloom_cells(a0, 2147483647)"), one(strs)),
      "graft_cms_cells" -> KernelRows(Seq("graft_cms_cells(a0)"), one(strs)),
      "graft_cms_cells_g" -> KernelRows(Seq("graft_cms_cells_g(a0, 4, 64)",
        "graft_cms_cells_g(a0, 12, 1)", "graft_cms_cells_g(a0, 1, 2147483647)"),
        one(strs)),
      "graft_common_count" -> KernelRows(Seq("graft_common_count(a0, a1)"),
        for (a <- longs; b <- longs) yield Seq(a, b)),
      "graft_lev_capped" -> KernelRows(Seq("graft_lev_capped(a0, a1)"),
        (for (a <- strs; b <- strs) yield Seq(a, b)) ++ Seq(
          Seq("repeat('ab', 70)", "repeat('ba', 70)"),
          Seq("concat('pre', repeat('abcdefgh', 12), 'post')",
            "concat('pre', repeat('abcdefhg', 12), 'post')"),
          Seq(s"repeat('a$smile', 40)", s"repeat('${smile}a', 41)"),
          Seq("repeat(CAST(X'C3FF' AS STRING), 50)", "repeat('a', 80)"))),
      "graft_word_grams" -> KernelRows(grams, toks),
      "graft_word_grams_distinct" -> KernelRows(
        grams.map(_.replace("graft_word_grams(", "graft_word_grams_distinct(")), toks),
      "graft_km_argmin" -> KernelRows(Seq("graft_km_argmin(a0, a1)"),
        against(cbs("cluster", n2 = false))),
      "graft_ivf_argmax" -> KernelRows(Seq("graft_ivf_argmax(a0, a2, a1)"),
        against(cbs("cent_id", n2 = true), Seq("1.0D")) ++ Seq(
          Seq(fv("1", "2"), cbs("cent_id", n2 = true).head, "NULL"),
          Seq(fv("1", "2"), cbs("cent_id", n2 = true).head, "0.0D"),
          Seq(fv("1", "2"), cbs("cent_id", n2 = true)(2), "CAST('NaN' AS DOUBLE)"))),
      "graft_pq_codes" -> KernelRows(Seq("graft_pq_codes(a0, a1, 2, 2)",
        "graft_pq_codes(a0, a1, 1, 4)", "graft_pq_codes(a0, a1, 3, 1)"),
        against(cbs("cent_id", n2 = false))))
  }

  /** One frame with a row per argument row: each argument column is a
    * CASE over `id`, so no call is foldable and every row runs through
    * the projection under test (a local relation would be evaluated by
    * the optimizer instead). */
  private def argFrame(rows: Seq[Seq[String]]): org.apache.spark.sql.DataFrame = {
    val cols = rows.head.indices.map { j =>
      val whens = rows.zipWithIndex.map { case (r, i) => s"WHEN $i THEN ${r(j)}" }
      val body = if (rows.size == 1) whens.head
        else whens.init.mkString(" ") + s" ELSE ${rows.last(j)}"
      s"CASE id $body END AS a$j"
    }
    spark.range(rows.size).selectExpr("id" +: cols: _*)
  }

  private val compiledConf = Map("spark.sql.codegen.fallback" -> "false")
  private val interpretedConf = Map("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** The calls' rendered results, sorted by row, or the root error. */
  private def runUnder(conf: Map[String, String], calls: Seq[String],
      rows: Seq[Seq[String]]): Either[String, Seq[String]] = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try Right(argFrame(rows).selectExpr("id" +: calls: _*).collect()
      .sortBy(_.getLong(0)).map(_.toString).toSeq)
    catch { case t: Throwable => Left(String.valueOf(rootCause(t).getMessage)) }
    finally conf.keys.foreach(spark.conf.unset)
  }

  test("kernels survive null inputs") {
    val table = adversarialRows
    val missing = graft.functions.Kernels.scalars.keys.toSeq.sorted.filterNot(table.contains)
    assert(missing.isEmpty, s"scalar kernels without rows: $missing")
    for ((name, kr) <- table.toSeq.sortBy(_._1)) {
      assert(kr.ok.exists(_.contains("NULL")), s"$name: no null row")
      val built = argFrame(kr.ok).selectExpr(kr.calls: _*).queryExecution.analyzed
        .expressions.flatMap(_.collect { case c: graft.functions.KernelCall => c.name })
      assert(built.size == kr.calls.size && built.forall(_ == name), s"$name: $built")
      val compiled = runUnder(compiledConf, kr.calls, kr.ok)
      val interpreted = runUnder(interpretedConf, kr.calls, kr.ok)
      assert(compiled.isRight, s"$name: $compiled")
      assert(compiled == interpreted, s"$name: $compiled != $interpreted")
      // a null argument row yields a null result in every call
      kr.ok.zip(compiled.toOption.get).filter(_._1.contains("NULL")).foreach {
        case (_, r) => assert(r.split(",").tail.forall(_.startsWith("null")), s"$name: $r")
      }
      for (row <- kr.fail) {
        val c = runUnder(compiledConf, kr.calls, Seq(row))
        val i = runUnder(interpretedConf, kr.calls, Seq(row))
        assert(c.isLeft && c == i && !c.swap.toOption.get.contains("\n"),
          s"$name $row: $c vs $i")
      }
    }
  }

  test("kernel geometry is checked when the call is built, before any job runs") {
    val in = spark.range(4).selectExpr("id", "CAST(id AS STRING) AS key",
      "CAST(id AS INT) AS n", "split('a b c', ' ') AS toks",
      "CAST(array(1, 2) AS ARRAY<FLOAT>) AS emb",
      "CAST(array() AS ARRAY<STRUCT<cent_id: BIGINT, c_emb: ARRAY<DOUBLE>>>) AS cb")
    val lit = "geometry argument must be an integer literal"
    val guards = Seq(
      "graft_cms_cells_g(key, 4, 0)" -> "CMS geometry out of range: 4x0",
      "graft_cms_cells_g(key, -1, 64)" -> "CMS geometry out of range: -1x64",
      "graft_cms_cells_g(key, 13, 64)" -> "CMS geometry out of range: 13x64",
      "graft_cms_cells_g(key, n, 64)" -> lit,
      "graft_bloom_cells(key, 0)" -> "bloom filter size must be a positive bit count, got 0",
      "graft_bloom_cells(key, -64)" -> "bloom filter size must be a positive bit count, got -64",
      "graft_bloom_cells(key, n)" -> lit,
      "graft_bloom_cells(key, CAST(NULL AS INT))" -> lit,
      "graft_word_grams(toks, 0)" -> "gram width out of range: 0",
      "graft_word_grams_distinct(toks, 17)" -> "gram width out of range: 17",
      "graft_word_grams(toks, n)" -> lit,
      "graft_pq_codes(emb, cb, 0, 2)" -> "PQ geometry: 0 x 2",
      "graft_pq_codes(emb, cb, 65, 1)" -> "PQ geometry: 65 x 1",
      "graft_pq_codes(emb, cb, 2, 0)" -> "PQ geometry: 2 x 0",
      "graft_pq_codes(emb, cb, n, 2)" -> lit,
      "graft_cms_sketch_g(key, 4, 0)" -> "CMS geometry out of range: 4x0",
      "graft_cms_sketch_g(key, 0, 64)" -> "CMS geometry out of range: 0x64",
      "graft_cms_sketch_g(key, n, 64)" -> lit,
      "graft_hll_sketch_m(id, 48)" -> "HLL m must be a power of two in [16, 2^20], got 48",
      "graft_hll_sketch_m(id, 8)" -> "HLL m must be a power of two in [16, 2^20], got 8",
      "graft_hll_sketch_m(id, n)" -> lit,
      "graft_qsketch_s(id, 0)" -> "qsketch subdivision must be in [1,16], got 0",
      "graft_qsketch_s(id, 17)" -> "qsketch subdivision must be in [1,16], got 17",
      "graft_qsketch_s(id, n)" -> lit)
    for ((call, msg) <- guards) {
      var err: Throwable = null
      val r = graft.obs.Meter.measure(spark) {
        err = intercept[Throwable](in.selectExpr(call))
      }
      val m = String.valueOf(rootCause(err).getMessage)
      assert(m.contains(msg) && !m.contains("\n"), s"$call: $m")
      assert(r.jobs == 0, s"$call ran ${r.jobs} jobs")
    }
  }

  test("qsketch bucket map: monotone, bracketing, exact inverse on bounds") {
    import graft.functions.Kernels._
    for (s <- Seq(2, 4, 6, 8, 12)) {
      val probe: Seq[Long] = (0L to (2L << s)) ++
        Seq.tabulate(200)(i => (1L << (i % 50 + s)) + i * 2654435761L %
          (1L << (i % 50 + s))) ++
        Seq(Long.MaxValue, Long.MaxValue - 1, 1L << 62)
      val sorted = probe.filter(_ >= 0).distinct.sorted
      // monotone: bucket never decreases as v grows
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(qsketchBucket(a, s) <= qsketchBucket(b, s), s"s=$s $a>$b")
        case _ => ()
      }
      for (v <- sorted) {
        val b = qsketchBucket(v, s)
        assert(b >= 0 && b < qsketchBuckets(s), s"s=$s v=$v b=$b")
        val lo = qsketchLower(b, s)
        val hi = qsketchLower(b + 1, s)
        // the bucket brackets its value (the top bucket's upper bound
        // clamps to Long.MaxValue, so its bracket is inclusive)
        assert(lo <= v && (v < hi || hi == Long.MaxValue),
          s"s=$s v=$v not in [$lo, $hi)")
        // ...within relative width 2^-s once past the exact range
        if (v >= (1L << s))
          assert(hi - lo <= (lo >> s).max(1L), s"s=$s v=$v width ${hi - lo}")
        // bound values are left-inverses: bucket(lower(b)) == b
        assert(qsketchBucket(lo, s) == b, s"s=$s lower($b)=$lo maps back")
      }
      // negatives and zero clamp to bucket 0
      assert(qsketchBucket(0L, s) == 0 && qsketchBucket(-7L, s) == 0)
      // the TOP bucket's edge is DEFINED, not carved out: one past the top
      // index clamps to Long.MaxValue (2^63 would wrap negative), so
      // est_hi ≥ est_lo holds for top-octave values (v ≥ 2^62 at s=6)
      assert(qsketchLower(qsketchBuckets(s), s) == Long.MaxValue)
      val topLo = qsketchLower(qsketchBuckets(s) - 1, s)
      assert(topLo > 0 && topLo < Long.MaxValue &&
        qsketchBucket(Long.MaxValue, s) == qsketchBuckets(s) - 1)
      // and the Spark SQL spelling agrees on the clamped edge (b = one
      // past the top bucket as well as the top bucket's own lower bound)
      val sqlEdge = spark.range(1).selectExpr(
        qsketchLowerSparkSql(s"${qsketchBuckets(s)}", s) + " AS hi",
        qsketchLowerSparkSql(s"${qsketchBuckets(s) - 1}", s) + " AS lo")
        .head
      assert(sqlEdge.getLong(0) == Long.MaxValue && sqlEdge.getLong(1) == topLo)
    }
  }

  test("qsketch registers are invariant across partitionings and grouping") {
    val sp = spark
    import sp.implicits._
    val vals = (0L until 5000L).map(i => (i % 7, i * i % 1000000L)).toDF("g", "v")
    def regs(parts: Int): Seq[Long] =
      vals.repartition(parts).agg(expr("graft_qsketch(v)")).head.getSeq[Long](0)
    // merge-tree shape must not change the counts (the property literal
    // KLL cannot give — the reason this sketch is a bucket compactor)
    assert(regs(1) == regs(13))
    // grouped sketches sum to the global sketch (mergeability)
    val grouped = vals.groupBy("g").agg(expr("graft_qsketch(v)").as("r"))
      .agg(expr("aggregate(collect_list(r), " +
        s"array_repeat(CAST(0 AS BIGINT), ${graft.functions.Kernels.qsketchBuckets(graft.functions.Kernels.QSketchS)}), " +
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))"))
      .head.getSeq[Long](0)
    assert(grouped == regs(1))
    // total mass equals the row count
    assert(regs(1).sum == 5000L)
  }

  test("Kernels.register and the session extension register the same catalog") {
    // name -> (description, class) as the session catalog reports them
    def described(s: org.apache.spark.sql.SparkSession) =
      s.catalog.listFunctions().collect().map(_.name)
        .filter(_.startsWith("graft_")).map { n =>
          val f = s.catalog.getFunction(n)
          n -> (f.description, f.className)
        }.toMap
    val viaExtension = described(spark)
    assert(viaExtension.size == 25 && viaExtension.values.forall {
      case (d, _) => d != null && d.nonEmpty && d != "N/A." }, viaExtension)
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    viaExtension.keys.foreach(n => reg.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(described(fresh).isEmpty)
    graft.functions.Kernels.register(fresh)
    assert(described(fresh) == viaExtension)
  }
}
