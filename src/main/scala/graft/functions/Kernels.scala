package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression kernels for the text/vector hot paths.
  *
  * The same computations are expressible with `transform`/`aggregate`
  * higher-order functions, but Spark evaluates HOF lambdas interpreted
  * (one boxed eval per element), and per-character `substring` makes the
  * shingle loops O(len²). These kernels run the identical arithmetic as a
  * tight JVM loop inside whole-stage codegen — each is a single static call
  * from generated code, so the surrounding stage stays codegen'd.
  *
  * Exactness contract (SURVEY.md §3): every kernel reproduces, bit-for-bit,
  * the arithmetic its DuckDB oracle twin declares — integer polynomial
  * hashes mod 2^31−1, md5 hex nibbles, and *sequential* left-fold double
  * sums in array order (never reassociated), matching `list_reduce`.
  */
object Kernels {

  private val P = 2147483647L // 2^31 − 1

  /** Universal-hash ROW FAMILY shared by the MinHash rows (k = 1..12) and
    * the CMS depth rows (k = 1..4) — and ONLY those:
    * A_k = (RowA0 + RowA1·k + RowA2·k²) mod p, B_k likewise. The HLL
    * deliberately does NOT draw from this family: its rho statistic reads
    * LEADING-bit structure, which no affine-mod-p map of sequential ids
    * scrambles (see [[hllHash]]), so HLL hashes through md5 instead.
    *
    * The quadratic + nonzero constant terms are load-bearing. The previous
    * family was LINEAR in k (A_k = c·k mod p, B_k = c'·k mod p), which made
    * every row hash an exact scalar multiple of row 1: h_k(x) = k·h_1(x)
    * mod p. The minimum of ~n hashed shingles sits near p/n, so k·min
    * never wrapped for k ≤ 12 — every "independent" row preserved row 1's
    * argmin, the 12-row signature collapsed to ONE effective hash row, and
    * LSH banding admitted candidate pairs at true Jaccard ≈ 0.1 agreeing
    * on 8-12 rows (observed on the test corpus: row minima exactly
    * k·566452). Quadratic constants give no two rows a small-integer
    * ratio, restoring the family's independence; simulation shows the
    * 12-row agreement fraction tracking true Jaccard unbiased. */
  val RowA0 = 777767777L; val RowA1 = 506952114L; val RowA2 = 29986577L
  val RowB0 = 99990001L;  val RowB1 = 1013904223L; val RowB2 = 444443333L
  def rowA(k: Long): Long = (RowA0 + RowA1 * k + RowA2 * k * k) % P
  def rowB(k: Long): Long = (RowB0 + RowB1 * k + RowB2 * k * k) % P
  /** The identical A_k/B_k as a SQL fragment; `k` must be an integer SQL
    * expression already widened to BIGINT by its context. */
  def rowASql(k: String): String =
    s"($RowA0 + $RowA1 * ($k) + $RowA2 * ($k) * ($k)) % $P"
  def rowBSql(k: String): String =
    s"($RowB0 + $RowB1 * ($k) + $RowB2 * ($k) * ($k)) % $P"

  /** LSH plane weight for global plane g, dimension j: a deterministic
    * integer in [−6, 6]. The wide intermediate modulus (1000003, prime)
    * is load-bearing: quantizing `(g·31 + j·17) mod 13` directly made the
    * plane family linear mod 13, so only 13 distinct planes existed among
    * the 40 the tables think they draw — correlated tables, wasted OR-ing.
    * Hashing (g, j) into a large space first gives 40/40 distinct planes
    * with a balanced weight histogram. */
  def planeW(g: Long, j: Long): Long =
    (((g + 1) * 92821L + (j + 1) * 68917L) % 1000003L) % 13L - 6L
  /** The identical weight as a SQL fragment (g, j integer expressions). */
  def planeWSql(g: String, j: String): String =
    s"((($g + 1) * 92821 + ($j + 1) * 68917) % 1000003) % 13 - 6"

  /** 4-band × 3-row MinHash signature of a normalized string.
    * Shingle hash: 5-codepoint polynomial in base 31 mod p (codepoints match
    * `ascii(substr(...))` in both engines). Row-k hash: (A_k·h + B_k) mod p
    * from the quadratic [[rowA]]/[[rowB]] family (rows k = 1..12).
    * Band b's signature is "min_{3b}:min_{3b+1}:min_{3b+2}". */
  /** The 12 raw row minima behind [[shingleMinHash]] — exposed separately
    * (`graft_minhash_rows`) so C93's banding sweep can regroup the SAME
    * minima under alternative (bands × rows) configurations without a
    * second shingle pass; [[shingleMinHash]] formats these, so the two
    * cannot drift. */
  def minhashRows(s: UTF8String): Array[Long] = {
    val cps = s.toString.codePoints.toArray
    val nSh = cps.length - 4
    val mins = Array.fill(12)(Long.MaxValue)
    val as = Array.tabulate(12)(k => rowA(k + 1))
    val bs = Array.tabulate(12)(k => rowB(k + 1))
    var i = 0
    while (i < nSh) {
      val h = (cps(i).toLong * 923521 + cps(i + 1).toLong * 29791 +
        cps(i + 2).toLong * 961 + cps(i + 3).toLong * 31 + cps(i + 4).toLong) % P
      var k = 0
      while (k < 12) {
        val g = (as(k) * h + bs(k)) % P
        if (g < mins(k)) mins(k) = g
        k += 1
      }
      i += 1
    }
    mins
  }

  def minhashRowsArray(s: UTF8String): ArrayData =
    new GenericArrayData(minhashRows(s))

  def shingleMinHash(s: UTF8String): ArrayData = {
    val mins = minhashRows(s)
    val sigs = new Array[AnyRef](4)
    var b = 0
    while (b < 4) {
      sigs(b) = UTF8String.fromString(
        s"${mins(b * 3)}:${mins(b * 3 + 1)}:${mins(b * 3 + 2)}")
      b += 1
    }
    new GenericArrayData(sigs)
  }

  /** Thread-local MD5 for the per-row digest loops (simhash votes one
    * digest per TOKEN, winnowing one per SHINGLE) — `getInstance` per row
    * was measurable allocation churn in full-corpus scans. */
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue() = MessageDigest.getInstance("MD5")
  }

  /** 32-bit SimHash: bit j is the majority vote over tokens of whether hex
    * digit j of md5(token-utf8) is ≥ '8' (i.e. the nibble's top bit). */
  def simHash32(toks: ArrayData): Long = {
    val votes = new Array[Int](32)
    val md = mdLocal.get()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val dig = md.digest(toks.getUTF8String(i).getBytes)
      var j = 0
      while (j < 32) {
        val byte = dig(j >> 1) & 0xff
        val nib = if ((j & 1) == 0) byte >> 4 else byte & 0xf
        if (nib >= 8) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < 32) { if (votes(j) > 0) acc |= 1L << j; j += 1 }
    acc
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Winnowing fingerprint: lexicographic min over 5-codepoint shingles of
    * md5 hex (= numeric min over fixed-width hex). Shingle positions are
    * 0..max(len−5, 0), so a short doc contributes its whole text once.
    * Hex-string order over fixed-width md5 hex equals UNSIGNED BYTE order
    * of the raw 16-byte digest (hex chars are monotone in nibble value),
    * so the min tracks raw digests and only the winner is hex-encoded —
    * no per-shingle String/hex allocation (round 16; same output). */
  def winnowFp(s: UTF8String): UTF8String = {
    val str = s.toString
    val cps = str.codePoints.toArray
    val len = cps.length
    val lastPos = math.max(len - 5, 0)
    val md = mdLocal.get()
    var best: Array[Byte] = null
    var i = 0
    while (i <= lastPos) {
      val sub = new String(cps, i, math.min(5, len - i))
      md.reset()
      val dig = md.digest(sub.getBytes("UTF-8"))
      if (best == null || {
        var c = 0
        var j = 0
        while (c == 0 && j < 16) {
          c = (dig(j) & 0xff) - (best(j) & 0xff)
          j += 1
        }
        c < 0
      }) best = dig
      i += 1
    }
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = hexChars((best(j) >> 4) & 0xf)
      out(2 * j + 1) = hexChars(best(j) & 0xf)
      j += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Open-addressing scratch for [[commonCount]] — reused per thread so the
    * pair-verification inner loop (millions of candidate pairs per task)
    * allocates NOTHING per row. `stamps` versions the slots: bumping `cur`
    * invalidates the whole table in O(1) instead of an O(capacity) clear. */
  private final class IntersectScratch {
    var keys = new Array[Long](2048)
    var stamps = new Array[Int](2048)
    var hit = new Array[Boolean](2048)
    var cur = 0
    def ensure(n: Int): Unit = {
      var cap = keys.length
      while (cap < n * 4) cap <<= 1
      if (cap != keys.length) {
        keys = new Array[Long](cap)
        stamps = new Array[Int](cap)
        hit = new Array[Boolean](cap)
        cur = 0
      }
    }
  }
  private val intersectLocal = new ThreadLocal[IntersectScratch] {
    override def initialValue() = new IntersectScratch
  }
  // splitmix64 finalizer — internal probe mix only, never part of a result
  private def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4ecb9aa51328fL
    z ^ (z >>> 31)
  }

  /** |set(a) ∩ set(b)| of two long arrays — the exact integer
    * `size(array_intersect(a, b))` (both engines' set semantics) without
    * per-row OpenHashSet + result-array allocation: one thread-local
    * open-addressing table, membership flags consumed on first match so
    * duplicate elements of `a` never double-count. The count is pure set
    * arithmetic, so the internal probe hash is unconstrained by the
    * cross-engine exactness contract. */
  def commonCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    val s = intersectLocal.get()
    s.ensure(nb)
    s.cur += 1
    val cur = s.cur
    val keys = s.keys; val stamps = s.stamps; val hit = s.hit
    val mask = keys.length - 1
    var i = 0
    while (i < nb) {
      val k = b.getLong(i)
      var p = (mix64(k) & mask).toInt
      var done = false
      while (!done) {
        if (stamps(p) != cur) {
          stamps(p) = cur; keys(p) = k; hit(p) = false; done = true
        } else if (keys(p) == k) done = true
        else p = (p + 1) & mask
      }
      i += 1
    }
    var n = 0L
    i = 0
    while (i < na) {
      val k = a.getLong(i)
      var p = (mix64(k) & mask).toInt
      var done = false
      while (!done) {
        if (stamps(p) != cur) done = true // absent from b
        else if (keys(p) == k) {
          if (!hit(p)) { hit(p) = true; n += 1L }
          done = true
        } else p = (p + 1) & mask
      }
      i += 1
    }
    n
  }

  /** Nearest-centroid argmin for the C62 k-means family: `cb` is the
    * codebook as an array of (cluster, c_emb double[64]) structs SORTED by
    * cluster id; returns (cluster, dist) of the closest centroid. Distance
    * is the identical sequential fold as the zip_with/aggregate form it
    * replaces — (CAST(x) − y)² accumulated left-to-right from 0.0 — and the
    * strict `<` keep-first rule over the cluster-sorted codebook reproduces
    * `min(struct(dist, cluster))`'s tie-break exactly. Null on an empty
    * codebook (the degenerate no-seeds corpus), which callers filter —
    * matching the empty relation the old crossJoin produced. */
  def kmArgmin(emb: ArrayData, cb: ArrayData): Any = {
    val k = cb.numElements()
    if (k == 0) return null
    var bestDist = Double.MaxValue
    var bestCluster = 0L
    var c = 0
    var first = true
    while (c < k) {
      val row = cb.getStruct(c, 2)
      val cluster = row.getLong(0)
      val ce = row.getArray(1)
      val n = math.min(emb.numElements(), ce.numElements())
      var s = 0.0
      var j = 0
      while (j < n) {
        val d = emb.getFloat(j).toDouble - ce.getDouble(j)
        s += d * d
        j += 1
      }
      // Double.compare, not `<`: Spark's struct-MIN orders NaN as the
      // LARGEST double, which Java's < would instead make sticky-once-seen
      if (first || java.lang.Double.compare(s, bestDist) < 0) {
        bestDist = s; bestCluster = cluster; first = false
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestCluster, bestDist)
  }

  /** IVF cell assignment for C13/C35: argmax COSINE over a cent_id-sorted
    * codebook of (cent_id, c_emb double[], c_n2) structs — one codegen'd
    * call per vector replacing the crossJoin + per-vec_id row_number
    * window (round 16). Cosine is the identical arithmetic: the
    * sequential-fold dot (graft_dot's order) over min(len) dims divided by
    * sqrt(n2)·sqrt(c_n2); comparison via Double.compare so NaN orders
    * exactly as Spark's DESC sort (NaN greatest); ties keep the first =
    * smallest cent_id, matching `ORDER BY c_cos DESC, cent_id`. Null on an
    * empty codebook. */
  def ivfArgmax(emb: ArrayData, n2: Double, cb: ArrayData): Any = {
    val k = cb.numElements()
    if (k == 0) return null
    var bestCos = 0.0
    var bestId = 0L
    var first = true
    val sn = math.sqrt(n2)
    var c = 0
    while (c < k) {
      val row = cb.getStruct(c, 3)
      val ce = row.getArray(1)
      val n = math.min(emb.numElements(), ce.numElements())
      var s = 0.0
      var j = 0
      while (j < n) { s += emb.getFloat(j).toDouble * ce.getDouble(j); j += 1 }
      val cos = s / (sn * math.sqrt(row.getDouble(2)))
      if (first || java.lang.Double.compare(cos, bestCos) > 0) {
        bestCos = cos; bestId = row.getLong(0); first = false
      }
      c += 1
    }
    java.lang.Long.valueOf(bestId)
  }

  /** All [[graft.operators.EmbeddingOps.PqSub]]-style subspace argmins in
    * ONE pass over the broadcast codebook: for sub s the distance is the
    * sequential fold of (x−y)² over dims [s·subDim, (s+1)·subDim), and the
    * winner per sub is min (dist, cent_id) over the cent_id-sorted
    * codebook — bit-identical to the exploded crossJoin + conditional
    * struct-MIN shape it replaces (round 16), without the ×(nSub·k) row
    * expansion or the vec_id-keyed aggregation exchange. Returns one
    * (cent_id, dist) struct per sub; null on an empty codebook. */
  def pqCodes(emb: ArrayData, cb: ArrayData, nSub: Int, subDim: Int): Any = {
    val k = cb.numElements()
    if (k == 0) return null
    val bestD = new Array[Double](nSub)
    val bestC = new Array[Long](nSub)
    var first = true
    var c = 0
    while (c < k) {
      val row = cb.getStruct(c, 2)
      val cid = row.getLong(0)
      val ce = row.getArray(1)
      val lim = math.min(emb.numElements(), ce.numElements())
      var s = 0
      while (s < nSub) {
        var acc = 0.0
        var j = s * subDim
        val end = math.min(j + subDim, lim)
        while (j < end) {
          val d = emb.getFloat(j).toDouble - ce.getDouble(j)
          acc += d * d
          j += 1
        }
        if (first || java.lang.Double.compare(acc, bestD(s)) < 0) {
          bestD(s) = acc; bestC(s) = cid
        }
        s += 1
      }
      first = false
      c += 1
    }
    val rows = new Array[Any](nSub)
    var s = 0
    while (s < nSub) {
      rows(s) = org.apache.spark.sql.catalyst.InternalRow(bestC(s), bestD(s))
      s += 1
    }
    new GenericArrayData(rows)
  }

  /** ' '-joined word n-grams of a token array — the codegen'd replacement
    * for `transform(sequence(0, size(toks) − n), i -> concat_ws(' ', …))`,
    * which evaluates as an interpreted higher-order lambda (one boxed step
    * per element) on the hottest text relations. Byte-identical output:
    * token bytes are copied once per doc and assembled with single-space
    * separators exactly as concat_ws does (tokens from split() are never
    * null, which is this kernel's precondition — concat_ws would SKIP a
    * null, this would not). Returns an empty array when size(toks) < n,
    * matching the callers' `size(toks) >= n` pre-filter semantics. */
  def wordGrams(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(new Array[AnyRef](0))
    val tb = new Array[Array[Byte]](sz)
    var i = 0
    while (i < sz) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[AnyRef](m)
    i = 0
    while (i < m) {
      var len = n - 1
      var j = 0
      while (j < n) { len += tb(i + j).length; j += 1 }
      val buf = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = tb(i + j)
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[wordGrams]] deduplicated in FIRST-OCCURRENCE order — the exact
    * `array_distinct(transform(…))` composition, without materializing the
    * duplicated intermediate array. */
  def wordGramsDistinct(toks: ArrayData, n: Int): ArrayData = {
    val all = wordGrams(toks, n)
    val m = all.numElements()
    if (m <= 1) return all
    val seen = new java.util.HashSet[UTF8String](m * 2)
    val out = new java.util.ArrayList[AnyRef](m)
    var i = 0
    while (i < m) {
      val g = all.getUTF8String(i)
      if (seen.add(g)) out.add(g): Unit
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Thread-local scratch for [[levCapped]]'s Myers bit-parallel core:
    * the per-symbol pattern bitmasks (ASCII table + overflow map for
    * non-ASCII code points) and the vertical-delta words, all reused
    * across calls so the hot loop allocates nothing. */
  private final class MyersScratch {
    var peqA = new Array[Long](128 * 4) // ASCII symbol × block, stride = B
    val peqO = new java.util.HashMap[Integer, Array[Long]]()
    var pv = new Array[Long](4)
    var mv = new Array[Long](4)
    var cpA = new Array[Int](640) // decoded core code points, per side
    var cpB = new Array[Int](640)
  }
  private val myersLocal = new ThreadLocal[MyersScratch] {
    override def initialValue() = new MyersScratch
  }

  /** Decode UTF-8 bytes [from, until) into code points. Returns the
    * count. Matches `String.codePoints` on any valid UTF-8 input. Spark
    * strings are not guaranteed valid (a binary cast keeps any bytes), so
    * continuation reads stop at `until`: a multi-byte sequence cut short
    * by the end decodes as ONE code point, the way `numChars` counts it,
    * instead of reading past the range. */
  private def utf8Decode(bytes: Array[Byte], from: Int, until: Int,
      out: Array[Int]): Int = {
    var i = from
    var n = 0
    while (i < until) {
      val b = bytes(i)
      if (b >= 0) { // ASCII fast path: tight copy, no length dispatch
        out(n) = b; i += 1
      } else {
        val b0 = b & 0xFF
        val len = if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4
        val end = math.min(i + len, until)
        var cp = b0 & (0xFF >>> (len + 1)) // the lead's payload bits
        i += 1
        while (i < end) { cp = (cp << 6) | (bytes(i) & 0x3F); i += 1 }
        out(n) = cp
      }
      n += 1
    }
    n
  }

  /** C45's capped edit distance in one call: lev(a, b) when ≤ k =
    * max(chars)/5, else −1 — the exact value of the old
    * `CASE WHEN |Δlen| > k THEN -1 ELSE levenshtein(a, b, k)` column.
    * Edit distance is a pure function, so any correct implementation is
    * bit-identical to both engines' builtins; this one adds the standard
    * exact-preserving reductions the builtins skip:
    * |Δlen| pre-gate, common-PREFIX/SUFFIX stripping (near-dup candidates
    * share most of their text, so the DP usually runs over a tiny
    * differing core), then the Myers bit-parallel DP (Myers, JACM 1999;
    * blocked per Hyyrö 2003) over the core — 64 DP cells per word op
    * instead of one — with the same Ukkonen-style cutoff the banded DP
    * used: the bottom-row score can recover at most 1 per remaining text
    * column, so a pair whose score minus remaining columns exceeds k can
    * never come back and exits after ~k columns. Spec-pinned equal to the
    * builtin on randomized inputs (KernelsSpec). */
  def levCapped(a: UTF8String, b: UTF8String): Long = {
    // the |Δlen| gate needs only the code-point COUNTS — numChars is a
    // plain lead-byte scan, so the ~60% of candidate pairs the gate
    // rejects never pay a decode at all (the old toString.codePoints
    // stream decoded BOTH full strings before gating)
    val la = a.numChars()
    val lb = b.numChars()
    val k = math.max(la, lb) / 5
    if (math.abs(la - lb) > k) return -1L
    val ba = a.getBytes
    val bb = b.getBytes
    val na = ba.length
    val nb = bb.length
    // byte-level common prefix/suffix strip (lev is invariant under both),
    // snapped to code-point boundaries. In valid UTF-8 a position is a
    // boundary iff its byte is not a continuation byte, and at the first
    // differing position the classification provably agrees between the
    // two strings (the preceding lead byte is shared and determines the
    // sequence length), so one snap serves both sides.
    val minB = math.min(na, nb)
    var p = java.util.Arrays.mismatch(ba, 0, minB, bb, 0, minB) // SIMD intrinsic
    if (p < 0) p = minB
    if (p < minB) { while (p > 0 && (ba(p) & 0xC0) == 0x80) p -= 1 }
    var sfx = 0
    while (sfx < minB - p && ba(na - 1 - sfx) == bb(nb - 1 - sfx)) sfx += 1
    while (sfx > 0 && (ba(na - sfx) & 0xC0) == 0x80) sfx -= 1
    val s = myersLocal.get()
    // decode ONLY the differing cores (near-dup pairs share most bytes)
    if (s.cpA.length < na - p - sfx) s.cpA = new Array[Int](na - p - sfx)
    if (s.cpB.length < nb - p - sfx) s.cpB = new Array[Int](nb - p - sfx)
    val m0 = utf8Decode(ba, p, na - sfx, s.cpA)
    val n0 = utf8Decode(bb, p, nb - sfx, s.cpB)
    if (m0 == 0) return if (n0 <= k) n0.toLong else -1L
    if (n0 == 0) return if (m0 <= k) m0.toLong else -1L
    // pattern = shorter core side (fewer bit-blocks), text = longer
    val (pat, m, txt, n) =
      if (m0 <= n0) (s.cpA, m0, s.cpB, n0) else (s.cpB, n0, s.cpA, m0)
    val nB = (m + 63) >>> 6
    if (s.pv.length < nB) {
      s.pv = new Array[Long](nB)
      s.mv = new Array[Long](nB)
      s.peqA = new Array[Long](128 * nB)
    } else {
      // zero exactly the read range of this call's stride; stale bits from
      // a larger previous stride live beyond 128·nB and are never read
      java.util.Arrays.fill(s.peqA, 0, 128 * nB, 0L)
    }
    if (!s.peqO.isEmpty) s.peqO.clear()
    var i = 0
    while (i < m) {
      val c = pat(i)
      if (c < 128) s.peqA(c * nB + (i >>> 6)) |= 1L << (i & 63)
      else {
        var arr = s.peqO.get(c)
        if (arr == null) { arr = new Array[Long](nB); s.peqO.put(c, arr): Unit }
        arr(i >>> 6) |= 1L << (i & 63)
      }
      i += 1
    }
    var blk = 0
    while (blk < nB) { s.pv(blk) = -1L; s.mv(blk) = 0L; blk += 1 }
    val lastMask = 1L << ((m - 1) & 63)
    var score = m
    var j = 0
    while (j < n) {
      val c = txt(j)
      val peqBase = if (c < 128) c * nB else -1
      val peqArr = if (peqBase < 0) s.peqO.get(c) else null
      var hin = 1 // the row-0 boundary: D(0, j+1) − D(0, j) = +1 always
      blk = 0
      while (blk < nB) {
        var eq =
          if (peqBase >= 0) s.peqA(peqBase + blk)
          else if (peqArr != null) peqArr(blk)
          else 0L
        val pv0 = s.pv(blk)
        val mv0 = s.mv(blk)
        val xv = eq | mv0
        if (hin < 0) eq |= 1L
        val xh = (((eq & pv0) + pv0) ^ pv0) | eq
        var ph = mv0 | ~(xh | pv0)
        var mh = pv0 & xh
        // hout at this block's bottom row: bit 63 feeds the next block's
        // carry; the LAST block reads row m−1 (bits above it are garbage
        // that only ever propagates upward, never read)
        val mask = if (blk == nB - 1) lastMask else 0x8000000000000000L
        val hout = if ((ph & mask) != 0L) 1 else if ((mh & mask) != 0L) -1 else 0
        ph <<= 1
        mh <<= 1
        if (hin > 0) ph |= 1L else if (hin < 0) mh |= 1L
        s.pv(blk) = mh | ~(xv | ph)
        s.mv(blk) = ph & xv
        hin = hout
        blk += 1
      }
      score += hin
      // cutoff: each remaining text column changes the bottom-row score by
      // at most ±1, so score − remaining > k can never recover
      if (score - (n - 1 - j) > k) return -1L
      j += 1
    }
    if (score <= k) score.toLong else -1L
  }

  /** Sequential-fold dot product of two float vectors as doubles — the same
    * left-to-right summation order as `list_reduce`, so bit-exact. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Sequential-fold squared norm. */
  def norm2F(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    s
  }

  /** Multi-table LSH: number of independent hash tables. Single-table
    * sign-LSH recall decays fast with bucket granularity (measured 0.02-0.08
    * recall@10 on the test corpus); OR-ing [[LshTables]] independent tables
    * recovers ~1−(1−r)^T while per-probe work stays T·corpus/2^planes —
    * bounded, never corpus². */
  val LshTables: Int = 16

  /** Planes (bucket bits) per LSH table — 2^4 = 16 buckets per table;
    * few planes on purpose: wider buckets raise per-table recall, the
    * table union multiplies it. Measured
    * recall@10 at 16×4: 0.84 at sf0.001 / 0.78 at sf0.01 (was 0.46 at the
    * round-6 8×5 sizing) vs 0.08 single-table, at ~60% of the brute-force
    * candidate volume on this corpus. The test corpus is too small for the
    * volume ratio to look good (T/2^planes only prunes when buckets hold
    * many docs); at real scale PLANES grow with log(corpus) — e.g. 16-20
    * planes at 10⁹ vectors — keeping per-table buckets cell-sized, and
    * TABLES stay the recall knob, so candidate work remains T·n/2^planes,
    * bounded and tunable, never corpus². */
  val LshPlanes: Int = 4

  /** One sign-LSH bucket per table: table t uses planes with GLOBAL index
    * g = t·[[LshPlanes]]+p, weights [[planeW]](g, j) over dims 0..63; bit
    * p of table t's bucket is set when the sequential-fold dot with plane
    * g is > 0. The weights are closed-form integers, so the DuckDB twin is
    * the same arithmetic. Requires ≥64 dims — UnsafeArrayData reads past
    * numElements are silent garbage, not exceptions, so the guard must be
    * explicit. */
  def lshBuckets(a: ArrayData): ArrayData = {
    if (a.numElements() < 64)
      throw new IllegalArgumentException(
        s"graft_lsh_buckets requires >= 64 dims, got ${a.numElements()}")
    val out = new Array[Int](LshTables)
    var t = 0
    while (t < LshTables) {
      var acc = 0
      var p = 0
      while (p < LshPlanes) {
        val g = t * LshPlanes + p
        var s = 0.0
        var j = 0
        while (j < 64) {
          s += a.getFloat(j).toDouble * planeW(g, j).toDouble
          j += 1
        }
        if (s > 0.0) acc |= 1 << p
        p += 1
      }
      out(t) = acc
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Count-min sketch geometry: depth (independent hash rows) × width
    * (cells per row). 4×64 = 256 longs — merges cellwise, so the sketch is
    * a distributive aggregate: partial sketches combine map-side like a
    * sum, one tiny fixed-size state per partition at any corpus size. */
  val CmsDepth: Int = 4
  val CmsWidth: Int = 64

  /** Base string hash for the sketch: sequential fold
    * acc = (acc·31 + codepoint) mod p — identical to DuckDB's
    * `list_reduce` over `ascii()` codepoints (fold from the first element).
    */
  def cmsBaseHash(s: UTF8String): Long = {
    var acc = 0L
    val it = s.toString.codePoints.iterator
    while (it.hasNext) acc = (acc * 31 + it.next().toLong) % P
    acc
  }

  /** Flat cell indices (d·width + g_d) of a key in a depth×width sketch,
    * using the same universal hash family as the MinHash rows:
    * g_d = ((A_{d+1}·h + B_{d+1}) mod p) mod width. Depth rows are the
    * 1..depth PREFIX of the quadratic family (the production 4×64 geometry
    * uses rows 1-4), so every sweep geometry shares the production
    * arithmetic — the sweep measures geometry, never a different hash. */
  def cmsCellsG(s: UTF8String, depth: Int, width: Int): ArrayData = {
    val h = cmsBaseHash(s)
    val out = new Array[Long](depth)
    var d = 0
    while (d < depth) {
      val a = rowA(d + 1)
      val b = rowB(d + 1)
      out(d) = d.toLong * width + ((a * h + b) % P) % width
      d += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Production-geometry cells — delegates to [[cmsCellsG]] so the default
    * sketch and the sweep can never drift. */
  def cmsCells(s: UTF8String): ArrayData = cmsCellsG(s, CmsDepth, CmsWidth)

  /** Bloom-filter geometry for the decontamination screen (C84):
    * [[BloomBits]] bits (2^18 = 32 KiB as [[BloomWordCount]] longs), k =
    * [[BloomK]] hash rows drawn from the quadratic [[rowA]]/[[rowB]] family
    * at rows [[BloomRow0]]..[[BloomRow0]]+k−1 — disjoint from the MinHash
    * rows (1..12) and the CMS rows (1..4), so adding the
    * bloom cannot correlate with any existing sketch. At the test bench-set
    * cardinality (~hundreds of distinct grams) the load factor is far below
    * the 1%-FP design point n ≈ m/(10k); a production deployment scales m
    * with the benchmark-suite gram count, not with the corpus. */
  val BloomBits: Int = 1 << 18
  val BloomWordCount: Int = BloomBits / 64
  val BloomK: Int = 5
  val BloomRow0: Int = 20

  /** Bit position of base-hash h under bloom row `row` in an m-bit filter:
    * ((A_row·(h mod p) + B_row) mod p) mod m. */
  def bloomPos(h: Long, row: Int, mBits: Int): Int =
    (((rowA(row.toLong) * (h % P) + rowB(row.toLong)) % P) % mBits).toInt

  /** The k bit positions of a gram string (via [[cmsBaseHash]]) in an
    * m-bit filter — the build-side kernel: explode, OR into words, done.
    * m rides as a second (constant-folded) argument so a deployment sizes
    * the filter to ITS benchmark-suite gram count. */
  def bloomCells(s: UTF8String, mBits: Int): ArrayData = {
    val h = cmsBaseHash(s)
    val out = new Array[Long](BloomK)
    var r = 0
    while (r < BloomK) {
      out(r) = bloomPos(h, BloomRow0 + r, mBits).toLong
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Membership probe against a built word array (m = 64·words.length,
    * carried by the filter itself): true iff all k bits set. Never a false
    * negative (every inserted gram set exactly these bits); false
    * positives are resolved downstream by the exact confirm join. */
  def bloomHit(h: Long, words: Array[Long]): Boolean = {
    val m = words.length << 6
    var r = 0
    while (r < BloomK) {
      val p = bloomPos(h, BloomRow0 + r, m)
      if ((words(p >> 6) & (1L << (p & 63))) == 0L) return false
      r += 1
    }
    true
  }

  /** Gram-matrix aggregate geometry (C88): [[GramDims]]² quantized-product
    * cells + [[GramDims]] per-dim sums + 1 count = 4161 longs (33 KiB of
    * distributive state per partition at ANY corpus size). Quantization
    * q = floor(x·[[GramScale]] + 0.5) makes every sum an exact integer —
    * the C62 device — and the scale is sized for headroom: q² ≤ 10^8 per
    * element (unit-ish embeddings), so the product sums stay inside a
    * signed long past 10^10 vectors. */
  val GramDims: Int = 64
  val GramScale: Long = 10000L
  val GramBufLen: Int = GramDims * GramDims + GramDims + 1

  def gramQ(x: Float): Long =
    math.floor(x.toDouble * GramScale + 0.5).toLong

  /** Accumulate one embedding into a gram buffer: upper-triangle product
    * cells (i·64 + j for i ≤ j), per-dim sums, count. */
  def gramUpdate(buf: Array[Long], emb: ArrayData): Unit = {
    val n = math.min(GramDims, emb.numElements())
    val q = new Array[Long](GramDims)
    var i = 0
    while (i < n) { q(i) = gramQ(emb.getFloat(i)); i += 1 }
    i = 0
    while (i < GramDims) {
      buf(GramDims * GramDims + i) += q(i)
      var j = i
      while (j < GramDims) {
        buf(i * GramDims + j) += q(i) * q(j)
        j += 1
      }
      i += 1
    }
    buf(GramBufLen - 1) += 1L
  }

  /** HyperLogLog registers: m = 64 (p = 6 index bits). 64 max-mergeable
    * bytes summarize a distinct count at any corpus size — the distributed
    * answer to COUNT(DISTINCT) when exact distinct is a full key shuffle. */
  val HllM: Int = 64

  /** Max rho at the production m = 64: 48 hash bits − 6 index bits leave a
    * 42-bit window, rho ∈ [1, 43]. */
  val HllMaxRho: Int = 43

  /** alpha_64 · m² for the raw HLL estimate, precomputed once so operator
    * and oracle interpolate the IDENTICAL double literal. */
  val HllAlphaM2: Double = 0.709 * 64.0 * 64.0

  /** Thread-local scratch for [[hllHash]]: a reused MessageDigest plus
    * input (decimal digits of a long, ≤ 20 bytes) and output (16-byte md5)
    * buffers — this is the inner loop of full-table aggregate scans
    * (B20/B48/B51), so zero per-row allocation. */
  private val hllMdLocal =
    new ThreadLocal[(MessageDigest, Array[Byte], Array[Byte])] {
      override def initialValue() =
        (MessageDigest.getInstance("MD5"), new Array[Byte](20),
          new Array[Byte](16))
    }

  /** HLL input hash: the first 12 hex nibbles of md5(decimal string of x) —
    * 48 uniformly-mixed bits both engines produce bit-identically (md5 hex
    * is already the cross-engine workhorse). 48 bits, not fewer, so the
    * hash space never saturates at deployment cardinalities (distinct
    * values stop colliding below ~2^48 ≈ 2.8·10^14 — comfortably past a
    * 100 TB key column; upstream HLLs hash to 64 bits but 48 is the most
    * the exact-double oracle contract allows: Σ2^(−rho) spans ≤ 49
    * exponent bits for every supported m, inside the 53-bit mantissa).
    * An affine (A·x + B) mod p hash
    * is NOT usable here, measured, not hypothetical: HLL's rho statistic
    * reads the leading bits of h div m, and affine maps of sequential ids
    * keep those bits on an arithmetic progression — the B48 sweep measured
    * 0.9-1.1 RELATIVE error at m = 32..64 on 10k sequential event ids
    * (theory: 0.13-0.18), non-monotone in m. With md5 mixing the measured
    * curve sits within ~1σ of 1.04/√m at every probed m. */
  def hllHash(x: Long): Long = {
    val (md, in, out) = hllMdLocal.get()
    // decimal digits of x written into `in` from the right, no allocation
    // (negative work-space covers Long.MinValue)
    var i = in.length
    var v = if (x > 0L) -x else x
    while ({ i -= 1
      in(i) = ('0' - (v % 10L)).toByte
      v /= 10L
      v != 0L }) ()
    if (x < 0L) { i -= 1; in(i) = '-' }
    md.update(in, i, in.length - i)
    md.digest(out, 0, 16)
    var h = 0L
    var j = 0
    while (j < 12) {
      val byte = out(j >> 1) & 0xff
      val nib = if ((j & 1) == 0) byte >> 4 else byte & 0xf
      h = h * 16 + nib
      j += 1
    }
    h
  }

  /** The identical 48-bit hash as a DuckDB SQL fragment. */
  def hllHashSql(x: String): String =
    s"""list_reduce(list_transform(range(1, 13), i ->
      CAST(strpos('0123456789abcdef',
        substr(md5(CAST(($x) AS VARCHAR)), CAST(i AS INT), 1)) - 1
        AS BIGINT)),
      (acc, c) -> acc * 16 + c)"""

  /** Max rho for an m-register HLL (m a power of two): the 48-bit hash
    * leaves 48 − log2(m) window bits, rho ∈ [1, window + 1]. The floor is
    * m = 16 — the smallest register count Flajolet et al. publish an α
    * constant for; below that the estimator has no defined bias
    * correction. */
  def hllMaxRhoOf(m: Int): Int = {
    require(m >= 16 && m <= (1 << 20) && Integer.bitCount(m) == 1,
      s"HLL m must be a power of two in [16, 2^20], got $m")
    49 - Integer.numberOfTrailingZeros(m)
  }

  /** alpha_m for the raw HLL estimate — the standard bias constants
    * (Flajolet et al. 2007): 0.673 / 0.697 / 0.709 for m = 16/32/64,
    * 0.7213/(1 + 1.079/m) for m ≥ 128 (the formula's published domain;
    * [[hllMaxRhoOf]] floors m at 16 so no m ever falls outside these). */
  def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m.toDouble)
  }

  /** alpha_m · m², the one double literal operator and oracle share. */
  def hllAlphaM2Of(m: Int): Double = hllAlpha(m) * m.toDouble * m.toDouble

  /** (register index, rho) of a value in an m-register sketch:
    * h = [[hllHash]](x), register = h mod m, rho = leading-zero count of
    * the remaining window + 1 (= maxRho − bitlength(h div m); maxRho when
    * the window is zero). */
  def hllRegRho(x: Long, m: Int): (Int, Int) = {
    val h = hllHash(x)
    val reg = (h % m).toInt
    val w = h / m
    val maxRho = hllMaxRhoOf(m)
    val rho = if (w == 0L) maxRho
      else maxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
    (reg, rho)
  }

  /** Production-m register/rho — delegates to the parameterized form. */
  def hllRegRho(x: Long): (Int, Int) = hllRegRho(x, HllM)

  /** Production subdivision for the quantile sketch: s index bits per
    * octave → relative value error ≤ 2^−6 ≈ 1.6% per bucket, 3712 longs
    * (29 KiB) of distributive state at any corpus size. */
  val QSketchS: Int = 6

  /** The per-mille quantile grid the quantile queries read (exact
    * rationals, so target ranks are integer arithmetic on both engines). */
  val QuantileGridPm: Seq[Int] = Seq(250, 500, 750, 900, 990)

  /** Bucket count of an s-bit quantile sketch: 2^s exact small-value
    * buckets + (63 − s) octaves × 2^s linear subdivisions each for
    * v < 2^63 — closed form (64 − s)·2^s. */
  def qsketchBuckets(s: Int): Int = {
    require(s >= 1 && s <= 16, s"qsketch subdivision must be in [1,16], got $s")
    (64 - s) << s
  }

  /** Log2-linear bucket of a nonnegative long (HDR-histogram geometry —
    * the DETERMINISTIC mergeable quantile summary; see
    * [[QuantileSketchAgg]] for why not a literal KLL):
    * v < 2^s maps to itself (exact); otherwise with e = bitlength(v) − 1
    * the top s+1 bits m = v >> (e−s) ∈ [2^s, 2^(s+1)) index a linear
    * subdivision of the octave: bucket = (e−s)·2^s + m. Monotone in v,
    * continuous across octave boundaries, pure integer/bit arithmetic
    * both engines reproduce exactly. Values ≤ 0 clamp to bucket 0 (the
    * engine's money/count/length domains are nonnegative). */
  def qsketchBucket(v: Long, s: Int): Int =
    if (v <= 0L) 0
    else if (v < (1L << s)) v.toInt
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      (((e - s) << s) + (v >>> (e - s))).toInt
    }

  /** Inclusive lower bound of bucket b — the value the quantile readout
    * returns. With k = b >> s: k ≤ 1 means the bucket is exact (value =
    * b); otherwise the octave is e = s + k − 1 and the bound is
    * (b − (k−1)·2^s) << (k−1). Monotone in b; qsketchLower(b+1) is
    * bucket b's exclusive upper bound. The one-past-the-top index
    * b = (64−s)·2^s (the top bucket's upper bound) would be 2^63, which
    * overflows Long — it clamps to Long.MaxValue, making the top bucket's
    * bracket [lo, Long.MaxValue] inclusive (every representable value is
    * covered; no negative est_hi). */
  def qsketchLower(b: Int, s: Int): Long = {
    if (b >= qsketchBuckets(s)) return Long.MaxValue
    val k = b >> s
    if (k <= 1) b.toLong
    else (b.toLong - ((k - 1).toLong << s)) << (k - 1)
  }

  /** The identical bucket map as a DuckDB SQL fragment (x must be a
    * BIGINT expression; bin() gives the exact bit length). */
  def qsketchBucketSql(x: String, s: Int): String = s"""
    CASE WHEN ($x) <= 0 THEN 0
         WHEN ($x) < ${1L << s} THEN ($x)
         ELSE (CAST(length(bin($x)) AS BIGINT) - 1 - $s) * ${1L << s}
              + (($x) >> (CAST(length(bin($x)) AS BIGINT) - 1 - $s))
    END"""

  /** The identical lower-bound map as a DuckDB SQL fragment (b BIGINT) —
    * including the one-past-the-top clamp to Long.MaxValue (without it the
    * top octave's exclusive upper bound 2^63 wraps negative, and Spark's
    * shiftleft wrap vs DuckDB's << overflow behavior would diverge). */
  def qsketchLowerSql(b: String, s: Int): String = s"""
    CASE WHEN ($b) >= ${qsketchBuckets(s)} THEN ${Long.MaxValue}
         WHEN (($b) >> $s) <= 1 THEN ($b)
         ELSE (($b) - ((($b) >> $s) - 1) * ${1L << s})
              << ((($b) >> $s) - 1)
    END"""

  /** [[qsketchLower]] as a Spark SQL fragment (shiftleft/shiftright — the
    * Spark-side spelling of [[qsketchLowerSql]]'s >> / <<), with the same
    * one-past-the-top clamp. */
  def qsketchLowerSparkSql(b: String, s: Int): String =
    s"CASE WHEN ($b) >= ${qsketchBuckets(s)} THEN ${Long.MaxValue}L " +
      s"WHEN shiftright($b, $s) <= 1 THEN CAST($b AS BIGINT) " +
      s"ELSE shiftleft(CAST($b AS BIGINT) - (CAST(shiftright($b, $s) AS " +
      s"BIGINT) - 1) * ${1L << s}, shiftright($b, $s) - 1) END"

  /** Spark SQL fragment picking the 0-based index of the FIRST bucket
    * whose cumulative count reaches rank column/expr `r`, from a bucket-
    * count array `regs` — the quantile readout as a single higher-order
    * fold (the streaming twin's per-window readout; the batch queries use
    * the relational explode+cumsum instead, same arithmetic). */
  def qsketchPickSparkSql(regs: String, r: String): String = s"""
    aggregate($regs,
      named_struct('c', CAST(0 AS BIGINT), 'i', CAST(0 AS BIGINT),
                   'b', CAST(-1 AS BIGINT)),
      (acc, x) -> named_struct('c', acc.c + x, 'i', acc.i + 1,
        'b', CASE WHEN acc.b >= 0 THEN acc.b
                  WHEN acc.c + x >= ($r) THEN acc.i
                  ELSE CAST(-1 AS BIGINT) END),
      acc -> acc.b)"""

  /** One SQL kernel: its name, the usage string the session catalog
    * reports, its expression builder and, for a scalar kernel, the
    * contract every [[KernelCall]] of that name evaluates. */
  final case class Kernel(name: String, usage: String,
      builder: Seq[Expression] => Expression, scalar: Option[Scalar] = None) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(
      Kernels.getClass.getName.stripSuffix("$"), null, name, usage,
      "", "", "", "", "", "", "")
  }

  /** A scalar kernel's contract: its input types (checked, never cast),
    * its result type, whether the result itself can be null (beyond a
    * null argument), the static method generated code calls, and the
    * interpreted body, a direct call of that same method. */
  final case class Scalar(inputs: Seq[DataType], result: DataType,
      nullResult: Boolean, method: String, body: Array[Any] => Any)

  /** Geometry and width arguments must be integer literals, evaluated
    * once when the call is built; any other argument fails analysis with
    * this message instead of an opaque eval() NPE. */
  private def litInt(e: Expression): Int = {
    require(e.foldable && e.dataType == IntegerType && e.eval() != null,
      s"geometry argument must be an integer literal, got: $e")
    e.eval().asInstanceOf[Int]
  }

  /** The count-min geometry every CMS kernel accepts: depth rows share
    * the 1..12 quadratic hash family. */
  def requireCmsGeometry(depth: Int, width: Int): Unit =
    require(depth >= 1 && depth <= 12 && width >= 1,
      s"CMS geometry out of range: ${depth}x$width (depth rows share the " +
        "1..12 quadratic hash family)")

  /** Checks a call's trailing `n` arguments as integer literals and
    * passes them on as plain int literals. */
  private def geometry(n: Int)(check: Seq[Int] => Unit)(
      args: Seq[Expression]): Seq[Expression] = {
    val (data, geo) = args.splitAt(args.length - n)
    val ints = geo.map(litInt)
    check(ints)
    data ++ ints.map(Literal(_))
  }

  /** A scalar catalog entry: a call fills the trailing `default` if it is
    * one argument short, checks its arity and geometry, and becomes a
    * [[KernelCall]]. */
  private def scalar(name: String, usage: String, inputs: Seq[DataType],
      result: DataType, method: String, nullResult: Boolean = false,
      default: Option[Expression] = None,
      geometry: Seq[Expression] => Seq[Expression] = identity)(
      body: Array[Any] => Any): Kernel =
    Kernel(name, usage, { given =>
      val args = if (given.length == inputs.length - 1) given ++ default else given
      require(args.length == inputs.length,
        s"$name takes ${inputs.length} arguments, got ${given.length}")
      KernelCall(name, geometry(args))
    }, Some(Scalar(inputs, result, nullResult, method, body)))

  private def str(v: Any) = v.asInstanceOf[UTF8String]
  private def arr(v: Any) = v.asInstanceOf[ArrayData]
  private def int(v: Any) = v.asInstanceOf[Int]
  private val floats = ArrayType(FloatType)
  private val strings = ArrayType(StringType)
  private val longs = ArrayType(LongType, containsNull = false)
  private val grams = ArrayType(StringType, containsNull = false)
  private def codebook(id: String, norm: Boolean) = ArrayType(StructType(
    Seq(StructField(id, LongType), StructField("c_emb", ArrayType(DoubleType))) ++
      (if (norm) Seq(StructField("c_n2", DoubleType)) else Nil)))
  private def argmin(id: String) = StructType(Seq(
    StructField(id, LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  private val gramWidth = geometry(1) { case Seq(n) =>
    require(n >= 1 && n <= 16, s"gram width out of range: $n") } _

  /** Every SQL kernel, once: [[graft.GraftExtensions]] injects this table
    * into sessions built with the extension, and [[register]] adds it to
    * sessions built without. Adding a scalar kernel is one entry here. */
  val catalog: Seq[Kernel] = Seq(
    scalar("graft_minhash_sigs",
      "4-band x 3-row MinHash band signatures of a normalized string",
      Seq(StringType), grams, "shingleMinHash")(a => shingleMinHash(str(a(0)))),
    scalar("graft_minhash_rows",
      "the 12 raw MinHash row minima behind graft_minhash_sigs",
      Seq(StringType), longs, "minhashRowsArray")(a => minhashRowsArray(str(a(0)))),
    scalar("graft_simhash32",
      "32-bit SimHash of a token array (md5 nibble majority votes)",
      Seq(strings), LongType, "simHash32")(a => simHash32(arr(a(0)))),
    scalar("graft_winnow_fp",
      "winnowing fingerprint: min md5 hex over 5-char shingles",
      Seq(StringType), StringType, "winnowFp")(a => winnowFp(str(a(0)))),
    scalar("graft_dot",
      "sequential-fold double dot product of two float vectors",
      Seq(floats, floats), DoubleType, "dotF")(a => dotF(arr(a(0)), arr(a(1)))),
    scalar("graft_norm2",
      "sequential-fold squared norm of a float vector",
      Seq(floats), DoubleType, "norm2F")(a => norm2F(arr(a(0)))),
    scalar("graft_lsh_buckets",
      "per-table sign-LSH bucket ids (multi-table LSH) of a 64-dim float vector",
      Seq(floats), ArrayType(IntegerType, containsNull = false), "lshBuckets")(
      a => lshBuckets(arr(a(0)))),
    scalar("graft_str_hash",
      "deterministic polynomial string hash mod 2^31-1 (codepoint fold)",
      Seq(StringType), LongType, "cmsBaseHash")(a => cmsBaseHash(str(a(0)))),
    scalar("graft_bloom_cells",
      "bloom-filter bit positions of a gram string (k rows over m bits)",
      Seq(StringType, IntegerType), longs, "bloomCells",
      default = Some(Literal(BloomBits)), geometry = geometry(1) { case Seq(m) =>
        require(m >= 1, s"bloom filter size must be a positive bit count, got $m") })(
      a => bloomCells(str(a(0)), int(a(1)))),
    scalar("graft_cms_cells",
      "flat count-min-sketch cell indices of a string key",
      Seq(StringType), longs, "cmsCells")(a => cmsCells(str(a(0)))),
    scalar("graft_cms_cells_g",
      "count-min cell indices at an explicit depth x width geometry",
      Seq(StringType, IntegerType, IntegerType), longs, "cmsCellsG",
      geometry = geometry(2) { case Seq(d, w) => requireCmsGeometry(d, w) })(
      a => cmsCellsG(str(a(0)), int(a(1)), int(a(2)))),
    Kernel("graft_cms_sketch",
      "count-min sketch aggregate of a string column (flat depth x width matrix)",
      args => CountMinSketchAgg(args.head)),
    Kernel("graft_cms_sketch_g",
      "count-min sketch aggregate at an explicit depth x width geometry",
      args => CountMinSketchAgg(args(0), litInt(args(1)), litInt(args(2)))),
    Kernel("graft_hll_sketch",
      "HyperLogLog register-vector aggregate of a long column (m=64)",
      args => HllSketchAgg(args.head)),
    Kernel("graft_hll_sketch_m",
      "HyperLogLog register-vector aggregate at an explicit register count",
      args => HllSketchAgg(args(0), litInt(args(1)))),
    Kernel("graft_gram_agg",
      "quantized Gram/covariance matrix aggregate of an embedding column",
      args => GramMatrixAgg(args.head)),
    Kernel("graft_qsketch",
      "log2-linear quantile-sketch bucket counts of a long column (s=6)",
      args => QuantileSketchAgg(args.head)),
    Kernel("graft_qsketch_s",
      "quantile-sketch bucket counts at an explicit subdivision s",
      args => QuantileSketchAgg(args(0), litInt(args(1)))),
    scalar("graft_common_count",
      "exact |set(a) ∩ set(b)| of two long arrays (allocation-free)",
      Seq(longs, longs), LongType, "commonCount")(a => commonCount(arr(a(0)), arr(a(1)))),
    scalar("graft_lev_capped",
      "edit distance when <= max(chars)/5 else -1 (prefix/suffix-stripped bit-parallel DP)",
      Seq(StringType, StringType), LongType, "levCapped")(a => levCapped(str(a(0)), str(a(1)))),
    scalar("graft_word_grams",
      "' '-joined word n-grams of a token array (codegen'd concat_ws loop)",
      Seq(strings, IntegerType), grams, "wordGrams", geometry = gramWidth)(
      a => wordGrams(arr(a(0)), int(a(1)))),
    scalar("graft_word_grams_distinct",
      "first-occurrence-distinct word n-grams of a token array",
      Seq(strings, IntegerType), grams, "wordGramsDistinct", geometry = gramWidth)(
      a => wordGramsDistinct(arr(a(0)), int(a(1)))),
    scalar("graft_km_argmin",
      "nearest-centroid (cluster, dist) over a cluster-sorted codebook",
      Seq(floats, codebook("cluster", norm = false)), argmin("cluster"),
      "kmArgmin", nullResult = true)(a => kmArgmin(arr(a(0)), arr(a(1)))),
    scalar("graft_ivf_argmax",
      "IVF nearest-cell id: argmax cosine over a cent_id-sorted codebook",
      Seq(floats, DoubleType, codebook("cent_id", norm = true)), LongType,
      "ivfArgmax", nullResult = true)(
      a => ivfArgmax(arr(a(0)), a(1).asInstanceOf[Double], arr(a(2)))),
    scalar("graft_pq_codes",
      "per-subspace (cent_id, dist) argmins over a cent_id-sorted codebook",
      Seq(floats, codebook("cent_id", norm = false), IntegerType, IntegerType),
      ArrayType(argmin("cent_id"), containsNull = false), "pqCodes",
      nullResult = true, geometry = geometry(2) { case Seq(nSub, subDim) =>
        require(nSub >= 1 && nSub <= 64 && subDim >= 1, s"PQ geometry: $nSub x $subDim") })(
      a => pqCodes(arr(a(0)), arr(a(1)), int(a(2)), int(a(3)))))

  /** Each scalar kernel's contract by name, as [[KernelCall]] reads it. */
  val scalars: Map[String, Scalar] = catalog.flatMap(k => k.scalar.map(k.name -> _)).toMap

  /** Installs the [[catalog]] as SQL temp functions into a session built
    * without [[graft.GraftExtensions]], the one installer such a session
    * needs: a session built by [[graft.GraftSession]] (or with
    * `spark.sql.extensions=graft.GraftExtensions`) already has every
    * kernel, and so has every session cloned from it, so operators never
    * call this. Idempotent and quiet: only the names the session lacks
    * are registered, so a re-register logs no "function replaced"
    * warning and a kernel added later is never skipped. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for (k <- catalog if !reg.functionExists(k.id))
      reg.registerFunction(k.id, k.info, k.builder)
  }
}

/** A call of one scalar kernel: the [[Kernels.catalog]] entry named
  * `name` declares its types and both of its bodies, so every scalar
  * kernel is this one expression and plans print its SQL name. Null in,
  * null out; input types are checked, never cast (`ExpectsInputTypes`);
  * generated code is one static call into [[Kernels]]. */
case class KernelCall(name: String, children: Seq[Expression])
    extends Expression with ExpectsInputTypes {
  @transient private lazy val k: Kernels.Scalar = Kernels.scalars(name)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def inputTypes: Seq[DataType] = k.inputs
  override def dataType: DataType = k.result
  override def nullable: Boolean = k.nullResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null) return null
      i += 1
    }
    k.body(args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val call =
      s"graft.functions.Kernels.${k.method}(${args.map(_.value).mkString(", ")})"
    val assign = if (!k.nullResult) s"${ev.value} = $call;" else {
      val r = ctx.freshName("r") // two calls can share one generated scope
      s"""Object $r = $call;
        ${ev.isNull} = $r == null;
        if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r;"""
    }
    val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      ev.copy(code = code"${args.map(_.code).mkString("\n")}\n$init\n$assign",
        isNull = FalseLiteral)
    } else {
      // short-circuits like nullSafeCodeGen: a null argument skips the rest
      val guarded = args.zip(children).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((a, c), inner) =>
          s"${a.code}\n" + ctx.nullSafeExec(c.nullable, a.isNull.toString)(inner)
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$init\n$guarded")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

/** Bloom membership probe with the built filter bound as a reference
  * object — the filter rides the generated code's references array (32 KiB
  * once per task), so the probe is a branchy-but-tiny static call inside
  * whole-stage codegen: the corpus-side screen stays one narrow codegen'd
  * scan with NO join and NO shuffle. */
case class BloomHitExpr(child: Expression, words: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(LongType)
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(input: Any): Any =
    Kernels.bloomHit(input.asInstanceOf[Long], words)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.bloomHit($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomHitExpr =
    copy(child = newChild)
}

/** Count-min sketch of a string column as a custom Catalyst aggregate —
  * buffer is the flat depth×width cell matrix; update adds 1 to one cell
  * per hash row, merge is cellwise addition (commutative + associative, so
  * partial aggregation and any partition order give identical results).
  * Returns the matrix; point estimates are `min_d matrix[cells(key)[d]]`
  * (see [[Kernels.cmsCells]]). */
case class CountMinSketchAgg(
    child: Expression,
    depth: Int = Kernels.CmsDepth,
    width: Int = Kernels.CmsWidth,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {

  Kernels.requireCmsGeometry(depth, width)
  private val size = depth * width
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](size)

  override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val cells = Kernels.cmsCellsG(v.asInstanceOf[UTF8String], depth, width)
      var d = 0
      while (d < depth) {
        buf(cells.getLong(d).toInt) += 1L
        d += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < size) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(size * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](size)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinSketchAgg =
    copy(child = newChildren.head)
}

/** Quantized Gram/covariance matrix of an embedding column as a custom
  * Catalyst aggregate — buffer is the flat [[Kernels.GramBufLen]] cell
  * array (upper-triangle q_i·q_j product sums, per-dim q sums, count);
  * update quantizes one vector and accumulates ([[Kernels.gramUpdate]]);
  * merge is cellwise addition (commutative + associative → distributive
  * partial aggregation, 33 KiB of state per partition at any corpus
  * size). Every cell is an exact integer, so the result is
  * order-independent and bit-reproducible — a distributed double
  * covariance would be neither. */
case class GramMatrixAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {

  private val size = Kernels.GramBufLen
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](size)

  override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) Kernels.gramUpdate(buf, v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < size) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(size * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](size)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramMatrixAgg =
    copy(child = newChildren.head)
}

/** HyperLogLog register vector of a long column as a custom Catalyst
  * aggregate — buffer is the m = [[Kernels.HllM]] register array; update
  * max-combines one register per value ([[Kernels.hllRegRho]]); merge is
  * elementwise max (commutative, associative AND idempotent, so partial
  * aggregation, any partition order, and re-merges of overlapping partials
  * all give identical registers). Returns the registers; the raw estimate
  * alpha·m²/Σ2^(−reg) is computed on top by the caller. */
case class HllSketchAgg(
    child: Expression,
    m: Int = Kernels.HllM,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {

  Kernels.hllMaxRhoOf(m) // validates m is a power of two >= 16

  // hoisted out of update(): recomputing the window size per row would put
  // a require + two integer ops in the inner loop of full-table scans
  @transient private lazy val maxRho: Int = Kernels.hllMaxRhoOf(m)

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = Kernels.hllHash(v.asInstanceOf[Long])
      val reg = (h % m).toInt
      val w = h / m
      val rho = if (w == 0L) maxRho
        else maxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(reg)) buf(reg) = rho.toLong
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(m * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](m)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = newChildren.head)
}

/** The DETERMINISTIC mergeable quantile summary (B52-B54) — bucket counts
  * over [[Kernels.qsketchBucket]]'s log2-linear (HDR-histogram) geometry.
  * Fills KLL's role — mergeable quantiles with small bounded state — but
  * NOT via KLL's compactor: KLL compaction depends on arrival/merge order,
  * and Spark's partial-aggregation merge tree is nondeterministic, so a
  * literal KLL cannot satisfy this engine's contracts (bit-exact DuckDB
  * twin, registers invariant across partitionings). Bucket counts are a
  * pure distributive SUM: commutative, associative, partition-agnostic —
  * the B13/B20 precedent — at the cost of a fixed value-relative bucket
  * width 2^−s instead of KLL's distribution-free rank error. The readout
  * guarantee is still exact and spec-pinned: the returned bucket's
  * cumulative range brackets the target rank, so rank slack ≤ the bucket's
  * own mass and the value bracket [lower, upper) is ≤ 2^−s relative.
  * State: (64−s)·2^s longs (29 KiB at the production s = 6) per group at
  * ANY corpus size — where exact quantiles shuffle every value. The
  * grouping key is meant to be a SEGMENT (event type, day, month, shard
  * — B54/B55's shapes): a per-entity key (user, doc) would multiply the
  * 29 KiB buffer by the entity count in the aggregation hash map; at
  * that granularity size s down (s = 2 is 2 KiB at 25% brackets) or
  * pre-aggregate entities onto segments first. */
case class QuantileSketchAgg(
    child: Expression,
    s: Int = Kernels.QSketchS,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {

  private val nBuckets: Int = Kernels.qsketchBuckets(s) // validates s

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBuckets)

  override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) buf(Kernels.qsketchBucket(v.asInstanceOf[Long], s)) += 1L
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nBuckets) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(nBuckets * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](nBuckets)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketchAgg =
    copy(child = newChildren.head)
}
