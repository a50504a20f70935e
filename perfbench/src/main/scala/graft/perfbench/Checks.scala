package graft.perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Output checks. Each check is a pure function over collected results that
  * returns the problems it found (empty = pass), so the benchmark's own
  * test can feed it altered results and see them caught. */
object Checks {

  /** A value's content as text: byte arrays in hex, rows and arrays
    * element by element (their own `toString` is identity-based). */
  def render(v: Any): String = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case null => "null"
    case x => x.toString
  }

  /** Order-independent fingerprint of a result: the row multiset's hash. */
  def fingerprint(rows: Iterable[Any]): Long = {
    var sum, xor = 0L
    var n = 0
    rows.foreach { r =>
      val h = MurmurHash3.stringHash(render(r)).toLong
      sum += h; xor ^= h * 0x9E3779B97F4A7C15L; n += 1
    }
    MurmurHash3.finalizeHash(MurmurHash3.mix(sum.##, xor.##), n).toLong
  }

  /** Merged target slice: keys unique, and exactly |base ∪ window| rows. */
  def mergedSlice(merged: Seq[Long], base: Set[Long], window: Set[Long]): Seq[String] = {
    val distinct = merged.toSet
    val want = (base ++ window).size
    Seq(
      Option.when(distinct.size != merged.size)(
        s"merge left ${merged.size - distinct.size} duplicate keys"),
      Option.when(merged.size != want)(
        s"merge produced ${merged.size} rows, |base ∪ window| is $want")).flatten
  }

  /** Sync report (entity, input, loaded, rejected): loaded + rejected =
    * input, input equals the generated table, loaded equals the rows the
    * entity's validator returned. */
  def syncReport(rows: Seq[(String, Long, Long, Long)],
      inputRows: Map[String, Long], validRows: Map[String, Long]): Seq[String] =
    rows.flatMap { case (entity, in, loaded, rejected) =>
      Seq(
        Option.when(loaded + rejected != in)(
          s"$entity: loaded $loaded + rejected $rejected != input $in"),
        inputRows.get(entity).filter(_ != in).map(n =>
          s"$entity: report input $in != generated rows $n"),
        validRows.get(entity).filter(_ != loaded).map(n =>
          s"$entity: report loaded $loaded != validator rows $n")).flatten
    } ++ Option.when(rows.map(_._1).toSet != inputRows.keySet)(
      s"sync report entities ${rows.map(_._1).sorted} != ${inputRows.keySet.toSeq.sorted}")

  /** Daily report: the total row (paso 5) is the sum of the step rows and
    * its ok flag is the AND of theirs. Rows: (paso, counts, ok). */
  def dailyTotal(rows: Seq[(Long, Seq[Long], Boolean)]): Seq[String] = {
    val (total, steps) = rows.partition(_._1 == 5L)
    if (total.size != 1 || steps.isEmpty) Seq(s"daily report has ${total.size} total rows")
    else {
      val sums = steps.map(_._2).transpose.map(_.sum)
      Seq(
        Option.when(total.head._2 != sums)(
          s"daily total ${total.head._2} != sum of steps $sums"),
        Option.when(total.head._3 != steps.forall(_._3))(
          "daily total ok flag != AND of step flags")).flatten
    }
  }

  /** Nightly report: a total row exists and reads ok=true. Rows: (paso, ok). */
  def nightOk(rows: Seq[(Long, Boolean)]): Seq[String] =
    rows.find(_._1 == 8L) match {
      case Some((_, true)) => Nil
      case Some(_) => Seq(s"night report total ok=false: $rows")
      case None => Seq("night report has no total row")
    }

  /** A document's text as the dedup plans compare it: lower case, with
    * leading and trailing spaces removed. */
  def normalize(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT).replaceAll("^ +| +$", "")

  /** Duplicate clusters (doc_id, component_id, component_size): every
    * document of the LSH domain appears exactly once, and the clusters are
    * the connected components of the near-duplicate pairs — a driver-side
    * union-find — labelled by their smallest doc id. */
  def clusters(domain: Set[Long], pairs: Seq[(Long, Long)],
      rows: Seq[(Long, Long, Long)]): Seq[String] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val size = domain.toSeq.groupBy(find).map { case (r, m) => r -> m.size.toLong }
    val ids = rows.map(_._1)
    val wrong = rows.filter { case (d, c, n) =>
      domain(d) && (c != find(d) || n != size(find(d))) }
    Seq(
      Option.when(ids.distinct.size != ids.size)(
        s"clusters list ${ids.size - ids.distinct.size} documents twice"),
      Option.when(ids.toSet != domain)(
        s"clusters cover ${ids.toSet.size} documents, the LSH domain has ${domain.size} " +
          s"(${(ids.toSet -- domain).size} outside it, ${(domain -- ids).size} missing)"),
      Option.when(pairs.exists { case (a, b) => !domain(a) || !domain(b) })(
        "a near-duplicate pair lies outside the LSH domain"),
      wrong.headOption.map { case (d, c, n) =>
        s"${wrong.size} documents in the wrong cluster, e.g. doc $d in $c of size $n, " +
          s"union-find says ${find(d)} of size ${size(find(d))}" }).flatten
  }

  /** Edit-distance verdicts (doc_a, doc_b, lev_capped) equal the plain
    * dynamic program over the documents' normalized texts. */
  def editDistances(rows: Seq[(Long, Long, Long)], norm: Map[Long, String]): Seq[String] = {
    val wrong = rows.filter { case (a, b, lev) => levCapped(norm(a), norm(b)) != lev }
    wrong.headOption.map { case (a, b, lev) =>
      s"${wrong.size} of ${rows.size} edit distances differ from the plain DP, " +
        s"e.g. ($a, $b): $lev, DP says ${levCapped(norm(a), norm(b))}" }.toSeq
  }

  /** Capped edit distance as a plain dynamic program over code points:
    * the distance when it is ≤ max(len) / 5, else −1. */
  def levCapped(a: String, b: String): Long = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    val k = math.max(x.length, y.length) / 5
    var prev = Array.tabulate(y.length + 1)(identity)
    for (i <- 1 to x.length) {
      val cur = new Array[Int](y.length + 1)
      cur(0) = i
      for (j <- 1 to y.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      prev = cur
    }
    if (prev(y.length) <= k) prev(y.length) else -1
  }
}

/** Remembers each call's fingerprint and reports any call whose result
  * changed between passes of one run. */
final class Fingerprints {
  private val seen = mutable.Map[String, Long]()
  def check(call: String, rows: Iterable[Any]): Seq[String] = {
    val fp = Checks.fingerprint(rows)
    seen.get(call) match {
      case Some(prev) if prev != fp => Seq(s"$call: result changed between passes")
      case Some(_) => Nil
      case None => seen(call) = fp; Nil
    }
  }
}
