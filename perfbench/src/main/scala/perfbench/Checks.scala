package perfbench

import graft.model.TokenRow

/** Order-independent digest of a token table: row count plus the sum
  * and the xor of a 64-bit hash of every (doc_id, tokens, n_tok,
  * source) row. One flipped token, one dropped or duplicated row
  * changes it.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def strHash(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001B3L; i += 1 }
    mix(h)
  }

  def rowHash(docId: String, tokens: Array[Int], nTok: Int, source: String): Long = {
    var h = 0x84222325CBF29CE4L ^ tokens.length
    var i = 0
    while (i < tokens.length) { h = (h ^ (tokens(i) & 0xFFFFFFFFL)) * 0x100000001B3L; i += 1 }
    mix(mix(h) ^ strHash(docId) * 31 ^ strHash(source) * 17 ^ nTok.toLong)
  }

  def of(rows: Iterator[TokenRow]): Digest = {
    var n = 0L; var s = 0L; var x = 0L
    rows.foreach { r =>
      val h = rowHash(r.doc_id, r.tokens, r.n_tok, r.source)
      n += 1; s += h; x ^= h
    }
    Digest(n, s, x)
  }

  /** Digest of a Dataset, computed on the executors. */
  def ofDataset(ds: org.apache.spark.sql.Dataset[TokenRow]): Digest = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => Iterator.single(of(it))).collect().foldLeft(empty)(_ + _)
  }
}

/** Independent checkers: each recomputes the expected answer by a code
  * path that shares nothing with the graft function under test, and
  * returns the list of problems found (empty when the result is right).
  */
object Checks {

  def digest(what: String, got: Digest, want: Digest): Seq[String] =
    if (got == want) Nil else Seq(s"$what: digest $got, expected $want")

  /** Rows compared as a multiset, ignoring order. */
  def sameRows(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Seq[String] = {
    def canon(rows: Seq[Seq[Any]]) = rows.map(_.mkString("\u0001")).sorted
    val g = canon(got); val w = canon(want)
    if (g == w) Nil
    else {
      val missing = w.diff(g).take(3); val extra = g.diff(w).take(3)
      Seq(s"$what: ${g.length} rows vs ${w.length} expected; " +
        s"missing ${missing.map(_.replace('\u0001', ',')).mkString("[", "; ", "]")}, " +
        s"unexpected ${extra.map(_.replace('\u0001', ',')).mkString("[", "; ", "]")}")
    }
  }

  /** Rows compared in order (ranked results). */
  def sameRanking(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Seq[String] =
    if (got.map(_.mkString(",")) == want.map(_.mkString(","))) Nil
    else Seq(s"$what: ranking ${got.take(3).map(_.mkString(",")).mkString("[", "; ", "]")} " +
      s"vs expected ${want.take(3).map(_.mkString(",")).mkString("[", "; ", "]")}")

  // ---- near-duplicate removal -----------------------------------------

  private val ws = "[ \t\n\u000B\f\r]+"

  /** Distinct word n-grams of a text, as strings (not hashes). */
  def shingles(text: String, n: Int): Set[String] = {
    val words = text.toLowerCase(java.util.Locale.ROOT).split(ws).filter(_.nonEmpty)
    if (words.length < n) Set.empty
    else words.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val union = (a ++ b).size
    if (union == 0) 0.0 else (a intersect b).size.toDouble / union
  }

  /** Every pair of texts whose word n-gram sets have exact Jaccard at
    * or over `threshold`, as (smaller id, larger id, jaccard): an
    * all-pairs self-join with prefix and length filtering. Shingles are
    * numbered rarest first; two sets with Jaccard >= t must share one of
    * the first |x| - ceil(t |x|) + 1 shingles of each, and the smaller
    * must hold at least t times as many as the larger. So docs, taken
    * smallest first, are only compared with the earlier docs that meet
    * them in an inverted index over those prefixes.
    */
  def exactPairs(texts: Map[String, String], threshold: Double,
                 shingleN: Int): Seq[(String, String, Double)] = {
    require(threshold > 0, "prefix filtering needs a positive threshold")
    val raw = texts.toSeq.map { case (id, t) => id -> shingles(t, shingleN) }
    val df = raw.iterator.flatMap(_._2).toSeq.groupBy(identity).map { case (s, xs) => s -> xs.size }
    val rank = df.toSeq.sortBy { case (s, n) => (n, s) }.map(_._1).zipWithIndex.toMap
    val docs = raw.map { case (id, sh) => id -> sh.toArray.map(rank).sorted }
      .filter(_._2.nonEmpty).sortBy { case (id, sh) => (sh.length, id) }.toArray
    def overlap(a: Array[Int], b: Array[Int]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 } else if (a(i) < b(j)) i += 1 else j += 1
      }
      n
    }
    val index = scala.collection.mutable.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    docs.indices.foreach { i =>
      val a = docs(i)._2
      val prefix = a.take(a.length - math.ceil(threshold * a.length - 1e-9).toInt + 1)
      val cands = prefix.iterator.flatMap(s => index.get(s).iterator.flatten)
        .filter(j => docs(j)._2.length >= threshold * a.length - 1e-9).toSet
      cands.foreach { j =>
        val b = docs(j)._2
        val n = overlap(a, b)
        val jac = n.toDouble / (a.length + b.length - n)
        if (jac >= threshold - 1e-12) {
          val (x, y) = (docs(i)._1, docs(j)._1)
          out += (if (x < y) (x, y, jac) else (y, x, jac))
        }
      }
      prefix.foreach(s => index.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer()) += i)
    }
    out.toSeq
  }

  /** Survivors of cluster-based removal: every id, minus each
    * cluster's non-minimal members (union-find over the pairs).
    */
  def expectedSurvivors(ids: Seq[String], pairs: Seq[(String, String)]): Set[String] = {
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.filter(id => find(id) == id).toSet
  }

  /** A near-duplicate removal result against the exact reference pairs
    * (from `exactPairs`): the pairs the op reports, when it exposes them,
    * must be exactly the reference pairs, each with its Jaccard to the 4
    * decimals the library keeps; the survivors must be the input minus
    * each reference cluster's non-minimal members. So a bogus pair, a
    * lost pair (lost recall) and a wrongly kept or dropped doc all fail.
    */
  def dedup(ids: Seq[String], exact: Seq[(String, String, Double)],
            pairs: Option[Seq[(String, String, Double)]], survivors: Set[String]): Seq[String] = {
    def keyed(ps: Seq[(String, String, Double)]) =
      ps.map { case (a, b, j) => (if (a < b) (a, b) else (b, a)) -> j }.toMap
    val want = keyed(exact)
    val pairErrors = pairs.toSeq.flatMap { ps =>
      val got = keyed(ps)
      val bogus = (got.keySet -- want.keySet).toSeq.sorted
      val lost = (want.keySet -- got.keySet).toSeq.sorted
      val off = got.toSeq.sorted.collect {
        case (k, j) if want.get(k).exists(w => math.abs(w - j) > 1e-4) => f"$k reported $j%.4f, exact ${want(k)}%.4f"
      }
      (if (bogus.isEmpty) Nil else Seq(s"${bogus.size} pairs below the threshold, e.g. ${bogus.take(3).mkString(",")}")) ++
        (if (lost.isEmpty) Nil else Seq(s"${lost.size} of ${want.size} exact pairs lost, e.g. ${lost.take(3).mkString(",")}")) ++
        (if (off.isEmpty) Nil else Seq(s"${off.size} pairs misreport their jaccard, e.g. ${off.take(3).mkString("; ")}"))
    }
    val expected = expectedSurvivors(ids, want.keys.toSeq)
    val survivorErrors =
      if (survivors == expected) Nil
      else Seq(s"survivors: ${survivors.size} vs ${expected.size} expected " +
        s"(missing ${(expected -- survivors).take(3).mkString(",")}; " +
        s"unexpected ${(survivors -- expected).take(3).mkString(",")})")
    pairErrors ++ survivorErrors
  }
}
