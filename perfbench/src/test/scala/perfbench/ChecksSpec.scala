package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.model.TokenRow

/** Each checker must catch a deliberately corrupted result. */
class ChecksSpec extends AnyFunSuite {

  private val rows = Seq(
    TokenRow("web-1", Array(1, 2, 3), 3, "web"),
    TokenRow("web-2", Array(7, 7, 7, 7), 4, "web"),
    TokenRow("wiki-3", Array.emptyIntArray, 0, "wiki"))
  private val want = Digest.of(rows.iterator)

  test("digest ignores row order") {
    assert(Checks.digest("decode", Digest.of(rows.reverse.iterator), want).isEmpty)
  }

  test("digest catches one flipped token") {
    val flipped = rows.updated(1, TokenRow("web-2", Array(7, 7, 8, 7), 4, "web"))
    assert(Checks.digest("decode", Digest.of(flipped.iterator), want).nonEmpty)
  }

  test("digest catches one dropped doc and one duplicated doc") {
    assert(Checks.digest("decode", Digest.of(rows.tail.iterator), want).nonEmpty)
    assert(Checks.digest("decode", Digest.of((rows :+ rows.head).iterator), want).nonEmpty)
  }

  test("digest catches a wrong source or length") {
    val src = rows.updated(0, rows.head.copy(source = "wiki"))
    val len = rows.updated(0, rows.head.copy(n_tok = 4))
    assert(Checks.digest("d", Digest.of(src.iterator), want).nonEmpty)
    assert(Checks.digest("d", Digest.of(len.iterator), want).nonEmpty)
  }

  test("query rows: order-free match, and a dropped doc fails") {
    val ref = Seq(Seq("web-1", "web", 2L), Seq("web-2", "web", 4L))
    assert(Checks.sameRows("search", ref.reverse, ref).isEmpty)
    assert(Checks.sameRows("search", ref.take(1), ref).nonEmpty)
    assert(Checks.sameRows("search", Seq(Seq("web-1", "web", 3L), ref(1)), ref).nonEmpty)
  }

  test("ranked rows must match in order") {
    val ref = Seq(Seq("a", "web", 9L), Seq("b", "web", 5L))
    assert(Checks.sameRanking("bm25", ref, ref).isEmpty)
    assert(Checks.sameRanking("bm25", ref.reverse, ref).nonEmpty)
  }

  private val texts = Map(
    "d1" -> "the quick brown fox jumps over the lazy dog",
    "d2" -> "The quick brown fox jumps over the lazy dog today",
    "d3" -> "an entirely different sentence about columnar storage",
    "d4" -> "the quick brown fox jumps over the lazy dog")

  test("shingles follow the word n-gram definition") {
    assert(Checks.shingles("A b  c\td", 3) == Set("a b c", "b c d"))
    assert(Checks.shingles("a b", 3).isEmpty)
  }

  private val ids = texts.keys.toSeq
  private val exact = Checks.exactPairs(texts, 0.7, 3)

  test("exact pairs equal a brute-force scan over every pair") {
    val rnd = new scala.util.Random(7)
    val words = Vector.tabulate(12)(i => s"w$i")
    val base = Vector.fill(5)(Vector.fill(30)(words(rnd.nextInt(words.size))))
    val docs = (0 until 60).map { d =>
      val b = base(d % base.size).toArray
      (0 until rnd.nextInt(8)).foreach(_ => b(rnd.nextInt(b.length)) = words(rnd.nextInt(words.size)))
      f"d$d%02d" -> b.mkString(" ")
    }.toMap
    val sorted = docs.keys.toSeq.sorted
    val brute = for {
      (a, i) <- sorted.zipWithIndex; b <- sorted.drop(i + 1)
      j = Checks.jaccard(Checks.shingles(docs(a), 3), Checks.shingles(docs(b), 3)) if j >= 0.7
    } yield (a, b, j)
    assert(brute.nonEmpty)
    assert(Checks.exactPairs(docs, 0.7, 3).sortBy(p => (p._1, p._2)) == brute)
  }

  test("dedup: a correct result passes") {
    val j12 = Checks.jaccard(Checks.shingles(texts("d1"), 3), Checks.shingles(texts("d2"), 3))
    assert(exact.map(p => (p._1, p._2)).toSet == Set(("d1", "d2"), ("d1", "d4"), ("d2", "d4")))
    val pairs = Seq(("d1", "d2", math.round(j12 * 1e4) / 1e4), ("d1", "d4", 1.0),
      ("d2", "d4", math.round(j12 * 1e4) / 1e4))
    val survivors = Set("d1", "d3")
    assert(Checks.dedup(ids, exact, Some(pairs), survivors).isEmpty)
    assert(Checks.dedup(ids, exact, None, survivors).isEmpty)
  }

  test("dedup: one bogus pair fails") {
    val bogus = exact.map(p => (p._1, p._2, p._3)) :+ (("d1", "d3", 0.9))
    assert(Checks.dedup(ids, exact, Some(bogus), Set("d1", "d3")).exists(_.contains("below the threshold")))
  }

  test("dedup: one lost pair fails, and so do the survivors it leaves") {
    val lost = exact.filterNot(p => p._2 == "d4")
    assert(Checks.dedup(ids, exact, Some(lost), Set("d1", "d3")).exists(_.contains("lost")))
    assert(Checks.dedup(ids, exact, None, Set("d1", "d3", "d4")).exists(_.startsWith("survivors")))
  }

  test("dedup: a misreported jaccard fails") {
    val off = exact.map { case (a, b, j) => if (b == "d2") (a, b, 0.99) else (a, b, j) }
    assert(Checks.dedup(ids, exact, Some(off), Set("d1", "d3")).exists(_.contains("misreport")))
  }

  test("dedup: a wrongly dropped survivor fails") {
    assert(Checks.dedup(ids, exact, None, Set("d1")).exists(_.startsWith("survivors")))
  }
}
