package graft.llm

import graft.SparkSpec
import org.scalatest.prop.TableDrivenPropertyChecks

/** Gate for q221's exact substring-level dedup (the Lee et al. 2022
  * operator class): the operator must match a Scala brute force —
  * enumerate every k-gram, keep those whose exact text occurs in ≥ 2
  * distinct docs, merge consecutive positions into maximal spans,
  * md5 the span text — on fixtures engineered for the failure modes:
  * k-boundary spans, within-doc-only repeats (must NOT count),
  * multi-partner merged islands (A's span windows matching different
  * docs), island splits, and sub-k docs. */
class SubstringDedupSpec extends SparkSpec with TableDrivenPropertyChecks {

  private def brute(rows: Seq[(Long, String)], k: Int)
      : Seq[(Long, Long, Long, String)] = {
    val toks = rows.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq }.toMap
    val grams = for {
      (id, t) <- toks.toSeq if t.size >= k
      i <- 1 to (t.size - k + 1)
    } yield (id, i.toLong, t.slice(i - 1, i - 1 + k).mkString(" "))
    val dupTexts = grams.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    val verified = grams.filter(g => dupTexts(g._3))
    verified.groupBy(_._1).toSeq.flatMap { case (id, gs) =>
      val ps = gs.map(_._2).sorted
      // gaps-and-islands over sorted positions
      val islands = ps.foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: rest, p) if p == b + 1 => (a, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.reverse
      islands.map { case (a, b) =>
        val len = b - a + k
        val text = toks(id).slice(a.toInt - 1, (a + len - 1).toInt).mkString(" ")
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (id, a, len, md5)
      }
    }.sortBy(r => (r._1, r._2))
  }

  private def run(rows: Seq[(Long, String)], k: Int): Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    val df = rows.toDF("doc_id", "text")
    LlmText.substringDedupSpans(df, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._1, r._2)).toSeq // the frame is unsorted by design
  }

  private val k = 4

  test("adversarial overlaps match the brute force") {
    val fixtures = Table(
      ("name", "rows"),
      ("exact k-boundary: shared run of exactly k tokens",
        Seq(1L -> "a b c d x y z w", 2L -> "p q a b c d r s")),
      ("sub-k shared run yields nothing",
        Seq(1L -> "a b c x1 x2 x3 x4", 2L -> "a b c y1 y2 y3 y4")),
      ("within-doc-only repeat must NOT count",
        Seq(1L -> "a b c d e a b c d e", 2L -> "u v w x y z u v w")),
      ("multi-partner merged island: A's windows match different docs",
        // A = a b c d e f; B shares a..d (pos 1..4), C shares c..f
        // (pos 3..6) -> A's duplicated gram positions 1,2,3 merge into
        // ONE span a..f even though no single partner holds all of it
        Seq(1L -> "a b c d e f", 2L -> "a b c d q1 q2", 3L -> "q3 q4 c d e f")),
      ("island split: two disjoint shared spans in one doc",
        Seq(1L -> "a b c d m1 m2 m3 w x y z m4", 2L -> "a b c d n1 n2 n3", 3L -> "n4 n5 w x y z")),
      ("full-doc clone pair plus an unrelated doc",
        Seq(1L -> "t1 t2 t3 t4 t5 t6", 2L -> "t1 t2 t3 t4 t5 t6", 3L -> "r1 r2 r3 r4 r5")),
      ("doc shorter than k contributes nothing and cannot crash",
        Seq(1L -> "a b c", 2L -> "a b c d", 3L -> "a b c d")),
      ("three-way clone: spans in every member",
        Seq(1L -> "c1 c2 c3 c4 c5", 2L -> "c1 c2 c3 c4 c5", 3L -> "z c1 c2 c3 c4 c5")))
    forAll(fixtures) { (name, rows) =>
      assert(run(rows, k) == brute(rows, k), name)
    }
  }

  // ---- q233, the incremental form (round 19) ----

  private def bruteIncr(corpus: Seq[(Long, String)], delta: Seq[(Long, String)],
      k: Int): Seq[(Long, Long, Long, String)] =
    (brute(corpus ++ delta, k).toSet -- brute(corpus, k).toSet)
      .toSeq.sortBy(r => (r._1, r._2))

  private def runIncr(corpus: Seq[(Long, String)], delta: Seq[(Long, String)],
      k: Int): Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    val c = corpus.toDF("doc_id", "text")
    val d = delta.toDF("doc_id", "text")
    LlmText.newSpansFromDelta(d, LlmText.gramHashes(c, k),
        LlmText.substringDedupSpans(c, k), c, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._1, r._2)).toSeq
  }

  test("incremental delta equals from-scratch-on-union minus old spans (adversarial fixtures)") {
    // the operator's whole contract: newSpansFromDelta over the
    // pre-built corpus index must equal spans(corpus+delta) EXCEPT
    // spans(corpus), on fixtures engineered for each change class
    val fixtures = Table(
      ("name", "corpus", "delta"),
      ("delta creates the corpus's first duplication",
        Seq(1L -> "a b c d e f g", 2L -> "u v w x y z q"),
        Seq(10L -> "p a b c d e r")),
      ("delta EXTENDS an existing corpus span asymmetrically",
        // corpus 1/2 share a..d; delta shares a..f with doc 1 only ->
        // doc 1's span extends to a..f (old a..d span replaced), doc 2
        // unchanged, delta holds its own a..f span
        Seq(1L -> "a b c d e f z1 z2", 2L -> "a b c d y1 y2 y3 y4"),
        Seq(10L -> "w1 a b c d e f w2")),
      ("delta merges two corpus islands across their gap",
        // doc 1's runs a..d and f..i are two old islands (gap = e);
        // delta shares c d e f g with doc 1 -> positions across the
        // gap verify and the islands merge into ONE a..i span
        Seq(1L -> "a b c d e f g h i", 2L -> "a b c d n1 n2 n3 n4", 3L -> "m1 m2 m3 f g h i m4"),
        Seq(10L -> "t1 c d e f g t2 t3")),
      ("delta-internal pair only: corpus untouched",
        Seq(1L -> "a b c d e f g", 2L -> "h i j k l m n"),
        Seq(10L -> "s1 s2 s3 s4 s5 x1", 20L -> "s1 s2 s3 s4 s5 x2")),
      ("delta clones ALREADY-duplicated corpus text: only the delta span is new",
        Seq(1L -> "c1 c2 c3 c4 c5 z1", 2L -> "c1 c2 c3 c4 c5 z2"),
        Seq(10L -> "c1 c2 c3 c4 c5 z3")),
      ("sub-k delta contributes nothing",
        Seq(1L -> "a b c d e f g", 2L -> "a b c d e f h"),
        Seq(10L -> "a b c")),
      ("empty delta yields empty output",
        Seq(1L -> "a b c d e f g", 2L -> "a b c d e f h"),
        Seq.empty[(Long, String)]))
    forAll(fixtures) { (name, corpus, delta) =>
      assert(runIncr(corpus, delta, k) == bruteIncr(corpus, delta, k), name)
    }
  }

  test("spanCoverage is the interval UNION, never the span-mass sum") {
    import spark.implicits._
    // two islands one gram apart (k=4): spans [1,5] (len 5) and
    // [3,7] (len 5) OVERLAP in token space -> union = 7, mass = 10;
    // plus a disjoint doc with touching-but-not-overlapping spans
    // [1,4] and [5,8] -> union 8 (adjacent intervals merge: gap 0)
    val spans = Seq(
      (1L, 1L, 5L), (1L, 3L, 5L),
      (2L, 1L, 4L), (2L, 5L, 4L),
      (3L, 2L, 4L), (3L, 10L, 4L)).toDF("doc_id", "span_start", "span_len")
    val cov = LlmText.spanCoverage(spans).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(cov == Seq((1L, 7L), (2L, 8L), (3L, 8L)), cov.toString)
  }

  test("span laws on the engineered corpus: len >= k, within doc bounds, md5 keys cluster clones") {
    val rows = Seq(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i j",
      3L -> "x1 x2 a b c d x3 x4 x5 x6")
    val out = run(rows, k)
    assert(out.nonEmpty)
    assert(out.forall(_._3 >= k))
    // the clone pair's full-doc span shares one md5; doc 3's partial
    // overlap (a b c d) is a DIFFERENT span content
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).map(_._4) == byDoc(2L).map(_._4))
    assert(byDoc(1L).head._3 == 10L) // full 10-token doc is one span
    assert(byDoc(3L).head._2 == 3L && byDoc(3L).head._3 == 4L)
    assert(byDoc(3L).head._4 != byDoc(1L).head._4)
  }
}
