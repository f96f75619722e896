package graft

import graft.ops.dedup.Dedup

/** Seeded-random equivalence property for the map-only signature
  * expressions vs the aggregate formulations: adversarial text —
  * multi-byte unicode (incl. surrogate pairs), non-\s unicode
  * whitespace (NBSP stays INSIDE tokens), runs of real whitespace,
  * empty and near-empty docs, heavy duplication — must produce
  * bit-identical signatures. The corpus specs prove equality on the
  * real fixture; this one covers the token-boundary edge space the
  * fixture never exercises. */
class SigPropertySpec extends SparkSpec {
  import spark.implicits._

  private val pieces = Array(
    "word", "a", "xyzzy", "한국어", "déjà", "🙂", " ", "mixé nb",
    "UPPER", "123", "!!", "🙂🙂x", "ㅋㅋㅋ", "end.")
  private val seps = Array(" ", "  ", "\t", "\n", " \t ", "", "\r\n")

  private def randomDoc(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(12)
    val sb = new StringBuilder
    if (rnd.nextInt(4) == 0) sb.append(seps(rnd.nextInt(seps.length)))
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(seps(rnd.nextInt(seps.length)))
      // duplication pressure: reuse a small alphabet
      sb.append(pieces(rnd.nextInt(pieces.length)))
      i += 1
    }
    if (rnd.nextInt(4) == 0) sb.append(seps(rnd.nextInt(seps.length)))
    sb.toString
  }

  test("minhash/simhash map-only == aggregate on 400 adversarial random docs") {
    val rnd = new scala.util.Random(20260815L)
    val docs = (1L to 400L).map(i => (i, randomDoc(rnd))).toDF("doc_id", "text")
      .cache()
    try {
      for ((k, n) <- Seq((3, 16), (1, 16), (2, 4))) {
        val want = DedupReference.minHash(Dedup.shingleSet(docs, "doc_id", "text", k),
          "doc_id", n)
        val got = Dedup.minHashText(docs, "doc_id", "text", k, n)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"minhash diverges at k=$k n=$n")
      }
      // k=1 vs the distinct word-set form (q41's contract)
      val wantW = DedupReference.minHash(DedupReference.wordSet(docs, "doc_id", "text"), "doc_id", 8)
      val gotW = Dedup.minHashText(docs, "doc_id", "text", 1, 8)
      assert(gotW.exceptAll(wantW).isEmpty && wantW.exceptAll(gotW).isEmpty)

      val wantS = DedupReference.simHash(DedupReference.wordSet(docs, "doc_id", "text"), "doc_id")
      val gotS = Dedup.simHashText(docs, "doc_id", "text")
      assert(gotS.exceptAll(wantS).isEmpty && wantS.exceptAll(gotS).isEmpty,
        "simhash diverges")
    } finally docs.unpersist()
  }
}
