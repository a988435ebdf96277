package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The llm checks catch deliberately corrupted operator output. */
class ChecksSpec extends AnyFunSuite {
  private val texts = Map(
    1L -> "a b c d e f g h i j",
    2L -> "a b c d e f g h i k",
    3L -> "q r s t u v w x y z")
  private val sh: Long => Option[Set[String]] = id => texts.get(id).map(Data.shingles)
  private val j12 = Data.jaccard(Data.shingles(texts(1)), Data.shingles(texts(2)))

  test("a correct near-duplicate pair passes") {
    assert(j12 >= LlmCuration.Threshold)
    assert(LlmCuration.badPairs(Seq((1L, 2L, j12)), sh).isEmpty)
  }

  test("corrupted pairs are caught: wrong score, self pair, dissimilar pair, unknown id") {
    val corrupt = Seq((1L, 2L, j12 + 0.01), (1L, 1L, 1.0), (1L, 3L, 0.0), (1L, 9L, 1.0))
    assert(LlmCuration.badPairs(corrupt, sh) == corrupt)
  }

  private val r = new java.util.Random(7)
  private val vecs: Map[Long, Array[Float]] =
    (0L until 30L).map(i => i -> Array.fill(8)(r.nextGaussian().toFloat)).toMap
  private def brute(q: Long): Seq[(Long, Long, Double)] =
    vecs.toSeq.filter(_._1 != q).map { case (n, v) => (n, Data.cosine(vecs(q), v)) }
      .sortBy(-_._2).take(LlmCuration.K).zipWithIndex.map { case ((n, c), i) => (n, i + 1L, c) }

  test("brute-force top-k passes as exact and as approximate") {
    val byQ = Map(0L -> brute(0L), 5L -> brute(5L))
    assert(LlmCuration.badTopK(byQ, vecs, exact = true).isEmpty)
    assert(LlmCuration.badTopK(byQ.map { case (q, rs) => q -> rs.take(3) }, vecs, exact = false).isEmpty)
  }

  test("corrupted top-k is caught: wrong score, self match, swapped ranks, missing best neighbour") {
    val good = brute(0L)
    val wrongScore = good.updated(2, good(2).copy(_3 = good(2)._3 + 0.01))
    val self = good.updated(4, (0L, 5L, 1.0))
    val swapped = good.updated(0, good(0).copy(_2 = 2L)).updated(1, good(1).copy(_2 = 1L))
    val missing = good.tail.map(t => t.copy(_2 = t._2 - 1))
    for (bad <- Seq(wrongScore, self, swapped))
      assert(LlmCuration.badTopK(Map(0L -> bad), vecs, exact = false) == Seq(0L))
    assert(LlmCuration.badTopK(Map(0L -> missing), vecs, exact = false).isEmpty)
    assert(LlmCuration.badTopK(Map(0L -> missing), vecs, exact = true) == Seq(0L))
  }
}
