package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  test("steam_day: the same seed gives the same day and outcomes") {
    val a = SteamDayGen.generate(7L, nTickFiles = 12)
    val b = SteamDayGen.generate(7L, nTickFiles = 12)
    assert(a == b)
    assert(SteamDayGen.generate(8L, nTickFiles = 12) != a)
  }

  test("steam_day: the outcomes follow from the inputs") {
    val d = SteamDayGen.generate(3L, nTickFiles = 10)
    val ticks = d.tickFiles.flatten.filter(_.contains("\"type\":\"price\""))
    // every replay repeats an earlier line verbatim, so distinct lines are the rows
    assert(ticks.distinct.size == d.distinctTickRows)
    assert(ticks.size > d.distinctTickRows)
    assert(d.history.count(_.discount > 100) == d.plantedDiscountRows)
    assert(d.plantedDiscountRows >= 3)
    assert(d.games.toSet.subsetOf(d.gameIds) && d.gameIds.size > d.games.size)
    assert(d.lastPriceTs.keySet == d.gameIds)
    assert(d.genuineChanges > 0 && d.cdcFiles.flatten.size > d.genuineChanges)
  }

  test("retrieval_serve: the schedule is seeded and every round is balanced") {
    val s = RetrievalGen.schedule(5L, cycles = 2)
    assert(s == RetrievalGen.schedule(5L, cycles = 2))
    assert(s != RetrievalGen.schedule(6L, cycles = 2))
    s.grouped(s.size / 2).foreach { round =>
      val serves = round.collect { case RetrievalGen.Serve(e, b) => (e, b) }
      assert(serves.toSet.size == RetrievalGen.Endpoints.size * RetrievalGen.BatchSizes.size)
      assert(serves.size == serves.toSet.size)
      assert(round.count(_ == RetrievalGen.Upsert) == 1 && round.count(_ == RetrievalGen.Delete) == 1)
    }
  }

  test("retrieval_serve: an edit's unique term is in its text and nowhere in the corpus") {
    val (term, text) = RetrievalGen.editText(new scala.util.Random(1), 9L, 3)
    assert(text.split(" ").contains(term))
    assert(TestData.documents(9L, 200).forall(!_._2.split(" ").contains(term)))
  }

  test("testdata documents and embeddings are seeded") {
    assert(TestData.documents(1L, 50) == TestData.documents(1L, 50))
    assert(TestData.embeddings(1L, 5).map(_._2.toSeq) == TestData.embeddings(1L, 5).map(_._2.toSeq))
  }
}
