package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MixSpec extends AnyFunSuite {
  private val docs = Mix.corpus(7)

  test("the same seed gives the same inputs") {
    assert(Mix.corpus(7) == docs)
    assert(Mix.pool(7, 10, docs, 3) == Mix.pool(7, 10, docs, 3))
    val pool = Mix.pool(7, 10, docs, 3)
    assert(Mix.schedule(7, pool).take(40).toList == Mix.schedule(7, pool).take(40).toList)
    assert(Mix.note(7, 3) == Mix.note(7, 3))
  }

  test("other seeds and other purposes give other inputs") {
    assert(Mix.corpus(8) != docs)
    assert(Mix.pool(8, 10, Mix.corpus(8), 3) != Mix.pool(7, 10, docs, 3))
    // the warm-up stream never replays the measured pool
    val measured = Mix.pool(7, 10, docs, 3).toSet
    assert(Mix.pool(7, 20, docs, 1).forall(op => !measured.contains(op)))
  }

  test("the corpus is 20 tracks of 250 distinct documents") {
    assert(docs.size == Mix.Tracks * Mix.DocsPerTrack)
    assert(docs.map(_.text).distinct.size == docs.size)
    assert(docs.groupBy(_.track).values.forall(_.size == Mix.DocsPerTrack))
  }

  test("each round of the schedule runs the whole pool once, asks spread out") {
    val pool = Mix.pool(7, 10, docs, 3)
    val rounds = Mix.schedule(7, pool).take(3 * pool.size).toList.grouped(pool.size).toList
    rounds.foreach { r =>
      assert(r.toSet == pool.toSet && r.size == pool.size)
      assert(r.map(_.kind) == List("search", "ask", "search", "search", "ask",
        "search", "search", "ask"))
    }
    assert(rounds.distinct.size > 1) // the order is reshuffled per round
  }

  test("every note carries a fact the store mints a card from, with a unique token") {
    val notes = (0 until 50).map(Mix.note(7, _)) :+ Mix.note(7, Mix.WarmNote)
    notes.foreach { n =>
      val facts = graft.ingest.Enrich.extractCards(n.text)
      assert(facts.exists(f => f.slot == "employer" && f.value == n.company), n.text)
    }
    assert(notes.map(_.token).distinct.size == notes.size)
    assert(notes.map(_.company).distinct.size == notes.size)
  }
}
