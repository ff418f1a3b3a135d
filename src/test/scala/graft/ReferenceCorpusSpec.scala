package graft

import java.sql.Timestamp
import graft.ask.Ask
import graft.search.{FrameCols, Search}
import org.apache.spark.sql.functions._

/** Mirrors the reference's integration corpus (tests/search.rs:9-80 —
  * 5 docs with fixed timestamps; FIXTURES.md §1): exact hit sets, rank
  * order, uri/scope filters, top_k, snippet content.
  */
class ReferenceCorpusSpec extends SparkSpec with TempStores {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def corpus = Seq(
    (1L, "mv2://physics/quantum", "Quantum Physics",
     "Quantum mechanics describes the behavior of particles at the atomic scale",
     ts(1700000000L), Seq("project:alpha")),
    (2L, "mv2://physics/classical", "Classical Physics",
     "Classical mechanics describes the motion of macroscopic objects",
     ts(1700000100L), Seq.empty[String]),
    (3L, "mv2://biology/cells", "Cell Biology",
     "Cells are the basic structural unit of all living organisms",
     ts(1700000200L), Seq("project:alpha")),
    (4L, "mv2://chemistry/atoms", "Atomic Chemistry",
     "Atoms consist of protons neutrons and electrons bound together",
     ts(1700000300L), Seq.empty[String]),
    (5L, "mv2://math/calculus", "Calculus",
     "Calculus studies continuous change through derivatives and integrals",
     ts(1700000400L), Seq.empty[String])
  ).toDF("id", "uri", "title", "text", "timestamp", "tags")

  private val f = FrameCols(text = col("text"), uri = col("uri"),
                            tags = col("tags"), timestamp = col("timestamp"))

  private def ids(q: String, opts: Search.Options = Search.Options(withSnippets = false)) =
    Search.search(corpus, "id", f, q, opts).collect().map(_.getLong(0)).toSeq

  test("basic query returns expected hit set") {
    assert(ids("quantum") == Seq(1L))
    assert(ids("mechanics").toSet == Set(1L, 2L))
    assert(ids("describes mechanics").toSet == Set(1L, 2L)) // AND, both present
  }

  test("scope and uri filters restrict results") {
    assert(ids("mechanics scope:mv2://physics/").toSet == Set(1L, 2L))
    assert(ids("uri:mv2://biology/cells cells") == Seq(3L))
    assert(ids("tag:project:alpha").toSet == Set(1L, 3L))
    assert(ids("cells scope:mv2://physics/").isEmpty)
  }

  test("top_k truncates by rank") {
    val all = ids("the OR of OR describes")
    val top2 = ids("the OR of OR describes", Search.Options(topK = 2, withSnippets = false))
    assert(top2 == all.take(2))
  }

  test("snippets contain the match term") {
    val hits = Search.search(corpus, "id", f, "quantum").collect()
    val snips = hits.head.getSeq[String](2)
    assert(snips.nonEmpty && snips.head.toLowerCase.contains("quantum"))
  }

  test("date range filters by timestamp") {
    assert(ids("mechanics date:[2023-11-14 TO 2023-11-16]").toSet == Set(1L, 2L))
    assert(ids("mechanics date:[2020-01-01 TO 2020-12-31]").isEmpty)
  }

  test("wildcard matches token prefixes without crossing boundaries") {
    assert(ids("mech*").toSet == Set(1L, 2L))
    assert(ids("cel?s") == Seq(3L))
    assert(ids("xyz*").isEmpty)
    // '*' must not span across tokens: 'describes*motion' matches nothing
    assert(ids("describes*motion").isEmpty)
  }

  test("ask fallback ladder: disjunctive rescue when AND has no hits") {
    val corpus2 = Ask.Corpus(corpus, "id", f)
    // 'quantum calculus' never co-occur -> primary AND list is empty, the
    // OR list rescues both docs (ask.rs:131-151)
    val resp = Ask.ask(spark, corpus2, "quantum calculus")
    assert(resp.citations.map(_.id).toSet == Set(1L, 5L))
  }

  test("search with no matches / empty corpus returns empty (search.rs:255,286)") {
    assert(ids("nonexistentterm12345").isEmpty)
    val empty = corpus.filter(col("id") < 0)
    assert(Search.search(empty, "id", f, "quantum",
      Search.Options(withSnippets = false)).collect().isEmpty)
  }

  test("timeline: ordered, since/until bounds, limit (search.rs:324-494)") {
    import graft.api.Graft
    val dir = tempDir("graft-timeline")
    val g = new Graft(spark, dir)
    // reference fixture puts docs with increasing timestamps
    Seq(("mv2://a", "first doc",  1700000000L), ("mv2://b", "second doc", 1700000100L),
        ("mv2://c", "third doc",  1700000200L), ("mv2://d", "fourth doc", 1700000300L))
      .foreach { case (u, t2, s) => g.put(u, t2, ts = ts(s)) }

    val newest = g.timeline().collect()
    assert(newest.map(_.getString(1)).toSeq ==
      Seq("mv2://d", "mv2://c", "mv2://b", "mv2://a")) // reverse-chronological
    val oldestFirst = g.timeline(reverse = false).collect()
    assert(oldestFirst.map(_.getString(1)).toSeq ==
      Seq("mv2://a", "mv2://b", "mv2://c", "mv2://d"))

    val since = g.timeline(since = Some(ts(1700000150L))).collect()
    assert(since.map(_.getString(1)).toSet == Set("mv2://c", "mv2://d"))
    val until = g.timeline(until = Some(ts(1700000150L))).collect()
    assert(until.map(_.getString(1)).toSet == Set("mv2://a", "mv2://b"))
    assert(g.timeline(limit = 2).collect().map(_.getString(1)).toSeq ==
      Seq("mv2://d", "mv2://c"))
  }
}
