package perfbench

import scala.util.Random

/** Seeded inputs: the corpus, the read mix and the ingest notes. Every
  * generator is a pure function of its seed, and each purpose (corpus,
  * warm-up, measured window, notes) draws from its own stream, so the
  * untimed warm-up never replays the measured queries. */
object Mix {

  /** the documents-table vocabulary: 30 words drawn uniformly */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val Content = Vocab.filterNot(Set("the", "a"))

  val Tracks = 20
  val DocsPerTrack = 250
  val Tenants = IndexedSeq("tenant-a", "tenant-b")
  def trackName(t: Int): String = s"src$t"
  /** tracks alternate between the two tenants */
  def tenantOf(track: Int): String = Tenants(track % Tenants.size)

  final case class Doc(track: Int, uri: String, text: String)

  /** 20 tracks × 250 documents of 10–100 vocabulary words, all texts
    * distinct (the store de-duplicates identical content). */
  def corpus(seed: Long): IndexedSeq[Doc] = {
    val rnd = new Random(stream(seed, 1))
    val seen = scala.collection.mutable.HashSet.empty[String]
    for (t <- 0 until Tracks; i <- 0 until DocsPerTrack) yield {
      var text = ""
      while (text.isEmpty || seen.contains(text))
        text = Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      seen += text
      Doc(t, s"mv2://bench/${trackName(t)}/$i", text)
    }
  }

  sealed trait Op { def kind: String }
  /** a facade search; `tenant` set = ACL-enforced for that tenant;
    * `exhaustive` = without the sketch pre-filter, which may drop any one
    * document by design */
  final case class SearchOp(shape: String, query: String, track: Option[Int] = None,
                            tenant: Option[String] = None,
                            exhaustive: Boolean = false) extends Op {
    def kind = "search"
  }
  final case class AskOp(question: String) extends Op { def kind = "ask" }

  val Shapes = Seq("plain", "track", "phrase", "wildcard", "acl")

  /** A pool of distinct reads: one search of each shape and `asks`
    * questions. Phrases are adjacent word pairs taken from corpus
    * documents, so every shape has hits. */
  def pool(seed: Long, purpose: Int, docs: IndexedSeq[Doc], asks: Int): IndexedSeq[Op] = {
    val rnd = new Random(stream(seed, purpose))
    def words(k: Int): Seq[String] = rnd.shuffle(Content).take(k)
    val searches = Shapes.map {
      case shape @ "plain" => SearchOp(shape, words(2).mkString(" "))
      case shape @ "track" =>
        val t = rnd.nextInt(Tracks)
        SearchOp(shape, s"track:${trackName(t)} ${words(1).head}", track = Some(t))
      case shape @ "phrase" =>
        val toks = docs(rnd.nextInt(docs.size)).text.split(" ")
          .sliding(2).filter(_.forall(w => Content.contains(w))).toIndexedSeq
        val pair = if (toks.nonEmpty) toks(rnd.nextInt(toks.size)).mkString(" ")
          else words(2).mkString(" ")
        SearchOp(shape, "\"" + pair + "\"")
      case shape @ "wildcard" =>
        val w = words(2)
        SearchOp(shape, s"${w.head.take(3)}* ${w(1)}")
      case shape @ "acl" =>
        SearchOp(shape, words(2).mkString(" "),
          tenant = Some(Tenants(rnd.nextInt(Tenants.size))))
    }
    val questions = Seq.fill(asks) {
      val w = words(2)
      AskOp(s"what do the notes say about ${w.head} and ${w(1)}?")
    }
    (searches ++ questions).toIndexedSeq
  }

  /** A closed-loop schedule over the pool in rounds: each round runs every
    * distinct read of the pool once, in a seeded order, with the asks
    * spread between the searches (S A S S A S S A for five searches and
    * three asks), so a window of whole rounds always has the same mix. */
  def schedule(seed: Long, pool: IndexedSeq[Op]): Iterator[Op] = {
    val rnd = new Random(stream(seed, 11))
    val searches = pool.collect { case s: SearchOp => s }
    val asks = pool.collect { case a: AskOp => a }
    val every = math.max(1, math.ceil(searches.size.toDouble / asks.size).toInt)
    Iterator.continually {
      val as = rnd.shuffle(asks)
      rnd.shuffle(searches).zipWithIndex.flatMap { case (s, i) =>
        s +: (if (i % every == 0) as.lift(i / every).toSeq else Nil)
      } ++ as.drop((searches.size + every - 1) / every)
    }.flatten
  }

  /** One ingest note: a unique person, a unique company and one fact
    * sentence that the store turns into a memory card. */
  final case class Note(uri: String, text: String, person: String,
                        company: String, track: Int) {
    /** the person's surname: a token no other document carries */
    def token: String = person.split(" ").last.toLowerCase
    def relationalQuestion: String = s"who works at $company?"
  }

  private val First = IndexedSeq("Ada", "Bela", "Cyra", "Dov", "Emil", "Fenna",
    "Goran", "Hedy", "Ivo", "Juno", "Kasi", "Lior")
  private val Syll = IndexedSeq("vor", "qua", "lix", "den", "mar", "tho",
    "zel", "pri", "kan", "sul", "bre", "ost")

  /** letters-only suffix unique per index (names must stay [A-Z][a-z]+) */
  private def code(i: Int): String = {
    val sb = new StringBuilder
    var k = i
    do { sb.append(('a' + k % 26).toChar); k /= 26 } while (k > 0)
    sb.toString
  }

  def note(seed: Long, i: Int): Note = {
    val rnd = new Random(stream(seed, 1000 + i))
    def syl(n: Int) = Seq.fill(n)(Syll(rnd.nextInt(Syll.size))).mkString
    val person = s"${First(rnd.nextInt(First.size))} ${syl(2).capitalize}${code(i)}"
    val company = s"${syl(2).capitalize}${code(i)}"
    val body = Seq.fill(6)(Content(rnd.nextInt(Content.size))).mkString(" ")
    val track = rnd.nextInt(Tracks)
    Note(s"mv2://bench/notes/$i", s"status note on $body. $person works at $company.",
      person, company, track)
  }

  /** the note the untimed warm-up cycle puts; no window reaches its index */
  val WarmNote = 100000

  /** independent, reproducible seed per purpose */
  def stream(seed: Long, purpose: Int): Long =
    new Random(seed * 1000003L + purpose).nextLong()
}
