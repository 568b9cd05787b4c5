package perfbench

import graft.corpus.{Corpus, SplitRng}
import graft.model.Page
import graft.text.TextExtract

/** Input generator of the kg_hub_link workload, seeded by the run's seed.
  *
  * Every page is an interview transcript whose persona is a fresh synthetic
  * name, and which mentions people from a pool of pages/2 names, so the
  * number of distinct entity keys is of the order of the page count. One
  * hub organisation appears in `HubPerMille`/1000 of the pages. A quarter of
  * the pool names have `ChainLength` title variants ("<name> Elder", ...)
  * that pages mention interchangeably; the alias dictionary links each
  * variant to the previous one in a seeded order, so the alias graph holds
  * chains that take connected components several star rounds. The knowledge
  * base covers a third of the pool (some names twice, as homonyms) and the
  * hub under three entities, so entity linking has ambiguous candidates.
  * All text is ASCII, so key lowering and string order agree between the
  * JVM and Spark.
  */
object HubCorpus {
  final case class KbEntity(entity_id: String, canonical_name: String, aliases: Seq[String],
                            profile: String, prior: Double)
  final case class Input(pages: Seq[Page], aliases: Seq[(String, String)], kb: Seq[KbEntity])

  val Hub = "Helix Dynamics Corporation"
  val HubPerMille = 350
  val ChainLength = 8
  private val Titles = Vector("Senior", "Junior", "Elder", "Minor", "Prime", "Second", "Third", "Fourth")
  private val Onsets = Vector("B", "Br", "C", "D", "Dr", "F", "G", "Gr", "H", "J", "K", "L", "M", "N",
    "P", "Qu", "R", "S", "St", "T", "Th", "V", "W", "Z")
  private val Vowels = Vector("a", "e", "i", "o", "u", "ae", "ei", "ou")
  private val Codas = Vector("", "n", "r", "l", "s", "th", "m", "nd", "rk", "x")
  private val ProfileWords = Vector("manufacturing", "technology", "software", "engineering",
    "leadership", "planning", "community", "revenue", "security", "future", "process", "team")

  private def pick[T](rng: SplitRng, v: Vector[T]): T = v(rng.nextInt(v.size))

  private def word(rng: SplitRng): String = {
    val s = (0 until 2 + rng.nextInt(2)).map(_ => pick(rng, Onsets) + pick(rng, Vowels) + pick(rng, Codas)).mkString
    s"${s.head.toUpper}${s.tail.toLowerCase}"
  }

  private def name(rng: SplitRng): String = s"${word(rng)} ${word(rng)}"

  /** Pool name `j` and, for chained names, its variants in chain order. */
  private def chain(seed: Long, j: Int): Seq[String] = {
    val rng = new SplitRng(seed * 7919 + 13, j.toLong)
    val base = name(rng)
    if (j % 4 != 0) Seq(base)
    else base +: new scala.util.Random(seed * 31 + j).shuffle(Titles).take(ChainLength).map(t => s"$base $t")
  }

  def generate(seed: Long, n: Int): Input = {
    val pool = math.max(1, n / 2)
    val chains = (0 until pool).map(chain(seed, _))
    val pages = (0 until n).map { i =>
      val rng = new SplitRng(seed, i.toLong)
      val persona = name(rng)
      val host = name(rng)
      def mention() = {
        val c = chains(rng.nextInt(pool))
        c(rng.nextInt(c.size))
      }
      val hub = if (rng.nextInt(1000) < HubPerMille) s" and $Hub" else ""
      val lines = Seq(s"$host: Today we talk with $persona about ${mention()}$hub.") ++
        (1 until 4 + rng.nextInt(5)).map { t =>
          val speaker = if (t % 2 == 0) host else persona
          val extra = if (t == 2) s" I worked with ${mention()} on this." else ""
          s"$speaker: ${pick(rng, Corpus.englishSentences)}$extra"
        }
      val c = i % 64
      val file = s"interview_$i.html"
      val raw = Corpus.frontMatter(persona, "interview_transcript", badJson = false) + lines.mkString("\n")
      Page(s"https://hub.example.org/customers/${f"$c%02d"}_team_$c/$file",
        new java.sql.Timestamp(1726000000000L + i * 1000L), TextExtract.wrapHtml(raw, file), raw, "en")
    }
    val aliases = chains.filter(_.size > 1).flatMap(c => c.zip(c.drop(1)).map { case (prev, v) => (v, prev) })
    val kb = chains.zipWithIndex.filter(_._2 % 3 == 0).flatMap { case (c, j) =>
      val rng = new SplitRng(seed * 131 + 7, j.toLong)
      def entity(id: String) = KbEntity(id, c.head, c.tail,
        (0 until 6).map(_ => pick(rng, ProfileWords)).mkString(" "), 0.3 + rng.nextInt(60) / 100.0)
      entity(s"kb_p$j") +: (if (j % 9 == 0) Seq(entity(s"kb_p${j}_h")) else Nil)
    } ++ Seq(
      KbEntity("kb_hub_0", Hub, Seq("Helix Dynamics"), "manufacturing technology semiconductors", 0.8),
      KbEntity("kb_hub_1", "Helix Dynamics Holdings", Seq(Hub), "financial planning insurance", 0.4),
      KbEntity("kb_hub_2", "Helix Labs", Seq(Hub, "Helix"), "software engineering development", 0.5))
    Input(pages, aliases, kb)
  }
}
