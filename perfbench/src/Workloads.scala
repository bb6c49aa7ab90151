package perfbench

import graft.pipeline.{Corpus, PageRow}
import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded page generators for the workloads. Every document is a pure
  * function of `(seed, id)`, so Spark tasks and the driver-side parse probe
  * build byte-identical payloads without shipping them around.
  *
  * Payloads come from the repo's own corpus builders: even ids are PDFs routed
  * over all nine `Corpus.pdfForDoc` layout variants, odd ids are HTML pages
  * from `Corpus.htmlFromText`. The expected extraction is
  * `Corpus.pdfExpectedText` for a PDF and the page text for HTML.
  */
object Workloads {

  /** One generated workload. `docs` is the number of ids the input table is
    * drawn from.
    *
    * Sizes follow the corpus `graft.Bench` builds from the repo's sf data
    * (BASELINE.md): an sf0.1 `documents` text has 10–100 words, uniformly,
    * from a 30-word vocabulary, and the bench repeats it 8 times (80–800
    * words, ≈2.4 KB of text). `docs` is 2 replicas of sf0.1's 5,000
    * documents for a crawl and one for a recrawl's previous snapshot, not
    * the bench's 16, so a run fits its time budget. */
  final case class Spec(name: String, docs: Long, recrawl: Boolean)

  val Specs: Seq[Spec] = Seq(
    Spec("mixed_crawl", docs = 10000, recrawl = false),
    Spec("recrawl_resume", docs = 5000, recrawl = true))

  def spec(name: String): Spec = Specs.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; one of ${Specs.map(_.name).mkString(", ")}"))

  private val MinWords = 10
  private val MaxWords = 100
  private val TextRep = 8

  /** The sf `documents` vocabulary (each word about equally frequent). */
  private val Vocab = ("spark window merge table column vector stream value data small join filter big " +
    "group hash customer sort order slow line part fast row the agg key query a scan batch").split(' ')

  /** The sf `documents` language mix: 41% en, about 15% each of zh, es, fr
    * and de. */
  private val Langs = Array.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Array.fill(3)(_))

  private def rng(seed: Long, id: Long, salt: Long): SplittableRandom =
    new SplittableRandom((seed * 0x9E3779B97F4A7C15L) ^ (id * 0xC2B2AE3D27D4EB4FL) ^ salt)

  /** Recrawl status of an id: the previous snapshot holds ids [0, docs), the
    * new snapshot drops "removed" ids and adds ids [docs, docs + docs/5). */
  sealed trait Status
  case object Unchanged extends Status
  case object Changed extends Status
  case object Removed extends Status
  case object Added extends Status

  def status(s: Spec, seed: Long, id: Long): Status =
    if (id >= s.docs) Added
    else rng(seed, id, 7).nextInt(10) match {
      case 0 | 1 => Removed
      case 2 | 3 => Changed
      case _ => Unchanged
    }

  /** The new snapshot's id range (the previous one is [0, docs)). */
  def nextIds(s: Spec): Long = if (s.recrawl) s.docs + s.docs / 5 else s.docs

  /** Ids of the work list a recrawl extracts that the seeded output already
    * committed (about half of it). */
  def preCommitted(s: Spec, seed: Long, id: Long): Boolean =
    s.recrawl && (status(s, seed, id) match {
      case Changed | Added => rng(seed, id, 11).nextBoolean()
      case _ => false
    })

  /** Base word count of `id`, before the 8-fold repetition. The counts
    * are stratified: the ids take the quantiles 0, 1/n, 2/n, … in a seeded
    * order, so every seed draws the same size distribution (the same total
    * bytes) and only where the big documents sit changes. */
  private def words(s: Spec, seed: Long, id: Long, r: SplittableRandom): Int = {
    val n = nextIds(s)
    // an affine map by a prime that no table size is a multiple of
    val rank = Math.floorMod(id * 1000003L + seed * 7919L, n)
    val u = (rank + r.nextDouble()) / n
    MinWords + (u * (MaxWords - MinWords + 1)).toInt
  }

  def text(s: Spec, seed: Long, id: Long, revised: Boolean): String = {
    val r = rng(seed, id, 3)
    val n = words(s, seed, id, r)
    val base = new java.lang.StringBuilder(n * 6)
    var k = 0
    while (k < n) {
      base.append(Vocab(r.nextInt(Vocab.length))).append(' ')
      k += 1
    }
    // as graft.Bench: ((text + " ") * 8).trim
    val sb = new java.lang.StringBuilder(base.length * TextRep + 24)
    k = 0
    while (k < TextRep) { sb.append(base); k += 1 }
    sb.setLength(sb.length - 1)
    if (revised) sb.append(" revised ").append(id)
    sb.toString
  }

  private val Epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")

  def row(s: Spec, seed: Long, id: Long, revised: Boolean): PageRow = {
    val t = text(s, seed, id, revised)
    val payload = if (Corpus.isPdfDoc(id)) Corpus.pdfForDoc(id, t) else Corpus.htmlFromText(t, id)
    PageRow(Corpus.UrlPrefix + id, Timestamp.from(Epoch.plusSeconds(id * 60)), payload, t,
      Langs(rng(seed, id, 5).nextInt(Langs.length)))
  }

  def expected(id: Long, t: String): String =
    if (Corpus.isPdfDoc(id)) Corpus.pdfExpectedText(id, t) else t

  /** Row of the new (input) snapshot for `id`, or None when the id is not in it. */
  def nextRow(s: Spec, seed: Long, id: Long): Option[PageRow] =
    if (!s.recrawl) Some(row(s, seed, id, revised = false))
    else status(s, seed, id) match {
      case Removed => None
      case st => Some(row(s, seed, id, revised = st == Changed))
    }

  /** Row of the previous snapshot (recrawl only). */
  def prevRow(s: Spec, seed: Long, id: Long): Option[PageRow] =
    if (id >= s.docs || status(s, seed, id) == Added) None
    else Some(row(s, seed, id, revised = false))

  /** Whether a row of the input snapshot is extracted by the submit: all of
    * them for a fresh crawl, added + changed for a recrawl. */
  def inWork(s: Spec, seed: Long, id: Long): Boolean =
    !s.recrawl || (status(s, seed, id) match {
      case Changed | Added => true
      case _ => false
    })
}
