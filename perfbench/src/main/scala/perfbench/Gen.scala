package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Random

/** Seeded input generators. Every generator is a pure function of the
  * workload seed and the event's sequence number, so the same seed
  * yields the same events whatever the timing of the run. */
object Gen {
  private val dtFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def fmt(epochSec: Long): String = dtFmt.format(Instant.ofEpochSecond(epochSec))

  /** Per-event random stream: independent of generation order. */
  def rng(seed: Long, salt: Long, seq: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL ^ seq * 0x165667B19E3779F9L)

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF on a table). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  // ---------------------------------------------------------------
  // DataReport audit-log events.

  final case class ReportEvent(seq: Long, line: String, beyondBound: Boolean)

  /** Audit events over `nTypes` x `nAreas` (type, area) keys drawn
    * Zipf(1.1); event time advances `stepMs` per event; `disorder`
    * share of events move back up to 9 s (inside the 10 s disorder
    * bound); `beyond` share of events at or after `lateFrom` lie an
    * hour behind the stream start, so they are late under any batch
    * timing once the first batches have set a watermark. */
  final class ReportGen(seed: Long, lateFrom: Long, nTypes: Int = 24, nAreas: Int = 160,
      stepMs: Long = 10, disorder: Double = 0.15, beyond: Double = 0.004) {
    val base = 1514800000L
    private val zipf = new Zipf(nTypes * nAreas, 1.1)
    // rank -> key permutation, fixed by the seed
    private val keyOf = new Random(seed).shuffle((0 until nTypes * nAreas).toVector)
    def event(seq: Long): ReportEvent = {
      val r = rng(seed, 1, seq)
      val k = keyOf(zipf.sample(r))
      val (t, a) = (s"type${k / nAreas}", s"AREA_${k % nAreas}")
      val late = seq >= lateFrom && r.nextDouble() < beyond
      val tMs = base * 1000 + seq * stepMs
      val ts =
        if (late) base - 3600 - r.nextInt(600)
        else if (r.nextDouble() < disorder) (tMs - r.nextInt(9000)) / 1000
        else tMs / 1000
      ReportEvent(seq,
        s"""{"dt":"${fmt(ts)}","type":"$t","username":"user$seq","area":"$a"}""", late)
    }
  }

  // ---------------------------------------------------------------
  // DataClean events: two data elements each; scores carry the
  // sequence number so every output row is distinct and attributable.

  val cleanCodes: Vector[String] = Vector("US", "TW", "HK", "PK", "KW", "SA", "IN", "JP", "BR")
  private val cleanTypes = Vector("s1", "s2", "s3", "s4", "s5")
  private val cleanLevels = Vector("A", "A+", "B", "C", "D")

  def cleanLine(seed: Long, seq: Long): String = {
    val r = rng(seed, 2, seq)
    val code = cleanCodes(r.nextInt(cleanCodes.size))
    def elem(frac: Double) =
      s"""{"type":"${cleanTypes(r.nextInt(5))}","score":${seq + frac},"level":"${cleanLevels(r.nextInt(5))}"}"""
    s"""{"dt":"${fmt(1514800000L + seq / 100)}","countryCode":"$code","data":[${elem(0.25)},${elem(0.5)}]}"""
  }

  // ---------------------------------------------------------------
  // Documents.

  final case class Doc(id: Long, text: String) {
    def json: String =
      s"""{"doc_id":$id,"text":"${esc(text)}","lang":"en","source":"bench","n_chars":${text.length}}"""
  }

  private val stop = Vector("the", "a", "of", "and", "to", "in", "is", "it")
  private def word(r: Random, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  /** Ingest documents: fluent text is a walk on a fixed word chain
    * (each word has a few successors, so a bigram LM trained on the
    * corpus finds it likely); noise is random letters; a near-repeat
    * is an earlier document with one word changed. */
  final class IngestGen(seed: Long, val corpusN: Int, noise: Double = 0.2, repeat: Double = 0.2) {
    private val vr = new Random(seed ^ 0x5EED)
    private val vocab: Vector[String] =
      (stop ++ (0 until 142).map(_ => word(vr, 4, 8))).distinct
    private val next: Vector[Vector[Int]] =
      vocab.indices.map(_ => Vector.fill(12)(vr.nextInt(vocab.size))).toVector

    private def walk(r: Random, len: Int): String = {
      var w = r.nextInt(vocab.size)
      val b = new StringBuilder(vocab(w))
      for (_ <- 1 until len) { w = next(w)(r.nextInt(12)); b.append(' ').append(vocab(w)) }
      b.toString
    }
    private def novel(id: Long): Doc = { val r = rng(seed, 3, id); Doc(id, walk(r, 30 + r.nextInt(50))) }

    def corpus: Seq[Doc] = (0L until corpusN).map(novel)

    /** Stream document `seq` (doc id corpusN + seq). */
    def doc(seq: Long): Doc = {
      val id = corpusN + seq
      val r = rng(seed, 4, seq)
      val u = r.nextDouble()
      if (u < noise) Doc(id, Seq.fill(20 + r.nextInt(30))(word(r, 3, 9)).mkString(" "))
      else if (u < noise + repeat) {
        // source: a corpus doc or an earlier novel stream doc
        val srcId = r.nextLong(corpusN + seq)
        val src = if (srcId < corpusN) novel(srcId) else doc(srcId - corpusN)
        val ws = src.text.split(" ")
        ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size))
        Doc(id, ws.mkString(" "))
      } else novel(id)
    }
  }

  /** Curation corpus: random text over a wide vocabulary with ~12 %
    * stop words; planted near-duplicate clusters (copies with two
    * words changed); and docs that fail each quality rule (too short,
    * no stop words, low distinct ratio). */
  def curationCorpus(seed: Long, n: Int): Seq[Doc] = {
    val vr = new Random(seed ^ 0xC0DE)
    val vocab = Vector.fill(900)(word(vr, 4, 9)).distinct
    def text(r: Random, len: Int): Vector[String] =
      Vector.fill(len)(if (r.nextDouble() < 0.12) stop(r.nextInt(stop.size)) else vocab(r.nextInt(vocab.size)))
    val docs = Array.ofDim[Doc](n)
    for (i <- 0 until n) {
      val r = rng(seed, 5, i)
      val u = r.nextDouble()
      val t =
        if (u < 0.05) text(r, 8) // too short
        else if (u < 0.09) Vector.fill(60)(vocab(r.nextInt(vocab.size))) // no stop words
        else if (u < 0.12) Vector.fill(60)(vocab(r.nextInt(3))) // repetitive
        else if (u < 0.30 && i > 0) {
          // near-duplicate of an earlier doc
          val src = docs(r.nextInt(i)).text.split(" ")
          for (_ <- 0 until 2) src(r.nextInt(src.length)) = vocab(r.nextInt(vocab.size))
          src.toVector
        } else text(r, 40 + r.nextInt(160))
      docs(i) = Doc(i.toLong, t.mkString(" "))
    }
    docs.toSeq
  }
}
