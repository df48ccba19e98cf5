package storebench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generator. Everything a run feeds the store comes from
  * here, so one seed gives one input set. Each kind of input draws from
  * its own stream (seed ⊕ stream tag), so adding a draw to one stream
  * never shifts another. */
final class Gen(seed: Long) {
  private def stream(tag: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ tag)

  // ---- clustered vectors ---------------------------------------------

  /** A Gaussian mixture on the unit sphere's neighbourhood: `clusters`
    * unit centres, one "hot" cluster holding `hotShare` of the mass and
    * the rest spread by random weights. Points are centre + N(0, noise²)
    * per dimension. */
  final class Mixture(val dim: Int, val clusters: Int, val hotShare: Double,
      noise: Double) {
    private val r = stream(1)
    val centres: Array[Array[Double]] = Array.fill(clusters) {
      val c = Array.fill(dim)(r.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    private val cdf: Array[Double] = {
      val rest = Array.fill(clusters - 1)(0.5 + r.nextDouble())
      val w = hotShare +: rest.map(_ / rest.sum * (1 - hotShare))
      w.scanLeft(0.0)(_ + _).tail
    }
    def pick(rng: Random): Int = {
      val u = rng.nextDouble()
      val i = cdf.indexWhere(_ >= u)
      if (i < 0) clusters - 1 else i
    }
    def draw(rng: Random): (Int, Array[Float]) = {
      val c = pick(rng)
      (c, Array.tabulate(dim)(d =>
        (centres(c)(d) + noise * rng.nextGaussian()).toFloat))
    }
  }

  def mixture(dim: Int, clusters: Int, hotShare: Double): Mixture =
    new Mixture(dim, clusters, hotShare, noise = 0.12)

  /** `n` corpus vectors with ids 0 until n, plus their clusters (for the
    * hot-share record). */
  def vectors(m: Mixture, n: Int): (Array[Long], Array[Array[Float]], Array[Int]) = {
    val rng = stream(2)
    val drawn = Array.fill(n)(m.draw(rng))
    (Array.tabulate(n)(_.toLong), drawn.map(_._2), drawn.map(_._1))
  }

  /** Held-out query batches: the same mixture, a separate stream, so no
    * query vector is in the store. */
  def queryBatches(m: Mixture, batches: Int, perBatch: Int)
      : Array[Array[Array[Float]]] = {
    val rng = stream(3)
    Array.fill(batches, perBatch)(m.draw(rng)._2)
  }

  // ---- mutation stream -------------------------------------------------

  private val mutRng = stream(4)

  /** One write round against the live id set: `rows` upserts of which
    * `insertShare` are new ids (from `nextId` on) and the rest replace
    * live ids with fresh vectors, then `removes` live ids to tombstone
    * (never one just upserted). Returns (upserts, removed ids). */
  def writeRound(m: Mixture, live: IndexedSeq[Long], nextId: Long, rows: Int,
      insertShare: Double, removes: Int)
      : (Seq[(Long, Array[Float])], Seq[Long]) = {
    val nNew = math.round(rows * insertShare).toInt
    val updIds = sample(live, rows - nNew, Set.empty)
    val ups = (0 until nNew).map(i => nextId + i) ++ updIds
    val upserts = ups.map(id => id -> m.draw(mutRng)._2)
    val removed = sample(live, removes, updIds.toSet)
    (upserts, removed)
  }

  def heldOut(m: Mixture, n: Int): Seq[Array[Float]] =
    Seq.fill(n)(m.draw(mutRng)._2)

  private def sample(from: IndexedSeq[Long], n: Int, exclude: Set[Long])
      : Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val id = from(mutRng.nextInt(from.size))
      if (!exclude(id)) out += id
    }
    out.toSeq
  }

  // ---- documents ---------------------------------------------------------

  private val stop = Vector("the", "of", "and", "to", "in", "a", "is", "that",
    "for", "it", "as", "with", "on", "was", "by", "at", "from", "this")
  private val vocab: Vector[String] = {
    val r = stream(5)
    val syl = Vector("ka", "lo", "mi", "ren", "tu", "sa", "vo", "del", "qui",
      "no", "ba", "er", "ix", "om", "pa", "str", "ul", "zen")
    Vector.fill(4000)(Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size)))
      .mkString).distinct
  }
  val sources: Vector[(String, Double)] = Vector("web" -> 0.5, "books" -> 0.2,
    "wiki" -> 0.15, "code" -> 0.1, "news" -> 0.05)

  final class Corpus(val mix: Gen.DocMix) {
    private val rng = stream(6)
    /** Eval passages for decontamination: 40 passages of 12 words. */
    val evalSet: Vector[(Long, String)] = Vector.tabulate(40)(i =>
      (i.toLong, words(rng, 12).mkString(" ")))
    val docs = ArrayBuffer.empty[Gen.Doc]
    val contaminatedIds = scala.collection.mutable.Set.empty[Long]
    var nExact, nNear, nShort = 0

    private def words(r: Random, n: Int): Seq[String] = Seq.fill(n) {
      if (r.nextDouble() < 0.35) stop(r.nextInt(stop.size))
      else {
        // Zipf-ish: square of a uniform favours low ranks
        val u = r.nextDouble()
        vocab((u * u * vocab.size).toInt)
      }
    }
    private def source(): String = {
      val u = rng.nextDouble()
      var acc = 0.0
      sources.find { case (_, w) => acc += w; u < acc }.getOrElse(sources.last)._1
    }

    /** Append `n` generated docs with ids continuing the corpus. */
    def grow(n: Int): Seq[Gen.Doc] = {
      val start = docs.size
      (0 until n).foreach { _ =>
        val id = docs.size.toLong + 1L
        val u = rng.nextDouble()
        val text =
          if (docs.size > 20 && u < mix.exactDup) {
            nExact += 1
            docs(rng.nextInt(docs.size)).text.replaceFirst(" ", "  ")
          } else if (docs.size > 20 && u < mix.exactDup + mix.nearDup) {
            nNear += 1
            val w = docs(rng.nextInt(docs.size)).text.split(" ")
            w.indices.map(i =>
              if (rng.nextDouble() < 0.03) vocab(rng.nextInt(vocab.size)) else w(i))
              .mkString(" ")
          } else if (u < mix.exactDup + mix.nearDup + mix.short) {
            nShort += 1
            words(rng, 2).mkString(" ")
          } else {
            val body = words(rng, 40 + rng.nextInt(220))
            val withPii =
              if (rng.nextDouble() < 0.02) body :+ s"mail u${id}@example.org"
              else body
            if (rng.nextDouble() < mix.contaminated) {
              contaminatedIds += id
              val (a, b) = withPii.splitAt(withPii.size / 2)
              (a ++ Seq(evalSet(rng.nextInt(evalSet.size))._2) ++ b).mkString(" ")
            } else withPii.mkString(" ")
          }
        docs += Gen.Doc(id, text, source())
      }
      docs.slice(start, docs.size).toSeq
    }

    /** Text queries: `words`-word windows cut from random corpus docs,
      * with the doc they were cut from. */
    def textQueries(n: Int, words: Int): Seq[(String, Long)] = Seq.fill(n) {
      var w = Array.empty[String]
      var d = docs(0)
      while (w.length < 2 * words) {
        d = docs(rng.nextInt(docs.size))
        w = d.text.split(" ").filter(_.nonEmpty)
      }
      val at = rng.nextInt(w.length - words)
      (w.slice(at, at + words).mkString(" "), d.id)
    }
  }
}

object Gen {
  /** Corpus shape: shares of exact duplicates (same text, whitespace
    * varied), near duplicates (a few words swapped), docs carrying an
    * evaluation passage, and docs too short for the quality gate. */
  final case class DocMix(exactDup: Double = 0.05, nearDup: Double = 0.05,
      contaminated: Double = 0.01, short: Double = 0.03)

  final case class Doc(id: Long, text: String, source: String)
}
