package perfbench

import scala.util.Random

/** Seeded synthetic text and vector corpora. Everything is drawn from one
  * `Random(seed)`, so a seed fixes the inputs byte for byte.
  */
object Corpus {

  final case class Doc(id: Long, text: String)

  /** A planted copy of `orig`: identical text when `substitutions == 0`. */
  final case class Planted(id: Long, orig: Long, substitutions: Int)

  /** Zipf(1.0) sampler over `vocab` words "w0".."w{vocab-1}". */
  final class Zipf(vocab: Int, rng: Random) {
    private val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      "w" + math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
  }

  /** `originals` documents of `len` Zipf tokens, then `planted` copies of
    * random originals (ids follow the originals). Half the copies are exact;
    * the rest replace 1 to `maxSubs` distinct positions, which spreads their
    * shingle Jaccard to either side of a dedup threshold.
    */
  def docs(seed: Long, originals: Int, planted: Int, len: Int, vocab: Int,
      maxSubs: Int = 8): (Vector[Doc], Vector[Planted]) = {
    val rng = new Random(seed)
    val zipf = new Zipf(vocab, rng)
    val base = Vector.tabulate(originals) { i =>
      Doc(i.toLong, Vector.fill(len)(zipf.next()).mkString(" "))
    }
    val plants = Vector.tabulate(planted) { j =>
      val orig = rng.nextInt(originals)
      val subs = if (j % 2 == 0) 0 else 1 + rng.nextInt(maxSubs)
      Planted((originals + j).toLong, orig.toLong, subs)
    }
    val copies = plants.map { p =>
      val toks = base(p.orig.toInt).text.split(' ')
      // distinct positions, each given a different word, so a near copy
      // never collapses back into an exact one
      rng.shuffle((0 until len).toVector).take(p.substitutions).foreach { i =>
        toks(i) = Iterator.continually(zipf.next()).find(_ != toks(i)).get
      }
      Doc(p.id, toks.mkString(" "))
    }
    (base ++ copies, plants)
  }

  /** `n` vectors of `dim` dimensions around `clusters` Gaussian centres,
    * ids from `firstId`; `centreSeed` fixes the centres so two draws share
    * a distribution.
    */
  def vectors(seed: Long, centreSeed: Long, n: Int, dim: Int, clusters: Int,
      spread: Double, firstId: Long): Vector[(Long, Array[Double])] = {
    val crng = new Random(centreSeed)
    val centres = Array.fill(clusters, dim)(crng.nextGaussian())
    val rng = new Random(seed)
    Vector.tabulate(n) { i =>
      val c = centres(rng.nextInt(clusters))
      (firstId + i, Array.tabulate(dim)(d => c(d) + spread * rng.nextGaussian()))
    }
  }

  /** Word 3-gram shingle set, the tokenization `Dedup` applies:
    * lower-cased, trimmed, split on whitespace; a text shorter than `n`
    * tokens is one shingle.
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+")
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size
}
