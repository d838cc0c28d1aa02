package perfbench

import scala.collection.mutable

/** Seeded input generator. Everything the program receives (corpus, query
  * keys, maintenance batches) comes from here; the same seed gives the same
  * inputs. The generator also keeps the ground truth the checks need: which
  * documents were planted as near-duplicates of each other, and their exact
  * word-bigram Jaccard (the engine's shingle set at `numShingles = 2`).
  */
final case class CorpusParams(
    docs: Int,
    vocab: Int = 20000,
    zipfS: Double = 1.05,
    minWords: Int = 70,
    maxWords: Int = 130,
    // share of documents that belong to a planted near-duplicate cluster
    dupShare: Double = 0.10,
    maxCopies: Int = 3,
    // per-copy word mutation rate, drawn uniformly from this range, so the
    // planted pairs spread across the join threshold
    mutMin: Double = 0.02,
    mutMax: Double = 0.30,
    // share of documents carrying one of a few shared boilerplate passages
    boilerShare: Double = 0.20,
    boilerPassages: Int = 3,
    boilerWords: Int = 30)

final case class Doc(id: Long, text: String)

final class Corpus(
    val params: CorpusParams,
    val docs: IndexedSeq[Doc],
    /** Planted near-duplicate clusters, as document ids. */
    val clusters: IndexedSeq[IndexedSeq[Long]]) {

  lazy val byId: Map[Long, String] = docs.iterator.map(d => d.id -> d.text).toMap

  /** Every within-cluster pair (a < b) whose exact bigram Jaccard reaches
    * `threshold` — the pairs a correct join at that threshold should find.
    */
  def plantedPairs(threshold: Double): Set[(Long, Long)] =
    clusters.iterator.flatMap { c =>
      for {
        i <- c.indices.iterator
        j <- (i + 1 until c.size).iterator
        (a, b) = (math.min(c(i), c(j)), math.max(c(i), c(j)))
        if Gen.jaccard(byId(a), byId(b)) >= threshold
      } yield (a, b)
    }.toSet

  /** Planted partners of `id` at or above `threshold`. */
  def partners(id: Long, threshold: Double): Set[Long] =
    clusters.find(_.contains(id)).toSeq.flatMap(_.filter(_ != id))
      .filter(p => Gen.jaccard(byId(id), byId(p)) >= threshold).toSet

  def textBytes: Long = docs.iterator.map(_.text.length.toLong).sum
}

final class Gen(seed: Long, val params: CorpusParams) {
  private val rnd = new java.util.SplittableRandom(seed)

  val words: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < params.vocab) {
      val len = 3 + rnd.nextInt(7)
      seen += Iterator.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(params.vocab)(r => 1.0 / math.pow(r + 1, params.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def word(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
  }

  private val boiler: IndexedSeq[Seq[String]] =
    IndexedSeq.fill(params.boilerPassages)(Seq.fill(params.boilerWords)(word(rnd)))

  /** A fresh document of Zipf words, possibly carrying boilerplate. */
  def freshText(r: java.util.SplittableRandom): String = {
    val n = params.minWords + r.nextInt(params.maxWords - params.minWords + 1)
    val body = Seq.fill(n)(word(r))
    val withBoiler =
      if (r.nextDouble() < params.boilerShare)
        body ++ boiler(r.nextInt(boiler.size))
      else body
    withBoiler.mkString(" ")
  }

  /** Substitute, drop or insert words at `rate` per word. */
  def mutate(text: String, rate: Double, r: java.util.SplittableRandom): String = {
    val out = mutable.ArrayBuffer.empty[String]
    for (w <- text.split(' ')) {
      val u = r.nextDouble()
      if (u < rate * 0.7) out += word(r)
      else if (u < rate * 0.85) ()
      else if (u < rate) { out += w; out += word(r) }
      else out += w
    }
    if (out.isEmpty) out += word(r)
    out.mkString(" ")
  }

  /** The corpus: ids 0 until `docs`, cluster members scattered by a seeded
    * permutation so no partition holds a whole cluster.
    */
  def corpus(): Corpus = {
    val texts = mutable.ArrayBuffer.empty[String]
    val groups = mutable.ArrayBuffer.empty[IndexedSeq[Int]]
    val target = params.docs
    while (texts.size < target) {
      val base = freshText(rnd)
      val inCluster = rnd.nextDouble() < params.dupShare / 2.0
      if (inCluster && texts.size + 2 <= target) {
        val copies = math.min(1 + rnd.nextInt(params.maxCopies), target - texts.size - 1)
        val start = texts.size
        texts += base
        for (_ <- 0 until copies) {
          val rate = params.mutMin + rnd.nextDouble() * (params.mutMax - params.mutMin)
          texts += mutate(base, rate, rnd)
        }
        groups += (start to start + copies)
      } else texts += base
    }
    val perm = shuffled(texts.indices.toArray)
    val docs = Array.ofDim[Doc](texts.size)
    for (i <- texts.indices) docs(perm(i)) = Doc(perm(i).toLong, texts(i))
    new Corpus(params, docs.toIndexedSeq, groups.map(_.map(i => perm(i).toLong)).toIndexedSeq)
  }

  private def shuffled(a: Array[Int]): Array[Int] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Query keys: planted near-duplicate members (their partners should come
    * back) and fresh unrelated text (ids are -1), interleaved in fixed
    * proportion so every prefix of the sequence carries the same mix.
    */
  def queries(c: Corpus, n: Int, plantedPerTen: Int): IndexedSeq[(Long, String)] = {
    val members = c.clusters.flatten
    IndexedSeq.tabulate(n) { i =>
      if (members.nonEmpty && i % 10 < plantedPerTen) {
        val id = members(rnd.nextInt(members.size))
        (id, c.byId(id))
      } else (-1L, freshText(rnd))
    }
  }

  def fork(): java.util.SplittableRandom = rnd.split()
}

object Gen {
  def bigrams(text: String): Set[String] =
    text.split(' ').sliding(2).collect { case Array(a, b) => a + " " + b }.toSet

  def jaccard(a: String, b: String): Double = {
    val x = bigrams(a); val y = bigrams(b)
    if (x.isEmpty && y.isEmpty) 1.0
    else (x intersect y).size.toDouble / (x union y).size
  }
}
