package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** SHA-256 over a canonical field-by-field encoding of generated rows, so
  * two runs with one seed can be shown to use byte-identical inputs
  * independent of how the files were written.
  */
final class Fingerprint {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(8)

  def long(v: Long): this.type = { buf.clear(); buf.putLong(v); md.update(buf.array()); this }
  def double(v: Double): this.type = long(java.lang.Double.doubleToLongBits(v))
  def str(s: String): this.type = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    long(b.length.toLong)
    md.update(b)
    this
  }
  def hex: String = md.digest().take(8).map(b => f"$b%02x").mkString
}

/** Draws ranks 0..n-1 with probability proportional to 1 / (rank+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def draw(rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Impression log in the shape of `graft.examples.AudienceModelingExample`,
  * scaled up: cookie x site x impressions with Zipf site popularity,
  * cookie x lat/lon around a fixed grid of cities, and a response table
  * whose label is planted in a handful of mid-popularity sites, a few
  * cities and a recency column.
  */
final case class AudienceData(
    impressions: Seq[(String, String, Long)],
    geo: Seq[(String, Double, Double)],
    response: Seq[(String, Double, Double)],
    fingerprint: String)

object AudienceData {
  val Cookies = 7000
  val Sites = 300
  val Cities = 40
  val PositiveRate = 0.20

  def generate(seed: Long): AudienceData = {
    val rnd = new java.util.Random(seed * 1000003L + 1)
    val zipf = new Zipf(Sites, 1.1)
    val signalSites = (20 until 32).toArray
    // a fixed 8 x 5 grid of cities, so every seed has the same geography
    val cities = Array.tabulate(Cities)(i => (26.0 + (i % 5) * 5.0, -122.0 + (i / 5) * 7.0))
    val imps = Vector.newBuilder[(String, String, Long)]
    val geo = Vector.newBuilder[(String, Double, Double)]
    val resp = Vector.newBuilder[(String, Double, Double)]
    for (c <- 0 until Cookies) {
      val cookie = f"c$c%06d"
      val pos = rnd.nextDouble() < PositiveRate
      val signalP = if (pos) 0.45 else 0.04
      for (_ <- 0 until 4 + rnd.nextInt(9)) {
        val site =
          if (rnd.nextDouble() < signalP) signalSites(rnd.nextInt(signalSites.length))
          else zipf.draw(rnd)
        imps += ((cookie, s"site$site.com", 1L + rnd.nextInt(6)))
      }
      for (_ <- 0 until 1 + rnd.nextInt(3)) {
        val city = if (pos && rnd.nextDouble() < 0.5) rnd.nextInt(4) else rnd.nextInt(Cities)
        geo += ((cookie, cities(city)._1 + rnd.nextGaussian() * 0.15,
          cities(city)._2 + rnd.nextGaussian() * 0.15))
      }
      val recency = -math.log(1.0 - rnd.nextDouble()) * (if (pos) 5.0 else 12.0)
      resp += ((cookie, if (pos) 1.0 else 0.0, recency))
    }
    val (i, g, r) = (imps.result(), geo.result(), resp.result())
    val fp = new Fingerprint
    i.foreach { case (c, s, n) => fp.str(c).str(s).long(n) }
    g.foreach { case (c, la, lo) => fp.str(c).double(la).double(lo) }
    r.foreach { case (c, l, x) => fp.str(c).double(l).double(x) }
    AudienceData(i, g, r, fp.hex)
  }
}

/** A document corpus in the shape of the repository's sf0.1
  * `documents.parquet`, as `perfbench/profile_documents.py` measures it:
  * words drawn uniformly from its 30-word vocabulary, 10 to 99 words a
  * document (uniform), 5% of the documents near-duplicates of another and
  * 0.16% exact copies. Half of the near-duplicates take the source's form,
  * the document with the word `dup` appended (trigram Jaccard 0.89 to
  * 0.99); the other half are seeded word edits with a Jaccard in
  * [[Band]], just above the join's threshold. Decoys, edits with a Jaccard
  * in [[DecoyBand]], just below it, must not be reported. Which base
  * documents get copies is fixed, so every seed plants as many.
  */
final case class NearDupData(
    docs: Seq[(Long, String)],
    planted: Set[(Long, Long)],
    decoys: Set[(Long, Long)],
    exactCopies: Int,
    fingerprint: String)

object NearDupData {
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val Marker = "dup"
  val BaseDocs = 2000
  val MinWords = 10
  val MaxWords = 99
  val NearDupRate = 0.05
  val DecoyRate = 0.025
  val ExactCopyRate = 0.0016
  val Band = (0.80, 0.90)
  val DecoyBand = (0.70, 0.80)

  /** Distinct space-joined word trigrams: the sets `Shingles(tokens, 3)`
    * builds from already-normalised text.
    */
  def trigrams(words: IndexedSeq[String]): Set[String] =
    words.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  def generate(seed: Long): NearDupData = {
    val rnd = new java.util.Random(seed * 1000003L + 2)
    def word(): String = Vocabulary(rnd.nextInt(Vocabulary.size))
    def doc(): IndexedSeq[String] =
      IndexedSeq.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(word())
    // one edit at a time (substitute a word, append one, drop the last)
    // until the Jaccard to the source falls below the band's top; kept if
    // it landed in the band, else tried again from the source
    def edited(src: IndexedSeq[String], band: (Double, Double)): Option[IndexedSeq[String]] = {
      val srcSet = trigrams(src)
      Iterator.range(0, 50).map { _ =>
        var w = src
        var j = 1.0
        while (j >= band._2 && w.size > 3) {
          w = rnd.nextInt(3) match {
            case 0 =>
              val at = rnd.nextInt(w.size)
              var repl = word()
              while (repl == w(at)) repl = word()
              w.updated(at, repl)
            case 1 => w :+ word()
            case _ => w.init
          }
          j = jaccard(srcSet, trigrams(w))
        }
        (w, j)
      }.collectFirst { case (w, j) if j >= band._1 && j < band._2 => w }
    }
    val texts = Vector.newBuilder[IndexedSeq[String]]
    val plantedIdx = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val decoyIdx = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var copies = Vector.empty[String]
    var n = 0
    val nearEvery = math.round(1 / NearDupRate).toInt
    val decoyEvery = math.round(1 / DecoyRate).toInt
    val copyEvery = math.round(1 / ExactCopyRate).toInt
    def add(words: IndexedSeq[String], pairWith: Int,
        to: scala.collection.mutable.ArrayBuffer[(Int, Int)]): Unit = {
      texts += words
      to += ((pairWith, n))
      n += 1
    }
    for (i <- 0 until BaseDocs) {
      val base = doc()
      val b = n
      texts += base
      n += 1
      if (i % nearEvery == 0) {
        val copy = if (i % (2 * nearEvery) == 0) Some(base :+ Marker) else edited(base, Band)
        copy.foreach(add(_, b, plantedIdx))
      } else if (i % decoyEvery == nearEvery / 2) {
        edited(base, DecoyBand).foreach(add(_, b, decoyIdx))
      } else if (i % copyEvery == 1) {
        val t = base.mkString(" ")
        copies :+= t.head.toUpper.toString + t.tail + "!"
      }
    }
    val allTexts = texts.result().map(_.mkString(" ")) ++ copies
    // ids are a seeded permutation, so id order says nothing about which
    // document is a copy of which
    val ids = {
      val a = Array.tabulate(allTexts.size)(i => 1000L + i * 7L)
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val docs = allTexts.indices.map(i => (ids(i), allTexts(i)))
    def pairs(idx: Seq[(Int, Int)]) = idx.map { case (a, b) =>
      (math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))
    }.toSet
    val fp = new Fingerprint
    docs.foreach { case (id, t) => fp.long(id).str(t) }
    NearDupData(docs, pairs(plantedIdx.toSeq), pairs(decoyIdx.toSeq), copies.size, fp.hex)
  }
}

/** Clustered 64-dimensional embeddings: a base corpus, query batches and
  * append batches around one fixed set of cluster centres, vector i in
  * cluster i mod [[AnnData.Clusters]]. The noise is wide enough for the
  * clusters to overlap, so some true neighbours lie in cells a search does
  * not probe and recall@10 stays below 1. The seed draws the noise, so
  * every seed has about the same cell sizes and the same work.
  */
final case class AnnData(
    corpus: IndexedSeq[(Long, Array[Double])],
    queries: IndexedSeq[IndexedSeq[(Long, Array[Double])]],
    appends: IndexedSeq[IndexedSeq[(Long, Array[Double])]],
    fingerprint: String)

object AnnData {
  val Dim = 64
  val Clusters = 16
  val Noise = 0.23
  val Corpus = 6000
  val Batches = 4
  val QueriesPerBatch = 60
  val AppendPerBatch = 300
  val QueryIdBase = 1000000000L

  def generate(seed: Long): AnnData = {
    val fixed = new java.util.Random(3)
    val centres = Array.fill(Clusters) {
      val v = Array.fill(Dim)(fixed.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val rnd = new java.util.Random(seed * 1000003L + 3)
    var drawn = 0
    def point(): Array[Double] = {
      val c = centres(drawn % Clusters)
      drawn += 1
      Array.tabulate(Dim)(d => c(d) + rnd.nextGaussian() * Noise)
    }
    var nextId = 0L
    def batch(n: Int, idBase: Long = -1L) = IndexedSeq.fill(n) {
      val id = if (idBase >= 0) idBase + nextId else nextId
      nextId += 1
      (id, point())
    }
    val corpus = batch(Corpus)
    val appends = IndexedSeq.fill(Batches)(batch(AppendPerBatch))
    nextId = 0L
    val queries = IndexedSeq.fill(Batches)(batch(QueriesPerBatch, QueryIdBase))
    val fp = new Fingerprint
    for (part <- Seq(corpus) ++ appends ++ queries; (id, v) <- part) {
      fp.long(id)
      v.foreach(fp.double)
    }
    AnnData(corpus, queries, appends, fp.hex)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine (ties to the lower id), in plain Scala. */
  def exactTopK(q: Array[Double], corpus: Iterable[(Long, Array[Double])], k: Int): Seq[Long] =
    corpus.toSeq.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
}
