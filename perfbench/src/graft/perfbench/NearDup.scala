package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{DedupClusters, ExactDeduplicator, MinHashDeduplicator, SetSimilarityJoin, TextNormalizer}
import graft.sql.expressions.{MinHashSignature, Shingles}

/** Near-duplicate detection over a seeded corpus: exact dedup, MinHash
  * candidates and verify, the exact set-similarity join on word trigrams,
  * and connected components of the verified pairs. Almost all of it is
  * `graft.dedup` and the set kernels.
  */
final class NearDup extends Workload {
  val name = "neardup"
  val Threshold = 0.8
  private var data: NearDupData = _

  def sizes: Map[String, Long] = Map(
    "docs" -> data.docs.size.toLong,
    "planted_pairs" -> data.planted.size.toLong,
    "decoy_pairs" -> data.decoys.size.toLong,
    "exact_copies" -> data.exactCopies.toLong,
    "vocabulary" -> NearDupData.Vocabulary.size.toLong)

  def generate(seed: Long): String = {
    data = NearDupData.generate(seed)
    data.fingerprint
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    data.docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
  }

  private def shingles3(tokens: Column): Column = Kernels.native(a => Shingles(a.head, 3), tokens)

  private def trigrams(text: Column): Column = shingles3(TextNormalizer.tokens(text))

  def rep(spark: SparkSession, t: Trace, dir: String, scratch: String): RepResult = {
    val docs = spark.read.parquet(s"$dir/docs")
    val deduped = t.span("dedup.exact") {
      t.frame(new ExactDeduplicator().setIdCol("doc_id").setTextCol("text").transform(docs))
    }
    val dedupedRows = deduped.count()
    val sets = t.span("dedup.shingles") {
      t.frame(deduped.select(col("doc_id"), trigrams(col("text")).as("toks")))
    }
    val minhash = new MinHashDeduplicator().setIdCol("doc_id").setTextCol("text")
      .setShingleMode("token").setShingleSize(3)
      .setNumHashes(20).setNumBands(10).setThreshold(Threshold)
    // candidate generation runs inside transform/pairs; the candidate
    // calls are probes, made in traced repetitions only
    var mhCandidates: DataFrame = null
    t.probe("dedup.minhash_candidates") { mhCandidates = t.frame(minhash.candidatePairs(deduped)) }
    val mhPairs = t.span("dedup.minhash") {
      val verified = t.frame(minhash.transform(deduped))
      t.count("dedup.minhash.useful_ratio",
        verified.count().toDouble / math.max(1L, mhCandidates.count()))
      verified
    }
    val join = new SetSimilarityJoin(Threshold, "doc_id", "toks")
    var candidates: DataFrame = null
    t.probe("dedup.setsim_candidates") { candidates = t.frame(join.candidates(sets)) }
    val pairs = t.span("dedup.setsim_pairs") {
      val p = t.frame(join.pairs(sets))
      t.count("dedup.setsim.useful_ratio", p.count().toDouble / math.max(1L, candidates.count()))
      p
    }
    val clusters = t.span("dedup.clusters") {
      t.frame(DedupClusters.components(deduped.select(col("doc_id")), pairs, "doc_id"))
    }

    def collectPairs(df: DataFrame) =
      df.select(col("id_a"), col("id_b"), col("jaccard")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val reported = collectPairs(pairs)
    val mhReported = collectPairs(mhPairs)
    val involved = (reported ++ mhReported).flatMap(p => Seq(p._1, p._2)).distinct ++
      data.planted.toSeq.flatMap(p => Seq(p._1, p._2))
    val setOf = sets.where(col("doc_id").isin(involved.distinct: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val clusterOf = clusters.where(col("doc_id").isin(involved.distinct: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = reported.map(p => (p._1, p._2)).toSet
    val mhFound = mhReported.map(p => (p._1, p._2)).toSet
    RepResult(Checks.pairRecall(data.planted, found), Seq(
      Checks.exactDedupRows(dedupedRows, data.docs.size - data.exactCopies),
      Checks.plantedFound(data.planted, found),
      Checks.pairsVerify(reported, setOf, Threshold),
      Checks.decoysAbsent("decoys_absent", data.decoys, found),
      Checks.atLeast("minhash_planted_recall", Checks.pairRecall(data.planted, mhFound),
        Checks.MinHashRecallFloor),
      Checks.pairsVerify(mhReported, setOf, Threshold, "minhash_pairs_jaccard"),
      Checks.decoysAbsent("minhash_decoys_absent", data.decoys, mhFound),
      Checks.clustersJoinPlanted(data.planted, clusterOf)))
  }

  def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/docs")
    val tokens = docs.select(TextNormalizer.tokens(col("text")).as("tokens")).persist()
    val shingled = tokens.select(shingles3(col("tokens")).as("toks")).persist()
    val sorted = shingled.select(graft.sql.functions.sortedDistinct(col("toks")).as("s"))
      .withColumn("i", monotonically_increasing_id())
    // each set against its neighbour in file order
    val setPairs: DataFrame = sorted.as("a")
      .join(sorted.as("b"), col("b.i") === col("a.i") + 1)
      .select(col("a.s").as("x"), col("b.s").as("y"))
    val out = Map(
      "kernel.shingles.ns_per_row" ->
        Kernels.nsPerRow(tokens, shingles3(col("tokens"))),
      "kernel.minhash_signature.ns_per_row" ->
        Kernels.nsPerRow(shingled, Kernels.native(a => MinHashSignature(a.head, 20), col("toks"))),
      "kernel.sorted_intersect_count.ns_per_row" ->
        Kernels.nsPerRow(setPairs.localCheckpoint(),
          graft.sql.functions.sortedIntersectCount(col("x"), col("y"))))
    tokens.unpersist()
    shingled.unpersist()
    out
  }
}
