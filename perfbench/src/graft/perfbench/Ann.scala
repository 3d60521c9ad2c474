package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.similarity.{IvfCosineIndex, KMeans, ProductQuantizer}
import graft.sql.expressions.{NearestCellL2, NearestCentroidId}
import graft.streaming.IvfStreamMaintainer

/** Vector search over clustered embeddings: k-means cells and a PQ
  * codebook trained offline, an IVF index built under the cells and kept
  * on disk as a maintained layout, product-quantised codes, then one
  * client that alternates query batches (IVF search, then ADC over the
  * probed candidates on the last batch) with appends of new vectors into
  * the same cell layout, which compacts when its per-cell file limit is
  * hit.
  */
final class Ann extends Workload {
  import AnnData._
  val name = "ann"
  val Cells = 16
  val KMeansIters = 2
  val NProbe = 3
  val PqSubspaces = 8
  val PqCodes = 16
  val TopK = 10
  val MaxFilesPerCell = 4
  private var data: AnnData = _
  private lazy val vectorOf: Map[Long, Array[Double]] =
    (data.corpus ++ data.appends.flatten).toMap
  // exact top-k of batch b's queries over the corpus and the appends of
  // batches before b: what the maintained index holds when b is searched
  private lazy val exact: IndexedSeq[Map[Long, Seq[Long]]] =
    data.queries.indices.map { b =>
      val visible = data.corpus ++ data.appends.take(b).flatten
      data.queries(b).map { case (q, v) => q -> exactTopK(v, visible, TopK) }.toMap
    }

  def sizes: Map[String, Long] = Map(
    "dim" -> Dim.toLong,
    "corpus" -> Corpus.toLong,
    "batches" -> Batches.toLong,
    "queries_per_batch" -> QueriesPerBatch.toLong,
    "append_per_batch" -> AppendPerBatch.toLong)

  def generate(seed: Long): String = {
    data = AnnData.generate(seed)
    data.fingerprint
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    data.corpus.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/corpus")
    def batches(parts: IndexedSeq[IndexedSeq[(Long, Array[Double])]]) =
      parts.zipWithIndex.flatMap { case (p, b) => p.map { case (id, v) => (b, id, v.toSeq) } }
        .toDF("batch", "vec_id", "embedding")
    batches(data.queries).coalesce(1).write.mode("overwrite").parquet(s"$dir/queries")
    batches(data.appends).coalesce(1).write.mode("overwrite").parquet(s"$dir/appends")
  }

  /** Cells and codebook are trained offline, as the library's docs advise,
    * and saved beside the inputs; every repetition loads them.
    */
  override def prepare(spark: SparkSession, dir: String): Unit = {
    val corpus = spark.read.parquet(s"$dir/corpus")
    KMeans.saveCentroids(new KMeans(Cells, KMeansIters, Dim).fit(corpus), s"$dir/models")
    ProductQuantizer.saveCodebook(new ProductQuantizer(PqSubspaces, PqCodes, Dim).fit(corpus),
      s"$dir/models")
  }

  private def listsGeneration(layout: String): String = {
    val ptr = Paths.get(layout, "LISTS.ptr")
    if (Files.exists(ptr)) new String(Files.readAllBytes(ptr), "UTF-8").trim else "lists"
  }

  private def fileCount(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter((p: Path) => p.toString.endsWith(".parquet")).count() finally s.close()
  }

  def rep(spark: SparkSession, t: Trace, dir: String, scratch: String): RepResult = {
    val corpus = spark.read.parquet(s"$dir/corpus")
    val queries = spark.read.parquet(s"$dir/queries")
    val appends = spark.read.parquet(s"$dir/appends")
    val layout = s"$scratch/ivf"
    val models = s"$dir/models"
    val pq = new ProductQuantizer(PqSubspaces, PqCodes, Dim)
    // traced repetitions train again, as probes, to time the two fits
    t.probe("similarity.kmeans_fit") { t.frame(new KMeans(Cells, KMeansIters, Dim).fit(corpus)) }
    t.probe("similarity.pq_fit") { t.frame(pq.fit(corpus)) }
    val cents = KMeans.loadCentroids(spark, models)
    val codebook = t.frame(ProductQuantizer.loadCodebook(spark, models))
    val ivf = new IvfCosineIndex(Cells, NProbe, dim = Some(Dim))
    val maintainer = new IvfStreamMaintainer(ivf, layout, MaxFilesPerCell)
    // the corpus is listed under the k-means cells; the built index then
    // seeds the maintained layout as era 0 (its documented
    // `lists/batch=N/cid=K` shape), outside the span
    val built = t.span("similarity.ivf_build") {
      val b = ivf.buildWith(corpus, cents)
      b.copy(lists = t.frame(b.lists))
    }
    built.centroids.coalesce(1).write.mode("overwrite").parquet(s"$layout/centroids")
    built.lists.withColumn("batch", lit(0L)).repartition(col("cid"))
      .write.mode("overwrite").partitionBy("batch", "cid").parquet(s"$layout/lists")
    val codes = t.span("similarity.pq_encode") { t.frame(pq.encode(corpus, codebook)) }

    val checks = Seq.newBuilder[Check]
    var recallSum = 0.0
    for (b <- 0 until Batches) {
      val index = maintainer.load(spark)
      val qb = queries.where(col("batch") === b).select(col("vec_id"), col("embedding"))
      val hits = t.span("similarity.ivf_search") {
        val h = ivf.search(qb, index, TopK)
          .select(col("query_id"), col("vec_id"), col("cosine"), col("rank")).collect()
        t.count("probed_fraction", {
          val cells = index.lists.groupBy(col("cid")).count()
          val r = ivf.probes(qb, index).join(cells, "cid")
            .agg(sum(col("count")).cast("double")).head()
          r.getDouble(0) / (QueriesPerBatch.toDouble * index.lists.count())
        })
        h
      }
      val found = hits.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
      val recall = Checks.recallAtK(found.map { case (q, h) => q -> h.map(_._1) }, exact(b))
      recallSum += recall
      checks += Checks.rankedByCosine(found, data.queries(b).toMap, vectorOf)

      if (b == Batches - 1) {
        // the last query batch is also scored by ADC over the probed
        // candidates, with the appended vectors encoded first
        val appended = appends.where(col("batch") < b).select(col("vec_id"), col("embedding"))
        val allCodes = codes.union(t.span("similarity.pq_encode") {
          t.frame(pq.encode(appended, codebook))
        })
        val candidates = ivf.probes(qb, index)
          .join(index.lists.select(col("cid"), col("vec_id")), "cid")
          .select(col("query_id"), col("vec_id"))
        val adcHits = t.span("similarity.adc_search") {
          pq.adcSearchIn(qb, candidates, allCodes, codebook, TopK).collect()
        }
        val adcFound = adcHits.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
        }
        checks += Checks.adcTopK(adcFound, candidateAdc(b, candidates, allCodes, codebook), TopK)
      }

      val ab = appends.where(col("batch") === b).select(col("vec_id"), col("embedding"))
      val before = listsGeneration(layout)
      t.span("streaming.ivf_append") {
        val files0 = if (t.tracing) t.untimed(fileCount(layout)) else 0L
        maintainer.appendBatch(ab, b + 1L)
        if (listsGeneration(layout) != before) t.rename("streaming.ivf_compact")
        else t.count("files_written", (fileCount(layout) - files0).toDouble)
      }
    }
    val recall = recallSum / Batches
    RepResult(recall, checks.result() :+ Checks.recallFloor(recall))
  }

  /** ADC distance of every probed candidate of batch `b`'s queries, by
    * query, recomputed in plain Scala from the collected codes and
    * codebook: the sum over subspaces of the squared L2 between the
    * query's slice and the candidate's code centroid.
    */
  private def candidateAdc(
      b: Int,
      candidates: DataFrame,
      codes: DataFrame,
      codebook: DataFrame): Map[Long, Map[Long, Double]] = {
    def int(r: org.apache.spark.sql.Row, c: String) = r.getAs[Number](c).intValue
    val subDim = Dim / PqSubspaces
    val book = codebook.collect()
      .map(r => (int(r, "sub"), int(r, "code")) -> r.getAs[Seq[Double]]("centroid").toArray).toMap
    val codeOf = codes.collect().groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rs) => id -> rs.map(r => (int(r, "sub"), int(r, "code"))) }
    val query = data.queries(b).toMap
    candidates.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map { case (q, ps) =>
      q -> ps.map { case (_, id) =>
        id -> codeOf(id).map { case (sub, code) =>
          val c = book((sub, code))
          (0 until subDim).map { i => val d = query(q)(sub * subDim + i) - c(i); d * d }.sum
        }.sum
      }.toMap
    }
  }

  def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    val corpus = spark.read.parquet(s"$dir/corpus")
      .select(col("embedding").cast("array<double>").as("v")).persist()
    val cents = KMeans.loadCentroids(spark, s"$dir/models").collect().sortBy(_.getLong(0))
    val cids = Literal.create(cents.map(r => java.lang.Long.valueOf(r.getLong(0))).toSeq,
      ArrayType(LongType))
    val centLit = Literal.create(cents.map(_.getSeq[Double](1)).toSeq, ArrayType(ArrayType(DoubleType)))
    val pairs: DataFrame = corpus.withColumn("i", monotonically_increasing_id()).as("a")
      .join(corpus.withColumn("i", monotonically_increasing_id()).as("b"),
        col("b.i") === col("a.i") + 1)
      .select(col("a.v").as("x"), col("b.v").as("y")).localCheckpoint()
    val out = Map(
      "kernel.nearest_centroid.ns_per_row" -> Kernels.nsPerRow(corpus,
        Kernels.native(a => NearestCentroidId(a.head, cids, centLit), col("v"))),
      "kernel.nearest_cell_l2.ns_per_row" -> Kernels.nsPerRow(corpus,
        Kernels.native(a => NearestCellL2(a.head, cids, centLit), col("v"))),
      "kernel.cosine_similarity.ns_per_row" -> Kernels.nsPerRow(pairs,
        graft.sql.functions.cosineSimilarity(col("x"), col("y"))))
    corpus.unpersist()
    out
  }
}
