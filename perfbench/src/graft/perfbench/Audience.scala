package graft.perfbench

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.classification.LocalLogisticRegression
import graft.evaluation.BinaryModelMetrics
import graft.feature.{Gather, GatherEncoder, OptimalBinning, S2CellTransformer}
import graft.sampling.Downsampling

/** The paper's pipeline: impressions and geo are gathered per cookie,
  * encoded, binned, downsampled, and a local logistic regression is fit
  * and evaluated. Loads the feature, geo, sampling, classification and
  * evaluation layers and no dedup or similarity code.
  */
final class Audience extends Workload {
  val name = "audience"
  private var data: AudienceData = _
  // the first AUC seen for each input directory
  private val firstAuc = scala.collection.mutable.Map.empty[String, Double]

  def sizes: Map[String, Long] = Map(
    "cookies" -> AudienceData.Cookies.toLong,
    "sites" -> AudienceData.Sites.toLong,
    "impression_rows" -> data.impressions.size.toLong,
    "geo_rows" -> data.geo.size.toLong)

  def generate(seed: Long): String = {
    data = AudienceData.generate(seed)
    data.fingerprint
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    data.impressions.toDF("cookie", "site", "impressions")
      .write.mode("overwrite").parquet(s"$dir/impressions")
    data.geo.toDF("cookie", "lat", "lon")
      .write.mode("overwrite").parquet(s"$dir/geo")
    data.response.toDF("cookie", "label", "recency")
      .write.mode("overwrite").parquet(s"$dir/response")
  }

  def rep(spark: SparkSession, t: Trace, dir: String, scratch: String): RepResult = {
    val impressions = spark.read.parquet(s"$dir/impressions")
    val geo = spark.read.parquet(s"$dir/geo")
    val response = spark.read.parquet(s"$dir/response")

    val sites = t.span("feature.gather") {
      t.frame(new Gather()
        .setPrimaryKeyCols("cookie").setKeyCol("site").setValueCol("impressions")
        .setValueAgg("sum").setOutputCol("sites")
        .transform(impressions))
    }
    val located = t.span("geo.s2cell") {
      t.frame(new S2CellTransformer()
        .setLatCol("lat").setLonCol("lon").setCellCol("cell").setLevel(10)
        .transform(geo))
    }
    val cells = t.span("feature.gather") {
      t.frame(new Gather()
        .setPrimaryKeyCols("cookie").setKeyCol("cell").setValueCol("one")
        .setValueAgg("count").setOutputCol("cells")
        .transform(located.withColumn("one", lit(1L))))
    }
    val dataset = t.frame(response.join(sites, "cookie").join(cells, "cookie"))
    val joinedRows = dataset.count()

    val siteEncoder = new GatherEncoder()
      .setInputCol("sites").setOutputCol("site_features")
      .setKeyCol("site").setValueCol("impressions")
      .setTransformation("top").setCover(95.0).setAllOther(true)
    val cellEncoder = new GatherEncoder()
      .setInputCol("cells").setOutputCol("cell_features")
      .setKeyCol("cell").setValueCol("one")
      .setTransformation("top").setCover(95.0).setAllOther(true)
    val (siteModel, cellModel) = t.span("feature.gather_encoder_fit") {
      (siteEncoder.fit(dataset), cellEncoder.fit(dataset))
    }
    val encoded = t.span("feature.gather_encoder") {
      t.frame(cellModel.transform(siteModel.transform(dataset)))
    }
    val binning = t.span("feature.optimal_binning_fit") {
      new OptimalBinning().setInputCol("recency").setOutputCol("recency_bins")
        .setNumBins(8).fit(encoded)
    }
    val assembled = t.frame(new VectorAssembler()
      .setInputCols(Array("site_features", "cell_features", "recency_bins"))
      .setOutputCol("features")
      .transform(binning.transform(encoded))
      .select(col("cookie"), col("label"), col("features")))
    // two fifths of the cookies, chosen by hash, are held out for evaluation
    val held = pmod(xxhash64(col("cookie")), lit(5L)) < 2
    val train = assembled.where(!held)
    val test = assembled.where(held)

    val sampled = t.span("sampling.downsampling") {
      val s = t.frame(new Downsampling().setLabelCol("label").setMaxClassRatio(3.0)
        .setDeterministicIdCol("cookie").fit(train).transform(train))
      t.count("kept_ratio", s.count().toDouble / train.count())
      s
    }
    val model = t.span("classification.local_lr_fit") {
      new LocalLogisticRegression().setMaxIter(50).setRegParam(0.01)
        .fit(sampled.repartition(1).sortWithinPartitions("cookie"))
    }
    val scored = t.span("classification.local_lr_transform") {
      t.frame(model.transform(test).select(col("probability").as("score"), col("label")))
    }
    val (auc, gains) = t.span("evaluation.binary_metrics") {
      val metrics = new BinaryModelMetrics(scored)
      val auc = metrics.areaUnderROC()
      val gains = metrics.gains().collect()
      t.count("rows_out", gains.length.toDouble)
      (auc, gains)
    }
    val first = firstAuc.getOrElseUpdate(dir, auc)
    val last = gains.last
    RepResult(auc, Seq(
      Checks.aucFloor(auc),
      Checks.aucRepeats(auc, first),
      Check("joined_rows", joinedRows == AudienceData.Cookies,
        s"rows=$joinedRows expected=${AudienceData.Cookies}"),
      Check("gains_end", last.getDouble(0) == 1.0 && last.getDouble(1) == 1.0,
        s"last gains point=$last")))
  }

  def kernels(spark: SparkSession, dir: String): Map[String, Double] = Map.empty
}
