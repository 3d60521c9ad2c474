package graft.perfbench

/** A reported metric, as listed in BENCHMARK.json. */
final case class Metric(name: String, unit: String, better: String)

/** One measured repetition: wall and executor CPU seconds, live heap, the
  * quality figure and checks, task totals of the whole repetition, and
  * (traced repetitions) task totals of each span by span id.
  */
final case class RepRecord(
    i: Int,
    traced: Boolean,
    wallS: Double,
    cpuS: Double,
    heapMb: Double,
    gcS: Double,
    quality: Double,
    checks: Seq[Check],
    stats: GroupStats,
    spanStats: Map[Int, GroupStats])

object Report {
  private val MB = 1024.0 * 1024.0

  val EndToEnd: Seq[Metric] = Seq(
    Metric("run_s", "s", "lower"),
    Metric("task_cpu_s", "s", "lower"),
    Metric("setup_s", "s", "lower"),
    Metric("live_heap_mb", "MB", "lower"),
    Metric("quality", "ratio", "higher"))

  private def layer(call: String, measures: String*): Seq[Metric] =
    measures.map { m =>
      val (unit, better) = m match {
        case "self_s" | "task_cpu_s" | "gc_s" | "overhead_s" => ("s", "lower")
        case "shuffle_mb" | "spill_mb" => ("MB", "lower")
        case "p50_ms" | "p90_ms" => ("ms", "lower")
        case "ns_per_row" => ("ns", "lower")
        case "useful_ratio" => ("ratio", "higher")
        case "kept_ratio" | "probed_fraction" | "task_skew_max" => ("ratio", "lower")
        case _ => ("count", "lower")
      }
      Metric(s"$call.$m", unit, better)
    }

  private val Frame = Seq("self_s", "task_cpu_s", "shuffle_mb", "rows_out")
  private val Fit = Seq("self_s", "task_cpu_s", "shuffle_mb")

  val PerLayer: Seq[Metric] =
    layer("feature.gather", Frame: _*) ++
      layer("geo.s2cell", Frame: _*) ++
      layer("feature.gather_encoder_fit", Fit: _*) ++
      layer("feature.gather_encoder", Frame: _*) ++
      layer("feature.optimal_binning_fit", "self_s") ++
      layer("sampling.downsampling", "self_s", "kept_ratio") ++
      layer("classification.local_lr_fit", "self_s", "task_cpu_s") ++
      layer("evaluation.binary_metrics", Frame: _*) ++
      layer("dedup.minhash_candidates", Frame: _*) ++
      layer("dedup.minhash", "useful_ratio") ++
      layer("dedup.setsim_candidates", Frame: _*) ++
      layer("dedup.setsim_pairs", Frame: _*) ++
      layer("dedup.setsim", "useful_ratio") ++
      layer("dedup.clusters", "self_s", "jobs") ++
      layer("similarity.kmeans_fit", Fit: _*) ++
      layer("similarity.ivf_build", Frame: _*) ++
      layer("similarity.pq_fit", "self_s") ++
      layer("similarity.pq_encode", "self_s") ++
      layer("similarity.ivf_search", "self_s", "probed_fraction", "p50_ms", "p90_ms") ++
      layer("similarity.adc_search", "self_s") ++
      layer("streaming.ivf_append", "self_s", "files_written", "p50_ms") ++
      layer("streaming.ivf_compact", "self_s") ++
      Seq("shingles", "minhash_signature", "sorted_intersect_count",
        "nearest_centroid", "nearest_cell_l2", "cosine_similarity")
        .flatMap(k => layer(s"kernel.$k", "ns_per_row")) ++
      layer("spark", "jobs", "stages", "tasks", "task_skew_max", "spill_mb", "shuffle_mb", "gc_s") ++
      layer("trace", "overhead_s")

  /** End-to-end metrics: medians over untraced repetitions. */
  def endToEnd(plain: Seq[RepRecord], setupS: Double): Map[String, Double] = Map(
    "run_s" -> Stats.median(plain.map(_.wallS)),
    "task_cpu_s" -> Stats.median(plain.map(_.cpuS)),
    "setup_s" -> setupS,
    "live_heap_mb" -> Stats.median(plain.map(_.heapMb)),
    "quality" -> Stats.median(plain.map(_.quality)))

  /** Per-layer metrics of a traced run. Span measures are medians over the
    * traced repetitions of each repetition's total (ratios: mean per call);
    * `p50_ms`/`p90_ms` pool every call's self time; `spark.*` are medians
    * over the untraced repetitions; a layer the workload does not call
    * reads 0.
    */
  def perLayer(reps: Seq[RepRecord], spans: Seq[Span], kernels: Map[String, Double])
      : Map[String, Double] = {
    val traced = reps.filter(_.traced)
    val plain = reps.filterNot(_.traced)
    val children = spans.groupBy(_.parent)
    def selfS(s: Span): Double = s.selfNs(children.getOrElse(s.id, Nil)) / 1e9
    def stat(s: Span) = traced.find(_.i == s.rep).flatMap(_.spanStats.get(s.id))
      .getOrElse(new GroupStats)
    def medianOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    def spanMeasure(call: String, m: String, full: String): Double = m match {
      case "p50_ms" | "p90_ms" =>
        val xs = spans.filter(_.name == call).map(selfS(_) * 1000)
        if (xs.isEmpty) 0.0 else Stats.quantile(xs, if (m == "p50_ms") 0.5 else 0.9)
      case _ => medianOr0(traced.map { r =>
        val ss = spans.filter(s => s.rep == r.i && s.name == call)
        m match {
          case "self_s" => ss.map(selfS).sum
          case "task_cpu_s" => ss.map(stat(_).cpuNs).sum / 1e9
          case "shuffle_mb" => ss.map(stat(_).shuffleWriteBytes).sum / MB
          case "jobs" => ss.map(stat(_).jobs).sum.toDouble
          case _ =>
            val named = spans.filter(s => s.rep == r.i && s.counters.contains(full))
              .map(_.counters(full))
            val xs = if (named.nonEmpty) named else ss.flatMap(_.counters.get(m))
            if (m.endsWith("_ratio") || m.endsWith("_fraction"))
              (if (xs.isEmpty) 0.0 else xs.sum / xs.size)
            else xs.sum
        }
      })
    }

    PerLayer.map { metric =>
      val n = metric.name
      val cut = n.lastIndexOf('.')
      val (call, m) = (n.substring(0, cut), n.substring(cut + 1))
      n -> (call match {
        case c if c.startsWith("kernel.") => kernels.getOrElse(n, 0.0)
        case "trace" => Stats.median(traced.map(_.wallS)) - Stats.median(plain.map(_.wallS))
        case "spark" => Stats.median(plain.map { r =>
          m match {
            case "jobs" => r.stats.jobs.toDouble
            case "stages" => r.stats.stages.toDouble
            case "tasks" => r.stats.tasks.toDouble
            case "task_skew_max" => r.stats.skewMax
            case "spill_mb" => r.stats.spillBytes / MB
            case "shuffle_mb" => r.stats.shuffleWriteBytes / MB
            case "gc_s" => r.gcS
          }
        })
        case _ => spanMeasure(call, m, n)
      })
    }.toMap
  }
}
