package graft.perfbench

/** One output check of one repetition. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Output checks, computed in plain Scala from collected results. Each
  * returns a [[Check]]; a failed check counts in `failed` and makes the
  * benchmark exit nonzero.
  */
object Checks {

  val AucFloor = 0.75
  val RecallFloor = 0.92
  val MinHashRecallFloor = 0.95

  def aucFloor(auc: Double): Check =
    Check("auc_floor", auc >= AucFloor, f"auc=$auc%.6f floor=$AucFloor")

  /** The AUC of every repetition of one seed must equal the first one's. */
  def aucRepeats(auc: Double, first: Double): Check =
    Check("auc_repeats", auc == first, s"auc=$auc first=$first")

  def exactDedupRows(rows: Long, expected: Long): Check =
    Check("exact_dedup_rows", rows == expected, s"rows=$rows expected=$expected")

  /** Every planted near-duplicate pair (id_a < id_b) was reported. */
  def plantedFound(planted: Set[(Long, Long)], reported: Set[(Long, Long)]): Check = {
    val missing = planted.diff(reported)
    Check("planted_pairs_found", missing.isEmpty,
      s"missing=${missing.size}/${planted.size} e.g. ${missing.take(3).mkString(",")}")
  }

  /** No decoy pair (Jaccard planted just below the threshold) was reported. */
  def decoysAbsent(name: String, decoys: Set[(Long, Long)], reported: Set[(Long, Long)]): Check = {
    val hit = decoys.intersect(reported)
    Check(name, hit.isEmpty, s"reported=${hit.size}/${decoys.size} e.g. ${hit.take(3).mkString(",")}")
  }

  /** Share of the planted pairs among the reported ones. */
  def pairRecall(planted: Set[(Long, Long)], reported: Set[(Long, Long)]): Double =
    planted.count(reported.contains).toDouble / math.max(1, planted.size)

  /** `value` is at or above `floor`. */
  def atLeast(name: String, value: Double, floor: Double): Check =
    Check(name, value >= floor, f"value=$value%.6f floor=$floor")

  /** Every reported pair's Jaccard, recomputed from its collected shingle
    * sets, is at least `threshold` and matches the reported value.
    */
  def pairsVerify(
      reported: Seq[(Long, Long, Double)],
      sets: Map[Long, Seq[String]],
      threshold: Double,
      name: String = "pairs_jaccard"): Check = {
    val bad = reported.filter { case (a, b, j) =>
      (sets.get(a), sets.get(b)) match {
        case (Some(x), Some(y)) =>
          val (sa, sb) = (x.toSet, y.toSet)
          val inter = sa.count(sb.contains)
          val exact = inter.toDouble / (sa.size + sb.size - inter)
          exact < threshold || math.abs(exact - j) > 1e-9
        case _ => true
      }
    }
    Check(name, bad.isEmpty,
      s"bad=${bad.size}/${reported.size} e.g. ${bad.take(3).mkString(",")}")
  }

  /** Planted pairs must land in one component. */
  def clustersJoinPlanted(planted: Set[(Long, Long)], cluster: Map[Long, Long]): Check = {
    val split = planted.filter { case (a, b) => cluster.get(a).isEmpty || cluster.get(a) != cluster.get(b) }
    Check("clusters_join_planted", split.isEmpty, s"split=${split.size}/${planted.size}")
  }

  /** Mean share of the exact top-k found in the returned top-k. */
  def recallAtK(found: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double =
    exact.toSeq.map { case (q, ids) =>
      found.getOrElse(q, Nil).toSet.intersect(ids.toSet).size.toDouble / ids.size
    }.sum / math.max(1, exact.size)

  def recallFloor(recall: Double): Check = atLeast("recall_at_10_floor", recall, RecallFloor)

  /** Each query's ADC list holds `k` of its probed candidates, in
    * ascending ADC distance, and no candidate left out is nearer: distances
    * are recomputed in plain Scala (`candidateAdc`: query -> candidate ->
    * distance) and compared within `tol`, since the library ranks on
    * values snapped to 1e-6.
    */
  def adcTopK(
      found: Map[Long, Seq[Long]],
      candidateAdc: Map[Long, Map[Long, Double]],
      k: Int,
      tol: Double = 2e-6): Check = {
    val bad = candidateAdc.toSeq.filter { case (q, adc) =>
      val ids = found.getOrElse(q, Nil)
      val ok = ids.size == math.min(k, adc.size) && ids.forall(adc.contains) && {
        val got = ids.map(adc)
        got.zip(got.drop(1)).forall { case (a, b) => a <= b + tol } &&
          (adc.keySet -- ids).forall(id => adc(id) >= got.max - tol)
      }
      !ok
    }
    Check("adc_top_k", bad.isEmpty && found.keySet.subsetOf(candidateAdc.keySet),
      s"bad=${bad.size}/${candidateAdc.size}")
  }

  /** Each returned list is ordered by descending cosine recomputed in plain
    * Scala (ties by id), and each reported cosine matches the recomputed
    * one.
    */
  def rankedByCosine(
      found: Map[Long, Seq[(Long, Double)]],
      queries: Map[Long, Array[Double]],
      vectors: Long => Array[Double]): Check = {
    val bad = found.toSeq.filter { case (q, hits) =>
      val exact = hits.map { case (id, _) => (id, AnnData.cosine(queries(q), vectors(id))) }
      val ordered = exact.zip(exact.drop(1)).forall { case ((ia, ca), (ib, cb)) =>
        ca > cb + 1e-12 || (math.abs(ca - cb) <= 1e-12 && ia < ib)
      }
      val matches = hits.zip(exact).forall { case ((_, c), (_, e)) => math.abs(c - e) <= 1e-9 }
      !ordered || !matches
    }
    Check("ranked_by_cosine", bad.isEmpty, s"bad=${bad.size}/${found.size}")
  }
}
