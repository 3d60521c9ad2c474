package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one repetition returns: the workload's quality figure (AUC, pair
  * recall or recall@10) and its output checks.
  */
final case class RepResult(quality: Double, checks: Seq[Check])

/** A seeded workload. `generate` builds the inputs in memory and returns
  * their fingerprint; `write` puts them on disk; `prepare` adds what is
  * trained offline from them; `rep` runs the pipeline once from the files,
  * through the library's public API, and checks the output. `kernels`
  * times this workload's kernel expressions (traced runs only).
  */
trait Workload {
  def name: String
  /** Untraced repetitions a run makes at least. */
  def minReps: Int = 2
  /** Input sizes, printed with every result. */
  def sizes: Map[String, Long]
  def generate(seed: Long): String
  def write(spark: SparkSession, dir: String): Unit
  def prepare(spark: SparkSession, dir: String): Unit = ()
  def rep(spark: SparkSession, t: Trace, dir: String, scratch: String): RepResult
  def kernels(spark: SparkSession, dir: String): Map[String, Double]
}

object Workload {
  def byName(name: String): Option[Workload] = name match {
    case "audience" => Some(new Audience)
    case "neardup" => Some(new NearDup)
    case "ann" => Some(new Ann)
    case _ => None
  }
}
