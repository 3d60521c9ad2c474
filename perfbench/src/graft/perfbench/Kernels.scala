package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Kernel layer: one expression over a workload's own generated arrays,
  * written to the `noop` sink after warm-up.
  */
object Kernels {
  val TargetRows = 40000L
  val Warmup = 1
  val Timed = 3

  /** Column over a native expression built from column arguments. */
  def native(f: Seq[Expression] => Expression, args: Column*): Column =
    GraftBridge.column(f(args.map(GraftBridge.expression)))

  /** Median nanoseconds per input row of `kernel` over `input`, replicated
    * until it holds at least [[TargetRows]] rows and cached first, so the
    * timed passes read memory and run the kernel.
    */
  def nsPerRow(input: DataFrame, kernel: Column): Double = {
    val n0 = input.count()
    val copies = math.max(1L, (TargetRows + n0 - 1) / n0)
    val in = input.crossJoin(input.sparkSession.range(copies).select(col("id").as("copy")))
      .drop("copy").repartition(input.sparkSession.sparkContext.defaultParallelism).persist()
    val n = in.count()
    def once(): Long = {
      val t0 = System.nanoTime()
      in.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    (1 to Warmup).foreach(_ => once())
    val ns = (1 to Timed).map(_ => once().toDouble)
    in.unpersist(blocking = true)
    Stats.median(ns) / n
  }
}
