package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed span: a call into a layer's public API, timed from the
  * benchmark. Times are `System.nanoTime`; `parent` is -1 for a repetition
  * root. `group` is the Spark job group the span's jobs ran under.
  * `excluded` holds the intervals the tracer spent on its own bookkeeping
  * (row counts, plan hashes) directly inside this span.
  */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    runId: String,
    rep: Int,
    start: Long,
    end: Long,
    group: String,
    counters: Map[String, Double],
    planHash: String,
    excluded: Seq[(Long, Long)]) {

  /** Duration minus the union of the children's and the span's own
    * bookkeeping intervals.
    */
  def selfNs(children: Seq[Span]): Long =
    SelfTime(start, end, children.map(c => (c.start, c.end)) ++ excluded)
}

object SelfTime {

  /** `end - start` minus the length of the union of the child intervals,
    * each clipped to the span. Children may overlap (work done in parallel)
    * and may themselves hold children; only the union of the direct
    * children's intervals is subtracted.
    */
  def apply(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    for ((s, e) <- clipped) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) covered += curE - curS
        curS = s
        curE = e
        open = true
      }
    }
    if (open) covered += curE - curS
    (end - start) - covered
  }
}

/** Task-level totals of the jobs that ran under one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Largest max/median task-duration ratio over the group's stages that
    * ran at least two tasks; 1.0 when no stage qualifies.
    */
  var skewMax = 1.0

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    skewMax = math.max(skewMax, o.skewMax)
    this
  }
}

/** Attributes jobs, stages and task metrics to the job group that was set
  * on the thread that started each job. Every event is handled on the
  * single listener-bus thread; readers call [[stats]] after draining the
  * bus ([[Trace.drainListenerBus]]), and the lock publishes the counts.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageDurations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val groups = mutable.HashMap.empty[String, GroupStats]

  private def statsOf(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    statsOf(g).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = statsOf(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val s = statsOf(stageGroup.getOrElse(id, ""))
    s.stages += 1
    stageDurations.remove(id).foreach { d =>
      if (d.size >= 2) {
        val sorted = d.sorted
        val median = Stats.median(sorted.map(_.toDouble).toSeq)
        s.skewMax = math.max(s.skewMax, sorted.last / math.max(median, 1.0))
      }
    }
  }

  /** Summed stats of every group accepted by `keep`. */
  def stats(keep: String => Boolean): GroupStats = synchronized {
    groups.iterator.filter { case (g, _) => keep(g) }
      .foldLeft(new GroupStats) { case (acc, (_, s)) => acc.add(s) }
  }

  /** Forget every group accepted by `drop` (finished repetitions). */
  def forget(drop: String => Boolean): Unit = synchronized {
    groups.keys.filter(drop).toList.foreach(groups.remove)
    stageGroup.filterInPlace { case (_, g) => !drop(g) }
  }
}

/** Span recorder for one benchmark process. A repetition is a root span
  * whose job group is always set, so its task totals can be read with
  * tracing off. With tracing on, every [[span]] below it gets its own job
  * group, start and end times, counters and the executed-plan hash of the
  * frame it materialised. The tracer's own work (row counts, plan hashes)
  * runs in [[untimed]] intervals under a separate job group: it is
  * subtracted from the enclosing span's self time and from the
  * repetition's wall time. Spans are kept in memory and written when the
  * run ends.
  */
final class Trace(spark: SparkSession, val runId: String) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private final class Open(val id: Int, var name: String, val group: String, val start: Long) {
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val excluded = mutable.ArrayBuffer.empty[(Long, Long)]
    var frame: Option[DataFrame] = None
  }
  // the open spans, innermost first
  private var stack = List.empty[Open]
  private var traced = false
  private var rep = 0
  private var excludedNs = 0L
  // frames of the current repetition when tracing is off: their plan
  // hashes are taken after the timed loop, for the last repetition only
  private val lastFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  private var untracedName = "rep"

  def spans: Seq[Span] = closed.toSeq
  def tracing: Boolean = traced

  def repGroup(i: Int): String = s"$runId/r$i"

  /** Every job group of repetition `i`. */
  def ofRep(i: Int)(group: String): Boolean =
    group == repGroup(i) || group.startsWith(repGroup(i) + "/")

  /** Job groups of repetition `i` whose jobs belong to the workload (not
    * to the tracer's bookkeeping).
    */
  def inRep(i: Int)(group: String): Boolean = ofRep(i)(group) && !group.endsWith("/x")

  /** Run one repetition as a root span. Returns the body's value and the
    * repetition's wall nanoseconds, bookkeeping excluded.
    */
  def repetition[T](i: Int, tracing: Boolean)(body: => T): (T, Long) = {
    traced = tracing
    rep = i
    excludedNs = 0L
    lastFrames.clear()
    val sc = spark.sparkContext
    val o = new Open(nextId, "rep", repGroup(i), System.nanoTime())
    nextId += 1
    stack = List(o)
    sc.setJobGroup(o.group, "rep", interruptOnCancel = false)
    try {
      val v = body
      val end = System.nanoTime()
      if (traced) closed += Span(o.id, -1, "rep", runId, rep, o.start, end, o.group,
        o.counters.toMap, "", o.excluded.toSeq)
      (v, end - o.start - excludedNs)
    } finally {
      sc.clearJobGroup()
      stack = Nil
    }
  }

  /** A call into one layer. With tracing off it only runs `body`. */
  def span[T](name: String)(body: => T): T =
    if (!traced) {
      val prev = untracedName
      untracedName = name
      try body finally untracedName = prev
    } else {
      val sc = spark.sparkContext
      val o = new Open(nextId, name, s"${repGroup(rep)}/s$nextId", System.nanoTime())
      nextId += 1
      val parent = stack.head
      stack = o :: stack
      sc.setJobGroup(o.group, name, interruptOnCancel = false)
      try {
        val v = body
        val end = System.nanoTime()
        stack = stack.tail
        untimed {
          val hash = o.frame.map(Trace.planHashOf).getOrElse("")
          closed += Span(o.id, parent.id, o.name, runId, rep, o.start, end, o.group,
            o.counters.toMap, hash, o.excluded.toSeq)
        }
        v
      } finally {
        if (stack.headOption.contains(o)) stack = stack.tail
        sc.setJobGroup(stack.head.group, stack.head.name, interruptOnCancel = false)
      }
    }

  /** A call made only to measure a step the pipeline reaches through
    * another call (candidate generation inside a verify). Traced
    * repetitions run it as a span whose whole interval counts as
    * bookkeeping of the enclosing span and of the repetition; untraced
    * repetitions skip it.
    */
  def probe(name: String)(body: => Unit): Unit =
    if (traced) {
      val parent = stack.head
      val before = excludedNs
      val t0 = System.nanoTime()
      span(name)(body)
      val t1 = System.nanoTime()
      parent.excluded += ((t0, t1))
      excludedNs = before + (t1 - t0)
    }

  /** Rename the innermost open span, for calls whose kind is known only
    * once they return (an append that compacted).
    */
  def rename(name: String): Unit = if (traced) stack.head.name = name

  /** Tracer bookkeeping: excluded from the enclosing span's self time and
    * from the repetition's wall time; its jobs run under a `/x` group.
    */
  def untimed[T](body: => T): T = {
    val sc = spark.sparkContext
    val o = stack.head
    sc.setJobGroup(o.group + "/x", "bookkeeping", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      o.excluded += ((t0, t1))
      excludedNs += t1 - t0
      sc.setJobGroup(o.group, o.name, interruptOnCancel = false)
    }
  }

  /** Materialise `df` with an eager local checkpoint, so later calls reuse
    * it. Traced runs record its row count as `rows_out` and its executed
    * plan on the innermost span.
    */
  def frame(df: DataFrame): DataFrame = {
    val done = df.localCheckpoint(eager = true)
    if (traced) {
      stack.head.frame = Some(df)
      count("rows_out", done.count().toDouble)
    } else {
      val key = Iterator.from(1).map(k => if (k == 1) untracedName else s"$untracedName#$k")
        .find(k => !lastFrames.contains(k)).get
      lastFrames(key) = df
    }
    done
  }

  /** Add `v` to counter `key` of the innermost open span. Traced runs
    * only: `v` is evaluated as bookkeeping, never with tracing off.
    */
  def count(key: String, v: => Double): Unit =
    if (traced) {
      val o = stack.head
      val x = untimed(v)
      o.counters(key) = o.counters.getOrElse(key, 0.0) + x
    }

  /** Executed-plan hashes of the frames the last untraced repetition
    * materialised, by span name.
    */
  def lastPlanHashes: Map[String, String] =
    lastFrames.map { case (n, df) => n -> Trace.planHashOf(df) }.toMap
}

object Trace {

  def planHashOf(df: DataFrame): String =
    graft.Bench.planHash(df.queryExecution.executedPlan.toString)

  /** Block until the listener bus has delivered every queued event (at most
    * 2 s), the way `graft.Bench` drains between queries, so counts read
    * after a repetition include all of its tasks and none of the next.
    */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(2000L))
    ()
  }
}
