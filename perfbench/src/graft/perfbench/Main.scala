package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (normally started by `perfbench/run.py`):
  *
  * {{{
  * Main --workload audience|neardup|ann --seed N --seconds S --trace 0|1
  *      --work DIR --out DIR [--commit SHA]
  * }}}
  *
  * One JVM, `local[N]` with N = min(4, available processors), one client
  * thread in a closed loop. Set-up generates the seeded inputs
  * [[SetupRounds]] times (their fingerprints must agree), writes them under
  * `--work`, trains what the workload trains offline, and runs one warm-up
  * repetition on a quarter of the rows. Then repetitions run
  * back to back for `--seconds` (at least `minReps` of the workload). With
  * `--trace 1` traced and untraced repetitions alternate, at least
  * [[TracedReps]] traced and one untraced, and the kernel layer is timed
  * after the loop. The last stdout line is the result object; the line
  * before it is the run context. Spans go to `--out` when traced. Exit
  * code 1 when any output check failed.
  */
object Main {
  val SetupRounds = 3
  val TracedReps = 1

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A quarter-size copy of the inputs: a table written as several part
    * files keeps only the first (rows are written in generation order, so
    * tables generated key by key stay aligned); other files are copied.
    */
  private def sampleInputs(from: File, to: File): Unit = {
    to.mkdirs()
    val children = from.listFiles.filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    val parts = children.filter(_.getName.startsWith("part-"))
    val keep = if (parts.length > 1) children.filterNot(parts.tail.contains) else children
    keep.foreach { f =>
      val dst = new File(to, f.getName)
      if (f.isDirectory) sampleInputs(f, dst)
      else java.nio.file.Files.copy(f.toPath, dst.toPath)
    }
  }

  /** Heap in use after a repetition, in MB: a full collection lets Spark's
    * cleaner drop the cached blocks of the repetition's unreachable frames,
    * and a second one frees them. What is left is what the session keeps
    * between repetitions; none of it depends on when the collector ran.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse {
      System.err.println(s"missing $k"); sys.exit(2)
    }
    val w = Workload.byName(need("--workload")).getOrElse {
      System.err.println(s"unknown workload ${need("--workload")} (audience, neardup, ann)")
      sys.exit(2)
    }
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val tracing = need("--trace") == "1"
    val work = new File(need("--work")).getAbsoluteFile
    val out = new File(need("--out")).getAbsoluteFile
    val commit = arg(args, "--commit").getOrElse("unknown")
    sys.exit(run(w, seed, seconds, tracing, work, out, commit))
  }

  def run(w: Workload, seed: Long, seconds: Double, tracing: Boolean, work: File, out: File,
      commit: String): Int = {
    val loadBefore = loadAvg
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val master = s"local[$cores]"
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val runId = f"${w.name}-s$seed-${ProcessHandle.current.pid}%d-${System.currentTimeMillis}%d"
    val trace = new Trace(spark, runId)
    val inputs = new File(work, "inputs").toString
    try {
      // set-up: generate + write SetupRounds times, prepare, then the warm-up
      val gens = (1 to SetupRounds).map { _ =>
        val g0 = System.nanoTime()
        val fp = w.generate(seed)
        w.write(spark, inputs)
        (fp, (System.nanoTime() - g0) / 1e9)
      }
      val fingerprint = gens.head._1
      val determinism = Check("inputs_deterministic", gens.forall(_._1 == fingerprint),
        s"fingerprints=${gens.map(_._1).mkString(",")}")
      val p0 = System.nanoTime()
      w.prepare(spark, inputs)
      val prepareS = (System.nanoTime() - p0) / 1e9
      // the warm-up runs the whole pipeline once on a quarter of the rows:
      // first-time costs (class loading, code generation, JIT) do not grow
      // with the rows. Its checks do not count; they hold for full inputs.
      val w0 = System.nanoTime()
      val sample = new File(work, "warmup-inputs")
      sampleInputs(new File(inputs), sample)
      val (warm, _) = trace.repetition(0, tracing = false) {
        w.rep(spark, trace, sample.toString, new File(work, "rep0").toString)
      }
      val warmS = (System.nanoTime() - w0) / 1e9
      listener.forget(trace.ofRep(0))
      // each repetition then starts on the heap the previous one's closing
      // collection settled
      System.gc()
      val setupS = sessionS + Stats.median(gens.map(_._2)) + prepareS + warmS

      val reps = scala.collection.mutable.ArrayBuffer.empty[RepRecord]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      def enough = System.nanoTime() >= deadline &&
        (if (tracing) reps.count(_.traced) >= TracedReps && reps.exists(!_.traced)
         else reps.size >= w.minReps)
      var i = 1
      while (!enough) {
        val traced = tracing && i % 2 == 1
        val gc0 = graft.JvmStats.gcMs
        val scratch = new File(work, s"rep$i")
        val (res, ns) = trace.repetition(i, traced) {
          w.rep(spark, trace, inputs, scratch.toString)
        }
        val gcS = (graft.JvmStats.gcMs - gc0) / 1e3
        val heapMb = liveHeapMb()
        Trace.drainListenerBus(spark)
        val total = listener.stats(trace.inRep(i))
        val perSpan =
          if (!traced) Map.empty[Int, GroupStats]
          else trace.spans.filter(_.rep == i).map(s => s.id -> listener.stats(_ == s.group)).toMap
        listener.forget(trace.ofRep(i))
        reps += RepRecord(i, traced, ns / 1e9, total.cpuNs / 1e9, heapMb, gcS, res.quality,
          res.checks, total, perSpan)
        deleteTree(scratch)
        i += 1
      }
      val kernels = if (tracing) w.kernels(spark, inputs) else Map.empty[String, Double]
      val planHashes = trace.lastPlanHashes
      val loadAfter = loadAvg

      val plain = reps.filterNot(_.traced).toSeq
      val e2e = Report.endToEnd(plain, setupS)
      val layers = if (tracing) Report.perLayer(reps.toSeq, trace.spans, kernels) else Map.empty
      val checks = determinism +: reps.flatMap(_.checks).toSeq
      val failed = checks.filterNot(_.ok)
      val context = Map(
        "workload" -> w.name, "seed" -> seed, "trace" -> tracing, "run_id" -> runId,
        "nproc" -> Runtime.getRuntime.availableProcessors, "load_before" -> loadBefore,
        "load_after" -> loadAfter, "master" -> master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "commit" -> commit, "sizes" -> w.sizes,
        "fingerprint" -> fingerprint,
        "setup" -> Map("session_s" -> sessionS, "generate_s" -> gens.map(_._2),
          "prepare_s" -> prepareS, "warmup_s" -> warmS, "warmup_quality" -> warm.quality),
        "reps" -> reps.map(r => Map("i" -> r.i, "traced" -> r.traced, "wall_s" -> r.wallS,
          "task_cpu_s" -> r.cpuS, "heap_mb" -> r.heapMb, "quality" -> r.quality)),
        "end_to_end" -> e2e, "plan_hashes" -> planHashes,
        "last_checks" -> reps.last.checks.map(c => s"${c.name}: ${c.detail}"),
        "failed_checks" -> failed.map(c => s"${c.name}: ${c.detail}"))
      if (tracing) {
        val statsOf = reps.flatMap(_.spanStats).toMap
        writeSpans(out, runId, trace.spans, statsOf, context)
      }
      val units = (Report.EndToEnd ++ Report.PerLayer).map(m => m.name -> m.unit).toMap
      val shown = if (tracing) layers else e2e
      println(Json.render(Map("context" -> context)))
      println(Json.render(Map(
        "correct" -> failed.isEmpty,
        "attempted" -> checks.size,
        "failed" -> failed.size,
        "metrics" -> shown.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Map("value" -> v, "unit" -> units(k))
        }.to(scala.collection.immutable.ListMap))))
      if (failed.isEmpty) 0 else 1
    } finally spark.stop()
  }

  private def writeSpans(out: File, runId: String, spans: Seq[Span], statsOf: Map[Int, GroupStats],
      context: Map[String, Any]): Unit = {
    out.mkdirs()
    val pw = new PrintWriter(new File(out, s"$runId.spans.jsonl"), "UTF-8")
    try {
      pw.println(Json.render(Map("context" -> context)))
      val children = spans.groupBy(_.parent)
      spans.foreach { s =>
        pw.println(Json.render(Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
          "rep" -> s.rep, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_ns" -> s.selfNs(children.getOrElse(s.id, Nil)), "job_group" -> s.group,
          "plan_hash" -> s.planHash, "counters" -> s.counters) ++
          statsOf.get(s.id).map { g =>
            Map("jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
              "task_cpu_ns" -> g.cpuNs, "shuffle_write_bytes" -> g.shuffleWriteBytes,
              "task_skew_max" -> g.skewMax)
          }.getOrElse(Map.empty)))
      }
    } finally pw.close()
  }
}
