package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Prints one line per test and exits 1 if any fails.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += name
        println(s"FAIL $name: $e")
    }

  private def assertEq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def assertTrue(c: Boolean, what: String): Unit =
    if (!c) throw new AssertionError(what)

  private def span(id: Int, parent: Int, start: Long, end: Long,
      excluded: Seq[(Long, Long)] = Nil): Span =
    Span(id, parent, s"s$id", "run", 1, start, end, "g", Map.empty, "", excluded)

  def main(args: Array[String]): Unit = {
    test("self time: disjoint children") {
      assertEq(SelfTime(0, 100, Seq((0L, 10L), (50L, 60L))), 80L)
    }
    test("self time: overlapping children count their union once") {
      assertEq(SelfTime(0, 100, Seq((10L, 30L), (20L, 40L), (35L, 45L))), 65L)
    }
    test("self time: children are clipped to the span") {
      assertEq(SelfTime(0, 100, Seq((-20L, 10L), (90L, 130L))), 80L)
    }
    test("self time: nested spans subtract only direct children") {
      val root = span(0, -1, 0, 100)
      val child = span(1, 0, 10, 50)
      val grandchild = span(2, 1, 20, 30)
      val all = Seq(root, child, grandchild)
      def kids(s: Span) = all.filter(_.parent == s.id)
      assertEq(root.selfNs(kids(root)), 60L, "root")
      assertEq(child.selfNs(kids(child)), 30L, "child")
      assertEq(grandchild.selfNs(kids(grandchild)), 10L, "grandchild")
    }
    test("self time: bookkeeping intervals are excluded like children") {
      val s = span(0, -1, 0, 100, excluded = Seq((40L, 60L)))
      assertEq(s.selfNs(Seq(span(1, 0, 50, 70))), 70L)
    }

    test("generators are deterministic per seed") {
      assertEq(AudienceData.generate(3).fingerprint, AudienceData.generate(3).fingerprint)
      assertEq(NearDupData.generate(3).fingerprint, NearDupData.generate(3).fingerprint)
      assertEq(AnnData.generate(3).fingerprint, AnnData.generate(3).fingerprint)
      assertTrue(AudienceData.generate(3).fingerprint != AudienceData.generate(4).fingerprint,
        "seeds 3 and 4 gave the same audience inputs")
      assertTrue(NearDupData.generate(3).fingerprint != NearDupData.generate(4).fingerprint,
        "seeds 3 and 4 gave the same corpus")
      assertTrue(AnnData.generate(3).fingerprint != AnnData.generate(4).fingerprint,
        "seeds 3 and 4 gave the same embeddings")
    }
    test("planted pairs straddle the threshold band and decoys lie below it") {
      val d = NearDupData.generate(5)
      val text = d.docs.toMap
      def j(p: (Long, Long)) = NearDupData.jaccard(
        NearDupData.trigrams(text(p._1).split(" ").toIndexedSeq),
        NearDupData.trigrams(text(p._2).split(" ").toIndexedSeq))
      assertTrue(d.planted.nonEmpty && d.decoys.nonEmpty, "no planted pairs or decoys")
      val planted = d.planted.toSeq.map(j)
      assertTrue(planted.forall(x => x >= NearDupData.Band._1 && x < 1.0),
        s"planted Jaccard outside [0.8, 1): ${planted.min}..${planted.max}")
      assertTrue(planted.count(_ < NearDupData.Band._2) >= planted.size / 3,
        "too few planted pairs just above the threshold")
      d.decoys.toSeq.map(j).foreach { x =>
        assertTrue(x >= NearDupData.DecoyBand._1 && x < NearDupData.DecoyBand._2, s"decoy Jaccard $x")
      }
    }

    val sets = Map(1L -> Seq("a", "b", "c", "d", "e"), 2L -> Seq("a", "b", "c", "d", "f"),
      3L -> Seq("x", "y", "z", "w", "v"))
    test("neardup check rejects a dropped planted pair") {
      val planted = Set((1L, 2L), (4L, 5L))
      assertTrue(Checks.plantedFound(planted, planted).ok, "complete answer rejected")
      assertTrue(!Checks.plantedFound(planted, Set((1L, 2L))).ok, "dropped pair accepted")
    }
    test("neardup check rejects a pair below the threshold or misreported") {
      val j12 = 4.0 / 6.0
      assertTrue(Checks.pairsVerify(Seq((1L, 2L, j12)), sets, 0.6).ok, "true pair rejected")
      assertTrue(!Checks.pairsVerify(Seq((1L, 3L, 0.9)), sets, 0.6).ok, "disjoint pair accepted")
      assertTrue(!Checks.pairsVerify(Seq((1L, 2L, 0.9)), sets, 0.6).ok, "wrong Jaccard accepted")
      assertTrue(!Checks.pairsVerify(Seq((1L, 2L, j12)), sets, 0.8).ok, "sub-threshold pair accepted")
    }
    test("neardup check rejects a reported decoy") {
      val decoys = Set((1L, 3L))
      assertTrue(Checks.decoysAbsent("d", decoys, Set((1L, 2L))).ok, "clean answer rejected")
      assertTrue(!Checks.decoysAbsent("d", decoys, Set((1L, 2L), (1L, 3L))).ok, "decoy accepted")
    }
    test("neardup check rejects a MinHash recall below its floor") {
      val planted = (1L to 20L).map(i => (i, i + 100)).toSet
      val found = Checks.pairRecall(planted, planted.drop(2))
      assertEq(found, 0.9, "recall")
      assertTrue(!Checks.atLeast("m", found, Checks.MinHashRecallFloor).ok, "low recall accepted")
      assertTrue(Checks.atLeast("m", 1.0, Checks.MinHashRecallFloor).ok, "full recall rejected")
    }
    test("neardup check rejects a planted pair split across clusters") {
      val planted = Set((1L, 2L))
      assertTrue(Checks.clustersJoinPlanted(planted, Map(1L -> 1L, 2L -> 1L)).ok, "joined rejected")
      assertTrue(!Checks.clustersJoinPlanted(planted, Map(1L -> 1L, 2L -> 2L)).ok, "split accepted")
    }
    test("audience checks reject a low or unrepeatable AUC") {
      assertTrue(Checks.aucFloor(0.9).ok && !Checks.aucFloor(0.6).ok, "floor")
      assertTrue(Checks.aucRepeats(0.85, 0.85).ok && !Checks.aucRepeats(0.85, 0.8500001).ok,
        "repeat")
    }
    test("ann checks reject a shuffled top-10 and a low recall") {
      val d = AnnData.generate(7)
      val vec = (d.corpus ++ d.appends.flatten).toMap
      val (q, qv) = d.queries.head.head
      val top = AnnData.exactTopK(qv, d.corpus, 10)
      val hits = top.map(id => (id, AnnData.cosine(qv, vec(id))))
      val queries = Map(q -> qv)
      assertTrue(Checks.rankedByCosine(Map(q -> hits), queries, vec).ok, "exact top-10 rejected")
      val shuffled = hits.reverse
      assertTrue(!Checks.rankedByCosine(Map(q -> shuffled), queries, vec).ok,
        "shuffled top-10 accepted")
      val wrongScore = hits.updated(0, (hits.head._1, hits.head._2 + 0.01))
      assertTrue(!Checks.rankedByCosine(Map(q -> wrongScore), queries, vec).ok,
        "misreported cosine accepted")
      assertEq(Checks.recallAtK(Map(q -> top), Map(q -> top)), 1.0, "recall")
      val half = Checks.recallAtK(Map(q -> top.take(5)), Map(q -> top))
      assertEq(half, 0.5, "recall of half")
      assertTrue(Checks.recallFloor(1.0).ok && !Checks.recallFloor(half).ok, "recall floor")
    }
    test("ann check rejects an ADC list that is not the nearest candidates") {
      val adc = Map(100L -> (1L to 12L).map(id => id -> id * 0.1).toMap)
      val nearest = Map(100L -> (1L to 10L))
      assertTrue(Checks.adcTopK(nearest, adc, 10).ok, "nearest candidates rejected")
      assertTrue(!Checks.adcTopK(Map(100L -> ((1L to 9L) :+ 12L)), adc, 10).ok,
        "a farther candidate accepted")
      assertTrue(!Checks.adcTopK(Map(100L -> ((1L to 9L) :+ 13L)), adc, 10).ok,
        "an id outside the candidates accepted")
      assertTrue(!Checks.adcTopK(Map(100L -> (1L to 10L).reverse), adc, 10).ok,
        "a reversed list accepted")
      assertTrue(!Checks.adcTopK(Map(100L -> (1L to 9L)), adc, 10).ok, "a short list accepted")
      assertTrue(!Checks.adcTopK(Map.empty, adc, 10).ok, "a missing query accepted")
    }

    test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
      val src = scala.io.Source.fromFile("BENCHMARK.json", "UTF-8")
      val text = try src.mkString finally src.close()
      def names(section: String): Seq[String] = {
        val body = text.substring(text.indexOf("\"" + section + "\""))
        val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
        "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
      }
      assertEq(names("end_to_end"), Report.EndToEnd.map(_.name), "end_to_end")
      assertEq(names("per_layer"), Report.PerLayer.map(_.name), "per_layer")
    }

    val work = new File(args.headOption.getOrElse(".bench_run/test")).getAbsoluteFile
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      test("job groups attribute tasks to their span without bleed") {
        val sc = spark.sparkContext
        val listener = new GroupListener
        sc.addSparkListener(listener)
        val t = new Trace(spark, "t")
        def run(partitions: Int): Long = sc.parallelize(1 to 100, partitions).count()
        t.repetition(1, tracing = true) {
          run(2)
          t.span("a") {
            run(3)
            t.count("bookkeeping", run(7).toDouble)
          }
          t.span("b") {
            t.span("c")(run(4))
            run(5)
          }
        }
        t.repetition(2, tracing = false) { run(6) }
        Trace.drainListenerBus(spark)
        def tasksOf(name: String) = {
          val s = t.spans.find(_.name == name).get
          listener.stats(_ == s.group).tasks
        }
        assertEq(tasksOf("rep"), 2L, "rep root")
        assertEq(tasksOf("a"), 3L, "a")
        assertEq(tasksOf("b"), 5L, "b")
        assertEq(tasksOf("c"), 4L, "c")
        assertEq(listener.stats(t.inRep(1)).tasks, 14L, "repetition 1 without bookkeeping")
        assertEq(listener.stats(t.inRep(1)).jobs, 4L, "repetition 1 jobs")
        assertEq(listener.stats(t.inRep(2)).tasks, 6L, "repetition 2")
        assertEq(listener.stats(_.endsWith("/x")).tasks, 7L, "bookkeeping")
        sc.removeSparkListener(listener)
      }
    } finally spark.stop()

    if (failures.nonEmpty) {
      println(s"${failures.size} test(s) failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all tests passed")
  }
}
