package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.perfbenchbridge.ListenerBus

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Arguments: a scratch directory and the path of BENCHMARK.json. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case t: Throwable => failures += 1; println(s"FAIL $name: $t") }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def assertTrue(c: Boolean, what: String): Unit = if (!c) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val benchmark = Paths.get(args(1))
    import Trace._

    test("covered length merges overlaps and clips to the parent") {
      assertEq(covered(Interval(0, 100), Seq(Interval(10, 20), Interval(15, 30), Interval(90, 120))), 30L, "covered")
      assertEq(covered(Interval(0, 100), Nil), 0L, "empty")
      assertEq(selfTime(Interval(0, 100), Seq(Interval(-5, 10), Interval(40, 60), Interval(50, 55))), 70L, "self")
    }

    test("report: sub-span jobs leave their parent's self time and counts") {
      def job(id: Int, span: Int, desc: String, s: Long, e: Long, cpuNs: Long) = {
        val j = new JobRec(id, Some(span), Option(desc), s)
        j.end = e; j.cpuNs = cpuNs; j.runMs = e - s
        j
      }
      val spans = Seq(SpanRec(0, "ingest", Interval(0, 1000), 5), SpanRec(1, "ingest", Interval(1000, 1500), 0),
        SpanRec(2, "merge", Interval(1500, 2000), 0))
      val jobs = Seq(
        job(0, 0, "ingest a: parse + count", 100, 300, 1000000000L),
        job(1, 0, "ingest a: parse + count", 250, 400, 0L),
        job(2, 0, null, 500, 600, 500000000L),
        job(3, 1, "ingest b: normalize", 1100, 1200, 0L),
        job(4, 2, "merge g", 1600, 1900, 0L))
      val r = report(spans, jobs, cores = 2)
      assertEq(r("ingest.parse.wall_s"), 0.3, "parse wall")
      assertEq(r("ingest.parse.jobs"), 2.0, "parse jobs")
      assertEq(r("ingest.parse.cpu_s"), 1.0, "parse cpu")
      assertEq(r("ingest.normalize.wall_s"), 0.1, "normalize wall")
      assertEq(r("ingest.wall_s"), 1.1, "ingest self")
      assertEq(r("ingest.jobs"), 1.0, "ingest self jobs")
      assertEq(r("ingest.cpu_s"), 0.5, "ingest self cpu")
      assertEq(r("merge.wall_s"), 0.5, "merge self")
      assertEq(r("ingest.gc_s"), 0.005, "gc")
      // busy 200+150+100+100 ms over 1500 ms x 2 cores
      assertTrue(math.abs(r("ingest.idle_share") - (1 - 550.0 / 3000)) < 1e-12, "idle share")
      val selfSum = r.collect { case (k, v) if k.endsWith(".wall_s") => v }.sum
      assertTrue(math.abs(selfSum - 2.0) < 1e-9, s"self times sum to the span total, got $selfSum")
    }

    val declared = Main.declared(benchmark, "per_layer") ++ Main.declared(benchmark, "end_to_end")
    test("metric names match [A-Za-z0-9_.-]+ and are unique") {
      declared.foreach(n => assertTrue(MetricName.matches(n), s"bad name $n"))
      assertEq(declared.distinct.size, declared.size, "unique names")
      Seq("a b", "x/y", "", "rows{1}").foreach(n => assertTrue(!MetricName.matches(n), s"accepted $n"))
    }

    test("every name a traced run can emit is declared") {
      val tops = Seq("ingest", "merge", "finalize", "graph.pagerank", "graph.hits", "graph.kcore",
        "graph.label_prop", "graph.sssp", "components", "dedup.minhash_lsh", "dedup.winnow")
      val spans = tops.zipWithIndex.map { case (n, i) => SpanRec(i, n, Interval(i * 10L, i * 10L + 10), 0) }
      val jobs = subSpans.zipWithIndex.map { case ((parent, _, sub), i) =>
        val desc = parent match {
          case "ingest" => s"ingest x: ${Map("parse" -> "parse + count", "normalize" -> "normalize",
            "persist" -> "versioned parquet")(sub)}"
          case _ => s"bundle: ${Map("nodes_jsonl" -> "nodes.jsonl", "edges_jsonl" -> "edges.jsonl",
            "qc" -> "qc", "schema" -> "schema.json")(sub)}"
        }
        new JobRec(i, Some(tops.indexOf(parent)), Some(desc), tops.indexOf(parent) * 10L + 1)
      }
      val emitted = report(spans, jobs, cores = 4).keySet
      assertEq((emitted -- declared).toSeq.sorted, Nil, "undeclared names")
      assertEq(subSpans.map(s => s"${s._1}.${s._3}.jobs").filterNot(emitted), Nil, "sub-spans not matched")
    }

    val spark = Main.session(2, work)
    val sc = spark.sparkContext
    try {
      test("span attribution on a known job") {
        val listener = new StageListener
        sc.addSparkListener(listener)
        ListenerBus.drain(sc); listener.drain()
        val tr = new Tracer(sc)
        spark.range(1000).count() // outside any span
        tr.span("merge") {
          sc.setJobDescription(null) // the program's labels must not clear the span
          assertEq(spark.range(0, 10000, 1, 4).repartition(3).count(), 10000L, "count")
        }
        tr.span("ingest") {
          sc.setJobDescription("ingest s: parse + count")
          try spark.range(100).count() finally sc.setJobDescription(null)
        }
        ListenerBus.drain(sc)
        val (jobs, _) = listener.drain()
        sc.removeSparkListener(listener)
        assertEq(jobs.count(_.spanId.isEmpty), jobs.size - jobs.count(_.spanId.nonEmpty), "partition")
        assertTrue(jobs.exists(_.spanId.isEmpty), "the job outside a span is unattributed")
        val r = report(tr.spans, jobs, cores = 2)
        assertTrue(r("merge.jobs") >= 1, s"merge jobs ${r("merge.jobs")}")
        assertTrue(r("merge.shuffle_mb") > 0, "repartition shuffle attributed")
        assertTrue(r("merge.cpu_s") > 0, "task cpu attributed")
        assertTrue(r("ingest.parse.jobs") >= 1 && r("ingest.jobs") == 0, "labelled job goes to the sub-span")
        assertEq(sc.getLocalProperty(SpanProperty), null, "span property restored")
      }

      val small = KgGen.Sizes(aNodes = 400, aEdges = 1100, bNodes = 120, bEdges = 320,
        cNodes = 80, cEdges = 200, dNodes = 20, dEdges = 40)
      test("generation: same seed byte-identical, another seed different") {
        def digest(seed: Long, dir: String): String = {
          val d = work.resolve(dir)
          KgGen.generate(d, seed, small)
          val md = MessageDigest.getInstance("SHA-256")
          val s = Files.walk(d)
          try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
            .foreach(p => { md.update(d.relativize(p).toString.getBytes); md.update(Files.readAllBytes(p)) })
          finally s.close()
          md.digest().map("%02x".format(_)).mkString
        }
        val a = digest(7, "gen-a")
        assertEq(digest(7, "gen-b"), a, "same seed")
        assertTrue(digest(8, "gen-c") != a, "different seed gives different inputs")
      }

      test("kg checks accept a correct build and reject tampered ones") {
        val kg = new KgWorkload(spark, work.resolve("kg"), 5, small)
        kg.generate(work.resolve("kg-in"))
        kg.prepare()
        kg.iterate(Tracer.off(sc))
        assertEq(kg.check(), Nil, "correct build")
        val out = work.resolve("kg").resolve("build-1")
        val expected = kg.expectedOutputs
        val first = Some((Digest.of(out.resolve("nodes.jsonl")), Digest.of(out.resolve("edges.jsonl"))))
        // a changed edge line: same count, different content
        rewriteFirstPart(out.resolve("edges.jsonl"), ls => ls.head.replace("biolink:", "biolinkx:") +: ls.tail)
        assertTrue(KgChecks.bundle(out, expected, first).exists(_.contains("digest")), "digest check")
        // a dropped edge line
        rewriteFirstPart(out.resolve("edges.jsonl"), _.tail)
        assertTrue(KgChecks.bundle(out, expected, None).exists(_.contains("edges.jsonl has")), "edge count check")
        // a source read from a memo rather than parsed
        val src = out.resolve("sources").resolve(KgGen.Subset)
        val version = Files.list(src).iterator().asScala.toSeq.head
        Files.delete(version.resolve(s"${KgGen.Subset}.meta.json"))
        assertTrue(KgChecks.noneCached(out).exists(_.contains(KgGen.Subset)), "build path check")
        kg.finish()
      }

      test("graph checks reject a wrong component count and a bad rank sum") {
        val n = 64L; val b = 4L
        val good = Map(
          "graph.pagerank" -> Row(n, 1.0), "graph.hits" -> Row(n, 5L, 7L), "graph.kcore" -> Row(n, 2L, 200L),
          "graph.label_prop" -> Row(n, 0L, 16L), "graph.sssp" -> Row(48L, 16L, 16L, 3L * GraphWorkload.SsspRounds),
          "components" -> Row(n, 16L, 0L))
        assertEq(GraphChecks(n, b, 100L, good), Nil, "good results")
        assertEq(GraphChecks(n, b, 100L, good + ("components" -> Row(n, 15L, 0L))).size, 1, "15 components")
        assertEq(GraphChecks(n, b, 100L, good + ("graph.pagerank" -> Row(n, 0.99))).size, 1, "rank sum")
        assertEq(GraphChecks(n, b, 100L, good + ("graph.kcore" -> Row(n, 2L, 198L))).size, 1, "degree sum")
        assertEq(GraphChecks(n, b, 100L, good - "graph.hits").size, 1, "missing op")
      }

      test("dedup check rejects a wrong duplicate count") {
        assertEq(DedupChecks(150, 150, 150), Nil, "planted count found")
        assertEq(DedupChecks(150, 149, 150).size, 1, "minhash short")
        assertEq(DedupChecks(150, 150, 151).size, 1, "winnowing over")
      }

      test("graph_dedup iteration passes its own checks on a small input") {
        val w = new Composite("graph_dedup", Seq(new GraphWorkload(spark, 3, 1L << 10), new DedupWorkload(spark, 3, 400)))
        w.generate(work.resolve("gd"))
        w.iterate(Tracer.off(sc))
        assertEq(w.check(), Nil, "checks")
      }
    } finally spark.stop()

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures != 0) sys.exit(1)
  }

  /** Rewrite the first non-empty gzip part of a jsonl bundle directory. */
  private def rewriteFirstPart(dir: Path, f: Seq[String] => Seq[String]): Unit = {
    val part = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.toString).find { p =>
        val in = new GZIPInputStream(Files.newInputStream(p))
        try in.read() >= 0 finally in.close()
      }.get
    val in = new GZIPInputStream(Files.newInputStream(part))
    val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8).split("\n").toSeq finally in.close()
    val out = new GZIPOutputStream(Files.newOutputStream(part))
    try out.write(f(lines).map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
