package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbenchbridge.ListenerBus

/** One benchmark run of one workload in its own JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --result FILE --benchmark BENCHMARK.json
  *
  * Set-up (`setup_s`) is the session start plus the median of three
  * rounds of generating the inputs from the seed into a fresh directory.
  * The run then measures a window of whole iterations from the first one
  * on: the closed loop (one client) starts iterations until `--seconds`
  * have passed, and at least two. The window holds the cold first
  * iteration, which pays class loading, JIT and codegen compilation as
  * every `spark-submit` of a graft job does, and a warm one. There is no
  * untimed warm-up, so no work of the program escapes the measurement.
  * `rows_per_s` is the rows of the window's iterations over its wall time
  * and `cpu_s` the process CPU time per iteration. One window of ~50 s
  * averages over more of a shared host's swings than one warm iteration;
  * a warm-up plus several warm iterations does not fit the run budget, as
  * an iteration issues ~140 (kg_build) to ~190 (graph_dedup) Spark actions
  * at 0.1-0.2 s of driver time each.
  *
  * With `--trace 1` the untraced window (at least two iterations) runs
  * for half of `--seconds`, then traced iterations for the rest (at least
  * one). The per-layer metrics are those of the traced iteration with the
  * median wall time, and `trace.overhead_ratio` compares it with the
  * untraced iterations after the first, which are warm as well. Every iteration's outputs are checked; the result counts
  * iterations attempted and failed.
  */
object Main {
  val SetupRounds = 3
  /** Fewest untraced iterations a run measures: the cold one and a warm one. */
  val MinWindow = 2

  /** Workload sizes: a run, set-up included, takes under a minute on 4
    * cores, most of it driver time per Spark action rather than rows. */
  val KgSizes: KgGen.Sizes = KgGen.Sizes(
    aNodes = 4000, aEdges = 11000, bNodes = 1200, bEdges = 3200,
    cNodes = 800, cEdges = 2000, dNodes = 200, dEdges = 400)
  val GraphEdges: Long = 1L << 15
  val CorpusDocs: Long = 10000L

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, result: Path, benchmark: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("result")), Paths.get(need("benchmark")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
    val s = graft.Sessions.base(b, cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VectorExpressions.register(s)
    s
  }

  def workload(name: String, spark: SparkSession, work: Path, seed: Long): Workload = name match {
    case "kg_build" => new KgWorkload(spark, work, seed, KgSizes)
    case "graph_dedup" => new Composite(name,
      Seq(new GraphWorkload(spark, seed, GraphEdges), new DedupWorkload(spark, seed, CorpusDocs)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Metric names BENCHMARK.json declares under `key`. */
  def declared(benchmark: Path, key: String): Seq[String] =
    new ObjectMapper().readTree(Files.readString(benchmark)).path(key).elements().asScala
      .map(_.path("name").asText()).toSeq

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(cores, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, a, cores, sessionS) finally spark.stop()
  }

  /** Wall and process CPU time of one iteration, and the JVM's GC and JIT
    * compilation time within it (the latter two for the run record). */
  final case class Timing(wallS: Double, cpuS: Double, gcS: Double, jitS: Double)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def run(spark: SparkSession, a: Args, cores: Int, sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val w = workload(a.workload, spark, a.work, a.seed)
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer[String]()
    val off = Tracer.off(sc)

    /** One checked iteration: its timing and whether its outputs were
      * right; None when it threw. A wrong iteration counts as failed but
      * keeps its timing, so a run whose outputs are all wrong still
      * reports, with `correct: false`. */
    def once(tr: Tracer): Option[(Timing, Boolean)] = {
      attempted += 1
      val before = sc.getPersistentRDDs.keySet
      val outcome =
        try {
          w.prepare()
          val c0 = processCpuNs()
          val g0 = gcMs()
          val j0 = jitMs()
          val n0 = System.nanoTime()
          w.iterate(tr)
          val t = Timing((System.nanoTime() - n0) / 1e9, (processCpuNs() - c0) / 1e9,
            (gcMs() - g0) / 1e3, (jitMs() - j0) / 1e3)
          val p = w.check()
          w.finish()
          System.err.println(f"[perfbench] ${w.name} iteration $attempted%d: wall ${t.wallS}%.2f s, " +
            f"cpu ${t.cpuS}%.2f s${if (tr.enabled) ", traced" else ""}${if (p.isEmpty) "" else ", FAILED " + p.mkString("; ")}")
          problems ++= p
          Some((t, p.isEmpty))
        } catch { case e: Exception => problems += s"iteration threw: $e"; None }
      (sc.getPersistentRDDs -- before).values.foreach(_.unpersist(blocking = false))
      if (!outcome.exists(_._2)) failed += 1
      outcome
    }
    /** The correct iterations, or every timed one when none was correct. */
    def usable[T](xs: Seq[(T, Boolean)]): Seq[T] = {
      val ok = xs.filter(_._2)
      (if (ok.nonEmpty) ok else xs).map(_._1)
    }

    val rounds = (1 to SetupRounds).map { r =>
      val s0 = System.nanoTime()
      w.generate(a.work.resolve(s"input-$r"))
      val t = (System.nanoTime() - s0) / 1e9
      if (r > 1) Dirs.deleteRecursively(a.work.resolve(s"input-${r - 1}"))
      t
    }
    val setupS = sessionS + median(rounds)

    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    val untracedBudget = if (a.trace) a.seconds / 2 else a.seconds
    val untraced = mutable.ArrayBuffer[(Timing, Boolean)]()
    var tries = 0
    while (tries < MinWindow || elapsed < untracedBudget) { tries += 1; once(off).foreach(untraced += _) }
    val plain = usable(untraced.toSeq)

    val metrics = mutable.LinkedHashMap[String, Double]()
    val info = mutable.LinkedHashMap[String, Any]()
    if (plain.isEmpty) throw new IllegalStateException(s"every iteration threw: ${problems.take(3).mkString("; ")}")
    if (!a.trace) {
      metrics("setup_s") = setupS
      metrics("rows_per_s") = w.rows * plain.size / plain.map(_.wallS).sum
      metrics("cpu_s") = plain.map(_.cpuS).sum / plain.size
    } else {
      val listener = new StageListener
      sc.addSparkListener(listener)
      val tracedAll = mutable.ArrayBuffer[((Double, Map[String, Double]), Boolean)]()
      tries = 0
      while (tries < 1 || elapsed < a.seconds) {
        tries += 1
        ListenerBus.drain(sc)
        listener.drain()
        heapPools.foreach(_.resetPeakUsage())
        val tr = new Tracer(sc)
        once(tr).foreach { case (t, ok) =>
          ListenerBus.drain(sc)
          val (jobs, sqls) = listener.drain()
          val comps = tr.spans.filter(_.name == "components").map(_.interval)
          val rounds = sqls.count { case (time, round) =>
            round && comps.exists(i => time >= i.start && time <= i.end)
          }
          tracedAll += (((t.wallS, Trace.report(tr.spans, jobs, cores) ++ tr.counters ++ Map(
            "components.iterations" -> rounds.toDouble,
            "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)), ok))
        }
      }
      sc.removeSparkListener(listener)
      val traced = usable(tracedAll.toSeq)
      if (traced.isEmpty) throw new IllegalStateException(s"every traced iteration threw: ${problems.take(3).mkString("; ")}")
      val byWall = traced.sortBy(_._1)
      val (wall, chosen) = byWall((byWall.size - 1) / 2)
      metrics ++= chosen
      val warmPlain = plain.drop(1).map(_.wallS).toSeq
      metrics("trace.overhead_ratio") = if (warmPlain.isEmpty) 0.0 else wall / median(warmPlain) - 1
      info("traced_wall_s") = wall
      info("span_self_sum_s") = chosen.collect { case (k, v) if k.endsWith(".wall_s") => v }.sum
      info("traced_iterations") = traced.size
    }

    val declaredNames = declared(a.benchmark, if (a.trace) "per_layer" else "end_to_end")
    require(declaredNames.forall(Trace.MetricName.matches), "BENCHMARK.json declares a malformed metric name")
    val unknown = metrics.keys.filterNot(declaredNames.contains)
    require(unknown.isEmpty, s"metrics not declared in BENCHMARK.json: ${unknown.mkString(", ")}")
    val full = declaredNames.map(n => n -> metrics.getOrElse(n, 0.0))

    info("generate_s") = rounds
    info("session_s") = sessionS
    info("untraced_wall_s") = plain.map(_.wallS).toSeq
    info("untraced_cpu_s") = plain.map(_.cpuS).toSeq
    info("untraced_gc_s") = plain.map(_.gcS).toSeq
    info("untraced_jit_s") = plain.map(_.jitS).toSeq
    info("rows") = w.rows
    info("cores") = cores
    info("max_heap_mb") = Runtime.getRuntime.maxMemory() / (1L << 20)
    info("java_version") = System.getProperty("java.version")
    info("spark_version") = spark.version
    info("problems") = problems.take(10).toSeq
    w match {
      case kg: KgWorkload => info("expected") = kg.expectedSummary
      case _ =>
    }

    val mapper = new ObjectMapper().registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(full: _*), "info" -> info)
    Files.writeString(a.result, mapper.writeValueAsString(out))
  }
}
