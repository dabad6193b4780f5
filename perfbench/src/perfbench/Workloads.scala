package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dedup.{Components, Dedup}
import graft.graph.{Hits, KCore, LabelPropagation, PageRank, ShortestPaths}
import graft.io.KgxIO
import graft.merge.{GraphMerger, MergeEngine}
import graft.pipeline.{GraphBundle, IngestPipeline}

/** One benchmark workload. An iteration is `prepare` (untimed), `iterate`
  * (timed), `check` (untimed), `finish` (untimed). */
trait Workload {
  def name: String
  /** Input rows one iteration processes; fixed per workload. */
  def rows: Long
  /** Generate one set-up round's inputs from the seed into `dir`. */
  def generate(dir: Path): Unit
  def prepare(): Unit = ()
  def iterate(tr: Tracer): Unit
  /** Problems with the last iteration's outputs; empty when correct. */
  def check(): Seq[String]
  def finish(): Unit = ()
}

object Dirs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def sizeOf(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
}

/** Order-independent digest of a bundle's jsonl parts: line count and the
  * sum of each line's SHA-256 prefix. */
final case class Digest(lines: Long, sum: Long)

object Digest {
  def of(dir: Path): Digest = {
    val md = MessageDigest.getInstance("SHA-256")
    var lines = 0L
    var sum = 0L
    val parts = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
      finally s.close()
    }
    parts.foreach { p =>
      val raw = Files.newInputStream(p)
      val in = if (p.toString.endsWith(".gz")) new GZIPInputStream(raw) else raw
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      try {
        var l = r.readLine()
        while (l != null) {
          val h = md.digest(l.getBytes(StandardCharsets.UTF_8))
          sum += java.nio.ByteBuffer.wrap(h).getLong
          lines += 1
          l = r.readLine()
        }
      } finally r.close()
    }
    Digest(lines, sum)
  }
}

/** KGX jsonl source as the generator lays it out. */
final class JsonlSource(val sourceId: String, dir: Path) extends IngestPipeline.SourceLoader {
  private val norm = KgGen.normalized(sourceId)
  override def parse(spark: SparkSession): (DataFrame, DataFrame) =
    (KgxIO.readJsonl(spark, Seq(dir.resolve("nodes.jsonl").toString)),
      KgxIO.readJsonl(spark, Seq(dir.resolve("edges.jsonl").toString)))
  override def nodeNormMapDefined: Boolean = norm
  override def nodeNormMap(spark: SparkSession): Option[DataFrame] =
    if (!norm) None
    else Some(spark.read.schema("orig_id string, norm_id string, name string, category array<string>, " +
      "equivalent_identifiers array<string>, information_content double")
      .json(dir.resolve("nodemap.jsonl").toString))
  override def predicateNormMap(spark: SparkSession): Option[DataFrame] =
    if (!norm) None
    else Some(spark.read.schema("orig_predicate string, predicate string, inverted boolean")
      .json(dir.resolve("predmap.jsonl").toString))
}

/** `kg_build`: a cold build of the four-source spec into an empty storage
  * directory. End-to-end iterations call `IngestPipeline.buildGraph`;
  * traced ones call `runSource` per source, `mergeGraph` and
  * `finalizeBundle` in the order buildGraph composes them, and must produce
  * the same bundle. */
final class KgWorkload(spark: SparkSession, work: Path, seed: Long, sizes: KgGen.Sizes) extends Workload {
  val name = "kg_build"
  val rows: Long = sizes.lines
  private var inputs: Path = _
  private var expected: KgGen.Expected = _
  private var out: Path = _
  private var outN = 0
  private var result: GraphBundle.BundleResult = _
  private var firstDigest: Option[(Digest, Digest)] = None

  def generate(dir: Path): Unit = {
    expected = KgGen.generate(dir, seed, sizes)
    inputs = dir
  }

  def expectedOutputs: KgGen.Expected = expected

  def expectedSummary: Map[String, Any] = Map(
    "nodes" -> expected.nodes, "edges" -> expected.edges,
    "multi_node_share" -> expected.multiNodeShare, "multi_edge_share" -> expected.multiEdgeShare,
    "digest" -> firstDigest.map { case (n, e) => f"${n.sum ^ e.sum}%016x" }.getOrElse(""))

  private def loaders: Map[String, IngestPipeline.SourceLoader] =
    KgGen.spec.sources.map(s => s.id -> new JsonlSource(s.id, inputs.resolve(s.id))).toMap

  private val bundleEntries = Seq("nodes.jsonl", "edges.jsonl", "graph-metadata.json", "qc-results.json", "schema.json")

  override def prepare(): Unit = {
    outN += 1
    out = work.resolve(s"build-$outN")
  }

  def iterate(tr: Tracer): Unit = {
    result =
      if (!tr.enabled) IngestPipeline.buildGraph(spark, KgGen.spec, loaders, out.toString)
      else tracedBuild(tr)
  }

  private def tracedBuild(tr: Tracer): GraphBundle.BundleResult = {
    val spec = KgGen.spec
    val ls = loaders
    val ingested = spec.sources.map { s =>
      s -> tr.span("ingest")(IngestPipeline.runSource(spark, ls(s.id), s"$out/sources"))
    }
    def graphs(strategy: String) = ingested.collect {
      case (s, r) if s.mergeStrategy == strategy =>
        GraphMerger.SourceGraph(r.sourceId, r.nodes, r.edges, s.mergeStrategy)
    }
    val counters = Some(MergeEngine.counters(spark))
    val merged = tr.span("merge") {
      spark.sparkContext.setJobDescription(s"merge ${spec.graphId}")
      try GraphMerger.mergeGraph(
        primary = graphs("default"),
        secondary = graphs("connected_edge_subset"),
        dontMerge = graphs("dont_merge"),
        edgeMergingAttributes = spec.edgeMergingAttributes,
        counters = counters)
      finally spark.sparkContext.setJobDescription(null)
    }
    val bundle = tr.span("finalize") {
      try GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, out.toString)
      finally merged.release()
    }
    val results = ingested.map(_._2)
    def detail(rs: Seq[IngestPipeline.IngestResult], stage: String, field: String): Long =
      rs.flatMap(_.stages).filter(_.stage == stage).map { s =>
        s"\\b$field=(\\d+)".r.findFirstMatchIn(s.detail).map(_.group(1).toLong).getOrElse(0L)
      }.sum
    val normalized = results.filter(r => KgGen.normalized(r.sourceId))
    tr.count("ingest.rows_in", (detail(results, "parsing", "nodes") + detail(results, "parsing", "edges")).toDouble)
    tr.count("ingest.cached_sources", results.count(_.stages.exists(_.stage == "cached")).toDouble)
    tr.count("normalize.node_drop_ratio",
      detail(normalized, "normalization", "failures").toDouble / math.max(1L, detail(normalized, "parsing", "nodes")))
    tr.count("normalize.edge_drop_ratio",
      (detail(normalized, "normalization", "failed_edges") + detail(normalized, "normalization", "loops")).toDouble /
        math.max(1L, detail(normalized, "parsing", "edges")))
    tr.count("merge.node_merge_ratio",
      merged.mergedNodeCount.toDouble / math.max(1L, bundle.nodeCount + merged.mergedNodeCount))
    tr.count("merge.edge_merge_ratio",
      merged.mergedEdgeCount.toDouble / math.max(1L, bundle.edgeCount + merged.mergedEdgeCount))
    tr.count("finalize.bundle_mb",
      bundleEntries.map(e => out.resolve(e)).filter(Files.exists(_)).map(Dirs.sizeOf).sum / 1e6)
    bundle
  }

  def check(): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (result.nodeCount != expected.nodes || result.edgeCount != expected.edges)
      problems += s"bundle counts nodes=${result.nodeCount} edges=${result.edgeCount}, " +
        s"expected ${expected.nodes}/${expected.edges}"
    problems ++= KgChecks.bundle(out, expected, firstDigest)
    problems ++= KgChecks.noneCached(out)
    if (firstDigest.isEmpty)
      firstDigest = Some((Digest.of(out.resolve("nodes.jsonl")), Digest.of(out.resolve("edges.jsonl"))))
    problems.result()
  }

  override def finish(): Unit = Dirs.deleteRecursively(out)
}

object KgChecks {
  /** Line counts equal the expected counts, no edge misses a node, and the
    * content digest equals the first bundle of the run, if there was one. */
  def bundle(out: Path, expected: KgGen.Expected, first: Option[(Digest, Digest)]): Seq[String] = {
    val n = Digest.of(out.resolve("nodes.jsonl"))
    val e = Digest.of(out.resolve("edges.jsonl"))
    val problems = Seq.newBuilder[String]
    if (n.lines != expected.nodes) problems += s"nodes.jsonl has ${n.lines} lines, expected ${expected.nodes}"
    if (e.lines != expected.edges) problems += s"edges.jsonl has ${e.lines} lines, expected ${expected.edges}"
    val qc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out.resolve("qc-results.json")))
    if (qc.path("edges_missing_nodes").asLong(-1) != 0)
      problems += s"qc-results.json edges_missing_nodes=${qc.path("edges_missing_nodes")}"
    first.foreach { case (fn, fe) =>
      if (fn != n || fe != e) problems += s"bundle digest $n/$e differs from the run's first bundle $fn/$fe"
    }
    problems.result()
  }

  /** Every source was parsed in this build, none read from a memo: each
    * source's version directory holds the stage sidecar that only an
    * ingest writes, and its stages include no `cached` one. */
  def noneCached(out: Path): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    KgGen.spec.sources.map(_.id).flatMap { id =>
      val s = Files.list(out.resolve("sources").resolve(id))
      val dir = try s.iterator().asScala.find(Files.isDirectory(_)) finally s.close()
      val meta = dir.map(_.resolve(s"$id.meta.json")).filter(Files.exists(_))
      val stages = meta.toSeq.flatMap(m => mapper.readTree(Files.readString(m)).path("stages").elements().asScala)
        .map(_.path("stage").asText())
      if (stages.contains("parsing") && !stages.contains("cached")) None
      else Some(s"source $id was not ingested by this build (stages ${stages.mkString("[", ",", "]")})")
    }
  }
}

/** `graph_iter`: a GraphScaleSmoke-shaped block graph (n = m/4 nodes in 16
  * blocks, a Hamilton path per block plus u²-skewed in-block edges toward
  * each block's head) with one more edge per block, head → last, which
  * makes every node's undirected degree at least 2 and leaves the last
  * node dangling. The seed enters every hash. */
final class GraphWorkload(spark: SparkSession, seed: Long, m: Long) extends Workload {
  import GraphWorkload._
  val name = "graph_iter"
  val rows: Long = m
  private val n = m / 4
  private val b = n / Blocks
  require(n % Blocks == 0 && b > SsspRounds + 1, s"m=$m must give 16 equal blocks")
  private var edges: DataFrame = _
  private var weighted: DataFrame = _
  private var seeds: DataFrame = _
  /** Undirected non-loop edge count for the KCore check; computed at the
    * first check after a generation, outside the timed iterations. */
  private var undirected = -1L
  private val results = scala.collection.mutable.LinkedHashMap[String, Row]()

  def generate(dir: Path): Unit = {
    Seq(edges, weighted, seeds).filter(_ != null).foreach(_.unpersist())
    val path = spark.range(n).filter(col("id") % b =!= (b - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val close = spark.range(Blocks).select((col("id") * b).as("src"), (col("id") * b + b - 1).as("dst"))
    val skew = spark.range(m - n).select(
      ((col("id") % Blocks) * b + pmod(xxhash64(col("id"), lit(seed), lit(1)), lit(b - 1))).as("src"),
      ((col("id") % Blocks) * b +
        floor(pow(pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(1000003L)).cast("double") / 1000003.0, 2.0) * b)
          .cast("long")).as("dst"))
    edges = path.unionByName(close).unionByName(skew).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val w = (lit(1L) + pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(3L))).as("w")
    weighted = edges.select(col("src"), col("dst"), w)
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), w))
      .persist(StorageLevel.MEMORY_AND_DISK)
    weighted.count()
    seeds = spark.range(Blocks).select((col("id") * b).as("node")).persist()
    seeds.count()
    undirected = -1L
  }

  /** Run one operator and the aggregate this workload takes of its output,
    * both inside the operator's span. */
  private def op(tr: Tracer, span: String)(run: => DataFrame)(agg: DataFrame => Row): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    tr.span(span) {
      results(span) = agg(run)
      if (span != "components") tr.count(s"$span.retained_rdds", (sc.getPersistentRDDs.keySet -- before).size.toDouble)
    }
  }

  def iterate(tr: Tracer): Unit = {
    results.clear()
    op(tr, "graph.pagerank")(PageRank.run(edges, iterations = 2))(
      _.agg(count(lit(1)), sum(col("rank"))).head())
    op(tr, "graph.hits")(Hits.run(edges, iterations = 2))(
      _.agg(count(lit(1)), sum(col("hub_raw")), sum(col("auth_raw"))).head())
    op(tr, "graph.kcore")(KCore.run(edges, k = 2, rounds = 1))(
      _.agg(count(lit(1)), min(col("deg")), sum(col("deg"))).head())
    op(tr, "graph.label_prop")(LabelPropagation.run(edges, iterations = 2))(
      _.agg(count(lit(1)),
        sum(when(col("lbl") > col("node") || col("lbl") < floor(col("node") / b) * b, 1L).otherwise(0L)),
        sum(when(col("node") % b === 0 && col("lbl") === col("node"), 1L).otherwise(0L))).head())
    op(tr, "graph.sssp")(ShortestPaths.run(weighted, seeds, rounds = SsspRounds))(
      _.agg(count(lit(1)), sum(when(col("dist") === 0, 1L).otherwise(0L)),
        sum(when(col("dist") === 0 && col("node") % b === 0, 1L).otherwise(0L)), max(col("dist"))).head())
    // driverThreshold 0: the distributed contraction path at this size
    op(tr, "components")(Components.connectedComponents(
        edges.select(col("src").as("id_a"), col("dst").as("id_b")), driverThreshold = 0L))(
      _.agg(count(lit(1)), count_distinct(col("component")),
        sum(when(col("component") =!= floor(col("id") / b) * b, 1L).otherwise(0L))).head())
  }

  def check(): Seq[String] = {
    if (undirected < 0)
      undirected = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("z"))
        .distinct().count()
    GraphChecks(n, b, undirected, results.toMap)
  }
}

object GraphWorkload {
  val Blocks = 16L
  val SsspRounds = 1
}

/** Invariants that hold by construction of the block graph. */
object GraphChecks {
  def apply(n: Long, b: Long, undirected: Long, r: Map[String, Row]): Seq[String] = {
    val p = Seq.newBuilder[String]
    def get(op: String): Option[Row] = { val x = r.get(op); if (x.isEmpty) p += s"$op: no result"; x }
    get("graph.pagerank").foreach { x =>
      if (x.getLong(0) != n || math.abs(x.getDouble(1) - 1.0) > 1e-6)
        p += s"pagerank: ${x.getLong(0)} nodes, rank sum ${x.getDouble(1)}; expected $n and 1"
    }
    get("graph.hits").foreach { x =>
      if (x.getLong(0) != n || x.getLong(1) <= 0 || x.getLong(2) <= 0)
        p += s"hits: ${x.getLong(0)} nodes, hub sum ${x.getLong(1)}, auth sum ${x.getLong(2)}"
    }
    get("graph.kcore").foreach { x =>
      if (x.getLong(0) != n || x.getLong(1) < 2 || x.getLong(2) != 2 * undirected)
        p += s"kcore: ${x.getLong(0)} nodes, min degree ${x.getLong(1)}, degree sum ${x.getLong(2)}; " +
          s"expected $n, >= 2, ${2 * undirected}"
    }
    get("graph.label_prop").foreach { x =>
      if (x.getLong(0) != n || x.getLong(1) != 0 || x.getLong(2) != GraphWorkload.Blocks)
        p += s"label_prop: ${x.getLong(0)} nodes, ${x.getLong(1)} labels outside their block, " +
          s"${x.getLong(2)} heads keep their own label"
    }
    get("graph.sssp").foreach { x =>
      val rounds = GraphWorkload.SsspRounds
      if (x.getLong(0) < GraphWorkload.Blocks * (rounds + 1) || x.getLong(0) > n ||
        x.getLong(1) != GraphWorkload.Blocks || x.getLong(2) != GraphWorkload.Blocks ||
        x.getLong(3) > 3L * rounds)
        p += s"sssp: ${x.getLong(0)} reached, ${x.getLong(1)} at distance 0 (${x.getLong(2)} seeds), " +
          s"max distance ${x.getLong(3)}"
    }
    get("components").foreach { x =>
      if (x.getLong(0) != n || x.getLong(1) != GraphWorkload.Blocks || x.getLong(2) != 0)
        p += s"components: ${x.getLong(0)} ids in ${x.getLong(1)} components, ${x.getLong(2)} outside " +
          s"their block; expected $n in ${GraphWorkload.Blocks}"
    }
    p.result()
  }
}

/** `corpus_dedup`: the DedupScaleSmoke corpus (every 10th doc a near
  * duplicate of its predecessor, every 20th an exact duplicate of the doc
  * two before it), with the seed in every token hash, through both
  * candidate engines and `Components.canonicalize`. Called directly rather
  * than through DedupScaleSmoke.run, which changes the session's shuffle
  * partitions and does not restore them. */
final class DedupWorkload(spark: SparkSession, seed: Long, docs: Long) extends Workload {
  val name = "corpus_dedup"
  val rows: Long = docs
  require(docs % 20 == 0, "docs must be a multiple of 20")
  val planted: Long = docs / 10 + docs / 20
  private var corpus: DataFrame = _
  private var ids: DataFrame = _
  private var found = (0L, 0L)

  def generate(dir: Path): Unit = {
    Seq(corpus, ids).filter(_ != null).foreach(_.unpersist())
    val base = spark.range(docs).select(col("id"),
      when(col("id") % 20 === 2, col("id") - 2)
        .otherwise(when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id"))).as("base_id"),
      (col("id") % 10 === 1).as("is_near"))
    corpus = base.select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(i =>
          concat(lit(s"w$i"), pmod(xxhash64(col("base_id") + i, lit(seed)), lit(5000)))) ++
        Seq(when(col("is_near"), concat(lit("extra"), col("id"))).otherwise(lit("common"))): _*).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    ids = corpus.select(col("doc_id").as("id")).persist()
    ids.count()
  }

  private def duplicates(pairs: DataFrame): Long =
    Components.canonicalize(ids, pairs)
      .agg(sum(when(col("is_duplicate"), 1L).otherwise(0L))).head().getLong(0)

  /** Each engine's candidate set is materialized (persist + count) inside
    * its own span, so the span holds the work of the lazy frame it
    * returns; `components` then clusters the materialized pairs. */
  def iterate(tr: Tracer): Unit = {
    val lsh = tr.span("dedup.minhash_lsh") {
      val c = Dedup.minhashLshCandidates(corpus, "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      tr.count("dedup.candidates_per_dup", c.count().toDouble / planted)
      c
    }
    val mh = tr.span("components")(duplicates(lsh.filter(col("estimated_jaccard") >= 0.5)))
    lsh.unpersist()
    val verified = tr.span("dedup.winnow") {
      val cands = Dedup.winnowingCandidates(corpus, "doc_id", "text", shingleN = 5, window = 4, dfCap = 100)
      val v = Dedup.verifyJaccardPairs(corpus, "doc_id", "text", cands, shingleN = 3)
        .filter(col("jaccard") >= 0.5).persist(StorageLevel.MEMORY_AND_DISK)
      v.count()
      v
    }
    val wn = tr.span("components")(duplicates(verified))
    verified.unpersist()
    found = (mh, wn)
  }

  def check(): Seq[String] = DedupChecks(planted, found._1, found._2)
}

object DedupChecks {
  def apply(planted: Long, minhash: Long, winnow: Long): Seq[String] =
    Seq("minhash" -> minhash, "winnowing" -> winnow).collect {
      case (engine, n) if n != planted => s"$engine found $n duplicates, $planted planted"
    }
}

/** Workloads run one after another in each iteration; `graph_dedup` is
  * the graph workload followed by the dedup workload. */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  val rows: Long = parts.map(_.rows).sum
  def generate(dir: Path): Unit = parts.foreach(_.generate(dir))
  override def prepare(): Unit = parts.foreach(_.prepare())
  def iterate(tr: Tracer): Unit = parts.foreach(_.iterate(tr))
  def check(): Seq[String] = parts.flatMap(_.check())
  override def finish(): Unit = parts.foreach(_.finish())
}
