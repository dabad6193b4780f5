package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import graft.pipeline.{GraphSource, GraphSpec}

/** Seeded four-source KGX input for the build workloads, and the bundle it
  * must produce, derived by a driver-side reference model that shares no
  * code with GraphMerger or MergeEngine.
  *
  * Sources, in spec order:
  *  - `primary_raw` (default, normalized in the pipeline, strict): raw ids
  *    `RA:i`. The node map sends ids with i % 10 == 9 nowhere (strict mode
  *    drops them and their edges) and collapses `RA:k+1` onto `N:k` for
  *    k % 5 == 0. Its predicate map inverts `RA:treated_by` to
  *    `biolink:treats`, leaves `RA:unknown_rel` to the `related_to`
  *    fallback, and `subclass_of` edges between collapsed pairs become
  *    self-loops that normalization removes. A quarter of its edges carry
  *    no primary_knowledge_source and get the source's default.
  *  - `primary_norm` (default, pre-normalized): reuses some of the first
  *    source's normalized edges verbatim (same composite key, so they merge)
  *    and shares their nodes (cross-source property merge).
  *  - `subset` (connected_edge_subset, normalized): edges with neither
  *    endpoint in the primary graph are dropped by the OR-join, kept edges
  *    backfill their new endpoints, and some kept edges repeat a primary
  *    edge's key.
  *  - `dont_merge` (small, pre-normalized): its nodes merge, its edges are
  *    appended verbatim.
  *
  * Every property of a node is a function of its normalized id, and no
  * source repeats an edge key within itself, so the merge folds only
  * across sources, whose order is fixed: the bundle's content is the same
  * on every run of a seed.
  */
object KgGen {
  val Primary = "primary_raw"
  val Prenorm = "primary_norm"
  val Subset = "subset"
  val DontMerge = "dont_merge"

  final case class Sizes(aNodes: Int, aEdges: Int, bNodes: Int, bEdges: Int,
                         cNodes: Int, cEdges: Int, dNodes: Int, dEdges: Int) {
    def lines: Long = Seq(aNodes, aEdges, bNodes, bEdges, cNodes, cEdges, dNodes, dEdges).map(_.toLong).sum
  }

  /** Expected bundle counts plus the share of merged groups that hold more
    * than one entity. */
  final case class Expected(nodes: Long, edges: Long, multiNodeShare: Double, multiEdgeShare: Double)

  val spec: GraphSpec = GraphSpec("perfbench_kg", "perfbench synthetic KG", sources = Seq(
    GraphSource(Primary), GraphSource(Prenorm),
    GraphSource(Subset, mergeStrategy = "connected_edge_subset"),
    GraphSource(DontMerge, mergeStrategy = "dont_merge")))

  def normalized(sourceId: String): Boolean = sourceId == Primary || sourceId == Subset

  private val Interacts = "biolink:interacts_with"
  private val Affects = "biolink:affects"
  private val Related = "biolink:related_to"
  private val SubclassOf = "biolink:subclass_of"
  private val Treats = "biolink:treats"
  private val categories = Array("biolink:Gene", "biolink:Protein", "biolink:ChemicalEntity", "biolink:Disease")

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One JSON object line; None values are left out. */
  private def line(fields: (String, Any)*): String = fields.collect {
    case (k, Some(v)) => q(k) + ":" + render(v)
    case (k, v) if v != None => q(k) + ":" + render(v)
  }.mkString("{", ",", "}")

  private def render(v: Any): String = v match {
    case s: String => q(s)
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case d: Double => java.lang.Double.toString(d)
    case n: Int => n.toString
    case Some(x) => render(x)
  }

  private final class Out(path: Path) {
    Files.createDirectories(path.getParent)
    private val w: BufferedWriter = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    var lines = 0
    def apply(l: String): Unit = { w.write(l); w.write('\n'); lines += 1 }
    def close(): Unit = w.close()
  }

  private final case class Edge(s: String, p: String, o: String, pks: String) {
    def key: String = s"$s|$p|$o|$pks"
  }

  private def predMapLines(out: Out): Unit = {
    Seq(Interacts, Affects, SubclassOf, Related, Treats).foreach { p =>
      out(line("orig_predicate" -> p, "predicate" -> p, "inverted" -> false))
    }
    out(line("orig_predicate" -> "RA:treated_by", "predicate" -> Treats, "inverted" -> true))
  }

  /** Write the four sources under `dir` and return the expected bundle. */
  def generate(dir: Path, seed: Long, sz: Sizes): Expected = {
    val rnd = new SplittableRandom(seed)
    def pick[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

    // --- primary_raw ---------------------------------------------------
    val aDir = dir.resolve(Primary)
    def aCanon(i: Int): Int = if (i % 5 == 1) i - 1 else i
    def aMapped(i: Int): Boolean = i % 10 != 9
    val nodesA = new Out(aDir.resolve("nodes.jsonl"))
    val mapA = new Out(aDir.resolve("nodemap.jsonl"))
    for (i <- 0 until sz.aNodes) {
      val k = aCanon(i)
      nodesA(line("id" -> s"RA:$i", "name" -> s"raw $i", "category" -> Seq(categories(k % 4)),
        "description" -> s"gene $k", "xref" -> Seq(s"XA:$k")))
      if (aMapped(i))
        mapA(line("orig_id" -> s"RA:$i", "norm_id" -> s"N:$k", "name" -> s"N $k",
          "category" -> Seq(categories(k % 4)), "equivalent_identifiers" -> Seq(s"N:$k", s"XA:$k"),
          "information_content" -> (k % 100) / 10.0))
    }
    nodesA.close(); mapA.close()
    val pm = new Out(aDir.resolve("predmap.jsonl")); predMapLines(pm); pm.close()

    val canonA = (0 until sz.aNodes).filter(i => aMapped(i) && i % 5 != 1)
    def rawA(k: Int): Int = if (k % 5 == 0 && k + 1 < sz.aNodes && rnd.nextBoolean()) k + 1 else k
    val edgesA = new Out(aDir.resolve("edges.jsonl"))
    val keptA = mutable.ArrayBuffer[Edge]()
    val keysA = mutable.HashSet[String]()
    while (edgesA.lines < sz.aEdges) {
      val r = rnd.nextInt(100)
      if (r < 3) { // subclass self-loop between a collapsed pair: removed
        val k = 5 * rnd.nextInt((sz.aNodes - 1) / 5)
        edgesA(line("subject" -> s"RA:${k + 1}", "predicate" -> SubclassOf, "object" -> s"RA:$k",
          "primary_knowledge_source" -> "infores:ctd", "publications" -> Seq(s"PMID:$k")))
      } else if (r < 7) { // endpoint the map misses: dropped with it
        val u = 10 * rnd.nextInt(sz.aNodes / 10) + 9
        edgesA(line("subject" -> s"RA:$u", "predicate" -> Interacts, "object" -> s"RA:${rawA(pick(canonA))}",
          "primary_knowledge_source" -> "infores:ctd", "publications" -> Seq(s"PMID:$u")))
      } else {
        val (s, o) = (pick(canonA), pick(canonA))
        if (s != o) {
          val pr = rnd.nextInt(100)
          val (rawPred, normPred) =
            if (pr < 40) (Interacts, Interacts)
            else if (pr < 60) ("RA:treated_by", Treats)
            else if (pr < 75) ("RA:unknown_rel", Related)
            else if (pr < 85) (SubclassOf, SubclassOf)
            else (Affects, Affects)
          val pks = if (rnd.nextInt(4) == 0) None
            else Some(if ((s + o) % 2 == 0) "infores:ctd" else "infores:biogrid")
          val e = Edge(s"N:$s", normPred, s"N:$o", pks.getOrElse(s"infores:$Primary"))
          if (keysA.add(e.key)) {
            val (rs, ro) = if (normPred == Treats) (rawA(o), rawA(s)) else (rawA(s), rawA(o))
            edgesA(line("subject" -> s"RA:$rs", "predicate" -> rawPred, "object" -> s"RA:$ro",
              "primary_knowledge_source" -> pks, "publications" -> Seq(s"PMID:${(s * 31 + o) % 100000}")))
            keptA += e
          }
        }
      }
    }
    edgesA.close()
    val nodesAKept = keptA.iterator.flatMap(e => Iterator(e.s, e.o)).toSet

    // --- primary_norm: half its nodes come from reused primary edges -----
    val bDir = dir.resolve(Prenorm)
    val bNodeSet = mutable.LinkedHashSet[String]()
    val edgesBOut = mutable.ArrayBuffer[Edge]()
    val keysB = mutable.HashSet[String]()
    while (bNodeSet.size < sz.bNodes / 2 && edgesBOut.size < sz.bEdges / 2) {
      val e = pick(keptA)
      if (keysB.add(e.key)) { edgesBOut += e; bNodeSet += e.s; bNodeSet += e.o }
    }
    var fresh = sz.aNodes
    while (bNodeSet.size < sz.bNodes) { bNodeSet += s"N:$fresh"; fresh += 1 }
    val bNodes = bNodeSet.toIndexedSeq
    while (edgesBOut.size < sz.bEdges) {
      val (s, o) = (pick(bNodes), pick(bNodes))
      if (s != o) {
        val e = Edge(s, if (rnd.nextBoolean()) Interacts else Affects, o,
          if (rnd.nextBoolean()) "infores:ctd" else "infores:biogrid")
        if (keysB.add(e.key)) edgesBOut += e
      }
    }
    val nodesB = new Out(bDir.resolve("nodes.jsonl"))
    bNodes.foreach { id =>
      val k = id.stripPrefix("N:").toInt
      nodesB(line("id" -> id, "name" -> s"b $k", "category" -> Seq(categories((k + 1) % 4)),
        "description" -> s"b-desc $k", "xref" -> Seq(s"XB:$k")))
    }
    nodesB.close()
    val edgesB = new Out(bDir.resolve("edges.jsonl"))
    edgesBOut.foreach { e =>
      edgesB(line("subject" -> e.s, "predicate" -> e.p, "object" -> e.o,
        "primary_knowledge_source" -> e.pks, "publications" -> Seq(s"PMID:b${e.key.hashCode & 0xffff}")))
    }
    edgesB.close()

    val primaryNodes = nodesAKept ++ bNodeSet
    val primaryKeys = keysA ++ keysB
    val primaryEdges = (keptA ++ edgesBOut.filterNot(e => keysA.contains(e.key))).toIndexedSeq

    // --- subset: every third raw node maps into the primary graph -------
    val cDir = dir.resolve(Subset)
    def cMapped(j: Int): Boolean = j % 8 != 7
    val cTarget = mutable.Map[Int, String]()
    val intoPrimary = (0 until sz.cNodes).filter(j => cMapped(j) && j % 3 == 0)
    // a tenth of the subset's edges repeat a primary key: map raw nodes
    // onto those edges' endpoints first
    val repeats = mutable.ArrayBuffer[Edge]()
    val slots = intoPrimary.iterator
    while (repeats.size < sz.cEdges / 10 && slots.hasNext) {
      val e = pick(primaryEdges)
      val js = Seq(slots.next()) ++ (if (slots.hasNext) Seq(slots.next()) else Nil)
      if (js.size == 2) { cTarget(js(0)) = e.s; cTarget(js(1)) = e.o; repeats += e }
    }
    val primaryList = primaryNodes.toIndexedSeq.sorted
    intoPrimary.foreach(j => if (!cTarget.contains(j)) cTarget(j) = pick(primaryList))
    (0 until sz.cNodes).foreach(j => if (cMapped(j) && !cTarget.contains(j)) cTarget(j) = s"M:$j")
    val byNorm = cTarget.toSeq.sortBy(_._1).groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toIndexedSeq }
    val nodesC = new Out(cDir.resolve("nodes.jsonl"))
    val mapC = new Out(cDir.resolve("nodemap.jsonl"))
    for (j <- 0 until sz.cNodes) {
      nodesC(line("id" -> s"RC:$j", "name" -> s"rc $j", "category" -> Seq("biolink:Protein")))
      cTarget.get(j).foreach { n =>
        mapC(line("orig_id" -> s"RC:$j", "norm_id" -> n, "name" -> s"c $n",
          "category" -> Seq("biolink:Protein"), "equivalent_identifiers" -> Seq(n)))
      }
    }
    nodesC.close(); mapC.close()
    val pmC = new Out(cDir.resolve("predmap.jsonl")); predMapLines(pmC); pmC.close()

    val cInto = intoPrimary.map(cTarget).distinct.sorted
    val cNew = (0 until sz.cNodes).filter(j => cMapped(j) && j % 3 != 0).map(j => s"M:$j")
    val unmappedC = (0 until sz.cNodes).filterNot(cMapped)
    val edgesC = new Out(cDir.resolve("edges.jsonl"))
    val keysC = mutable.LinkedHashSet[String]()
    val edgesCNorm = mutable.ArrayBuffer[Edge]()
    def writeC(e: Edge): Unit = if (keysC.add(e.key)) {
      edgesC(line("subject" -> s"RC:${pick(byNorm(e.s))}", "predicate" -> e.p,
        "object" -> s"RC:${pick(byNorm(e.o))}", "primary_knowledge_source" -> e.pks))
      edgesCNorm += e
    }
    repeats.foreach(writeC)
    while (edgesC.lines < sz.cEdges) {
      val r = rnd.nextInt(100)
      if (r < 5) {
        edgesC(line("subject" -> s"RC:${pick(unmappedC)}", "predicate" -> Interacts,
          "object" -> s"RC:${pick(unmappedC)}", "primary_knowledge_source" -> "infores:subset_src"))
      } else {
        val (s, o) =
          if (r < 35) (pick(cNew), pick(cNew)) // dropped by the OR-join
          else if (r < 80) (pick(cInto), pick(cNew)) // kept, object backfilled
          else (pick(cInto), pick(cInto))
        if (s != o) writeC(Edge(s, if (rnd.nextBoolean()) Interacts else Affects, o, "infores:subset_src"))
      }
    }
    edgesC.close()
    val keptC = edgesCNorm.filter(e => primaryNodes.contains(e.s) || primaryNodes.contains(e.o))
    val backfill = keptC.iterator.flatMap(e => Iterator(e.s, e.o)).filterNot(primaryNodes.contains).toSet

    // --- dont_merge ------------------------------------------------------
    val dDir = dir.resolve(DontMerge)
    val dNodeSet = mutable.LinkedHashSet[String]()
    while (dNodeSet.size < sz.dNodes / 2) dNodeSet += pick(primaryList)
    var d = 0
    while (dNodeSet.size < sz.dNodes) { dNodeSet += s"D:$d"; d += 1 }
    val dNodes = dNodeSet.toIndexedSeq
    val nodesD = new Out(dDir.resolve("nodes.jsonl"))
    dNodes.foreach(id => nodesD(line("id" -> id, "name" -> s"d $id", "category" -> Seq("biolink:Disease"),
      "description" -> s"d-desc $id")))
    nodesD.close()
    val edgesD = new Out(dDir.resolve("edges.jsonl"))
    while (edgesD.lines < sz.dEdges) {
      edgesD(line("subject" -> pick(dNodes), "predicate" -> Related, "object" -> pick(dNodes),
        "primary_knowledge_source" -> "infores:dm"))
    }
    edgesD.close()

    val finalNodes = primaryNodes ++ backfill ++ dNodeSet
    val finalKeys = primaryKeys ++ keptC.map(_.key)
    val multiNodes = (nodesAKept & bNodeSet).size + (dNodeSet.toSet & primaryNodes).size
    val multiEdges = (keysA & keysB).size + keptC.count(e => primaryKeys.contains(e.key))
    Expected(finalNodes.size.toLong, finalKeys.size.toLong + sz.dEdges,
      multiNodes.toDouble / finalNodes.size, multiEdges.toDouble / finalKeys.size)
  }
}
