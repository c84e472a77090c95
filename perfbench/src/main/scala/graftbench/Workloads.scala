package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CheckpointConfig, Graph}
import graft.ingest.{LinkExtract, PageGen}
import graft.operators._

import Workload._

/** Arcs of a generated edge table, collected to the driver. */
object Collected {
  def arcs(df: DataFrame): Array[(Long, Long)] =
    df.select(col("src").cast("long"), col("dst").cast("long")).collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Vertex and arc counts plus an order-independent hash of the distinct arcs. */
  def fingerprint(arcs: Array[(Long, Long)]): Map[String, Any] = {
    val uniq = arcs.distinct
    val vertices = uniq.flatMap(a => Array(a._1, a._2)).distinct.length
    val hash = uniq.foldLeft(0L) { case (h, (s, d)) => h + mix(s * 0x9E3779B97F4A7C15L + d) }
    Map("vertices" -> vertices, "arcs" -> uniq.length, "arc_hash" -> java.lang.Long.toHexString(hash))
  }

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
}

/** Pages → link graph → converged ranks, then a checkpointed, resumed
  * PageRank. The only workload that writes durable tables.
  */
final class CrawlRank(spark: SparkSession, args: Main.Args) extends Workload {
  val pagesN = 10000L
  val alpha = 0.85
  val tol = 1e-6
  private val dataDir = s"${args.data}/crawl_rank-n$pagesN-s${args.seed}"
  private val edgesPath = s"${args.out}/edges"
  private val ranksPath = s"${args.out}/ranks"
  private val ranks12Path = s"${args.out}/ranks12"
  private val ckDir = s"${args.out}/checkpoint"
  private var pages: DataFrame = _
  private var expected: Array[(Long, Long)] = _
  private var resumed: Option[PageRank.Result] = None

  val opNames = Seq("ingest.link_extract", "core.graph_build", "operators.pagerank.solve",
    "operators.pagerank.checkpointed", "operators.pagerank.resume")
  def sizes = Map("pages" -> pagesN)

  def generate(): Map[String, Any] = {
    cached(dataDir)(d => parquet(PageGen.pages(spark, pagesN, args.seed), s"$d/pages"))
    // Arcs the crawl embeds, renumbered the way LinkExtract numbers pages.
    val dense = Oracles.denseIdsByUrl(pagesN)
    expected = Collected.arcs(PageGen.edges(spark, pagesN, args.seed))
      .map { case (s, d) => (dense(s.toInt), dense(d.toInt)) }.distinct
    Collected.fingerprint(expected) ++ Map("pages" -> fingerprint(spark.read.parquet(s"$dataDir/pages")))
  }

  def setup(): Unit = {
    pages = spark.read.parquet(s"$dataDir/pages").cache()
    noop(pages)
  }

  def undoSetup(): Unit = pages.unpersist(true)

  def pass(p: Pass): Unit = {
    p("ingest.link_extract") {
      val (_, edges) = LinkExtract.ingest(pages)
      parquet(edges, edgesPath)
    }
    val g = p("core.graph_build") {
      val g = Graph.fromEdges(spark.read.parquet(edgesPath))
      noop(g.adjacency.toDF())
      g
    }
    val solve = p("operators.pagerank.solve") {
      val r = PageRank.run(g)
      parquet(r.ranks, ranksPath)
      r
    }
    p.detail ++= Seq("arcs" -> g.numEdges, "pr_iterations" -> solve.iterations,
      "pr_converged" -> solve.converged, "pr_steps_ms" -> solve.history.map(_.wallMs))

    rmrf(new File(ckDir))
    val first = p("operators.pagerank.checkpointed") {
      val r = PageRank.run(g, tol = 0.0, maxIter = 8, checkpoint = Some(CheckpointConfig(ckDir, every = 1)))
      noop(r.ranks)
      r
    }
    p.detail ++= Seq(
      "checkpoint_commits" -> Option(new File(ckDir, "_manifests").list()).map(_.length).getOrElse(0),
      "checkpoint_bytes" -> dirBytes(new File(ckDir)),
      "checkpointed_steps_ms" -> first.history.map(_.wallMs))
    val second = p("operators.pagerank.resume") {
      val r = PageRank.run(g, tol = 0.0, maxIter = 12, checkpoint = Some(CheckpointConfig(ckDir, every = 1)))
      parquet(r.ranks, ranks12Path)
      r
    }
    p.detail ++= Seq("resume_steps_ms" -> second.history.map(_.wallMs))
    resumed = Some(second)
    g.unpersist()
  }

  def check(): Seq[Map[String, Any]] = {
    val got = Collected.arcs(spark.read.parquet(edgesPath)).distinct
    val ingestOk = got.length == expected.length && got.toSet == expected.toSet
    val oracleGraph = new Oracles.Arcs(expected)

    val ranks = Collected.ranks(spark.read.parquet(ranksPath))
    val (want, wantIters) = Oracles.pageRank(oracleGraph, alpha, tol, 100)
    val l1 = oracleGraph.ids.indices.map(i => math.abs(ranks.getOrElse(oracleGraph.ids(i), 0.0) - want(i))).sum
    val mass = ranks.values.sum
    // Both runs stop within tol of the fixpoint scaled by alpha/(1-alpha).
    val bound = 2 * tol * alpha / (1 - alpha)
    val prOk = ranks.size == oracleGraph.n && l1 <= bound && math.abs(mass - 1.0) <= 1e-9

    val r12 = Collected.ranks(spark.read.parquet(ranks12Path))
    val (want12, _) = Oracles.pageRank(oracleGraph, alpha, 0.0, 12)
    val l1r = oracleGraph.ids.indices.map(i => math.abs(r12.getOrElse(oracleGraph.ids(i), 0.0) - want12(i))).sum
    val steps = resumed.map(_.history.map(_.iteration)).getOrElse(Nil)
    val resumeOk = resumed.exists(_.iterations == 12) && steps == (9 to 12) && r12.size == oracleGraph.n && l1r <= 1e-9

    Seq(
      verdict("ingest.link_extract", ingestOk, s"extracted ${got.length} distinct arcs, generator ${expected.length}"),
      verdict("operators.pagerank.solve", prOk,
        f"L1 to power iteration $l1%.3e (bound $bound%.3e, oracle $wantIters supersteps), sum $mass%.12f"),
      verdict("operators.pagerank.resume", resumeOk, f"resumed supersteps ${steps.mkString(",")}, L1 at 12 $l1r%.3e"))
  }
}

/** Connected components, label propagation, triangle count and BFS on one
  * generated graph whose adjacency is built during set-up.
  */
final class GraphOps(spark: SparkSession, args: Main.Args) extends Workload {
  val nodes = 12000L
  val bfsRoot = 0L
  private val dataDir = s"${args.data}/graph_ops-n$nodes-s${args.seed}"
  private val ccPath = s"${args.out}/cc"
  private val lpPath = s"${args.out}/lp"
  private val bfsPath = s"${args.out}/bfs"
  private var arcs: Array[(Long, Long)] = _
  private var graph: Graph = _
  private var lastTriangles = -1L
  private var lastCc: Option[ConnectedComponents.Result] = None
  private var lastLp: Option[LabelPropagation.Result] = None

  val opNames = Seq("operators.cc", "operators.lp", "operators.triangles", "operators.bfs")
  def sizes = Map("nodes" -> nodes)

  def generate(): Map[String, Any] = {
    cached(dataDir)(d => parquet(PageGen.edges(spark, nodes, args.seed), s"$d/edges"))
    arcs = Collected.arcs(spark.read.parquet(s"$dataDir/edges"))
    Collected.fingerprint(arcs)
  }

  def setup(): Unit = {
    graph = Graph.fromEdges(spark.read.parquet(s"$dataDir/edges"))
    noop(graph.adjacency.toDF())
  }

  def undoSetup(): Unit = graph.unpersist()

  def pass(p: Pass): Unit = {
    val cc = p("operators.cc") {
      val r = ConnectedComponents.run(graph)
      parquet(r.components, ccPath)
      r
    }
    val lp = p("operators.lp") {
      val r = LabelPropagation.run(graph.symmetrize)
      parquet(r.labels, lpPath)
      r
    }
    lastTriangles = p("operators.triangles")(TriangleCount.total(graph))
    p("operators.bfs")(parquet(Bfs.run(graph, Seq(bfsRoot)), bfsPath))
    lastCc = Some(cc)
    lastLp = Some(lp)
    p.detail ++= Seq("cc_supersteps" -> cc.iterations, "cc_steps_ms" -> cc.history.map(_.wallMs),
      "lp_supersteps" -> lp.iterations, "lp_steps_ms" -> lp.history.map(_.wallMs),
      "triangles" -> lastTriangles)
  }

  def check(): Seq[Map[String, Any]] = {
    val g = new Oracles.Arcs(arcs)
    def pairs(path: String, value: String): Map[Long, Long] =
      spark.read.parquet(path).select(col("id"), col(value).cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expect(labels: Array[Long]) = g.ids.indices.map(i => g.ids(i) -> labels(i)).toMap

    val cc = pairs(ccPath, "comp")
    val ccWant = expect(Oracles.components(g))
    val ccComps = ccWant.values.toSet.size
    val ccOk = cc == ccWant && lastCc.exists(_.numComponents == ccComps)

    val lp = pairs(lpPath, "label")
    val (lpLabels, lpIters) = Oracles.labelPropagation(g, 10)
    val lpOk = lp == expect(lpLabels) && lastLp.exists(_.iterations == lpIters)

    val triWant = Oracles.triangles(g)

    val bfs = spark.read.parquet(bfsPath).select("id", "dist", "pred").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val bfsWant = Oracles.bfs(g, bfsRoot)
    val levels = if (bfsWant.isEmpty) 0 else bfsWant.values.map(_._1).max

    Seq(
      verdict("operators.cc", ccOk, s"${cc.size} vertices, $ccComps components expected"),
      verdict("operators.lp", lpOk, s"${lp.size} vertices, $lpIters rounds expected"),
      verdict("operators.triangles", lastTriangles == triWant, s"engine $lastTriangles, oracle $triWant"),
      verdict("operators.bfs", bfs == bfsWant, s"reached ${bfs.size} of ${bfsWant.size}, $levels levels") ++
        Map("reached" -> bfs.size, "levels" -> levels))
  }
}

/** Training-data curation queries (dedup, ANN, text, ingest) over seeded
  * document and embedding tables. Every pass runs in a new session, so
  * each pass builds its shared memos afresh. run.py checks the results
  * against the DuckDB oracles.
  */
final class Curation(spark: SparkSession, args: Main.Args, plans: Option[PlanListener])
    extends Workload {
  private val dataDir = args.data
  val opNames = Curation.queries.map(Curation.opName)
  def sizes = Map("queries" -> Curation.queries.size)

  def generate(): Map[String, Any] = Map(
    "documents" -> fingerprint(spark.read.parquet(s"$dataDir/documents.parquet")),
    "embeddings" -> fingerprint(spark.read.parquet(s"$dataDir/embeddings.parquet")))

  def setup(): Unit = {
    noop(spark.read.parquet(s"$dataDir/documents.parquet"))
    noop(spark.read.parquet(s"$dataDir/embeddings.parquet"))
  }

  def undoSetup(): Unit = ()

  def pass(p: Pass): Unit = {
    val s = spark.newSession()
    plans.foreach(s.listenerManager.register)
    Curation.queries.foreach { q =>
      p(Curation.opName(q))(parquet(graft.SparkEntry.queries(q)(s, dataDir), s"${args.out}/q/$q"))
    }
  }

  def check(): Seq[Map[String, Any]] = Nil

  def oracleSql: Map[String, String] =
    Curation.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
}

object Curation {
  /** The measured subset of the d_/e_/t_/i_ queries, in alphabetical order. */
  val queries: Seq[String] = Seq(
    "d_exact_dedup", "d_minhash_lsh", "d_simhash",
    "e_cosine_topk", "e_ivf_topk", "e_lsh_topk",
    "i_anchor_text", "i_extract_text", "i_url_canon",
    "t_bm25", "t_langid", "t_quality", "t_tokens").sorted

  val families = Map("d" -> "dedup", "e" -> "ann", "i" -> "ingest", "t" -> "text")
  def opName(q: String): String = s"queries.${families(q.take(1))}.$q"
}
