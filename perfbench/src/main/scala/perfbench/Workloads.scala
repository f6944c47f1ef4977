package perfbench

import graft.alg.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.{Adjacency, Graph, Lineage, StepMetrics}
import graft.gen.GraphGen
import graft.sources.TableIO
import graft.text.EdgeExtract
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one pass leaves for the benchmark once its clock has stopped. */
final case class Pass(
    /** superstep ledger of each iterative layer */
    steps: Map[String, Seq[StepMetrics]],
    /** layer -> result matches its reference; run before `release` */
    check: () => Seq[(String, Boolean)],
    /** frames the pass produced, handed to `Lineage.release` */
    release: Seq[DataFrame])

/** One seeded workload. The program only ever sees the parquet inputs that
 * `setup` writes. */
trait Workload {
  def name: String
  /** the checked layer calls of one pass */
  def layers: Seq[String]
  /** Nominal length of one warm pass, in seconds. A run measures
   * `seconds / passSeconds` passes (at least one), whatever the host's speed. */
  def passSeconds: Double
  /** Writes the inputs under `dir` from `seed` and computes the reference
   * answers; false if a set-up check failed. */
  def setup(spark: SparkSession, seed: Long, dir: Path): Boolean
  /** One pass; `scratch` is an empty directory for its checkpoints. */
  def pass(spark: SparkSession, call: Calls, scratch: Path): Pass
  /** The workload's graph as the algorithms see it, for the layer probes. */
  def graph(spark: SparkSession): DataFrame
  /** Per-layer figures that only the traced run measures, outside the passes. */
  def probe(spark: SparkSession, probe: Probe): Unit = ()
  /** Edge parquet whose PageRank is repeated at `local[1]` in the traced
   * run, for the scaling efficiency. */
  def scalingInput: Option[String] = None
  /** Known answer sizes reported by the traced run. */
  def answerCounts: Map[String, Double] = Map.empty
}

/** Times one traced-only probe into `out`, as a span outside any pass. */
final class Probe(trace: Trace, val out: collection.mutable.Map[String, Double]) {
  def apply[T](metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      out(metric) = (t1 - t0) / 1e9
      trace.spans += Span(metric, -1, None, t0, t1)
    }
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(new CrawlPipeline, new RmatHubs)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Times the phases of one set-up and prints them to standard error, so
   * that the spread of `setup_s` can be traced to its parts. */
  final class Phases(workload: String) {
    private val done = collection.mutable.ArrayBuffer[(String, Double)]()
    def apply[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally done += phase -> (System.nanoTime() - t0) / 1e9
    }
    def report(): Unit =
      System.err.println(s"[perfbench] $workload set-up phases: " +
        done.map { case (p, s) => f"$p $s%.3f s" }.mkString(", "))
  }

  def collectEdges(df: DataFrame): Array[(Long, Long)] =
    df.select(col(Graph.SRC).cast("long"), col(Graph.DST).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted

  def writeEdges(spark: SparkSession, edges: Array[(Long, Long)], path: String): Unit = {
    import spark.implicits._
    TableIO.write(
      spark.sparkContext.parallelize(edges.toSeq, Main.Partitions).toDF(Graph.SRC, Graph.DST), path)
  }

  /** Generates a page corpus, writes it, and extracts its link graph,
   * checking the extraction against the links in the html. */
  def crawl(spark: SparkSession, pages: Long, seed: Long, path: String): (Array[(Long, Long)], Boolean) = {
    TableIO.write(GraphGen.pages(spark, pages, seed), path)
    val df = TableIO.read(spark, path)
    val html = df.select("url", "html").collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), UTF_8)))
    val links = Extraction.expectedLinks(html)
    val urls = (html.iterator.map(_._1) ++ links.iterator.map(_._2)).toSet.size
    val edges = collectEdges(EdgeExtract.edges(df))
    (edges, Extraction.check(edges, links, urls))
  }

  /** Chunked adjacency of `edges`, timed as its own layer call. */
  def probeAdjacency(edges: DataFrame, probe: Probe): Unit = {
    val adj = probe("core.adjacency_s") {
      val a = Adjacency.build(edges).persist(StorageLevel.MEMORY_AND_DISK)
      a.count()
      a
    }
    val r = adj.agg(count(lit(1)), sum(when(col("deg") > Adjacency.DefaultChunk, 1).otherwise(0)),
      max("deg")).collect()(0)
    probe.out("core.adjacency_rows") = r.getLong(0).toDouble
    probe.out("core.hub_rows") = r.getLong(1).toDouble
    probe.out("core.max_out_degree") = r.getLong(2).toDouble
    adj.unpersist(blocking = true)
    val und = probe("core.undirected_s")(Lineage.cut(Graph.undirected(edges)))
    Lineage.release(und)
  }
}

/**
 * The north rule end to end: pages → link extraction → PageRank,
 * checkpointing every superstep → per-vertex triangles → pruned LabelRank
 * to its stop rule on the undirected link graph. The only workload with
 * text extraction and checkpoint writes; out-degree is at most 16, so the
 * adjacency's hub chunks never engage. LabelRank runs many short
 * supersteps carrying wide per-vertex state, so per-superstep overhead
 * dominates it.
 */
final class CrawlPipeline extends Workload {
  val name = "crawl_pipeline"
  val Pages = 1000L
  val TopK = 16
  val layers = Seq("extract", "pagerank", "triangles", "labelprop")
  /** 13–20 s on a 4-core Xeon VM */
  val passSeconds = 16.0

  private var pagesPath: String = _
  private var edgeList: Array[(Long, Long)] = _
  private var answers: GraphAnswers = _
  private var labels: LabelRankOracle.Answer = _

  def setup(spark: SparkSession, seed: Long, dir: Path): Boolean = {
    pagesPath = dir.resolve("pages").toString
    val t = new Workloads.Phases(name)
    val (edges, ok) = t("write+extract")(Workloads.crawl(spark, Pages, seed, pagesPath))
    edgeList = edges
    answers = t("reference")(new GraphAnswers(edges, components = false, triangles = true))
    labels = t("labelrank oracle")(LabelRankOracle.run(edges.flatMap(e => Seq(e, e.swap)).distinct, TopK))
    val selfTest = t("self-test")(LabelRankOracle.selfTest(seed))
    t.report()
    ok && selfTest
  }

  def pass(spark: SparkSession, call: Calls, scratch: Path): Pass = {
    val pages = TableIO.read(spark, pagesPath)
    // materialized once: every algorithm reads the same edge table
    val edges = call("extract")(Lineage.cut(EdgeExtract.edges(pages)))
    val (pr, prRows) = call("pagerank") {
      val r = PageRank.run(edges, checkpointDir = Some(scratch.resolve("pagerank").toString))
      (r, r.ranks.collect())
    }
    val triRows = call("triangles")(TriangleCount.perVertex(edges).collect())
    val (lp, lpRows) = call("labelprop") {
      val r = LabelPropagation.labelRank(Graph.undirected(edges), pruneTopK = TopK)
      (r, r.labels.collect())
    }
    Pass(
      steps = Map("pagerank" -> pr.metrics, "labelprop" -> lp.metrics),
      check = () => Seq(
        "extract" -> Workloads.collectEdges(edges).sameElements(edgeList),
        "pagerank" -> answers.checkRanks(prRows),
        "triangles" -> answers.checkTriangles(triRows),
        "labelprop" -> (lp.metrics.size == labels.supersteps &&
          lpRows.length == labels.labels.size &&
          lpRows.forall(r => labels.labels.get(r.getLong(0)).contains(r.getLong(1))))),
      release = Seq(edges, pr.ranks, lp.labels))
  }

  def graph(spark: SparkSession): DataFrame = EdgeExtract.edges(TableIO.read(spark, pagesPath))

  override def probe(spark: SparkSession, probe: Probe): Unit = {
    val pages = TableIO.read(spark, pagesPath)
    val links = probe("text.links_s") {
      val l = EdgeExtract.links(pages).persist(StorageLevel.MEMORY_AND_DISK)
      l.count()
      l
    }
    probe.out("text.links") = links.count().toDouble
    val dict = probe("text.dictionary_s") {
      val d = EdgeExtract.urlDictionary(pages,
        pages.select(col("url")).union(links.select(col("dst_url").as("url"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    probe.out("text.urls") = dict.count().toDouble
    links.unpersist(blocking = true)
    dict.unpersist(blocking = true)
    val edges = probe("text.edges_s")(Lineage.cut(EdgeExtract.edges(pages)))
    probe.out("text.edges") = edges.count().toDouble
    // the same superstep loop without checkpointDir: the checkpoint share
    probe.out("sources.loop_without_checkpoint_s") =
      PageRank.run(edges).metrics.map(_.wallMs).sum / 1000.0
    Lineage.release(edges)
  }

  override def answerCounts: Map[String, Double] = Map(
    "triangles.count" -> answers.triangleTotal.toDouble,
    "triangles.canonical_edges" -> answers.canonicalEdges.toDouble)
}

/**
 * Hub-skewed R-MAT: PageRank and WCC in memory, no extraction and no disk
 * writes. The traced run repeats the same PageRank plan at `local[1]` for
 * the scaling efficiency. Max out-degree is well above
 * `Adjacency.DefaultChunk`, so hub vertices span several adjacency rows.
 */
final class RmatHubs extends Workload {
  val name = "rmat_hubs"
  val Scale = 12
  val EdgeFactor = 64
  val layers = Seq("pagerank", "wcc")
  /** 8–11 s on a 4-core Xeon VM */
  val passSeconds = 9.0

  private var edgesPath: String = _
  private var answers: GraphAnswers = _

  def setup(spark: SparkSession, seed: Long, dir: Path): Boolean = {
    edgesPath = dir.resolve("edges").toString
    // ids compacted onto the vertices that have an edge, order kept, so the
    // reference and the engine agree on the vertex count
    val t = new Workloads.Phases(name)
    val edges = t("generate+collect") {
      new DenseGraph(Workloads.collectEdges(GraphGen.rmat(spark, Scale, EdgeFactor, seed))).dense.toArray
    }
    t("write")(Workloads.writeEdges(spark, edges, edgesPath))
    answers = t("reference")(new GraphAnswers(edges, components = true, triangles = false))
    t.report()
    true
  }

  def pass(spark: SparkSession, call: Calls, scratch: Path): Pass = {
    val edges = TableIO.read(spark, edgesPath)
    val (pr, prRows) = call("pagerank") {
      val r = PageRank.run(edges)
      (r, r.ranks.collect())
    }
    val (cc, ccRows) = call("wcc") {
      val r = ConnectedComponents.run(edges)
      (r, r.components.collect())
    }
    Pass(
      steps = Map("pagerank" -> pr.metrics, "wcc" -> cc.metrics),
      check = () => Seq(
        "pagerank" -> answers.checkRanks(prRows),
        "wcc" -> answers.checkComponents(ccRows)),
      release = Seq(pr.ranks, cc.components))
  }

  def graph(spark: SparkSession): DataFrame = TableIO.read(spark, edgesPath)

  override def scalingInput: Option[String] = Some(edgesPath)

  override def answerCounts: Map[String, Double] = Map(
    "wcc.undirected_edges" -> answers.undirectedEdges.toDouble)
}
