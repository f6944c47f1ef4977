package perfbench

import graft.alg.PageRank
import graft.core.{Lineage, StepMetrics}
import graft.sources.TableIO
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The link-graph benchmark: one seeded workload in one JVM at `local[4]`,
 * closed loop (one client, calls in sequence).
 *
 * Set-up runs `SetupReps` times (inputs written from the seed, reference
 * answers computed), with one untimed warm-up pass after the first. Then
 * `--seconds` / `Workload.passSeconds` passes run; every pass's results are
 * checked against the reference. Without `--trace` the end-to-end metrics
 * are printed; with it every other pass, starting with the first, is
 * traced and the per-layer metrics are printed. The last line of standard
 * output is the JSON result, each metric a bare value: `run.py` adds the
 * units BENCHMARK.json declares.
 */
object Main {

  val Cores = 4
  /** Shuffle partitions, fixed with AQE off so that a plan is the same at
   * every core count (the scaling leg depends on it). */
  val Partitions = 8
  val SetupReps = 3
  /** JVM uptime after which no further pass starts: a run must end within
   * 180 s, and a traced run still has its layer probes to do. */
  val PassDeadlineS = 120.0

  /** metric names, as BENCHMARK.json declares them (units are taken from
   * there when the result is printed) */
  val EndToEnd: Seq[String] = Seq("setup_s", "wall_s", "pagerank_gteps", "cache_peak_mb")

  /** the layer calls a pass can make; each is also a Spark job group */
  val Layers: Seq[String] = Seq("extract", "pagerank", "wcc", "triangles", "labelprop")
  val Iterative: Seq[String] = Seq("pagerank", "wcc", "labelprop")

  val PerLayer: Seq[String] =
    Layers.map(l => s"${l}_s") ++
      Seq("text.links_s", "text.dictionary_s", "text.edges_s", "text.links", "text.urls", "text.edges",
        "core.adjacency_s", "core.adjacency_rows", "core.hub_rows", "core.max_out_degree",
        "core.undirected_s", "core.blocks_left") ++
      Iterative.flatMap(a => Seq("init_s", "loop_s", "supersteps", "step_ms_p50", "step_ms_max",
        "edges_traversed").map(f => s"$a.$f")) ++
      Seq("wcc.active_edge_ratio", "triangles.count", "triangles.canonical_edges",
        "sources.checkpoint_bytes", "sources.checkpoint_files", "sources.checkpoint_s") ++
      Layers.flatMap(g => EngineMeter.FigureNames.map(f => s"spark.$g.$f")) ++
      Seq("scaling_eff", "host.probe_ms", "error_rate", "setup.warmup_s",
        "trace.pass_self_s", "trace.overhead_s", "trace.passes")

  final case class PassRecord(
      pass: Int, traced: Boolean, ok: Boolean, wallS: Double,
      steps: Map[String, Seq[StepMetrics]], calls: Map[String, Double],
      windows: Map[String, (Long, Long)], peakBytes: Long, blocksLeft: Int,
      checkpointBytes: Long, checkpointFiles: Long) {
    def loopS(alg: String): Double = steps.getOrElse(alg, Nil).map(_.wallMs).sum / 1000.0
    /** PageRank's edge-traversal rate, Totem's headline figure */
    def pagerankGteps: Double = Main.gteps(steps.getOrElse("pagerank", Nil))
  }

  /** Σ edges traversed / Σ superstep wall, in billions per second. */
  def gteps(steps: Seq[StepMetrics]): Double = {
    val ms = steps.map(_.wallMs).sum
    if (ms <= 0) 0.0 else steps.map(_.edgesTraversed).sum / (ms / 1000.0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = opt.get("workload").flatMap(Workloads.byName).getOrElse {
      System.err.println(s"usage: --workload ${Workloads.all.map(_.name).mkString("|")} " +
        "--seed N --seconds S --trace 0|1 --work DIR --traces DIR")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    try run(wl, seed, seconds, traced, work, Paths.get(opt("traces")).toAbsolutePath)
    finally deleteTree(work)
  }

  private def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
                  work: Path, traces: Path): Unit = {
    var spark = session(Cores, work)
    val meter = new EngineMeter
    spark.sparkContext.addSparkListener(meter)
    val trace = new Trace
    var attempted = 0
    var failed = 0
    def tally(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
    }

    def setupRep(r: Int): Double = {
      // every set-up, like every pass, starts from a collected heap
      System.gc()
      val t0 = System.nanoTime()
      val ok = try wl.setup(spark, seed, work.resolve(s"input$r")) catch {
        case NonFatal(e) => e.printStackTrace(); false
      }
      val s = (System.nanoTime() - t0) / 1e9
      tally(s"setup $r", ok)
      // the workload now reads only the newest inputs
      if (r > 0) deleteTree(work.resolve(s"input${r - 1}"))
      clearCache(spark)
      s
    }

    val probesMs = mutable.ArrayBuffer[Double]()
    def runPass(i: Int, tr: Option[Trace]): PassRecord = {
      val sc = spark.sparkContext
      val scratch = Files.createDirectories(work.resolve(s"pass$i"))
      // every pass starts from a collected heap
      System.gc()
      PerfbenchBus.drain(sc)
      meter.resetPeak()
      probesMs += hostProbeMs()
      val calls = new Calls(spark, i, tr)
      val t0 = System.nanoTime()
      val pass = try Some(wl.pass(spark, calls, scratch)) catch {
        case NonFatal(e) => e.printStackTrace(); None
      }
      val t1 = System.nanoTime()
      tr.foreach(_.spans += Span(Calls.Root, i, None, t0, t1))
      PerfbenchBus.drain(sc)
      val peak = meter.peakBytes
      probesMs += hostProbeMs()
      val checks = pass.map { p =>
        try p.check() catch { case NonFatal(e) => e.printStackTrace(); wl.layers.map(_ -> false) }
      }.getOrElse(wl.layers.map(_ -> false))
      checks.foreach { case (layer, ok) => tally(s"pass $i $layer", ok) }
      val (ckBytes, ckFiles) = treeSize(scratch)
      pass.foreach(_.release.foreach(Lineage.release))
      val blocksLeft = sc.getPersistentRDDs.size
      clearCache(spark)
      deleteTree(scratch)
      PassRecord(i, tr.isDefined, pass.isDefined && checks.forall(_._2), (t1 - t0) / 1e9,
        pass.map(_.steps).getOrElse(Map.empty), calls.seconds.toMap, calls.windows.toMap,
        peak, blocksLeft, ckBytes, ckFiles)
    }

    // the warm-up pass follows the first, cold set-up, so that the later
    // set-ups and the measured passes run in a warm JVM
    val firstSetupS = setupRep(0)
    val warmup = runPass(-1, None)
    val setupS = firstSetupS +: (1 until SetupReps).map(setupRep)
    System.err.println(f"[perfbench] set-up ${setupS.mkString(" ")} s, warm-up ${warmup.wallS}%.3f s")
    val records = mutable.ArrayBuffer[PassRecord]()
    // a fixed pass count: later passes run faster as the JIT warms, so a
    // count that flipped with small changes in host speed would shift the
    // median
    val passes = math.max(1, (seconds / wl.passSeconds).toInt)
    def wanted: Boolean =
      records.isEmpty || {
        // a traced run also wants one untraced pass, for the tracing overhead
        val more = records.size < (if (traced) math.max(2, passes) else passes)
        // on a slow host, skip passes that would end past the soft deadline
        val uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
        more && uptimeS + records.last.wallS < PassDeadlineS
      }
    while (wanted) {
      val i = records.size
      records += runPass(i, if (traced && i % 2 == 0) Some(trace) else None)
      val r = records.last
      System.err.println(f"[perfbench] pass $i wall ${r.wallS}%.3f s, pagerank_gteps ${r.pagerankGteps}%.6f, " +
        r.calls.map { case (l, s) => f"$l $s%.2f s/${r.steps.get(l).fold(0)(_.size)}" }.mkString(", "))
    }
    val ok = records.filter(_.ok)

    val metrics: Seq[(String, Double)] =
      if (!traced) {
        val values = Map(
          "setup_s" -> median(setupS),
          "wall_s" -> median(ok.map(_.wallS)),
          "pagerank_gteps" -> median(ok.map(_.pagerankGteps)),
          "cache_peak_mb" -> median(ok.map(_.peakBytes / 1e6)))
        EndToEnd.map(n => n -> values(n))
      } else {
        val out = mutable.Map[String, Double]()
        val probe = new Probe(trace, out)
        val g = Lineage.cut(wl.graph(spark))
        Workloads.probeAdjacency(g, probe)
        Lineage.release(g)
        wl.probe(spark, probe)
        clearCache(spark)
        val tracedOk = ok.filter(_.traced)
        def med(f: PassRecord => Double): Double = median(tracedOk.map(f))
        for (l <- Layers)
          out(s"${l}_s") = med(_.calls.getOrElse(l, 0.0))
        for (a <- Iterative) {
          out(s"$a.loop_s") = med(_.loopS(a))
          out(s"$a.init_s") = med(r => r.calls.getOrElse(a, 0.0) - r.loopS(a))
          out(s"$a.supersteps") = med(_.steps.getOrElse(a, Nil).size.toDouble)
          out(s"$a.step_ms_p50") = med(r => median(r.steps.getOrElse(a, Nil).map(_.wallMs.toDouble)))
          out(s"$a.step_ms_max") = med(r => r.steps.getOrElse(a, Nil).map(_.wallMs.toDouble).maxOption.getOrElse(0.0))
          out(s"$a.edges_traversed") = med(_.steps.getOrElse(a, Nil).map(_.edgesTraversed).sum.toDouble)
        }
        val answers = wl.answerCounts
        out("wcc.active_edge_ratio") = answers.get("wcc.undirected_edges").map { e =>
          med(r => {
            val s = r.steps.getOrElse("wcc", Nil)
            if (s.isEmpty) 0.0 else s.map(_.edgesTraversed).sum.toDouble / (s.size * e)
          })
        }.getOrElse(0.0)
        out("triangles.count") = answers.getOrElse("triangles.count", 0.0)
        out("triangles.canonical_edges") = answers.getOrElse("triangles.canonical_edges", 0.0)
        out("sources.checkpoint_bytes") = med(_.checkpointBytes.toDouble)
        out("sources.checkpoint_files") = med(_.checkpointFiles.toDouble)
        out("sources.checkpoint_s") = out.remove("sources.loop_without_checkpoint_s")
          .map(without => med(_.loopS("pagerank")) - without).getOrElse(0.0)
        PerfbenchBus.drain(spark.sparkContext)
        for (g <- Layers) {
          val figs = tracedOk.flatMap { r =>
            for { (s, e) <- r.windows.get(g); grp <- meter.group(s"$g#${r.pass}") }
              yield EngineMeter.figures(grp, s, e)
          }
          for (f <- EngineMeter.FigureNames) out(s"spark.$g.$f") = median(figs.map(_(f)))
        }
        out("core.blocks_left") = median(ok.map(_.blocksLeft.toDouble))
        out("host.probe_ms") = median(probesMs.toSeq)
        out("error_rate") = failed.toDouble / attempted
        out("setup.warmup_s") = warmup.wallS
        out("trace.pass_self_s") = median(trace.spans.filter(s => s.name == Calls.Root).map(trace.selfSeconds).toSeq)
        val untraced = ok.filterNot(_.traced)
        out("trace.overhead_s") = if (untraced.isEmpty) 0.0 else med(_.wallS) - median(untraced.map(_.wallS))
        out("trace.passes") = tracedOk.size.toDouble
        out("scaling_eff") = wl.scalingInput.map { path =>
          // the same PageRank plan in a fresh single-core session
          spark.stop()
          spark = session(1, work)
          val one = gteps(PageRank.run(TableIO.read(spark, path)).metrics)
          val four = median(ok.map(_.pagerankGteps))
          if (one <= 0) 0.0 else four / one / Cores
        }.getOrElse(0.0)
        trace.write(traces.resolve(s"${wl.name}-seed$seed.jsonl"), s"${wl.name}-seed$seed")
        PerLayer.map(n => n -> out.getOrElse(n, 0.0))
      }
    spark.stop()

    // every run carries its host readings, traced or not
    System.err.println(f"[perfbench] host.probe_ms median ${median(probesMs.toSeq)}%.3f " +
      s"of ${probesMs.size}: ${probesMs.map(p => f"$p%.1f").mkString(" ")}")
    val body = metrics.map { case (n, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": $x"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // rows of the chunked adjacency carry arrays of up to 4096 ids; small
      // cache batches keep each one a modest allocation
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "512")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops every cached table and persisted RDD, so that nothing one pass
   * left behind speeds up or slows down the next. */
  def clearCache(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private var probeSink = 0L

  /** Single-thread host-speed probe: a fixed xorshift loop, in ms. A slow
   * reading marks a pass that ran while the host was throttled. */
  def hostProbeMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink += x
    (System.nanoTime() - t0) / 1e6
  }

  def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p)
      try {
        val regular = files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (regular.map(Files.size).sum, regular.size.toLong)
      } finally files.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val files = Files.walk(p)
      try files.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally files.close()
    }
}
