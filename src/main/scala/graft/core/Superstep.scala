package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** One superstep's ledger row — the analog of Totem's per-phase timers
 * (`/root/reference/src/totem/totem.h:22-37`, `totem_engine.cu:166-186`)
 * plus the north rule's per-partition lineage + edge-traversal metrics. */
final case class StepMetrics(
    superstep: Int,
    wallMs: Long,
    stateRows: Long,
    edgesTraversed: Long,
    converged: Boolean) {
  /** Billion traversed edges / sec, Totem's exec_rate
   * (`totem_benchmark_print.cu:85-104`). */
  def gteps: Double = if (wallMs <= 0) 0.0 else edgesTraversed / (wallMs / 1000.0) / 1e9
}

/** What a superstep returns to the driver loop. */
final case class StepResult(state: DataFrame, edgesTraversed: Long, converged: Boolean)

/**
 * BSP driver loop — the Spark-native `engine_execute`
 * (`/root/reference/src/totem/totem_engine.cu:214-234`). Each superstep is
 * one Spark job: join/aggregate/update, then a lineage barrier. The barrier
 * (a local checkpoint of the new state) replaces Totem's
 * `grooves_synchronize` and is MANDATORY for plan-growth control: a
 * 25-iteration loop of joins would otherwise blow up the optimizer.
 *
 * With a `checkpointDir`, the barrier job also writes the state table and
 * counts its rows per partition; `manifest.json` then records lineage
 * (parent superstep, data path) and metrics (wall ms, per-partition row
 * counts, edges traversed, GTEPS). The run itself never reads the table
 * back: the next superstep reads the locally checkpointed blocks, and the
 * table is read only when a crashed run resumes from the last superstep
 * whose manifest is complete.
 */
object Superstep {

  final case class Config(
      maxSupersteps: Int = 100,
      checkpointDir: Option[String] = None,
      resume: Boolean = false,
      verbose: Boolean = false)

  final case class Outcome(state: DataFrame, metrics: Seq[StepMetrics]) {
    def supersteps: Int = metrics.size
  }

  /**
   * Run `step(state, superstep)` until it reports convergence or
   * `maxSupersteps`. `superstep` is 1-based, matching the engine counter
   * (`totem_engine.cuh:189-216`).
   */
  def run(initial: DataFrame, cfg: Config)(step: (DataFrame, Int) => StepResult): Outcome = {
    val spark = initial.sparkSession
    val metrics = ArrayBuffer[StepMetrics]()

    var (state, startStep) = cfg.checkpointDir match {
      case Some(dir) if cfg.resume =>
        latestComplete(dir) match {
          case Some((ss, path)) =>
            metrics ++= readLedger(dir, ss)
            (graft.sources.TableIO.read(spark, path), ss + 1)
          case None => (materialize(initial), 1)
        }
      case _ => (materialize(initial), 1)
    }

    var superstep = startStep
    var done = false
    while (!done && superstep <= cfg.maxSupersteps) {
      val t0 = System.nanoTime()
      val res = step(state, superstep)
      val (newState, perPart) = cfg.checkpointDir match {
        case Some(dir) => writeCheckpoint(res.state, dir, superstep)
        // steps that probe convergence materialize (Lineage.cut) their own
        // state first — don't execute the step plan a second time here
        case None =>
          (if (Lineage.isCut(res.state)) res.state else materialize(res.state), Map.empty[Int, Long])
      }
      // without a checkpoint the row count is ledger-only: skip the extra
      // per-superstep job unless someone prints it
      val rows =
        if (cfg.checkpointDir.isDefined) perPart.values.sum
        else if (cfg.verbose) newState.count() else -1L
      val wallMs = (System.nanoTime() - t0) / 1000000
      val m = StepMetrics(superstep, wallMs, rows, res.edgesTraversed, res.converged)
      metrics += m
      cfg.checkpointDir.foreach(writeManifest(_, m, perPart))
      if (cfg.verbose)
        println(f"[superstep $superstep%3d] rows=$rows%,d trvEdges=${res.edgesTraversed}%,d " +
          f"wall=${wallMs}ms gteps=${m.gteps}%.4f converged=${res.converged}")
      // the new state is materialized: free the previous one's blocks
      if (state ne newState) Lineage.release(state)
      state = newState
      done = res.converged
      superstep += 1
    }
    Outcome(state, metrics.toSeq)
  }

  /** Force + truncate lineage — the cheap intra-run barrier (localCheckpoint
   * caches at MEMORY_AND_DISK itself; an extra persist would double-cache). */
  private def materialize(df: DataFrame): DataFrame = Lineage.cut(df)

  /**
   * The checkpointed barrier in ONE job: the state is marked for local
   * checkpoint and written, so the write computes the step plan, fills the
   * blocks the next superstep reads and counts the rows per partition. A
   * state the step already cut is written from its blocks and kept. The
   * blocks are stored serialized: the table is the durable copy.
   */
  private def writeCheckpoint(df: DataFrame, dir: String, superstep: Int): (DataFrame, Map[Int, Long]) = {
    val state =
      if (Lineage.isCut(df)) df else Lineage.cutLazily(df, StorageLevel.MEMORY_AND_DISK_SER)
    (state, graft.sources.TableIO.writeCounted(state, dataPath(dir, superstep)))
  }

  private def stepDir(dir: String, superstep: Int): Path = Paths.get(dir, s"superstep=$superstep")
  private def dataPath(dir: String, superstep: Int): String = stepDir(dir, superstep).resolve("data").toString

  private val json = new ObjectMapper()

  /** The manifest is the superstep's commit marker: written to a temp file
   * in the superstep's directory, then renamed into place atomically, so a
   * reader sees either no manifest or a whole one. */
  private def writeManifest(dir: String, m: StepMetrics, perPart: Map[Int, Long]): Unit = {
    val root = json.createObjectNode()
      .put("superstep", m.superstep).put("status", "complete").put("wall_ms", m.wallMs)
      .put("state_rows", m.stateRows).put("edges_traversed", m.edgesTraversed)
      .put("gteps", m.gteps).put("converged", m.converged)
    val lineage = root.putObject("lineage")
    if (m.superstep > 1) lineage.put("parent", dataPath(dir, m.superstep - 1))
    else lineage.putNull("parent")
    lineage.put("data", dataPath(dir, m.superstep))
    val parts = root.putArray("partitions")
    perPart.toSeq.sortBy(_._1).foreach { case (p, n) =>
      parts.addObject().put("partition", p).put("rows", n)
    }
    val d = Files.createDirectories(stepDir(dir, m.superstep))
    val tmp = Files.createTempFile(d, "manifest", ".tmp")
    Files.writeString(tmp, json.writeValueAsString(root))
    Files.move(tmp, d.resolve("manifest.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The superstep's manifest, if it exists and parses. */
  private def manifest(dir: String, superstep: Int): Option[JsonNode] = {
    val mf = stepDir(dir, superstep).resolve("manifest.json")
    if (!Files.exists(mf)) None else Try(json.readTree(mf.toFile)).toOption
  }

  /** Latest superstep whose manifest says complete (crash-safe resume point). */
  def latestComplete(dir: String): Option[(Int, String)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return None
    import scala.jdk.CollectionConverters._
    // Files.list holds an open directory stream — close it or leak an fd
    // per resume probe
    val listing = Files.list(root)
    val steps =
      try {
        listing.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("superstep="))
          .flatMap(_.stripPrefix("superstep=").toIntOption).toSeq
      } finally listing.close()
    steps
      .filter(ss => manifest(dir, ss).exists(_.path("status").asText() == "complete"))
      .maxOption.map(ss => (ss, dataPath(dir, ss)))
  }

  private def readLedger(dir: String, upTo: Int): Seq[StepMetrics] =
    (1 to upTo).flatMap { ss =>
      manifest(dir, ss).map { mf =>
        StepMetrics(ss, mf.path("wall_ms").asLong(), mf.path("state_rows").asLong(),
          mf.path("edges_traversed").asLong(), mf.path("converged").asBoolean())
      }
    }
}
