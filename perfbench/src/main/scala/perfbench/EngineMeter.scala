package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.BlockId
import scala.collection.mutable

/**
 * Spark-engine numbers, observed from outside the program.
 *
 * Jobs belong to the job group the benchmark sets around a traced layer
 * call (`<layer>#<pass>`); untagged jobs feed only the block-manager
 * sample. The bytes held in RDD blocks (memory plus disk) are sampled at
 * every job end, which gives the cache peak of a pass.
 *
 * Events arrive on Spark's listener thread; read only after
 * `org.apache.spark.PerfbenchBus.drain`.
 */
final class EngineMeter extends SparkListener {

  final class Group {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    /** (submitted, completed) wall-clock ms of every finished stage */
    val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, Group]()
  private val blocks = mutable.Map[BlockId, Long]()
  private var held = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { id =>
      groups.getOrElseUpdate(id, new Group).jobs += 1
      e.stageIds.foreach(stageGroup(_) = id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).flatMap(groups.get).foreach { g =>
      g.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) g.stageSpans += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).flatMap(groups.get).foreach { g =>
      g.tasks += 1
      g.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        g.spillBytes += m.diskBytesSpilled
        g.gcMs += m.jvmGCTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = blocks.remove(info.blockId).getOrElse(0L)
      if (size > 0) blocks(info.blockId) = size
      held += size - old
    }
  }

  // removing an RDD's blocks sends no block update, only this event
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.asRDDId.exists(_.rddId == e.rddId)).toSeq
    gone.foreach(b => held -= blocks.remove(b).getOrElse(0L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    peak = math.max(peak, held)
  }

  /** Starts a new peak window at the bytes held now. */
  def resetPeak(): Unit = synchronized { peak = held }

  def peakBytes: Long = synchronized(math.max(peak, held))

  def group(id: String): Option[Group] = synchronized(groups.get(id))
}

object EngineMeter {

  /** Per-call engine figures of one job group over the call's wall window
   * [startMs, endMs]. */
  def figures(g: EngineMeter#Group, startMs: Long, endMs: Long): Map[String, Double] = {
    val wallMs = math.max(1L, endMs - startMs)
    val busyMs = covered(g.stageSpans.toSeq, startMs, endMs)
    // worst stage: its slowest task over its median task (stages of one task
    // have no skew to show)
    val skew = g.taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.foldLeft(1.0)(math.max)
    Map(
      "jobs" -> g.jobs.toDouble,
      "stages" -> g.stages.toDouble,
      "tasks" -> g.tasks.toDouble,
      "shuffle_write_bytes" -> g.shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> g.shuffleReadBytes.toDouble,
      "spill_bytes" -> g.spillBytes.toDouble,
      "gc_ms" -> g.gcMs.toDouble,
      "task_skew" -> skew,
      "busy_share" -> busyMs.toDouble / wallMs,
      "idle_s" -> (wallMs - busyMs) / 1000.0)
  }

  val FigureNames: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_ms", "task_skew", "busy_share", "idle_s")

  /** Milliseconds of [lo, hi] during which at least one interval ran. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((s, e) <- spans.sortBy(_._1)) {
      val a = math.max(s, end)
      val b = math.min(e, hi)
      if (b > a) { total += b - a; end = b }
    }
    total
  }
}
