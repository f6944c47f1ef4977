package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A layer call seen from the benchmark: `pass` groups the spans of one
 * measured pass (-1 for the traced-only layer probes). */
final case class Span(name: String, pass: Int, parent: Option[String], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans stay in memory until the run ends. */
final class Trace {
  val spans = mutable.ArrayBuffer[Span]()

  /** Span duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator
      .filter(c => c.pass == s.pass && c.parent.contains(s.name))
      .map(c => (math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs)) / 1e9)
      .filter(_ > 0).sum

  def write(path: java.nio.file.Path, runId: String): Unit = {
    val origin = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"run":"$runId","pass":${s.pass},"name":"${s.name}","parent":${s.parent.fold("null")("\"" + _ + "\"")},""" +
        f""""start_s":${(s.startNs - origin) / 1e9}%.6f,"end_s":${(s.endNs - origin) / 1e9}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/**
 * The calls of one pass into the program's layers, each timed from
 * outside. In a traced pass a call's Spark jobs carry the job group
 * `<layer>#<pass>` (which the [[EngineMeter]] keys on) and the call leaves a
 * span under the pass.
 */
final class Calls(spark: SparkSession, val pass: Int, val trace: Option[Trace]) {
  val seconds = mutable.LinkedHashMap[String, Double]()
  /** wall-clock window of each traced call, to line up with stage times */
  val windows = mutable.LinkedHashMap[String, (Long, Long)]()

  def apply[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    trace.foreach(_ => sc.setJobGroup(s"$layer#$pass", layer))
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      seconds(layer) = seconds.getOrElse(layer, 0.0) + (t1 - t0) / 1e9
      trace.foreach { t =>
        sc.clearJobGroup()
        windows(layer) = (w0, System.currentTimeMillis())
        t.spans += Span(layer, pass, Some(Calls.Root), t0, t1)
      }
    }
  }
}

object Calls {
  val Root = "pass"
}
