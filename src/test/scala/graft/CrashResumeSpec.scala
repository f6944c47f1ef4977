package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.alg.{ConnectedComponents, LabelPropagation, PageRank}
import graft.core.{Graph, StepMetrics}
import graft.gen.GraphGen

/** Kill-point resume: a run that crashed right after superstep k resumes
 * from its checkpoint to exactly the uninterrupted answer. */
class CrashResumeSpec extends SparkSpec {

  private def deleteTree(p: Path): Unit = {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally paths.close()
  }

  /** Runs `run(dir, resume = false)` to completion, deletes every
   * `superstep=j` dir with j > k (a crash after superstep k), resumes with
   * `run(dir, resume = true)`, and requires the same rows, compared with
   * `==` (doubles included), and the same superstep ledger. */
  private def killAndResume(k: Int)(run: (String, Boolean) => (Array[Row], Seq[StepMetrics])): Unit = {
    val dir = Files.createTempDirectory("kill")
    val (expected, full) = run(dir.toString, false)
    assert(full.size > k + 1, s"only ${full.size} supersteps: superstep $k is no kill point")
    (k + 1 to full.size).foreach(j => deleteTree(dir.resolve(s"superstep=$j")))
    val (resumed, ledger) = run(dir.toString, true)
    assert(ledger.map(_.superstep) == full.map(_.superstep))
    assert(resumed.sortBy(_.getLong(0)).toSeq == expected.sortBy(_.getLong(0)).toSeq)
    deleteTree(dir)
  }

  test("PageRank resumed after superstep 2 is bit-identical") {
    val edges = GraphGen.rmat(spark, 8, 8, seed = 42).cache()
    killAndResume(2) { (dir, resume) =>
      val r = PageRank.run(edges, checkpointDir = Some(dir), resume = resume)
      (r.ranks.collect(), r.metrics)
    }
  }

  test("WCC resumed after superstep 4 is identical") {
    // a long chain (ids shifted clear of the R-MAT ids) next to a hubby core
    val chain = GraphGen.chain(spark, 12)
      .select((col(Graph.SRC) + 1000L).as(Graph.SRC), (col(Graph.DST) + 1000L).as(Graph.DST))
    val edges = chain.union(GraphGen.rmat(spark, 6, 4, seed = 3)).cache()
    killAndResume(4) { (dir, resume) =>
      val r = ConnectedComponents.run(edges, checkpointDir = Some(dir), resume = resume)
      (r.components.collect(), r.metrics)
    }
  }

  test("LabelRank resumed after superstep 2 is identical") {
    val edges = Graph.undirected(GraphGen.uniform(spark, 30, 60, seed = 3)).cache()
    killAndResume(2) { (dir, resume) =>
      val r = LabelPropagation.labelRank(edges, checkpointDir = Some(dir), resume = resume)
      (r.labels.collect(), r.metrics)
    }
  }
}
