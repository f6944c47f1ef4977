package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.core.{Superstep, StepResult}
import graft.gen.GraphGen
import graft.alg.ConnectedComponents

class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("checkpoints write manifests with lineage and metrics") {
    val dir = tmpDir("ckpt")
    val init = spark.range(10).select(col("id").as("vid"), lit(0).as("x"))
    val out = Superstep.run(init,
      Superstep.Config(maxSupersteps = 3, checkpointDir = Some(dir))) { (state, ss) =>
      StepResult(state.withColumn("x", col("x") + 1), edgesTraversed = 10L, converged = ss == 3)
    }
    assert(out.supersteps == 3)
    (1 to 3).foreach { ss =>
      val mf = Paths.get(s"$dir/superstep=$ss/manifest.json")
      assert(Files.exists(mf))
      val s = Files.readString(mf)
      assert(s.contains("\"status\":\"complete\""))
      assert(s.contains("\"edges_traversed\":10"))
      assert(s.contains("\"partitions\":["))
      if (ss > 1) assert(s.contains(s"superstep=${ss - 1}/data"))
    }
    assert(out.state.agg(min("x")).collect()(0).getInt(0) == 3)
  }

  test("TableIO format seam: checkpoints honor graft.table.format") {
    val dir = tmpDir("fmt")
    spark.conf.set(graft.sources.TableIO.FormatKey, "json")
    try {
      val init = spark.range(4).select(col("id").as("vid"), lit(0L).as("x"))
      val out = Superstep.run(init,
        Superstep.Config(maxSupersteps = 2, checkpointDir = Some(dir))) { (state, ss) =>
        StepResult(state.withColumn("x", col("x") + 1L), edgesTraversed = 4L, converged = ss == 2)
      }
      assert(out.state.agg(min("x")).collect()(0).getLong(0) == 2L)
      // the checkpoint table really is json, not parquet
      val files = Files.list(Paths.get(s"$dir/superstep=2/data")).toArray.map(_.toString)
      assert(files.exists(_.endsWith(".json")), s"no json part files in ${files.mkString(",")}")
      assert(!files.exists(_.endsWith(".parquet")), "parquet written despite json format conf")
      // resume reads back through the same seam
      val resumed = Superstep.run(
        spark.range(4).select(col("id").as("vid"), lit(99L).as("x")),
        Superstep.Config(maxSupersteps = 3, checkpointDir = Some(dir), resume = true)) { (state, ss) =>
        StepResult(state.withColumn("x", col("x") + 1L), edgesTraversed = 4L, converged = ss == 3)
      }
      assert(resumed.state.agg(min("x")).collect()(0).getLong(0) == 3L)
    } finally spark.conf.unset(graft.sources.TableIO.FormatKey)
  }

  test("resume continues from the last complete superstep") {
    val dir = tmpDir("resume")
    // run 2 of 5 supersteps, "crash"
    Superstep.run(spark.range(5).select(col("id").as("vid"), lit(0).as("x")),
      Superstep.Config(maxSupersteps = 2, checkpointDir = Some(dir))) { (state, _) =>
      StepResult(state.withColumn("x", col("x") + 1), 5L, converged = false)
    }
    assert(Superstep.latestComplete(dir).map(_._1).contains(2))
    // resume to completion: must NOT re-run supersteps 1-2
    var executed = 0
    val out = Superstep.run(
      spark.range(5).select(col("id").as("vid"), lit(999).as("x")), // ignored on resume
      Superstep.Config(maxSupersteps = 5, checkpointDir = Some(dir), resume = true)) { (state, ss) =>
      executed += 1
      assert(ss >= 3, s"superstep $ss re-executed after resume")
      StepResult(state.withColumn("x", col("x") + 1), 5L, converged = ss == 5)
    }
    assert(executed == 3)
    assert(out.state.agg(min("x")).collect()(0).getInt(0) == 5)
    // ledger includes the pre-crash supersteps read back from manifests
    assert(out.metrics.map(_.superstep) == Seq(1, 2, 3, 4, 5))
  }

  test("WCC with checkpointing resumes mid-iteration to the same answer") {
    val edges = GraphGen.chain(spark, 12).cache()
    val dir = tmpDir("wccckpt")
    // full run for reference
    val expected = toMap[Long](ConnectedComponents.run(edges).components)
    // partial run: cap supersteps below convergence, then resume
    ConnectedComponents.run(edges, checkpointDir = Some(dir), maxSupersteps = 3)
    val resumed = ConnectedComponents.run(edges, checkpointDir = Some(dir), resume = true)
    assert(toMap[Long](resumed.components) == expected)
  }

  test("cut-before-probe executes the step plan exactly once per superstep") {
    // the convergence pattern every iterative alg uses: cut, then probe the
    // materialized frame. A probe on the UNcut plan would re-run the UDF and
    // double the accumulator.
    val acc = spark.sparkContext.longAccumulator("rowEvals")
    val touch = udf((x: Long) => { acc.add(1); x })
    val init = spark.range(100).select(col("id").as("vid"), lit(0L).as("x"))
    val out = Superstep.run(init, Superstep.Config(maxSupersteps = 3)) { (state, ss) =>
      val next = state.select(col("vid"), touch(col("x") + 1).as("x"))
      val cut = graft.core.Lineage.cut(next)
      val anyNegative = !cut.filter(col("x") < 0).isEmpty // convergence-style probe
      StepResult(cut, 0L, converged = anyNegative || ss == 3)
    }
    assert(graft.core.Lineage.isCut(out.state))
    assert(acc.value == 300,
      s"step plan ran ${acc.value} row-evals; expected 300 = rows × supersteps (single execution)")
  }

  test("a checkpointed superstep is one job: it runs the step plan once, writes and counts") {
    val dir = tmpDir("onejob")
    val n = 100
    val steps = 3
    val acc = spark.sparkContext.longAccumulator("checkpointedRowEvals")
    val touch = udf((x: Long) => { acc.add(1); x })
    // ids, not a count: the context cleaner may free older RDDs meanwhile
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // AQE runs every shuffle stage as a job of its own; without it a
    // superstep with a shuffle is one job of two stages
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (out, jobs) =
      try org.apache.spark.JobCounter.count(spark.sparkContext) {
        Superstep.run(spark.range(n).select(col("id").as("vid"), lit(0L).as("x")),
          Superstep.Config(maxSupersteps = steps, checkpointDir = Some(dir))) { (state, ss) =>
          StepResult(state.groupBy("vid").agg(max(touch(col("x") + 1)).as("x")), 0L,
            converged = ss == steps)
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // the one job before superstep 1 cuts the initial state
    assert(jobs == 1 + steps, s"$jobs jobs for $steps checkpointed supersteps")
    assert(acc.value == n * steps,
      s"step plan ran ${acc.value} row-evals; expected ${n * steps} = rows × supersteps")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    (1 to steps).foreach { ss =>
      val mf = json.readTree(Paths.get(s"$dir/superstep=$ss/manifest.json").toFile)
      val parts = mf.get("partitions")
      // the state's own shuffle partitions, counted by the write job
      assert(parts.size == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      var sum = 0L
      parts.forEach(p => sum += p.get("rows").asLong())
      assert(sum == mf.get("state_rows").asLong() && sum == n, s"superstep $ss: $mf")
    }
    assert(out.state.agg(min("x"), max("x")).collect()(0).toSeq == Seq(steps.toLong, steps.toLong))
    graft.core.Lineage.release(out.state)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"run left persisted RDDs $left")
  }

  test("manifests are renamed into place; resume skips a missing or torn manifest") {
    val dir = tmpDir("atomic")
    Superstep.run(spark.range(3).select(col("id").as("vid"), lit(0L).as("x")),
      Superstep.Config(maxSupersteps = 3, checkpointDir = Some(dir))) { (state, ss) =>
      StepResult(state.withColumn("x", col("x") + 1L), 3L, converged = ss == 3)
    }
    // no temp file survives the rename
    (1 to 3).foreach { ss =>
      val names = Files.list(Paths.get(s"$dir/superstep=$ss")).toArray.map(_.toString)
      assert(names.count(_.endsWith("manifest.json")) == 1 && !names.exists(_.endsWith(".tmp")),
        names.mkString(","))
    }
    // a crash between superstep 3's data and its manifest: 2 is the resume point
    val mf3 = Paths.get(s"$dir/superstep=3/manifest.json")
    val whole = Files.readString(mf3)
    Files.delete(mf3)
    assert(Superstep.latestComplete(dir).map(_._1).contains(2))
    // a torn manifest does not parse, so it never counts as complete, even
    // though it already says so
    val torn = whole.take(whole.indexOf("\"wall_ms\"") + 12)
    assert(torn.contains("\"status\":\"complete\""), torn)
    Files.writeString(mf3, torn)
    assert(Superstep.latestComplete(dir).map(_._1).contains(2))
  }

  test("superstep loop releases previous states' checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Superstep.run(
      spark.range(50).select(col("id").as("vid"), lit(0L).as("x")),
      Superstep.Config(maxSupersteps = 10)) { (state, ss) =>
      StepResult(state.withColumn("x", col("x") + 1), 0L, converged = ss == 10)
    }
    assert(out.state.count() == 50)
    val after = spark.sparkContext.getPersistentRDDs.size
    // 10 intermediate states were cut; without Lineage.release they all
    // linger in the block manager until ContextCleaner GC
    assert(after - before <= 2, s"persistent RDDs grew $before -> $after")
  }

  test("metrics expose GTEPS per superstep") {
    val edges = GraphGen.chain(spark, 50)
    val res = graft.alg.PageRank.run(edges)
    res.metrics.foreach { m => assert(m.gteps > 0.0) }
  }
}
