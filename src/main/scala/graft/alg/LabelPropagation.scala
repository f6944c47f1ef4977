package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Graph, StepResult, Superstep}

/**
 * Label propagation, two variants.
 *
 * [[labelRank]] reproduces the reference's LabelRank-style algorithm exactly
 * (`/root/reference/src/alg/totem_label_propagation.cu:82-217`):
 *  - labels are vertex ids; P[v][l] holds v's probability of label l;
 *  - init: P[v][v] = 1 (overwritten to 1/deg if v has a self-loop),
 *    P[v][nbr] = 1/deg(v) for each neighbor;
 *  - per iteration, synchronously: P'[v][l] = Σ_{u∈N(v)} P[u][l] / deg(v)
 *    (no renormalization across labels);
 *  - label(v) = argmax_l P[v][l] with STRICT `>` scanning l ascending ⇒ ties
 *    go to the lowest label, and if every entry is ≤ 0 the label is 0
 *    (`update_labels`, `:123-145`);
 *  - stop when every vertex's label is unchanged for 5 consecutive
 *    iterations, or after 25 iterations (`:17-18`).
 *
 * The reference's dense V×V ProbMatrix becomes a SPARSE per-vertex
 * distribution (array of (label, prob) with prob > 0) — semantically
 * identical because untouched dense entries are exactly 0 and the argmax
 * ignores zeros. Computation is per-edge explode + groupBy, so cost is
 * O(Σ_v |support(v)|·deg(v)) instead of O(V²·deg) — the only formulation
 * that survives web scale (with optional top-k support pruning for graphs
 * where supports grow unboundedly).
 */
object LabelPropagation {

  final val MaxIterations = 25        // LABEL_PROPAGATION_MAX_ITERATIONS
  final val StableIterations = 5      // ..._MAX_LABEL_NOT_CHANGED_COUNT

  final case class Result(labels: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /** Reference-parity LabelRank. `edges` must already contain both directions
   * of undirected edges (as the reference CSR does). `pruneTopK <= 0`
   * disables support pruning (required for exact parity). */
  def labelRank(edges: DataFrame,
                maxIterations: Int = MaxIterations,
                stableIterations: Int = StableIterations,
                pruneTopK: Int = 0,
                checkpointDir: Option[String] = None,
                resume: Boolean = false,
                verbose: Boolean = false): Result = {
    val spark = edges.sparkSession
    val e = edges.select(col(Graph.SRC), col(Graph.DST))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = e.count()
    val degs = Graph.outDegrees(e).persist(StorageLevel.MEMORY_AND_DISK)
    val verts = Graph.vertices(e).persist(StorageLevel.MEMORY_AND_DISK)

    // init distribution: self entry 1.0 (or 1/deg on self-loop) + nbr entries
    val selfLoops = e.filter(col(Graph.SRC) === col(Graph.DST))
      .select(col(Graph.SRC).as(Graph.VID)).distinct()
    val nbrEntries = e
      .join(degs.withColumnRenamed(Graph.VID, Graph.SRC), Graph.SRC)
      .select(col(Graph.SRC).as(Graph.VID), col(Graph.DST).as("l"),
        (lit(1.0) / col("deg")).as("p"))
      .distinct() // dense matrix: repeated writes of the same 1/deg collapse
    val selfEntries = verts
      .join(selfLoops.withColumn("sl", lit(true)), Seq(Graph.VID), "left")
      .filter(col("sl").isNull) // self-loop vertices already have the 1/deg entry
      .select(col(Graph.VID), col(Graph.VID).as("l"), lit(1.0).as("p"))
    val initDist = nbrEntries.unionByName(selfEntries)
      .groupBy(Graph.VID).agg(collect_list(struct(col("l"), col("p"))).as("dist"))
    // initial labels[v] = v, counter 0
    val init = verts
      .join(initDist, Seq(Graph.VID), "left")
      .select(col(Graph.VID),
        coalesce(col("dist"), array().cast("array<struct<l:bigint,p:double>>")).as("dist"),
        col(Graph.VID).as("label"), lit(0).as("stable"))

    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxIterations, checkpointDir = checkpointDir,
        resume = resume, verbose = verbose)) { (state, iter) =>
      // P'[v][l] = Σ_{u∈N(v)} P[u][l] / deg(v): messages flow along edge
      // (v,u) from u to v ⇒ join dist(u) on e.dst = u, group by e.src = v.
      val exploded = state.select(col(Graph.VID), explode(col("dist")).as("kv"))
        .select(col(Graph.VID), col("kv.l").as("l"), col("kv.p").as("p"))
      val sums = e.join(exploded, e(Graph.DST) === exploded(Graph.VID))
        .groupBy(e(Graph.SRC).as("__v"), col("l"))
        .agg(sum("p").as("ps"))
      val newDistFlat = sums
        .join(degs.withColumnRenamed(Graph.VID, "__v"), "__v")
        .select(col("__v").as(Graph.VID), col("l"), (col("ps") / col("deg")).as("p"))
      // argmax with strict > over ascending l ⇒ max (p, then lowest l);
      // entries with p <= 0 can never win; empty support ⇒ label 0.
      // p is rounded to 12 decimals for the comparison ONLY: symmetric
      // graphs produce exact ties whose distributed summation order would
      // otherwise flip the winner run-to-run (the reference is only
      // deterministic because its CSR loop order is fixed); gaps > 1e-12
      // are unaffected, ulp-noise ties collapse to the lowest label.
      val agg =
        if (pruneTopK > 0) {
          // bounded top-k INSIDE the aggregate via the custom
          // [[graft.functions.TopKStructs]] TypedImperativeAggregate: the
          // aggregation buffer is capped at k entries at every stage
          // (partial, shuffle payload, merge) instead of collect_list'ing
          // O(support) structs per vertex and sort-slicing afterwards — on
          // the near-complete derived graph a hub's support is the whole
          // label universe, which made this the most expensive headline
          // query. Ordering is ascending (np, l) = (p desc, l asc), the
          // same strict total order the sort-slice form used, so results
          // are bit-identical (parity-tested). The prune COMPARATOR uses
          // round(p, 12) — the same ulp-tie collapse as the argmax — so the
          // top-k boundary is deterministic across summation orders and
          // across engines (the DuckDB oracle mirrors the rounded ordering);
          // the p values CARRIED FORWARD stay unrounded.
          newDistFlat.groupBy(Graph.VID)
            .agg(graft.functions.TopKStructs.topK(
              -round(col("p"), 12), col("l"), col("p"), pruneTopK).as("__topk"))
            .select(col(Graph.VID),
              transform(col("__topk"),
                x => struct(x("l").as("l"), x("p").as("p"))).as("dist"),
              array_max(transform(col("__topk"),
                x => struct((-x("np")).as("p"), (-x("l")).as("nl")))).as("best"))
        } else
          newDistFlat.groupBy(Graph.VID).agg(
            collect_list(struct(col("l"), col("p"))).as("dist"),
            max(struct(round(col("p"), 12).as("p"), (-col("l")).as("nl"))).as("best"))
      val next = state.select(col(Graph.VID), col("label").as("old"), col("stable"))
        .join(agg, Seq(Graph.VID), "left")
        .select(col(Graph.VID),
          coalesce(col("dist"), array().cast("array<struct<l:bigint,p:double>>")).as("dist"),
          when(col("best").isNotNull && col("best.p") > 0, -col("best.nl"))
            .otherwise(lit(0L)).as("label"),
          col("old"), col("stable"))
        .withColumn("stable",
          when(col("label") === col("old"), col("stable") + 1).otherwise(lit(0)))
        .drop("old")
      val cut = graft.core.Lineage.cut(next)
      val allStable = cut.filter(col("stable") < stableIterations).isEmpty
      StepResult(cut, edgesTraversed = eCount,
        converged = allStable || iter >= maxIterations)
    }
    e.unpersist(blocking = false); degs.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    Result(outcome.state.select(col(Graph.VID), col("label")), outcome.metrics)
  }

  /**
   * Scalable majority-vote LPA (community detection at web scale): label =
   * most frequent neighbor label, ties → lowest label, fixed iteration
   * count, O(E) per iteration with bounded row width. Not reference parity —
   * the production-scale companion to [[labelRank]].
   */
  def majorityLpa(edges: DataFrame, iterations: Int = 10,
                  checkpointDir: Option[String] = None,
                  verbose: Boolean = false): Result = {
    val e = Graph.symmetrized(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = e.count()
    val init = Graph.vertices(e).select(col(Graph.VID), col(Graph.VID).as("label"))
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = iterations, checkpointDir = checkpointDir,
        verbose = verbose)) { (state, iter) =>
      val votes = e.join(state.hint("shuffle_hash"), e(Graph.DST) === state(Graph.VID))
        .groupBy(e(Graph.SRC).as("__v"), col("label"))
        .agg(count(lit(1)).as("n"))
      // most-frequent label, lowest-label tiebreak = bounded top-1 under
      // ascending (-n, label); -n is exact as a double for any real vote
      // count (n < 2^53). Keeps the argmax on the hash-aggregate path —
      // max(struct) would sort every vote row per superstep.
      val winner = votes.groupBy(col("__v").as(Graph.VID))
        .agg(graft.functions.TopKStructs.topK(
          (-col("n")).cast("double"), col("label"), lit(0.0), 1).as("best"))
        .select(col(Graph.VID), element_at(col("best"), 1).getField("l").as("label"))
      val next = state.select(col(Graph.VID), col("label").as("old"))
        .join(winner, Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("label"), col("old")).as("label"))
      StepResult(next, eCount, converged = iter >= iterations)
    }
    e.unpersist(blocking = false)
    Result(outcome.state, outcome.metrics)
  }
}
