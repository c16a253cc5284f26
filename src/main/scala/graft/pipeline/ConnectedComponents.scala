package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components as iterative DataFrame joins — the
  * "union-find over GraphFrames-style iterative DataFrame joins" the north
  * rule demands (no GraphFrames jar in this environment, and Catalyst has no
  * fixpoint operator, so the driver loop IS the idiomatic Spark form).
  *
  * Algorithm: min-label propagation with POINTER JUMPING. Every vertex starts
  * labeled with itself; each round every vertex takes the min label over
  * itself and its neighbors, then shortcuts to its label's label
  * (label ← label(label)), halving remaining path lengths — the union-find
  * path-compression analogue, O(log diameter) rounds instead of O(diameter).
  * This matters for the salted-hot-bucket pair chains: a capped boilerplate
  * bucket of 10⁶ members emits window-chains whose diameter is 10⁶/W —
  * plain propagation would need >10⁵ rounds; with jumping, ~20.
  * Each round is two shuffles (neighbor join + jump self-join);
  * `localCheckpoint` truncates lineage so round N doesn't recompute 1..N−1.
  *
  * If the fixpoint is not reached within maxIter rounds the run THROWS —
  * silently returning split clusters would corrupt dedup output downstream.
  *
  * Determinism: labels are mins over Long ids — independent of partitioning
  * and cluster size, so cluster ids are stable across runs and parallelism
  * levels (required by the determinism tests, SURVEY.md §5).
  *
  * WARM START ([[fromLabels]]): the rounds only ever lower a label to
  * another label already in the vertex's component, so they may start from
  * any labels that are ids of the vertex's own component and no greater
  * than the vertex id. The component's minimum id then starts labelled as
  * itself, and the fixpoint is the cold run's. An increment whose old
  * pairs are all kept starts its old docs at their previous cluster ids and
  * only pays rounds for the merges still to be done (BTS, ICDE 2024).
  */
object ConnectedComponents {

  /** @param vertices single column `id` (may include isolated vertices)
    * @param edges columns `id_a`, `id_b`
    * @return (id, cluster_id) with cluster_id = min id of the component
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame =
    fromLabels(vertices.select(col("id"), col("id").as("cluster_id")), edges, maxIter)

  /** @param initial (id, cluster_id): every vertex once, with its starting
    *        label. Exact when each label is the id of a vertex of the same
    *        component and ≤ id (a vertex labelled with itself always is).
    * @param edges columns `id_a`, `id_b`
    * @return (id, cluster_id) with cluster_id = min id of the component
    */
  def fromLabels(initial: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val sc = initial.sparkSession.sparkContext

    // localCheckpoint persists an internal RDD that outlives the returned
    // DataFrame; without explicit release every CC run leaks blocks into the
    // block manager for the session's lifetime. Track the persisted RDD ids
    // via the context registry and drop superseded iterations eagerly.
    def checkpointTracked(df: DataFrame, eager: Boolean = true): (DataFrame, Seq[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(eager = eager)
      val added = sc.getPersistentRDDs.keysIterator.filterNot(before).toSeq
      (out, added)
    }
    def release(ids: Seq[Int]): Unit = {
      val reg = sc.getPersistentRDDs
      ids.foreach(id => reg.get(id).foreach(_.unpersist(blocking = false)))
    }

    // Symmetrize once; propagation then only needs one direction per round.
    // ONE scan of the edge plan via explode — the union form
    // (edges.select(a,b) ∪ edges.select(b,a)) scans `edges` twice, and the
    // caller's edge relation is typically the UNCACHED candidates+verify
    // plan, so the union form recomputed the whole verify stage twice
    // inside this job (measured ~1 s of q_dedup_clusters' warm 4.3 s).
    //
    // LAZY checkpoint (like the per-round labels): round 0's full-scan
    // convergence count is the first action that touches sym and the initial
    // labels, so it materializes both — symmetrize + init + round 0 run as
    // ONE job instead of three. Round 0's neighbor join scans every sym
    // partition and the count scans every label partition, so the lazy
    // checkpoints still persist completely (the same full-scan argument the
    // per-round checkpoint already relies on). On this VM each extra job is
    // pure scheduling/syscall constant; at real scale fewer barriers also
    // means the scheduler can pipeline the edge materialization into the
    // first propagation stage.
    // (Under AQE even a lazy localCheckpoint's `.rdd` access executes the
    // plan's intermediate shuffle stages to finalize the adaptive plan, so
    // the edge-plan cost lands HERE, not in round 0.)
    val (sym, symIds) = checkpointTracked(
      edges
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")),
      eager = false)

    var (labels, labelIds) = checkpointTracked(
      initial.select(col("id"), col("cluster_id")), eager = false)
    // Pointer jumping is engaged only after the plain rounds stop being
    // enough: near-dup components are almost always shallow (diameter ≤ 2-3
    // via the min-id hub), where the jump join is pure overhead — measured
    // 3× end-to-end pipeline cost when applied from round 1 at 200k docs.
    // Deep chains (the salted-hot-bucket window topology) still converge in
    // O(log d) once jumping kicks in.
    val jumpFromRound = 3
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // step 1: label(v) ← min(label(v), min over neighbors u of label(u))
      val fromNeighbors = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("cluster_id").as("nb_min"))
      val stepped = labels
        .join(fromNeighbors, Seq("id"), "left")
        .select(
          col("id"),
          col("cluster_id").as("old"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id"))).as("mid"))
      // step 2 (pointer jumping): label(v) ← label_{t-1}(label_t(v)). The
      // lookup side is the PREVIOUS round's `labels` — already materialized
      // by last round's convergence count, so the round needs no extra
      // eager checkpoint job (round 3's shape checkpointed `stepped` eagerly
      // and cost every jump round a second job — measured ~25% of
      // q_dedup_clusters' wall). Correctness: mid(v) is a vertex id in v's
      // component, and labels_{t-1}(mid) is that vertex's component-member
      // label with labels_{t-1}(mid) ≤ mid, so least() preserves the
      // invariant; reach still doubles (mid covers reach_{t-1}+1 hops from
      // v, the prev-label lookup covers reach_{t-1} more). The join key is
      // hot for giant components but each left row matches ≤1 right row —
      // no blow-up; AQE skew splitting is the backstop.
      val jumped =
        if (iter < jumpFromRound) stepped.withColumnRenamed("mid", "cluster_id")
        else
          stepped
            .join(
              labels.select(col("id").as("pid"), col("cluster_id").as("pl")),
              col("mid") === col("pid"),
              "left")
            .select(
              col("id"),
              col("old"),
              least(col("mid"), coalesce(col("pl"), col("mid"))).as("cluster_id"))
      // the round's label relation is checkpointed LAZILY and materialized
      // by the (full-scan) convergence count below — ONE job per round
      // total. The count is exact, not a limit(1) probe: a partial action
      // would checkpoint only the partitions it touched and silently
      // recompute the rest later.
      val (next, nextIds) = checkpointTracked(jumped, eager = false)
      val changed = next
        .agg(count(when(col("cluster_id") =!= col("old"), 1)).as("c"))
        .first().getLong(0)
      converged = changed == 0
      iter += 1
      release(labelIds)
      labels = next.select("id", "cluster_id")
      labelIds = nextIds
    }
    release(symIds)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not reach a fixpoint in $maxIter rounds " +
          s"(component diameter > 2^$maxIter is impossible — this indicates a bug)")
    labels
  }
}
