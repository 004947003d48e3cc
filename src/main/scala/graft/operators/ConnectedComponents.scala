package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Log

/** Distributed connected components by min-label propagation with
  * POINTER JUMPING — the iteration schedule that makes component
  * labeling safe on long-chain graphs at 100 TB scale.
  *
  * Plain min-label propagation moves a label one hop per round, so a
  * component converges in `diameter` rounds: a pathological chain of
  * pairwise near-dups (doc₁≈doc₂≈…≈docₙ, each within the Hamming
  * threshold of its neighbors only) needs n-1 rounds — quadratic
  * total work, and any fixed round cap silently splits the component.
  * Each round here therefore runs TWO label-shrinking steps:
  *
  *  1. edge step — `label(v) ← min(label(v), min over neighbors u of
  *     label(u))`: one equi-join (edges ⋈ labels) + one partial-agg
  *     min groupBy;
  *  2. pointer jump — `label(v) ← label(label(v))`: labels joined
  *     with itself on `label = node` (once in rounds 0-1, twice in
  *     later rounds — the r20 schedule; see the round body). Every
  *     label value is a node id of the same component (initial labels
  *     are node ids and both steps take mins over existing labels),
  *     so the self-join is total, and `label(u) ≤ u` makes the jump
  *     monotone.
  *
  * Each jump roughly doubles the distance a minimum has traveled, so
  * convergence takes O(log diameter) rounds (measured: a planted
  * 1000-node chain, diameter 999, converges in 7 scheduled rounds —
  * ConnectedComponentsSpec / PLANS.md "Long-chain components").
  * This is the hash-to-min / pointer-doubling family of PRAM-style
  * CC algorithms expressed as Spark joins.
  *
  * Per round the label frame is eagerly materialized through the
  * caller-chosen [[Materializer]]: it is small (bounded by
  * nodes-with-edges, never corpus-sized here) and the materialization
  * severs the otherwise-exponentially-deep lineage — the textbook
  * Spark iterative-algorithm shape. [[Materializer.Local]] (default)
  * is executor-resident and right for `local[32]`;
  * [[Materializer.Reliable]] writes each round to a reliable store so
  * executor loss on a real cluster costs a task retry, not the job.
  * Convergence is the no-change fixpoint: both steps only ever
  * decrease labels, so a round that changes no label (`old` carried
  * through the round) means every edge has equal labels on both ends
  * — components are uniformly labeled. The changed-label count is
  * observed on the round's own materialization and read back when it
  * returns ([[Materializer.observed]]): one job per round, and no wait
  * on Spark's listener bus. A round that exhausts `maxIter`
  * without reaching the fixpoint THROWS (IllegalStateException)
  * instead of returning silently-wrong labels: with pointer jumping
  * maxIter=50 covers diameters up to ~2^50, so a trip here means a
  * logic bug, not a big graph.
  */
object ConnectedComponents {

  private val log = Log("graft.operators.ConnectedComponents")

  /** Labels for every node that appears in `edges`.
    *
    * @param edges SYMMETRIC edge list with long columns (`src`,
    *              `dst`) — callers emit each undirected pair in both
    *              directions. Consumed exactly ONCE (r20): the
    *              operator clusters + sorts + materializes its own
    *              dst-keyed edge frame through `mat` up front, and
    *              every round reads that frame exchange-free — so a
    *              lazy view is fine here and callers need not
    *              pre-materialize (the pre-r20 contract; each round
    *              used to re-plan AND re-exchange the edge input).
    * @param mat   per-round state materializer — [[Materializer.Local]]
    *              (default) for single-JVM/local runs,
    *              [[Materializer.Reliable]] for cluster runs where
    *              executor loss must not kill the iteration
    *              (`GRAFT_ITER_CHECKPOINT_DIR` selects it via
    *              [[Materializer.fromEnv]]).
    * @return (labels frame `(node, label)` where `label` is the
    *         smallest node id in the component, rounds executed)
    */
  def minLabels(edges: DataFrame, maxIter: Int = 50,
      mat: Materializer = Materializer.Local): (DataFrame, Int) = {
    // r20 round-shape rework (guide §2.4): the edge frame is hash-
    // clustered on `dst` and SORTED once, up front — the per-round
    // label-pull join previously re-exchanged (and re-sorted) the
    // edges EVERY round, and edges are the largest frame in the
    // pipeline. Label-frame materializations are likewise clustered
    // + sorted on `node`, so each round plans exactly three
    // exchanges — the pulled-min aggregation (map-side combined),
    // the pointer-jump probe, and the next state's re-clustering —
    // with zero per-round sorts of the edge frame. The edge frame is
    // PINNED (Materializer.pin): it lives for the whole iteration, so
    // it must never ride Reliable's superseded-persist arm.
    val e = mat.pin(edges.repartition(col("dst")).sortWithinPartitions("dst"))
    // The node count rides the initial materialization: an empty graph
    // returns zero rounds and an empty (node, label) frame.
    val (initial, nodes) = mat.observed(e.select(col("dst").as("node")).distinct()
      .withColumn("label", col("node"))
      .sortWithinPartitions("node"), count(lit(1)).as("n"))
    if (nodes.getLong(0) == 0L) return (initial, 0)
    var labels = initial
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // 1. edge step: pull the neighbors' labels one hop and take the
      // per-destination min — labels(v) joins back so the round's new
      // label is min(own, pulled). Both join inputs are node-clustered
      // and pre-sorted, so the only exchange is the partial-aggregated
      // min on the pull's destination key. The inner joins are total:
      // the graph is symmetric, so every node has a neighbor, and
      // every label value is a node id of the frame itself.
      val mn = e.join(labels, col("dst") === col("node"))
        .groupBy(col("src").as("n"))
        .agg(min(col("label")).as("mn"))
      val hopped = labels
        .join(mn, col("node") === col("n"))
        .select(col("node"), least(col("label"), col("mn")).as("label"),
          col("label").as("old"))
      // 2. pointer jump(s): label(v) ← label(label(v)) — each jump
      // re-applies the current mapping to itself, roughly doubling
      // the distance a minimum has traveled. r20 SCHEDULE: rounds 0-1
      // jump once, later rounds jump twice. Rounds are the expensive
      // unit (one materialization job each), so deep graphs want the
      // ~log₄ round count a double jump buys — but the overwhelmingly
      // common near-dup graphs (clique blobs, diameter ≤ 2) converge
      // inside two rounds and would pay the second jump's two extra
      // exchanges for nothing. Measured on the probe graphs
      // (always-double / always-single / scheduled vs r19): 65k-chain
      // 4/7/5 rounds, schedule 3.5 s vs 4.4 s r19; 16-cliques
      // schedule 1.9 s vs 2.9 s; tiny cliques 0.9 s vs 1.5 s — the
      // schedule is at-or-better than both fixed counts on every
      // shape. The jump side is node-clustered (it is the frame's own
      // key), so only the probe side exchanges; the hash hint skips
      // the sort-merge sorts. The hint is forced, not size-aware: it
      // relies on one task's hash table holding about label-frame rows
      // ÷ shuffle partitions rows (one per node with an edge) — more
      // where AQE coalesces small partitions, but then only up to its
      // advisory partition size. The label frame is the pipeline's
      // smallest; a per-partition share past executor memory would
      // need the sort-merge join back.
      def jumped(df: DataFrame): DataFrame = {
        val j = df.select(col("node").as("jnode"), col("label").as("jlabel"))
        df.join(j.hint("shuffle_hash"), col("label") === col("jnode"))
          .select(col("node"), col("jlabel").as("label"), col("old"))
      }
      // Convergence = the combined step changed no label (carried as
      // `old` through the round): both steps only ever decrease
      // labels, and a no-change round means every edge has equal
      // labels on both ends — components are uniformly labeled. The
      // count is observed on the round's materialization and read
      // from that action's own QueryExecution as it returns — one job
      // per round, and nothing waits on the async listener bus.
      val nJumps = if (iter < 2) 1 else 2
      val jumpedAll = (1 to nJumps).foldLeft(hopped)((d, _) => jumped(d))
      val (next, changed) = mat.observed(
        jumpedAll.repartition(col("node")).sortWithinPartitions("node"),
        count_if(col("label") =!= col("old")).as("c"))
      converged = changed.getLong(0) == 0L
      labels = next.select("node", "label")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected-components did not converge in $maxIter rounds — " +
          "pointer-jumped min-label should need only O(log diameter); " +
          "this is a bug, not a large graph")
    log.info(s"connected components converged in $iter rounds")
    (labels, iter)
  }
}
