package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Per-round state materialization for iterative operators
  * ([[ConnectedComponents]] and its callers).
  *
  * Iterative Spark algorithms MUST bound lineage each round — the plan
  * otherwise deepens exponentially (each round references the previous
  * round's joins) and both planning time and any recomputation blow up.
  * HOW the round state is stored is a durability/speed trade-off:
  *
  *  - [[Materializer.Local]] — `localCheckpoint(eager)`: blocks live in
  *    executor storage memory/disk. Fastest (no DFS round-trip), and
  *    correct on the single-JVM `local[32]` harness where an "executor
  *    loss" would kill the whole app anyway. On a REAL cluster, losing
  *    any executor mid-iteration loses blocks whose lineage was
  *    discarded — the job dies unrecoverably.
  *  - [[Materializer.Reliable]] — `checkpoint(eager)` against a
  *    `SparkContext.setCheckpointDir` location (HDFS/object store on a
  *    cluster): each round's labels are written to the reliable store,
  *    so executor loss costs one task retry, not the job. This is the
  *    mode a 1000-executor run wants; the per-round write is small
  *    (the label frame is bounded by nodes-with-edges, never
  *    corpus-sized).
  *  - [[Materializer.Reliable]] with `everyN > 1` — the periodic-
  *    checkpoint pattern of long-running iterative jobs (GraphX's
  *    Pregel checkpoint interval is the canonical instance): a
  *    reliable checkpoint every N applications, eager
  *    `persist(MEMORY_AND_DISK)` WITH LINEAGE in between. Cuts the
  *    measured +31% per-round DFS price (PLANS.md) ~N× while keeping
  *    recovery bounded: a lost block on an intermediate round
  *    recomputes through ≤ N−1 rounds of retained lineage back to the
  *    last reliable checkpoint — it does NOT kill the job the way a
  *    lost `localCheckpoint` block would (local checkpoints DISCARD
  *    lineage, which is why "local between reliable" is not the
  *    implementation here). Plan depth between checkpoints grows with
  *    N; keep N small (3-5).
  *
  * A round that needs a figure of its own state (CC's changed-label
  * count) gets it from [[Materializer.observed]]: the aggregate rides
  * the materializing action and is read back from that action's
  * `QueryExecution` when the action returns — synchronously, never
  * through the listener bus an `Observation` waits on.
  *
  * The knob reaches production code via [[Materializer.fromEnv]]
  * (`GRAFT_ITER_CHECKPOINT_DIR` + `GRAFT_ITER_CHECKPOINT_EVERY`).
  */
sealed trait Materializer {
  /** Materialize `df` eagerly and return a frame whose consumption
    * never re-runs the upstream plan (checkpointed, or cached with
    * lineage retained only as a recovery path). */
  def apply(df: DataFrame): DataFrame

  /** [[apply]] with the named aggregate columns observed on the
    * materializing action itself: returns the frame and the metrics
    * row. The row is read from the observed frame's own
    * `QueryExecution` once the action has returned — the checkpoint
    * arms run that very execution, and the persist arm's plan is the
    * cached scan, whose collector Spark reads from the cached plan the
    * eager `count()` filled. Each call observes under a fresh name:
    * under `everyN > 1` earlier rounds' lineage stays in the plan, and
    * a repeated name would trip the analyzer or return a stale row. */
  def observed(df: DataFrame, metric: Column, metrics: Column*): (DataFrame, Row) = {
    val name = s"materializer-${java.util.UUID.randomUUID()}"
    val o = df.observe(name, metric, metrics: _*)
    val out = apply(o)
    (out, o.queryExecution.observedMetrics(name))
  }

  /** Materialize a frame that lives for the WHOLE iteration (the
    * edge frame, degree tables) rather than one round of it (r20):
    * outside [[Reliable]]'s supersede chain — per-round state frames
    * replace each other, but a pinned frame must never be evicted by
    * them, and under `everyN > 1` it must not land on the
    * persist-with-lineage arm either (it is consumed every round for
    * the iteration's lifetime). [[Local]] keeps its usual
    * localCheckpoint. */
  def pin(df: DataFrame): DataFrame = apply(df)
}

object Materializer {

  /** Executor-resident `localCheckpoint(eager = true)` — the local-mode
    * and interactive default. */
  case object Local extends Materializer {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)
  }

  /** Reliable `checkpoint(eager = true)` writing under `dir` (any
    * Hadoop-FS URI — `hdfs://…`, `s3a://…`, or a local path in tests),
    * every `everyN`th application; eager persist-with-lineage between
    * (see the trait doc for why persist, not localCheckpoint).
    *
    * Sets the context checkpoint dir on first use; a checkpoint dir
    * already configured on the context (by the application or an
    * earlier Reliable materializer) takes precedence and is left
    * untouched — Spark appends a per-context UUID subdirectory to
    * whatever is set, so same-dir re-sets are not idempotent and
    * cross-materializer resets would scatter state.
    *
    * STATEFUL, one instance per iteration sequence: the instance
    * assumes each applied frame SUPERSEDES the previous one (the
    * iterative-state shape — round i+1's labels replace round i's)
    * and unpersists the previously cached frame once the new one is
    * materialized. Evicted/unpersisted intermediates recompute
    * through retained lineage from the last reliable checkpoint.
    * Do not share an instance across unrelated frames that must stay
    * cached — build one per operator invocation, as
    * [[fromEnv]] callers do.
    *
    * Checkpoint files accumulate for the application lifetime unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (GC-
    * driven) is set; a long-lived cluster session should either
    * enable that cleaner or point the dir at storage with a lifecycle
    * rule. Per-run size is bounded (rounds/everyN × label-frame
    * size), so this is retention hygiene, not a correctness concern. */
  final case class Reliable(dir: String, everyN: Int = 1) extends Materializer {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    private val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile private var lastCached: Option[DataFrame] = None

    /** Always a reliable checkpoint, never the supersede-persist arm,
      * and not counted against `everyN`'s round schedule. */
    override def pin(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint(true)
    }

    def apply(df: DataFrame): DataFrame = {
      val i = calls.getAndIncrement()
      val out =
        if (i % everyN == 0) {
          val sc = df.sparkSession.sparkContext
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
          df.checkpoint(true)
        } else {
          val cached = df.persist()
          cached.count() // eager: callers re-consume without re-planning
          cached
        }
      // the previous round's frame is superseded — release it AFTER the
      // new frame is materialized (the materialization read it)
      lastCached.foreach(_.unpersist())
      lastCached = if (i % everyN == 0) None else Some(out)
      out
    }
  }

  /** Deployment knobs: `GRAFT_ITER_CHECKPOINT_DIR=<fs-uri>` selects
    * [[Reliable]] against that URI (unset/empty selects [[Local]]);
    * `GRAFT_ITER_CHECKPOINT_EVERY=<n>` (default 1) checkpoints
    * reliably every n-th round with eager lineage-retaining persists
    * between — the knob that shrinks the durability price on deep
    * iterations. Read at query-build time by the iterative query
    * entries (DedupQueries / VectorQueries), so a cluster submit
    * flips every iterative operator to durable state with env vars
    * and zero code changes. */
  def fromEnv(env: Map[String, String] = sys.env): Materializer =
    env.get("GRAFT_ITER_CHECKPOINT_DIR").filter(_.trim.nonEmpty)
      .map { dir =>
        val every = env.get("GRAFT_ITER_CHECKPOINT_EVERY")
          .filter(_.trim.nonEmpty).map(_.trim.toInt).getOrElse(1)
        Reliable(dir, every)
      }
      .getOrElse(Local)
}
