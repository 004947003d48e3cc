package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{ConnectedComponents, Materializer}

/** Iteration-schedule stress for the pointer-jumped connected
  * components (VERDICT r6 #1): the planted long-chain graph is the
  * adversarial case for plain min-label propagation (it needs
  * `diameter` rounds and any fixed cap silently splits the
  * component); pointer jumping must collapse it in O(log diameter)
  * rounds — see PLANS.md "Long-chain components". */
class ConnectedComponentsSpec extends SparkTestBase {

  private def symmetric(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val df = pairs.toDF("src", "dst")
    df.union(df.select(col("dst"), col("src"))).localCheckpoint(true)
  }

  test("planted 1000-node chain (diameter 999) converges in O(log d) rounds") {
    // doc i near-dups ONLY doc i+1 — the >25-diameter chain the r6
    // 25-round cap would have silently split into ~40 components.
    val chain = symmetric((0L until 999L).map(i => (i, i + 1)))
    val (labels, rounds) = ConnectedComponents.minLabels(chain)
    val byLabel = labels.groupBy("label").count().collect()
    assert(byLabel.length == 1, s"expected ONE component, got ${byLabel.length}")
    assert(byLabel(0).getLong(0) == 0L && byLabel(0).getLong(1) == 1000L)
    // log2(999) ≈ 10; one extra fixpoint-confirmation round. Bound at
    // 15 (≪ 999) so a regression to one-hop propagation fails loudly.
    assert(rounds <= 15, s"took $rounds rounds — pointer jumping regressed?")
  }

  private lazy val mixed =
    symmetric(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)))
  private val mixedLabels = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
    20L -> 20L, 21L -> 20L, 22L -> 20L)

  private def labelMap(labels: DataFrame): Map[Long, Long] =
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("mixed components + singleton-free node set") {
    val (labels, _) = ConnectedComponents.minLabels(mixed)
    assert(labelMap(labels) == mixedLabels)
  }

  test("empty edge set short-circuits to zero rounds") {
    val (labels, rounds) = ConnectedComponents.minLabels(symmetric(Seq.empty))
    assert(labels.isEmpty && rounds == 0)
    assert(labels.columns.toSeq == Seq("node", "label"))
  }

  test("reliable-checkpoint materializer yields identical labels (cluster durability mode)") {
    // VERDICT r7 #1: the 100 TB story needs per-round state that
    // survives executor loss. Reliable mode = df.checkpoint() against
    // a context checkpoint dir; assert bit-identical labels and the
    // same round count as the default local mode on a graph that
    // exercises multi-round convergence, and that checkpoint state
    // actually landed under the context's checkpoint dir.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toFile
    try {
      val edges = symmetric((0L until 99L).map(i => (i, i + 1)) ++
        Seq((200L, 201L), (201L, 202L)))
      val (localLabels, localRounds) = ConnectedComponents.minLabels(edges)
      val (relLabels, relRounds) = ConnectedComponents.minLabels(
        edges, mat = Materializer.Reliable(ckptDir.getAbsolutePath))
      assert(relRounds == localRounds)
      val l = localLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val r = relLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(r == l)
      // the reliable path must have written real checkpoint state; a
      // context checkpoint dir set by an EARLIER Reliable run takes
      // precedence over this instance's dir, so assert on the
      // effective dir, wherever it points
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      val eff = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      assert(anyFile(eff), "reliable mode wrote no checkpoint state")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ckptDir): Unit
  }

  test("materializer knob: env selects reliable, default is local") {
    assert(Materializer.fromEnv(Map.empty) == Materializer.Local)
    assert(Materializer.fromEnv(Map("GRAFT_ITER_CHECKPOINT_DIR" -> " ")) == Materializer.Local)
    assert(Materializer.fromEnv(Map("GRAFT_ITER_CHECKPOINT_DIR" -> "/ckpt")) ==
      Materializer.Reliable("/ckpt"))
    // VERDICT r8 #2: the checkpoint-interval knob rides the same env
    assert(Materializer.fromEnv(Map("GRAFT_ITER_CHECKPOINT_DIR" -> "/ckpt",
      "GRAFT_ITER_CHECKPOINT_EVERY" -> "3")) == Materializer.Reliable("/ckpt", 3))
    // EVERY without DIR is meaningless — still local
    assert(Materializer.fromEnv(Map("GRAFT_ITER_CHECKPOINT_EVERY" -> "3")) ==
      Materializer.Local)
    intercept[IllegalArgumentException](Materializer.Reliable("/ckpt", 0))
  }

  test("checkpoint-interval materializer (everyN=3) yields identical labels") {
    // VERDICT r8 #2: reliable every N rounds, eager lineage-retaining
    // persist between — must be bit-identical to local AND everyN=1
    // on a multi-round graph, and must still write reliable state.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt3").toFile
    try {
      val edges = symmetric((0L until 99L).map(i => (i, i + 1)) ++
        Seq((200L, 201L), (201L, 202L)))
      val (localLabels, localRounds) = ConnectedComponents.minLabels(edges)
      val (relLabels, relRounds) = ConnectedComponents.minLabels(
        edges, mat = Materializer.Reliable(
          ckptDir.getAbsolutePath, everyN = 3))
      assert(relRounds == localRounds)
      val l = localLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val r = relLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(r == l)
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      // a context checkpoint dir set by an EARLIER Reliable run takes
      // precedence over this instance's dir (documented) — assert on
      // the effective dir, wherever it points
      val eff = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      assert(anyFile(eff), "interval mode wrote no reliable checkpoint state")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ckptDir): Unit
  }

  test("a slow QueryExecutionListener adds no Spark job to minLabels and changes no label") {
    // Each round's changed-label count is read from the round's own
    // action, so a listener bus backed up one second per execution
    // must not change how many jobs a call runs. Covers the
    // checkpoint arm (Local) and the persist-with-lineage arm
    // (Reliable, everyN = 3: rounds 0 and 1 are persists). Last in the
    // spec: the reliable-checkpoint test above asserts on its own dir,
    // which only holds while it is the first to set the context's.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-slow").toFile
    val slow = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Thread.sleep(1000)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val edges = mixed // materialized outside the recorded calls
    def run(mat: Materializer) = {
      val ((labels, rounds), events) =
        SparkJobs.record(spark)(ConnectedComponents.minLabels(edges, mat = mat))
      (labelMap(labels), rounds, SparkJobs.jobs(events).size)
    }
    try {
      val mats = Seq[() => Materializer](() => Materializer.Local,
        () => Materializer.Reliable(ckptDir.getAbsolutePath, everyN = 3))
      mats.foreach { mat =>
        val quiet = run(mat())
        spark.listenerManager.register(slow)
        val loaded =
          try run(mat())
          finally spark.listenerManager.unregister(slow)
        assert(loaded == quiet, s"quiet (labels, rounds, jobs) $quiet, slow listener $loaded")
        assert(quiet._1 == mixedLabels)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ckptDir): Unit
  }
}
