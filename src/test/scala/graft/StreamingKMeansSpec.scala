package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingKMeans

/** Streaming mini-batch k-means: hand-computed integer state across
  * updates, floor-mean serving, and the end-to-end foreachBatch loop
  * with checkpointed restart + replay idempotence. */
class StreamingKMeansSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Long])*) =
    rows.toSeq.toDF("vec_id", "qv")

  test("two hand-computed mini-batch updates accumulate exact integer state") {
    // batch 1 seeds k=2 at ids 0,1; all four points assign cleanly.
    val b1 = vecs(0L -> Seq(0L, 0L), 1L -> Seq(10L, 10L),
      2L -> Seq(1L, 1L), 3L -> Seq(9L, 9L))
    val s1 = StreamingKMeans.updateState(None, b1, k = 2)
    val st1 = s1.collect().map(r => r.getLong(0) ->
      (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(st1 == Map(0L -> (Seq(1L, 1L), 2L), 1L -> (Seq(19L, 19L), 2L)))
    // served centroids: floor means [0,0] and [9,9]
    val c1 = StreamingKMeans.centroids(s1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(c1 == Map(0L -> Seq(0L, 0L), 1L -> Seq(9L, 9L)))
    // batch 2 assigns against the SERVED centroids and folds in
    val b2 = vecs(4L -> Seq(2L, 0L), 5L -> Seq(8L, 10L))
    val s2 = StreamingKMeans.updateState(Some(s1), b2, k = 2)
    val st2 = s2.collect().map(r => r.getLong(0) ->
      (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(st2 == Map(0L -> (Seq(3L, 1L), 3L), 1L -> (Seq(27L, 29L), 3L)))
  }

  test("duplicate seeds: the dead cluster is not served, state stays consistent") {
    val b = vecs(0L -> Seq(5L, 5L), 1L -> Seq(5L, 5L), 2L -> Seq(6L, 5L))
    val s1 = StreamingKMeans.updateState(None, b, k = 2)
    val served = StreamingKMeans.centroids(s1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // every point tie-breaks to c_id 0; cluster 1 is dead (n = 0)
    assert(served == Map(0L -> Seq(5L, 5L)))
  }

  test("foreachBatch loop: restart resumes, replay is skipped, final state exact") {
    val base = Fixtures.tempDir("skm")
    val data = base.resolve("vecs").toString
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("vec_id BIGINT, qv ARRAY<BIGINT>")
        .parquet(data)
      StreamingKMeans.fit(spark, src, state, ckpt, k = 2).awaitTermination()
    }
    vecs(0L -> Seq(0L, 0L), 1L -> Seq(10L, 10L),
      2L -> Seq(1L, 1L), 3L -> Seq(9L, 9L))
      .coalesce(1).write.mode("append").parquet(data)
    runOnce()
    vecs(4L -> Seq(2L, 0L), 5L -> Seq(8L, 10L))
      .coalesce(1).write.mode("append").parquet(data)
    runOnce()
    runOnce() // third run sees no new files: state must not change
    val st = StreamingKMeans.readState(spark, state).get
    val got = st.collect().map(r => r.getLong(0) ->
      (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(got == Map(0L -> (Seq(3L, 1L), 3L), 1L -> (Seq(27L, 29L), 3L)))
    val served = StreamingKMeans.centroids(st.drop("last_batch")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(served == Map(0L -> Seq(1L, 0L), 1L -> Seq(9L, 9L)))
  }

  test("kill-and-restart: a REPLAYED batch id is skipped, state not double-counted") {
    // Simulates the crash window between the state commit and the
    // checkpoint commit: state for batch N is durable but the WAL
    // never recorded N as done, so the restarted query re-delivers
    // the SAME batch id — the last_batch marker must skip the fold
    // (the batch_id-idempotence claim, proven end-to-end).
    val base = Fixtures.tempDir("skmr")
    val data = base.resolve("vecs").toString
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("vec_id BIGINT, qv ARRAY<BIGINT>")
        .parquet(data)
      StreamingKMeans.fit(spark, src, state, ckpt, k = 2).awaitTermination()
    }
    vecs(0L -> Seq(0L, 0L), 1L -> Seq(10L, 10L),
      2L -> Seq(1L, 1L), 3L -> Seq(9L, 9L))
      .coalesce(1).write.mode("append").parquet(data)
    runOnce()
    val before = StreamingKMeans.readState(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    // "kill" after the state write but before the WAL commit: drop the
    // newest commit marker, so restart replays batch 0 from offsets
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists) crc.delete() // stale checksum sibling blocks the re-write
    runOnce() // replays batch 0: marker must skip the fold
    val after = StreamingKMeans.readState(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    assert(after == before, s"replayed batch double-counted: $after vs $before")
  }

  test("crash mid-state-write: previous committed version stays served, then GC'd") {
    val base = Fixtures.tempDir("skmc")
    val state = base.resolve("state").toString
    val b1 = vecs(0L -> Seq(0L, 0L), 1L -> Seq(10L, 10L))
    StreamingKMeans.commitState(
      StreamingKMeans.updateState(None, b1, k = 2), state, 0L)
    val committed = StreamingKMeans.readState(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    // simulate a crash mid-write of the NEXT generation: a partial
    // frame with data but no _SUCCESS, pointer swap never reached
    assert(readPtr(state) === "g1")
    val partial = new java.io.File(state, "g2/state")
    assert(partial.mkdirs())
    val junk = partial.toPath.resolve("part-00000.parquet")
    java.nio.file.Files.write(junk, Array[Byte](1, 2, 3))
    val read = StreamingKMeans.readState(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    assert(read == committed, "partial write must be invisible to readState")
    // the next commit collects the partial at its entry, writes the
    // generation afresh and swaps; g1 stays as the reader grace window
    StreamingKMeans.commitState(
      StreamingKMeans.updateState(
        StreamingKMeans.readState(spark, state), b1, k = 2), state, 1L)
    assert(readPtr(state) === "g2" && !java.nio.file.Files.exists(junk))
    assert(gens(state) === Seq("g1", "g2"))
    assert(StreamingKMeans.readState(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet === Set((0L, 2L), (1L, 2L)))
  }

  private def readPtr(state: String): String =
    java.nio.file.Files.readString(new java.io.File(state, "PTR").toPath).trim

  private def gens(state: String): Seq[String] =
    new java.io.File(state).list().toSeq.filter(_.matches("g\\d+")).sorted

  test("a lost pointer or live generation is refused on read and commit, " +
      "every file left in place") {
    val state = Fixtures.tempDir("skml").resolve("state").toString
    val st = Seq((0L, Seq(0L, 0L), 1L)).toDF("c_id", "sums", "n")
    for (b <- 0L to 2L) StreamingKMeans.commitState(st, state, b)
    // g1 fell to the third commit's entry GC; g2 is the grace window
    assert(readPtr(state) === "g3" && gens(state) === Seq("g2", "g3"))
    def files: Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = new java.io.File(state)
      org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala.toSeq
        .map(f => (root.toPath.relativize(f.toPath).toString, f.length)).sorted
    }
    def refused(what: String): Unit = {
      val before = files
      for (op <- Seq(() => StreamingKMeans.readState(spark, state),
          () => StreamingKMeans.commitState(st, state, 3L))) {
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains(what) &&
          e.getMessage.contains("removed externally"), e.getMessage)
        assert(files === before, "a refusal must leave every file in place")
      }
    }
    // the pointer lost: re-seeding would fold the next batch into an
    // empty model and the commit's GC would delete the accumulator
    for (f <- Seq("PTR", ".PTR.crc")) Fixtures.deleteRec(new java.io.File(state, f))
    refused("[g2, g3]")
    java.nio.file.Files.writeString(new java.io.File(state, "PTR").toPath, "g3")
    assert(StreamingKMeans.readState(spark, state).isDefined)
    // the live generation lost, its predecessor still present
    Fixtures.deleteRec(new java.io.File(state, "g3"))
    refused("g3")
  }
}
