package graft

import java.io.File

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.StreamingIvf

/** Streaming IVF maintenance: the served index after ANY stream
  * prefix must be bit-identical to the one-shot batch
  * [[Similarity.ivfIndex]] over that prefix's corpus (id-ordered
  * batches keep the deterministic centroid seed equal), replayed
  * batch ids must no-op, and the recall the batch operator proves on
  * planted near-duplicates must survive the streamed build. */
class StreamingIvfSpec extends SparkTestBase {
  import spark.implicits._

  /** The SimilaritySpec corpus: 200 random vectors + 5 planted
    * near-duplicates of ids 0-4 at ids 1000-1004. */
  private lazy val corpus = {
    val rnd = new Random(7)
    val base = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val planted = (0 until 5).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    (base ++ planted).toDF("vec_id", "embedding")
  }

  private def clusterMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("c_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The live lists generation (`lists/<PTR>`); compactions move it,
    * so re-resolve per use. */
  private def liveLists(state: String): File = {
    val base = new File(state, "lists")
    new File(base, java.nio.file.Files.readString(new File(base, "PTR").toPath).trim)
  }

  /** Overwrite the FRONTIER witness through the Hadoop API (the local
    * fs keeps `.crc` sidecars that a raw java.nio write invalidates). */
  private def setFrontier(stateSubDir: File, v: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      new File(stateSubDir, "FRONTIER").toString)
    graft.util.StateFs.writeFileAtomicFs(graft.util.StateFs.fs(spark, p), p, v)
  }

  test("streamed index equals the batch ivfIndex after every prefix; " +
      "probe is bit-identical; planted recall intact") {
    val base = Fixtures.tempDir("sivf")
    val data = base.resolve("vecs").toString
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .parquet(data)
      StreamingIvf.fit(spark, src, state, ckpt, nCentroids = 8)
        .awaitTermination()
    }
    val splits = Seq(
      corpus.filter($"vec_id" < 80),
      corpus.filter($"vec_id" >= 80 && $"vec_id" < 150),
      corpus.filter($"vec_id" >= 150))
    var prefix = splits.head.limit(0)
    for (b <- splits) {
      b.coalesce(1).write.mode("append").parquet(data)
      prefix = prefix.unionByName(b)
      runOnce()
      // prefix equivalence: streamed lists == one-shot batch build of
      // the prefix corpus (id-ordered batches ⇒ same centroid seed)
      val (bc, ba) = Similarity.ivfIndex(prefix, nCentroids = 8)
      val (sc, sa) = StreamingIvf.readIndex(spark, state).get
      assert(sc.select("cent_id").as[Long].collect().sorted.toSeq ===
        bc.select("cent_id").as[Long].collect().sorted.toSeq,
        "frozen centroids must match the batch seed")
      assert(clusterMap(sa) === clusterMap(ba),
        "streamed lists diverge from the batch build of this prefix")
    }
    // a rerun with no new files must leave the committed state as-is
    val dirsBefore = liveLists(state).list().sorted.toSeq
    runOnce()
    assert(liveLists(state).list().sorted.toSeq === dirsBefore,
      "an empty run must not grow the state")
    // serve: maintained-index probe ≡ batch-index probe, row for row
    val queries = corpus.filter($"vec_id" >= 1000)
    val (bc, ba) = Similarity.ivfIndex(corpus, nCentroids = 8)
    val fromStream = StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 8)
      .collect().map(_.toString).sorted.toSeq
    val fromBatch = Similarity.ivfProbe(bc, ba, queries, k = 1, nProbe = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(fromStream === fromBatch, "probe paths must be bit-identical")
    // recall gate: each planted near-dup still finds its original
    val top = StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (i <- 0 until 5) assert(top(1000L + i) == i.toLong,
      s"planted copy ${1000 + i} lost its original in the streamed index")
    // compacting the drained lists leaves the served probe unchanged
    assert(StreamingIvf.compact(spark, state))
    assert(StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 8)
      .collect().map(_.toString).sorted.toSeq === fromBatch,
      "compaction after the drains changed the served probe")
  }

  test("appendBatch: replayed batch id no-ops; crashed write is invisible " +
      "and completed by the replay") {
    val base = Fixtures.tempDir("sivf-replay")
    val state = base.resolve("state").toString
    val b1 = corpus.filter($"vec_id" < 100)
    assert(StreamingIvf.appendBatch(spark, state, b1, 8, batchId = 0L))
    val after1 = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
    // replay of a committed batch id: skipped, state unchanged
    assert(!StreamingIvf.appendBatch(spark, state, b1, 8, batchId = 0L))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === after1)
    // crash simulation: batch 1 died mid-write — no _SUCCESS and (the
    // log lags the parquet commit) no applog entry either. Deleting
    // ONLY the _SUCCESS of a committed batch is not that state: it is
    // external loss of the commit marker, which the r14 append log
    // detects loudly — pinned first, then the honest crash state.
    val b2 = corpus.filter($"vec_id" >= 100)
    assert(StreamingIvf.appendBatch(spark, state, b2, 8, batchId = 1L))
    val v1 = new File(liveLists(state), f"v${1L}%020d")
    assert(new File(v1, "_SUCCESS").delete())
    val eMarker = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(eMarker.getMessage.contains(f"v${1L}%020d") &&
      eMarker.getMessage.contains("removed externally"))
    assert(new File(new File(liveLists(state), "applog"),
      f"v${1L}%020d").delete())
    // ...and regress the r15 frontier witness to what a real mid-write
    // crash leaves (logAppend — marker AND frontier — runs only after
    // the parquet commit, so a genuine crash never advanced it; the
    // delete-after-commit construction above leaves it at 1, which the
    // suffix check would rightly call external loss). Through the
    // Hadoop API: the local fs keeps .crc sidecars a raw write breaks.
    setFrontier(liveLists(state), "0")
    // now the true mid-write crash state: the partial is invisible...
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === after1)
    // ...and the WAL re-delivers batch 1, whose replay completes it
    assert(StreamingIvf.appendBatch(spark, state, b2, 8, batchId = 1L))
    val healed = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
    assert(healed === clusterMap(Similarity.ivfAssign(
      StreamingIvf.readCentroids(spark, state).get, corpus)))
    // an empty batch is a no-op, not a seed or an empty list dir
    assert(!StreamingIvf.appendBatch(spark, state, corpus.limit(0), 8, 2L))
  }

  test("compact: committed list dirs become one, served index identical, appends continue") {
    val base = Fixtures.tempDir("sivf-compact")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L), (130L, 2000L, 2L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    val before = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
    // v* generations only: compaction also installs the MANIFEST file
    def listDirs() = liveLists(state).list()
      .filter(_.startsWith("v")).sorted.toSeq
    assert(listDirs().size === 3)
    assert(StreamingIvf.compact(spark, state))
    // one dir, named at the max committed batch id (replay safety: the
    // only WAL-replayable id after a drain keeps its _SUCCESS)
    assert(listDirs() === Seq(f"v${2L}%020d"))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === before)
    // a replay of the frontier batch still no-ops after compaction
    assert(!StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 130L), 8, 2L))
    assert(!StreamingIvf.compact(spark, state)) // idempotent no-op
    // probe is bit-identical to the uncompacted build
    val queries = corpus.filter($"vec_id" >= 1000)
    val probed = StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 8)
      .collect().map(_.toString).sorted.toSeq
    // appends continue on top of the compacted generation
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 1000), 8, 3L))
    assert(listDirs().size === 2)
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) ===
      clusterMap(Similarity.ivfAssign(
        StreamingIvf.readCentroids(spark, state).get, corpus)))
    assert(probed.nonEmpty) // the compacted-state probe above returned rows
    // PINNED TRAP (header scaladoc): an id whose dir the compaction
    // folded away is no longer marked committed — a recreated
    // checkpoint's re-delivery of batch 0 re-appends its rows on top
    // of the compacted generation, serving every one of them TWICE.
    // If this starts no-oping, the scaladoc's duplication warning is
    // stale — update both together.
    def dupIds() = StreamingIvf.readIndex(spark, state).get._2
      .groupBy("c_id").count().filter($"count" > 1).count()
    val dupsBefore = dupIds() // batch 3 above re-added the planted ids
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" < 60), 8, 0L),
      "the folded-away id no-oped — the documented trap no longer reproduces")
    assert(dupIds() === dupsBefore + 60,
      "expected exactly batch 0's rows to be served twice")
  }

  test("compaction manifest + append log: ANY lost committed generation fails loudly") {
    // VERDICT r12 #1 (manifest) + VERDICT r13 #1 (append log): the
    // compaction swap installs lists/MANIFEST naming the compacted
    // generation, and every committed append also lands an
    // applog/v<id> marker — so external loss of EITHER the compacted
    // corpus or a post-compaction append dir (formerly the documented
    // honor-system residual) fails reads, appends, and compactions
    // loudly, naming the missing generation.
    val base = Fixtures.tempDir("sivf-loss")
    val state = base.resolve("state").toString
    // batches 0-2 cover the 200 base vectors only — the 5 planted ids
    // (1000+) arrive as the post-compaction batch 3 below
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L), (130L, 1000L, 2L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    assert(StreamingIvf.compact(spark, state))
    def lists = liveLists(state)
    def manifest(): String =
      java.nio.file.Files.readString(new File(lists, "MANIFEST").toPath).trim
    assert(manifest() === f"v${2L}%020d")
    assert(new File(new File(lists, f"v${2L}%020d"), "_COMPACTED").exists())
    // compaction consumed the pre-compaction applog entries (the log
    // lives inside the superseded generation); the folded mass is now
    // manifest-covered, so stale entries cannot false-alarm
    assert(!new File(new File(lists, "applog"), f"v${0L}%020d").exists())
    // a post-compaction append lands its applog marker with the commit
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 1000), 8, 3L))
    assert(new File(new File(lists, "applog"), f"v${3L}%020d").exists())
    val full = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
    // external loss of the committed append dir (simulated as a move-
    // aside so the remedy — restore — can be exercised below): LOUD on
    // read, on the next append (the fail-fast gate: work onto a wedged
    // index is wasted), and on compaction (folding the survivors would
    // rewrite the log/manifest around the hole, erasing the evidence)
    val v3 = new File(lists, f"v${3L}%020d")
    val aside = new File(base.toFile, "v3-held-hostage")
    assert(v3.renameTo(aside))
    val eRead = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(eRead.getMessage.contains(f"v${3L}%020d") &&
      eRead.getMessage.contains("removed externally"))
    val eApp = intercept[IllegalArgumentException] {
      StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" < 60), 8, 4L)
    }
    assert(eApp.getMessage.contains(f"v${3L}%020d"))
    val eCmp = intercept[IllegalArgumentException] {
      StreamingIvf.compact(spark, state)
    }
    assert(eCmp.getMessage.contains(f"v${3L}%020d"))
    // the remedy the message names: restore the generation → recovered
    assert(aside.renameTo(v3))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === full)
    // crash window between a dir's parquet commit and its log entry:
    // a missing LOG entry alone must NOT alarm (the log lags the
    // commit — only under-logging is reachable), and the WAL replay
    // of that id completes the log instead of re-appending
    val logV3 = new File(new File(lists, "applog"), f"v${3L}%020d")
    assert(logV3.delete())
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === full)
    assert(!StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 1000), 8, 3L))
    assert(logV3.exists(), "the replay-skip path must complete the log entry")
    // the next compaction folds the append UNDER the manifest
    assert(StreamingIvf.compact(spark, state))
    assert(manifest() === f"v${3L}%020d")
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === full)
    // manifest-covered loss is LOUD, naming the missing generation
    Fixtures.deleteRec(new File(lists, f"v${3L}%020d"))
    val e = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(e.getMessage.contains(f"v${3L}%020d") &&
      e.getMessage.contains("removed externally"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingIvf.probe(spark, state, corpus.filter($"vec_id" >= 1000), k = 1)
    }
    assert(e2.getMessage.contains("removed externally"))
    // ...appends fail fast at the same gate (ADVICE r13: work onto a
    // wedged index is wasted — previously they kept succeeding and
    // accumulating dirs on an index every read of which fails)...
    val e2b = intercept[IllegalArgumentException] {
      StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= 1000), 8, 4L)
    }
    assert(e2b.getMessage.contains(f"v${3L}%020d") &&
      e2b.getMessage.contains("removed externally"))
    // ...and compaction fails the same way: compacting over the hole
    // would fold only the survivors and REWRITE the manifest around
    // the loss, erasing the evidence — it must refuse as loudly as
    // the reads do
    val e3 = intercept[IllegalArgumentException] {
      StreamingIvf.compact(spark, state)
    }
    assert(e3.getMessage.contains(f"v${3L}%020d") &&
      e3.getMessage.contains("removed externally"))
    // TOTAL loss with the manifest surviving (review r13 third pass):
    // centroids and every list dir removed, the plain MANIFEST file
    // missed by v*-targeted GC — must STILL be loud, not "no index
    // yet" (a silent re-seed here would wedge on the stale manifest
    // later, blaming the wrong cause)
    Fixtures.deleteRec(new File(state, "centroids"))
    val e4 = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(e4.getMessage.contains("removed externally"))
    val e5 = intercept[IllegalArgumentException] {
      StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= 1000), 8, 5L)
    }
    assert(e5.getMessage.contains("removed externally"))
  }

  test("randomized drain/compact/crash/loss sequences in POINTER mode: same " +
      "walk, same seed — crash states are the pointer-mode ones (stale " +
      "unpublished targets, kept-predecessor grace windows, entry GC)") {
    // The seeded 30-step walk composes the layout's crash states —
    // partial `g<k+1>` targets (planted before a third of the
    // compactions), the moved-PTR-with-undeleted-predecessor state
    // (every successful swap leaves it — the grace window), and
    // stale-generation GC — with every other crash/loss state under
    // random interleaving.
    fuzzWalk()
  }

  private def fuzzWalk(): Unit = {
    // The composition fuzz for the r14 loss machinery (the StateFsSpec
    // / CompactionSpec discipline applied to the INDEX state machine):
    // the directed cases above pin each window once; here 30 seeded
    // iterations interleave appends, crashed appends, replays,
    // compactions, post-compaction crash states, benign applog-entry
    // loss, and move-aside external loss of random committed
    // generations — asserting after EVERY step that the served lists
    // are exactly the assignment of the union of applied batches, and
    // that an unrestored loss is loud (read, append, compact) naming
    // the missing generation, then fully recovered by the restore the
    // message prescribes. Batches are id-disjoint slices so the union
    // is checkable by construction.
    val base = Fixtures.tempDir("sivf-fuzz-ptr")
    val state = base.resolve("state").toString
    val listsBase = new File(state, "lists")
    // the walk's file-level drills target the LIVE generation
    // (re-resolved each use: compactions move it)
    def lists: File = liveLists(state)
    // 5-id-wide disjoint slices: 40 batches cover vec_ids 0..199, more
    // than the walk's worst-case append count, so the union stays
    // duplicate-free by construction
    def batchOf(id: Long) =
      corpus.filter($"vec_id" >= id * 5 && $"vec_id" < (id + 1) * 5)
    def unionOf(ids: Seq[Long]) =
      ids.map(batchOf).reduce(_ unionByName _)
    var applied = Vector.empty[Long]
    var nextId = 0L
    def checkServed(): Unit = {
      val got = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
      val want = clusterMap(Similarity.ivfAssign(
        StreamingIvf.readCentroids(spark, state).get, unionOf(applied)))
      assert(got === want, s"served index diverges from the applied union $applied")
    }
    // seed the machine so centroids exist before the random walk
    assert(StreamingIvf.appendBatch(spark, state, batchOf(0), 4, 0L))
    applied :+= 0L; nextId = 1L
    val rnd = new scala.util.Random(20260815)
    for (step <- 1 to 30) {
      rnd.nextInt(7) match {
        case 0 => // plain append
          assert(StreamingIvf.appendBatch(spark, state, batchOf(nextId), 4, nextId))
          applied :+= nextId; nextId += 1
        case 1 => // crashed append (partial dir, no _SUCCESS/no log),
                  // invisible, then the WAL replay completes it
          val d = new File(lists, f"v$nextId%020d"); d.mkdirs()
          new File(d, "part-junk").createNewFile()
          checkServed() // the partial is invisible
          assert(StreamingIvf.appendBatch(spark, state, batchOf(nextId), 4, nextId))
          applied :+= nextId; nextId += 1
        case 2 => // replay of the frontier id: no-op (the only id the
                  // WAL can re-deliver; its dir survives compaction)
          assert(!StreamingIvf.appendBatch(spark, state,
            batchOf(applied.last), 4, applied.last))
        case 3 => // compaction (no-ops when ≤1 committed dir). A third
                  // of the time, first plant a crashed earlier
                  // compaction's partial unpublished target — invisible
                  // to reads, clobbered by the entry GC
          if (rnd.nextInt(3) == 0) {
            val next = new File(listsBase,
              "g" + (lists.getName.drop(1).toLong + 1))
            new File(next, "junk-partial").mkdirs()
            checkServed() // the stale target is invisible
          }
          StreamingIvf.compact(spark, state)
        case 4 => // benign applog under-log window: drop the frontier's
                  // log entry — reads stay fine, the replay re-logs it
          val f = new File(new File(lists, "applog"), f"v${applied.last}%020d")
          if (f.exists()) {
            assert(f.delete())
            checkServed()
            assert(!StreamingIvf.appendBatch(spark, state,
              batchOf(applied.last), 4, applied.last))
            assert(f.exists(), s"step $step: replay did not re-log the entry")
          }
        case 5 => // external loss of a RANDOM committed generation:
                  // loud everywhere, naming it; restore recovers
          val gens = lists.listFiles().filter(f =>
            f.isDirectory && f.getName.startsWith("v"))
          val victim = gens(rnd.nextInt(gens.length))
          val aside = new File(base.toFile, s"aside-$step")
          assert(victim.renameTo(aside))
          for (op <- Seq(
              () => StreamingIvf.readIndex(spark, state),
              () => StreamingIvf.appendBatch(spark, state,
                batchOf(nextId), 4, nextId),
              () => StreamingIvf.compact(spark, state))) {
            val e = intercept[IllegalArgumentException] { op() }
            assert(e.getMessage.contains(victim.getName) &&
              e.getMessage.contains("removed externally"),
              s"step $step: loss of ${victim.getName} not loud: ${e.getMessage}")
          }
          assert(aside.renameTo(victim))
        case 6 => // SUFFIX co-loss (r15): the TOP append generation and
                  // its applog marker removed together — the dense chain
                  // reads shorter, the FRONTIER witness makes it loud;
                  // restore recovers. Skipped when the top generation is
                  // the compacted one (manifest-covered, case 5's drill).
          val tops = lists.listFiles().filter(f =>
            f.isDirectory && f.getName.startsWith("v")).map(_.getName).sorted
          val top = tops.last
          val marker = new File(new File(lists, "applog"), top)
          // skip when top is the manifest-named compacted generation
          // (its loss is the manifest check's drill, a different loud
          // error — and a frontier-id replay after compaction re-logs
          // it, so marker presence alone does not rule this out)
          val mf = new File(lists, "MANIFEST")
          val isManifestGen = mf.exists() &&
            java.nio.file.Files.readString(mf.toPath).trim == top
          if (marker.exists() && !isManifestGen) {
            val dAside = new File(base.toFile, s"sfx-$step")
            val mAside = new File(base.toFile, s"sfxm-$step")
            assert(new File(lists, top).renameTo(dAside))
            assert(marker.renameTo(mAside))
            val e = intercept[IllegalArgumentException] {
              StreamingIvf.readIndex(spark, state)
            }
            assert(e.getMessage.contains("suffix"),
              s"step $step: suffix co-loss of $top not loud: ${e.getMessage}")
            assert(dAside.renameTo(new File(lists, top)))
            assert(mAside.renameTo(marker))
          }
      }
      checkServed()
    }
    // post-compaction crash states compose with whatever the walk
    // left: the swap leaves the moved-PTR-with-undeleted-predecessor
    // state (the grace window) plus a planted partial target, both
    // collected by the next compaction's entry GC. Union intact
    // throughout.
    if (StreamingIvf.compact(spark, state)) {
      val live = lists
      val prev = new File(listsBase, "g" + (live.getName.drop(1).toLong - 1))
      assert(prev.exists(),
        "the superseded generation must survive the swap (grace window)")
      val next = new File(listsBase, "g" + (live.getName.drop(1).toLong + 1))
      new File(next, "junk-partial").mkdirs()
      checkServed() // both the grace window and the partial are invisible
      assert(StreamingIvf.appendBatch(spark, state, batchOf(nextId), 4, nextId))
      applied :+= nextId
      checkServed()
      // the next compaction's entry GC collects the predecessor and
      // clobbers the partial (whose g-name it then REUSES as the
      // fresh staging target and publishes)
      assert(StreamingIvf.compact(spark, state))
      assert(!prev.exists(),
        "the old grace window must fall to the writer-entry GC")
      assert(lists.getName === next.getName,
        "the swap publishes the regenerated target generation")
      assert(new File(listsBase, live.getName).exists(),
        s"${live.getName} is the new grace window")
      checkServed()
    }
  }

  test("external loss of the frozen centroids fails loudly instead of re-seeding") {
    // lists are only written after the centroids commit, so committed
    // lists + missing centroids is certain external loss; the read
    // returning None ("no index yet") or appendBatch quietly seeding
    // NEW centroids would assign future appends and probes against
    // geometry the stored lists were not built with (review r13)
    val base = Fixtures.tempDir("sivf-centloss")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 100L, 0L), (100L, 2000L, 1L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    Fixtures.deleteRec(new File(state, "centroids"))
    val e = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(e.getMessage.contains("centroids are missing") &&
      e.getMessage.contains("removed externally"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= 1000), 8, 2L)
    }
    assert(e2.getMessage.contains("centroids are missing"))
    val e3 = intercept[IllegalArgumentException] {
      StreamingIvf.probe(spark, state, corpus.filter($"vec_id" >= 1000), k = 1)
    }
    assert(e3.getMessage.contains("centroids are missing"))
  }

  test("compacted layout is cluster-partitioned and probe reads are partition-pruned to probed lists") {
    val base = Fixtures.tempDir("sivf-prune")
    val state = base.resolve("state").toString
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" < 100), 8, 0L))
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 100), 8, 1L))
    // un-compacted baseline (row-filtered, not partition-pruned)
    val queries = corpus.filter($"vec_id" >= 1000)
    val want = StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(StreamingIvf.compact(spark, state))
    // physical layout: the compacted generation is partitionBy(cluster)
    // (v* dirs only — the swap also installed the MANIFEST file)
    val gen = liveLists(state).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).head
    assert(gen.listFiles().exists(_.getName.startsWith("cluster=")),
      s"compacted dir is not cluster-partitioned: ${gen.listFiles().toSeq}")
    // the probe plan carries a cluster partition filter — non-probed
    // lists are skipped at the directory level, not read-then-dropped
    val res = StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 2)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cluster")),
      s"assigned scan is not partition-pruned:\n$plan")
    // and pruning changed nothing
    assert(res.collect().map(_.toString).sorted.toSeq === want)
    // probedClusters is bounded by |queries|·nProbe and matches the
    // argmax the probe join uses
    val cents = StreamingIvf.readCentroids(spark, state).get
    val ids = Similarity.probedClusters(cents, queries, nProbe = 2)
    assert(ids.nonEmpty && ids.size <= queries.count() * 2)
  }

  test("pointer mode end-to-end: compaction publishes via one PTR rewrite; " +
      "served index and probes identical to the one-shot build; stale " +
      "targets invisible; the concurrency guard discards only the staged " +
      "generation") {
    // The object-store-safe generation layout exercised through a full
    // index lifecycle, checked at every step against the one-shot
    // batch build of the applied batches (id-ordered batches keep the
    // centroid seed equal).
    val baseDir = Fixtures.tempDir("sivf-ptr")
    val state = baseDir.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    def oneShot(hi: Long) = Similarity.ivfIndex(corpus.filter($"vec_id" < hi), 8)
    val lists = new File(state, "lists")
    def ptr() = java.nio.file.Files.readString(new File(lists, "PTR").toPath).trim
    def genDirs(g: String) = new File(lists, g).list()
      .filter(_.startsWith("v")).sorted.toSeq
    // appends land inside the g0 generation (per-batch dirs + applog)
    assert(ptr() === "g0")
    assert(genDirs("g0") === (0L to 1L).map(i => f"v$i%020d"))
    // a stale partial target from a crashed compaction is invisible
    new File(new File(lists, "g1"), "junk").mkdirs()
    val served = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
    val (bc, ba) = oneShot(130L)
    assert(served === clusterMap(ba))
    // compaction stages g1 (clobbering the stale partial) and
    // publishes it with one PTR rewrite; g0 is KEPT as the
    // in-flight-reader grace window (ADVICE r15) and falls to the next
    // writer-entry GC
    assert(StreamingIvf.compact(spark, state))
    assert(ptr() === "g1")
    assert(new File(lists, "g0").exists(),
      "the superseded generation must survive the swap (reader grace window)")
    assert(genDirs("g1") === Seq(f"v${1L}%020d"))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === served)
    // probes identical to the one-shot index (partition-pruned
    // compacted layout)
    val queries = corpus.filter($"vec_id" >= 1000)
    assert(StreamingIvf.probe(spark, state, queries, k = 1, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq ===
      Similarity.ivfProbe(bc, ba, queries, k = 1, nProbe = 2)
        .collect().map(_.toString).sorted.toSeq)
    // appends continue into the published generation; replays no-op
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 130L), 8, 2L))
    assert(!StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 130L), 8, 2L))
    assert(genDirs("g1") === (1L to 2L).map(i => f"v$i%020d"))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) ===
      clusterMap(oneShot(Long.MaxValue)._2))
    // the concurrency guard: the abort discards ONLY
    // the staged target generation; the pointer never moves and the
    // concurrent append (in the live generation) is intact
    val e = intercept[RuntimeException] {
      StreamingIvf.compactImpl(spark, state, () =>
        assert(StreamingIvf.appendBatch(spark, state,
          corpus.filter($"vec_id" < 30), 8, 3L)))
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    assert(ptr() === "g1")
    assert(!new File(lists, "g2").exists(),
      "the aborted target generation must be discarded")
    assert(!new File(lists, "g0").exists(),
      "the grace-window generation must fall to the writer-entry GC")
    assert(genDirs("g1") === (1L to 3L).map(i => f"v$i%020d"))
    // the next clean compaction folds everything and advances to g2,
    // leaving g1 as the new grace window
    assert(StreamingIvf.compact(spark, state))
    assert(ptr() === "g2")
    assert(genDirs("g2") === Seq(f"v${3L}%020d"))
    assert(new File(lists, "g1").exists(),
      "the superseded generation must survive the swap (reader grace window)")
  }

  test("marker+dir co-loss is loud (dense id chain); empty batches log " +
      "their id and stay no-ops") {
    // VERDICT r14 #3: removing BOTH applog/v<id> and lists/v<id>
    // restored pre-r14 silence for that generation (the served index
    // just shrank). With every delivered id logged — empty batches
    // included — the chain is dense, so an interior hole is certain
    // co-loss and every listing says so.
    val base = Fixtures.tempDir("sivf-coloss")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L), (130L, 2000L, 2L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    val lists = liveLists(state)
    val applog = new File(lists, "applog")
    // an empty batch is a no-op for the index but its id is logged
    assert(!StreamingIvf.appendBatch(spark, state, corpus.limit(0), 8, 3L))
    assert(new File(applog, f"s${3L}%020d").exists(),
      "empty batch id must land an s-marker in the applog")
    // replaying the empty id is still a logged no-op
    assert(!StreamingIvf.appendBatch(spark, state, corpus.limit(0), 8, 3L))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) ===
      clusterMap(Similarity.ivfAssign(
        StreamingIvf.readCentroids(spark, state).get, corpus)))
    // co-loss of an INTERIOR generation and its marker — before r15
    // this silently served fewer vectors; now the hole is loud
    Fixtures.deleteRec(new File(lists, f"v${1L}%020d"))
    assert(new File(applog, f"v${1L}%020d").delete())
    val e = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(e.getMessage.contains(f"v${1L}%020d") &&
      e.getMessage.contains("removed together externally"), e.getMessage)
  }

  test("suffix co-loss is loud via the FRONTIER witness; the witness lags, " +
      "never leads; its own removal is loud too via the GENESIS pairing") {
    // r15: the dense chain cannot see loss of its own SUFFIX — the
    // newest generation(s) removed together with their markers read
    // as a shorter history. FRONTIER (one small atomic file recording
    // the max delivered id, updated after each log marker) is the
    // witness the surviving chain must reach.
    val base = Fixtures.tempDir("sivf-frontier")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L), (130L, 2000L, 2L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    def lists = liveLists(state)
    def ff = new File(lists, "FRONTIER")
    def frontier() = java.nio.file.Files.readString(ff.toPath).trim.toLong
    assert(frontier() === 2L)
    // the witness LAGS, never leads: a manually-regressed frontier
    // (the marker-to-frontier crash window) must not alarm, and the
    // WAL replay of the newest id re-advances it
    setFrontier(lists, "1")
    assert(StreamingIvf.readIndex(spark, state).isDefined)
    assert(!StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 130L), 8, 2L))
    assert(frontier() === 2L, "the replay must re-advance the witness")
    // compaction carries the witness into the new generation
    assert(StreamingIvf.compact(spark, state))
    assert(frontier() === 2L)
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" < 60), 8, 3L))
    assert(frontier() === 3L)
    // SUFFIX co-loss: the newest generation AND its marker removed
    // together — pre-r15 this read as a shorter history; now the
    // chain no longer reaches the witness
    Fixtures.deleteRec(new File(lists, f"v${3L}%020d"))
    assert(new File(new File(lists, "applog"), f"v${3L}%020d").delete())
    val e = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(e.getMessage.contains("suffix") &&
      e.getMessage.contains("records delivered batch id 3"), e.getMessage)
    // removing the witness TOO is loud since r16 (VERDICT r16 #4 —
    // this was the one documented co-loss that stayed silent):
    // FRONTIER is written before GENESIS and consumed by nothing, so
    // GENESIS-without-FRONTIER cannot arise benignly and reads refuse
    // it naming the witness, instead of serving the shorter history
    assert(ff.delete())
    val eW = intercept[IllegalArgumentException] {
      StreamingIvf.readIndex(spark, state)
    }
    assert(eW.getMessage.contains("FRONTIER") &&
      eW.getMessage.contains("GENESIS exists"), eW.getMessage)
    // the message's named repair — restore the witness at the
    // surviving chain's frontier — recovers the readable prefix (the
    // lost suffix stays lost, as it must: its data is gone)
    setFrontier(lists, "2")
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) ===
      clusterMap(Similarity.ivfAssign(
        StreamingIvf.readCentroids(spark, state).get, corpus)))
  }

  test("legacy state (no GENESIS witness) with an id gap is served, not " +
      "wedged; a corrupt FRONTIER is loud, never silently rewritten") {
    // review r15 twin guards: (a) a pre-r15 history whose empty
    // batches left no s-markers has legitimate holes — the dense-chain
    // check is GENESIS-gated so upgrading cannot wedge a healthy
    // index; (b) both witness readers share one parse policy — corrupt
    // content is loud state inconsistency, and the append path must
    // not regress a corrupt frontier downward (a real suffix loss
    // below the old value would become undetectable).
    val base = Fixtures.tempDir("sivf-legacy")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L), (130L, 2000L, 2L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    val lists = liveLists(state)
    // construct the legacy shape: strip the r15 witnesses and open an
    // interior hole exactly as a pre-r15 empty batch would have left
    // (v1 gone, no s1, nothing recording either)
    for (w <- Seq("GENESIS", "FRONTIER")) {
      val p = new org.apache.hadoop.fs.Path(new File(lists, w).toString)
      graft.util.StateFs.fs(spark, p).delete(p, false)
    }
    Fixtures.deleteRec(new File(lists, f"v${1L}%020d"))
    assert(new File(new File(lists, "applog"), f"v${1L}%020d").delete())
    // served (smaller — the r14 semantics for witness-less state), not
    // wedged
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) ===
      clusterMap(Similarity.ivfAssign(
        StreamingIvf.readCentroids(spark, state).get,
        corpus.filter($"vec_id" < 60 || $"vec_id" >= 130))))
    // corrupt FRONTIER: loud on read AND on append — and the append
    // must not silently overwrite it with a lower value
    setFrontier(lists, "not-a-number")
    val e = intercept[RuntimeException] { StreamingIvf.readIndex(spark, state) }
    assert(e.getMessage.contains("frontier witness") &&
      e.getMessage.contains("unreadable"), e.getMessage)
    val e2 = intercept[RuntimeException] {
      StreamingIvf.appendBatch(spark, state, corpus.filter($"vec_id" < 60), 8, 3L)
    }
    assert(e2.getMessage.contains("unreadable"), e2.getMessage)
    assert(java.nio.file.Files.readString(new File(lists, "FRONTIER").toPath).trim
      === "not-a-number", "the corrupt witness must not be rewritten")
  }

  test("compaction names its generation at a skip-logged frontier, keeping " +
      "the dense chain intact when the last delivered batch was empty") {
    // compaction consumes the applog with the swap — if the generation
    // were named at the max DIR id while a higher s<id> existed, that
    // id would be accounted nowhere afterwards: a permanent false hole
    val base = Fixtures.tempDir("sivf-sfrontier")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    assert(!StreamingIvf.appendBatch(spark, state, corpus.limit(0), 8, 2L))
    def vdirs() = liveLists(state).list().filter(_.startsWith("v")).sorted.toSeq
    assert(StreamingIvf.compact(spark, state))
    // the generation is named at the EMPTY frontier id, not the max dir
    assert(vdirs() === Seq(f"v${2L}%020d"))
    // a WAL replay of the empty frontier id finds the dir committed
    // and no-ops
    assert(!StreamingIvf.appendBatch(spark, state, corpus.limit(0), 8, 2L))
    // appends continue past it and every listing stays green (no hole)
    assert(StreamingIvf.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 130L), 8, 3L))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) ===
      clusterMap(Similarity.ivfAssign(
        StreamingIvf.readCentroids(spark, state).get, corpus)))
  }

  test("compact: a concurrent append between listing and swap aborts loudly; " +
      "the appended generation and its applog marker survive; the next " +
      "clean compact folds it") {
    // VERDICT r14 #1: the Compactor optimistic-concurrency guard,
    // ported here — without it the swap silently destroyed a batch
    // committed mid-rewrite TOGETHER with its applog evidence (the
    // log lives inside the swapped tree), the one hole the r14
    // loud-loss matrix could not see. Injected through the pre-swap
    // seam, the CompactionSpec device.
    val base = Fixtures.tempDir("sivf-ccg")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L)))
      assert(StreamingIvf.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), 8, bid))
    def lists = liveLists(state)
    def vdirs() = lists.list().filter(_.startsWith("v")).sorted.toSeq
    val e = intercept[RuntimeException] {
      StreamingIvf.compactImpl(spark, state, () => {
        // the discipline violation: a drain lands batch 2 mid-rewrite
        assert(StreamingIvf.appendBatch(spark, state,
          corpus.filter($"vec_id" >= 130L), 8, 2L))
      })
    }
    assert(e.getMessage.contains("concurrent writer") &&
      e.getMessage.contains(f"v${2L}%020d"), e.getMessage)
    // live intact: all three committed generations INCLUDING the
    // concurrent one, its applog marker present, the rewrite discarded
    assert(vdirs() === (0L to 2L).map(i => f"v$i%020d"))
    assert(new File(new File(lists, "applog"), f"v${2L}%020d").exists(),
      "the concurrent append's applog evidence must survive the abort")
    assert(!new File(state, "lists/g1").exists(),
      "the aborted rewrite must be discarded")
    // served content covers every batch (nothing was lost)
    val served = clusterMap(StreamingIvf.readIndex(spark, state).get._2)
    assert(served === clusterMap(Similarity.ivfAssign(
      StreamingIvf.readCentroids(spark, state).get, corpus)))
    // the next clean compaction folds all three generations
    assert(StreamingIvf.compact(spark, state))
    assert(vdirs() === Seq(f"v${2L}%020d"))
    assert(clusterMap(StreamingIvf.readIndex(spark, state).get._2) === served)
  }
}
