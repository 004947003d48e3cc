package graft

import java.io.File

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.IvfPq
import graft.streaming.StreamingIvfPq

/** Streaming IVF-PQ maintenance: the served code table after ANY
  * stream prefix must be bit-identical to the one-shot
  * [[IvfPq.append]] encode of that prefix against the SAME frozen
  * quantizer pair (id-ordered batches keep the first-batch seed equal
  * to the corpus seed), the stored-state probe must equal the
  * in-memory [[IvfPq.probe]] row for row, replay must no-op, and the
  * r14 loss matrix (manifest + applog + frozen-pair guards) must be
  * loud. Estimator ACCURACY is [[IvfPqSpec]]'s job (exact-residual
  * corpus); this spec owns the state machine. */
class StreamingIvfPqSpec extends SparkTestBase {
  import spark.implicits._

  private val (kc, m, subLen, kCb) = (8, 4, 4, 16)

  /** The StreamingIvfSpec corpus: 200 random 16-dim vectors + 5
    * planted near-duplicates of ids 0-4 at ids 1000-1004. */
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

  private def quantized(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))

  private def codeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, Long)] =
    df.select("vec_id", "sub", "code", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  /** The live codes generation (`codes/<PTR>`); compactions move it,
    * so re-resolve per use. */
  private def liveCodes(state: String): File = {
    val base = new File(state, "codes")
    new File(base, java.nio.file.Files.readString(new File(base, "PTR").toPath).trim)
  }

  test("streamed codes equal the one-shot encode after every prefix; " +
      "stored-state probe bit-identical to the in-memory probe") {
    val base = Fixtures.tempDir("sivfpq")
    val data = base.resolve("vecs").toString
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .parquet(data)
      StreamingIvfPq.fit(spark, src, state, ckpt, kc, m, subLen, kCb)
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
      val (cents, cbs, codes) = StreamingIvfPq.readIndex(spark, state).get
      // the frozen pair is the FIRST batch's smallest-id seed — which,
      // with id-ordered batches, is the whole prefix's smallest-id
      // seed, so the one-shot twin shares it exactly
      assert(cents.count() === kc && cbs.count() === m * kCb)
      val oneShot = IvfPq.append(spark, quantized(prefix), cents, cbs, m, subLen)
      assert(codeSet(codes) === codeSet(oneShot),
        "streamed code table diverges from the one-shot encode of this prefix")
    }
    // rerun with no new files: committed state untouched
    val before = liveCodes(state).list().sorted.toSeq
    runOnce()
    assert(liveCodes(state).list().sorted.toSeq === before)
    // stored-state probe ≡ in-memory probe over the same frames
    val queries = corpus.filter($"vec_id" >= 1000)
    val (cents, cbs, codes) = StreamingIvfPq.readIndex(spark, state).get
    val served = StreamingIvfPq.probe(spark, state, queries, k = 3,
        nProbe = 2, m, subLen)
      .collect().map(_.toString).sorted.toSeq
    val direct = IvfPq.probe(spark, cents, cbs, codes,
        quantized(queries).select(col("vec_id").as("q_id"), col("qv")),
        k = 3, nProbe = 2, m, subLen)
      .collect().map(_.toString).sorted.toSeq
    assert(served === direct && served.nonEmpty,
      "stored-state probe must be bit-identical to the in-memory probe")
    // compacting the drained codes leaves the served probe unchanged
    assert(StreamingIvfPq.compact(spark, state))
    assert(StreamingIvfPq.probe(spark, state, queries, k = 3, nProbe = 2, m, subLen)
      .collect().map(_.toString).sorted.toSeq === served,
      "compaction after the drains changed the served probe")
  }

  test("appendBatch: replay no-ops; crashed write invisible and completed; empty batch no-op") {
    val base = Fixtures.tempDir("sivfpq-replay")
    val state = base.resolve("state").toString
    val b1 = corpus.filter($"vec_id" < 100)
    assert(StreamingIvfPq.appendBatch(spark, state, b1, kc, m, subLen, kCb, 0L))
    val after1 = codeSet(StreamingIvfPq.readIndex(spark, state).get._3)
    assert(!StreamingIvfPq.appendBatch(spark, state, b1, kc, m, subLen, kCb, 0L))
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) === after1)
    // true mid-write crash state: no _SUCCESS AND no applog entry
    val b2 = corpus.filter($"vec_id" >= 100)
    assert(StreamingIvfPq.appendBatch(spark, state, b2, kc, m, subLen, kCb, 1L))
    val codesDir = liveCodes(state)
    assert(new File(new File(codesDir, f"v${1L}%020d"), "_SUCCESS").delete())
    assert(new File(new File(codesDir, "applog"), f"v${1L}%020d").delete())
    // regress the r15 frontier witness to the honestly-reachable crash
    // value (logAppend never ran for a genuine mid-write crash; the
    // StreamingIvfSpec replay test has the full rationale) — through
    // the Hadoop API, which maintains the local fs's .crc sidecars
    val fp = new org.apache.hadoop.fs.Path(
      new File(codesDir, "FRONTIER").toString)
    graft.util.StateFs.writeFileAtomicFs(
      graft.util.StateFs.fs(spark, fp), fp, "0")
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) === after1,
      "a partial write must be invisible to readers")
    assert(StreamingIvfPq.appendBatch(spark, state, b2, kc, m, subLen, kCb, 1L),
      "the WAL replay must complete the crashed batch")
    val (ce, cb, _) = StreamingIvfPq.readIndex(spark, state).get
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) ===
      codeSet(IvfPq.append(spark, quantized(corpus), ce, cb, m, subLen)))
    assert(!StreamingIvfPq.appendBatch(spark, state, corpus.limit(0),
      kc, m, subLen, kCb, 2L))
  }

  test("compact: one cell-partitioned generation, served identical, probe partition-pruned") {
    val base = Fixtures.tempDir("sivfpq-compact")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 60L, 0L), (60L, 130L, 1L), (130L, 2000L, 2L)))
      assert(StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), kc, m, subLen, kCb, bid))
    val before = codeSet(StreamingIvfPq.readIndex(spark, state).get._3)
    val queries = corpus.filter($"vec_id" >= 1000)
    val want = StreamingIvfPq.probe(spark, state, queries, k = 3, nProbe = 2,
      m, subLen).collect().map(_.toString).sorted.toSeq
    def vdirs() = liveCodes(state).list()
      .filter(_.startsWith("v")).sorted.toSeq
    assert(vdirs().size === 3)
    assert(StreamingIvfPq.compact(spark, state))
    assert(vdirs() === Seq(f"v${2L}%020d"))
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) === before)
    assert(!StreamingIvfPq.compact(spark, state)) // idempotent no-op
    // physical layout: the compacted generation is partitionBy(cell)
    val gen = new File(liveCodes(state), f"v${2L}%020d")
    assert(gen.listFiles().exists(_.getName.startsWith("cell=")),
      s"compacted dir is not cell-partitioned: ${gen.listFiles().toSeq}")
    // the probe plan prunes non-probed cells at the directory level
    val res = StreamingIvfPq.probe(spark, state, queries, k = 3, nProbe = 2,
      m, subLen)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      s"code scan is not partition-pruned:\n$plan")
    assert(res.collect().map(_.toString).sorted.toSeq === want)
    // replay of the frontier id still no-ops; appends continue on top
    assert(!StreamingIvfPq.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 130L), kc, m, subLen, kCb, 2L))
    assert(StreamingIvfPq.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 1000), kc, m, subLen, kCb, 3L))
    assert(vdirs().size === 2)
  }

  test("loss matrix: manifest, applog, and frozen-pair loss all fail loudly") {
    val base = Fixtures.tempDir("sivfpq-loss")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 100L, 0L), (100L, 1000L, 1L)))
      assert(StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), kc, m, subLen, kCb, bid))
    assert(StreamingIvfPq.compact(spark, state))
    def codes = liveCodes(state)
    // post-compaction append, then external loss of its dir: loud on
    // read, append (fail-fast), compact — the applog guard
    assert(StreamingIvfPq.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 1000), kc, m, subLen, kCb, 2L))
    val v2 = new File(codes, f"v${2L}%020d")
    val aside = new File(base.toFile, "v2-aside")
    assert(v2.renameTo(aside))
    for (op <- Seq(
        () => StreamingIvfPq.readIndex(spark, state),
        () => StreamingIvfPq.appendBatch(spark, state,
          corpus.filter($"vec_id" < 50), kc, m, subLen, kCb, 3L),
        () => StreamingIvfPq.compact(spark, state))) {
      val e = intercept[IllegalArgumentException] { op() }
      assert(e.getMessage.contains(f"v${2L}%020d") &&
        e.getMessage.contains("removed externally"))
    }
    assert(aside.renameTo(v2)) // the remedy: restore → recovered
    val full = codeSet(StreamingIvfPq.readIndex(spark, state).get._3)
    // manifest-covered loss: fold v2 under the manifest, delete the gen
    assert(StreamingIvfPq.compact(spark, state))
    Fixtures.deleteRec(new File(codes, f"v${2L}%020d"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingIvfPq.readIndex(spark, state)
    }
    assert(e2.getMessage.contains("compaction manifest") &&
      e2.getMessage.contains("removed externally"))
    assert(full.nonEmpty)
  }

  test("q_ann_ivfpq_served over sf0.001 equals the one-shot q_ann_ivfpq row for row") {
    // the fold ≡ one-shot contract end-to-end through the DRIVER
    // queries: the stored-state serving path must reproduce the
    // in-memory build's probe exactly (they share the SQL oracle)
    val served = graft.queries.VectorQueries.annIvfPqServed(spark, sfDir)
      .collect().map(_.toString).toSeq
    val oneShot = graft.queries.VectorQueries.annIvfPq(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(served === oneShot && served.nonEmpty)
  }

  test("frozen-pair loss: half-missing under the commit marker and fully-missing " +
      "both loud, never a re-seed; the seeding crash window re-seeds cleanly") {
    val base = Fixtures.tempDir("sivfpq-pairloss")
    val state = base.resolve("state").toString
    assert(StreamingIvfPq.appendBatch(spark, state, corpus, kc, m, subLen, kCb, 0L))
    // a frame missing UNDER the committed pair marker: certain
    // external loss (the marker is only created after both writes)
    Fixtures.deleteRec(new File(state, "quantizer/codebooks"))
    val e1 = intercept[IllegalArgumentException] {
      StreamingIvfPq.readIndex(spark, state)
    }
    assert(e1.getMessage.contains("partially removed externally"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" < 50), kc, m, subLen, kCb, 1L)
    }
    assert(e2.getMessage.contains("partially removed externally"))
    // the whole quantizer gone with codes still committed: loud, not
    // "no index yet" — a silent re-seed would encode future appends
    // against geometry the stored codes were not built with
    Fixtures.deleteRec(new File(state, "quantizer"))
    val e3 = intercept[IllegalArgumentException] {
      StreamingIvfPq.readIndex(spark, state)
    }
    assert(e3.getMessage.contains("quantizer is missing"))
    val e4 = intercept[IllegalArgumentException] {
      StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" < 50), kc, m, subLen, kCb, 1L)
    }
    assert(e4.getMessage.contains("quantizer is missing"))
    // the seeding CRASH WINDOW (review r14 — the case the single
    // marker exists for): frames written, marker not yet created,
    // no codes committed. Must read as "no index yet" and the replay
    // must re-seed identically, NOT wedge as half-loss.
    val state2 = base.resolve("state2").toString
    val b1 = corpus.filter($"vec_id" < 100)
    assert(StreamingIvfPq.appendBatch(spark, state2, b1, kc, m, subLen, kCb, 0L))
    val committed = codeSet(StreamingIvfPq.readIndex(spark, state2).get._3)
    Fixtures.deleteRec(new File(state2, "codes"))
    assert(new File(state2, "quantizer/_SUCCESS").delete())
    assert(StreamingIvfPq.readIndex(spark, state2).isEmpty,
      "the uncommitted quantizer must read as a virgin index")
    assert(StreamingIvfPq.appendBatch(spark, state2, b1, kc, m, subLen, kCb, 0L),
      "the replay must re-seed through the crash window")
    assert(codeSet(StreamingIvfPq.readIndex(spark, state2).get._3) === committed,
      "the re-seeded index must be identical (deterministic seeds)")
  }

  test("pointer mode: compaction publishes via one PTR rewrite, served codes " +
      "and probes identical to the one-shot encode") {
    // the object-store-safe generation layout of the IVF-PQ store —
    // the StreamingIvfSpec e2e is the deep walk; this pins layout
    // transparency for THIS index against the one-shot encode of the
    // applied batches under the frozen pair
    val baseDir = Fixtures.tempDir("sivfpq-ptr")
    val state = baseDir.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 80L, 0L), (80L, 150L, 1L)))
      assert(StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi),
        kc, m, subLen, kCb, bid))
    val (cents, cbs, _) = StreamingIvfPq.readIndex(spark, state).get
    def oneShot(hi: Long) =
      IvfPq.append(spark, quantized(corpus.filter($"vec_id" < hi)), cents, cbs, m, subLen)
    val codes = new File(state, "codes")
    def ptr() = java.nio.file.Files.readString(new File(codes, "PTR").toPath).trim
    assert(ptr() === "g0")
    assert(StreamingIvfPq.compact(spark, state))
    assert(ptr() === "g1")
    assert(new File(codes, "g0").exists(),
      "the superseded generation must survive the swap (reader grace " +
        "window, ADVICE r15) until the next writer-entry GC")
    assert(new File(codes, "g1").list().filter(_.startsWith("v")).toSeq ===
      Seq(f"v${1L}%020d"))
    // layout transparency: served codes and probes identical
    val want = oneShot(150L)
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) === codeSet(want))
    val qs = corpus.filter($"vec_id" < 8)
    assert(StreamingIvfPq.probe(spark, state, qs, k = 5, nProbe = 2, m, subLen,
        excludeSelf = true).collect().map(_.toString).sorted.toSeq ===
      IvfPq.probe(spark, cents, cbs, want,
        quantized(qs).select(col("vec_id").as("q_id"), col("qv")),
        k = 5, nProbe = 2, m, subLen, excludeSelf = true)
        .collect().map(_.toString).sorted.toSeq)
    // appends continue into the published generation and stay equal
    assert(StreamingIvfPq.appendBatch(spark, state,
      corpus.filter($"vec_id" >= 150L), kc, m, subLen, kCb, 2L))
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) ===
      codeSet(oneShot(Long.MaxValue)))
    // the next compaction's writer-entry GC collects the grace window
    assert(StreamingIvfPq.compact(spark, state))
    assert(ptr() === "g2")
    assert(!new File(codes, "g0").exists(),
      "the grace-window generation must fall to the writer-entry GC")
    assert(new File(codes, "g1").exists(),
      "g1 is the new grace window after the second swap")
  }

  test("randomized drain/compact/crash/loss walk in POINTER mode: same walk, " +
      "same seed — stale unpublished targets, grace windows, and entry GC " +
      "compose with the quantizer-pair and chain-loss states") {
    // The layout's crash states (partial `g<k+1>` targets planted
    // before a third of the compactions, the moved-PTR-with-kept-
    // predecessor state after every swap, stale-generation GC at
    // writer entry) composed into the seeded fuzz rather than pinned
    // once each.
    pqFuzzWalk()
  }

  private def pqFuzzWalk(): Unit = {
    // The StreamingIvfSpec composition fuzz ported to the IVF-PQ
    // store (VERDICT r14 #6), with the states only THIS index has
    // composed in: the frozen-PAIR loss pair (commit marker without a
    // frame, frames without the marker) and the r15 dense-chain moves
    // (empty batches logging s-markers). 30 seeded steps interleave
    // appends, crashed appends, replays, compactions, benign applog
    // under-log, external generation loss, and quantizer-pair damage
    // — asserting after EVERY step that the served code table is
    // exactly the one-shot encode of the applied batches against the
    // frozen pair, and that unrestored loss is loud naming its victim.
    val base = Fixtures.tempDir("sivfpq-fuzz-ptr")
    val state = base.resolve("state").toString
    val codesBase = new File(state, "codes")
    // file-level drills target the LIVE generation (PTR-resolved per
    // use — compactions move it)
    def codesDir: File = liveCodes(state)
    def batchOf(id: Long) =
      corpus.filter($"vec_id" >= id * 5 && $"vec_id" < (id + 1) * 5)
    def unionOf(ids: Seq[Long]) =
      ids.map(batchOf).reduce(_ unionByName _)
    var applied = Vector.empty[Long]
    var nextId = 0L
    // the WAL can only re-deliver the LAST delivered id — which may be
    // an EMPTY batch (case 6): track it with its content, because a
    // compaction names its generation at the true frontier and earlier
    // non-empty ids' dirs legitimately stop existing after it (replaying
    // THOSE would re-append — a move only the WAL's last-id rule rules
    // out, so the fuzz must not make it)
    var lastId = 0L
    var lastBatch: org.apache.spark.sql.DataFrame = batchOf(0)
    def checkServed(): Unit = {
      val (cents, cbs, codes) = StreamingIvfPq.readIndex(spark, state).get
      val want = codeSet(IvfPq.append(spark, quantized(unionOf(applied)),
        cents, cbs, m, subLen))
      assert(codeSet(codes) === want,
        s"served codes diverge from the applied union $applied")
    }
    assert(StreamingIvfPq.appendBatch(spark, state, batchOf(0),
      kc, m, subLen, kCb, 0L))
    applied :+= 0L; nextId = 1L
    val rnd = new scala.util.Random(20260815)
    for (step <- 1 to 30) {
      rnd.nextInt(9) match {
        case 0 => // plain append
          assert(StreamingIvfPq.appendBatch(spark, state, batchOf(nextId),
            kc, m, subLen, kCb, nextId))
          applied :+= nextId; lastId = nextId; lastBatch = batchOf(nextId)
          nextId += 1
        case 1 => // crashed append (partial, uncommitted) → replay completes
          val d = new File(codesDir, f"v$nextId%020d"); d.mkdirs()
          new File(d, "part-junk").createNewFile()
          checkServed() // the partial is invisible
          assert(StreamingIvfPq.appendBatch(spark, state, batchOf(nextId),
            kc, m, subLen, kCb, nextId))
          applied :+= nextId; lastId = nextId; lastBatch = batchOf(nextId)
          nextId += 1
        case 2 => // replay of the LAST DELIVERED id (the only one the
                  // WAL can re-deliver — possibly an empty batch): no-op
          assert(!StreamingIvfPq.appendBatch(spark, state,
            lastBatch, kc, m, subLen, kCb, lastId))
        case 3 => // compaction (no-ops when ≤1 committed dir). A third
                  // of the time, first plant a crashed earlier
                  // compaction's partial unpublished target — invisible
                  // to reads, clobbered by the entry GC
          if (rnd.nextInt(3) == 0) {
            val next = new File(codesBase,
              "g" + (codesDir.getName.drop(1).toLong + 1))
            new File(next, "junk-partial").mkdirs()
            checkServed() // the stale target is invisible
          }
          StreamingIvfPq.compact(spark, state)
        case 4 => // benign under-log window: replay re-logs the entry —
                  // only legal for the LAST delivered id (WAL contract)
          if (lastId == applied.lastOption.getOrElse(-1L)) {
            val f = new File(new File(codesDir, "applog"), f"v$lastId%020d")
            if (f.exists()) {
              assert(f.delete())
              checkServed()
              assert(!StreamingIvfPq.appendBatch(spark, state,
                lastBatch, kc, m, subLen, kCb, lastId))
              assert(f.exists(), s"step $step: replay did not re-log the entry")
            }
          }
        case 5 => // external loss of a RANDOM committed generation:
                  // loud everywhere naming it; restore recovers
          val gens = codesDir.listFiles().filter(f =>
            f.isDirectory && f.getName.startsWith("v"))
          val victim = gens(rnd.nextInt(gens.length))
          val aside = new File(base.toFile, s"aside-$step")
          assert(victim.renameTo(aside))
          for (op <- Seq(
              () => StreamingIvfPq.readIndex(spark, state),
              () => StreamingIvfPq.appendBatch(spark, state,
                batchOf(nextId), kc, m, subLen, kCb, nextId),
              () => StreamingIvfPq.compact(spark, state))) {
            val e = intercept[IllegalArgumentException] { op() }
            assert(e.getMessage.contains(victim.getName) &&
              e.getMessage.contains("externally"),
              s"step $step: loss of ${victim.getName} not loud: ${e.getMessage}")
          }
          assert(aside.renameTo(victim))
        case 6 => // empty batch: a logged no-op (the r15 dense chain)
          assert(!StreamingIvfPq.appendBatch(spark, state,
            corpus.limit(0), kc, m, subLen, kCb, nextId))
          assert(new File(new File(codesDir, "applog"),
            f"s$nextId%020d").exists(),
            s"step $step: empty batch id $nextId not skip-logged")
          lastId = nextId; lastBatch = corpus.limit(0)
          nextId += 1
        case 7 => // frozen-pair damage: half-missing frame under the
                  // commit marker, then marker loss with codes live —
                  // both loud, then restored
          val q = new File(state, "quantizer")
          val cbsDir = new File(q, "codebooks")
          val aside = new File(base.toFile, s"cbs-aside-$step")
          assert(cbsDir.renameTo(aside))
          val e1 = intercept[IllegalArgumentException] {
            StreamingIvfPq.readIndex(spark, state)
          }
          assert(e1.getMessage.contains("partially removed externally"),
            s"step $step: half-missing pair not loud: ${e1.getMessage}")
          assert(aside.renameTo(cbsDir))
          val marker = new File(q, "_SUCCESS")
          assert(marker.delete())
          val e2 = intercept[IllegalArgumentException] {
            StreamingIvfPq.readIndex(spark, state)
          }
          assert(e2.getMessage.contains("quantizer is missing"),
            s"step $step: marker loss with live codes not loud: ${e2.getMessage}")
          assert(marker.createNewFile())
        case 8 => // SUFFIX co-loss: top append generation + marker gone
                  // together — loud via FRONTIER (StreamingIvfSpec case)
          val tops = codesDir.listFiles().filter(f =>
            f.isDirectory && f.getName.startsWith("v")).map(_.getName).sorted
          val top = tops.last
          val marker = new File(new File(codesDir, "applog"), top)
          // skip the manifest-named compacted generation (its loss is
          // the manifest check's drill — StreamingIvfSpec rationale)
          val mf = new File(codesDir, "MANIFEST")
          val isManifestGen = mf.exists() &&
            java.nio.file.Files.readString(mf.toPath).trim == top
          if (marker.exists() && !isManifestGen) {
            val dAside = new File(base.toFile, s"sfx-$step")
            val mAside = new File(base.toFile, s"sfxm-$step")
            assert(new File(codesDir, top).renameTo(dAside))
            assert(marker.renameTo(mAside))
            val e = intercept[IllegalArgumentException] {
              StreamingIvfPq.readIndex(spark, state)
            }
            // loud either way: as SUFFIX loss (FRONTIER unreached) when
            // top is the max logged id, or as an INTERIOR hole when an
            // empty batch's s-marker sits above it in the dense chain
            assert(e.getMessage.contains("suffix") ||
              e.getMessage.contains("removed together externally"),
              s"step $step: co-loss of $top not loud: ${e.getMessage}")
            assert(dAside.renameTo(new File(codesDir, top)))
            assert(mAside.renameTo(marker))
          }
      }
      checkServed()
    }
    // settle: a final compaction and one more append keep serving the
    // union; the post-swap crash shape (moved PTR + undeleted
    // predecessor = the grace window) and its collection by the next
    // writer-entry GC are pinned too
    if (StreamingIvfPq.compact(spark, state)) {
      val live = codesDir
      val prev = new File(codesBase, "g" + (live.getName.drop(1).toLong - 1))
      assert(prev.exists(),
        "the superseded generation must survive the swap (grace window)")
      checkServed()
      assert(StreamingIvfPq.appendBatch(spark, state, batchOf(nextId),
        kc, m, subLen, kCb, nextId))
      applied :+= nextId; nextId += 1
      checkServed()
      assert(StreamingIvfPq.compact(spark, state))
      assert(!prev.exists(),
        "the old grace window must fall to the writer-entry GC")
    }
    assert(StreamingIvfPq.appendBatch(spark, state, batchOf(nextId),
      kc, m, subLen, kCb, nextId))
    applied :+= nextId
    checkServed()
  }

  test("trained-codebook seeding (pqRounds > 0): fold remains bit-identical " +
      "to the one-shot encode against the trained frozen pair; training " +
      "moved the codebooks; re-seeding is deterministic") {
    // VERDICT r14 #5: the batch path's trainedCodebooks brought to the
    // streamed seeder — the first batch trains per-subspace Lloyd
    // rounds on its residuals before the pair freezes. The append
    // contract is unchanged: fold ≡ one-shot encode is a property of
    // WHATEVER frozen pair was committed.
    val base = Fixtures.tempDir("sivfpq-trained")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 80L, 0L), (80L, 2000L, 1L)))
      assert(StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi),
        kc, m, subLen, kCb, bid, pqRounds = 2))
    val (cents, cbs, codes) = StreamingIvfPq.readIndex(spark, state).get
    // fold ≡ one-shot against the SAME (trained) frozen pair
    assert(codeSet(codes) ===
      codeSet(IvfPq.append(spark, quantized(corpus), cents, cbs, m, subLen)))
    // training actually moved the codebooks away from the seed rule
    val seedState = base.resolve("seed").toString
    assert(StreamingIvfPq.appendBatch(spark, seedState,
      corpus.filter($"vec_id" < 80), kc, m, subLen, kCb, 0L))
    val seedCbs = StreamingIvfPq.readQuantizer(spark, seedState).get._2
      .collect().map(_.toString).sorted.toSeq
    assert(cbs.collect().map(_.toString).sorted.toSeq !== seedCbs,
      "pqRounds = 2 must produce different codebooks than the seed rule")
    // deterministic re-seed: a twin state fed the same first batch at
    // the same pqRounds freezes the identical pair (the crash-window
    // replay contract)
    val twin = base.resolve("twin").toString
    assert(StreamingIvfPq.appendBatch(spark, twin,
      corpus.filter($"vec_id" < 80), kc, m, subLen, kCb, 0L, pqRounds = 2))
    val twinCbs = StreamingIvfPq.readQuantizer(spark, twin).get._2
      .collect().map(_.toString).sorted.toSeq
    assert(cbs.collect().map(_.toString).sorted.toSeq === twinCbs,
      "trained seeding must be a deterministic function of the seed batch")
    // a HIGH-ID first batch (all vec_ids >> kCb) still trains a
    // non-empty codebook (review r15: KMeans seeded by id RANGE, so
    // such a batch froze an EMPTY codebook forever; now lowest-k)
    val high = base.resolve("high").toString
    assert(StreamingIvfPq.appendBatch(spark, high,
      corpus.filter($"vec_id" >= 1000), kc, m, subLen, kCb, 0L, pqRounds = 1))
    val (hCents, hCbs, hCodes) = StreamingIvfPq.readIndex(spark, high).get
    assert(hCbs.count() > 0, "high-id seed batch must train a non-empty codebook")
    assert(codeSet(hCodes) === codeSet(IvfPq.append(spark,
      quantized(corpus.filter($"vec_id" >= 1000)), hCents, hCbs, m, subLen)))
    // probes from the trained index remain the in-memory probe of the
    // same frozen pair, row for row
    val qs = corpus.filter($"vec_id" < 8)
    val got = StreamingIvfPq.probe(spark, state, qs, k = 5, nProbe = 2,
      m, subLen, excludeSelf = true).collect().map(_.toString).sorted.toSeq
    val want = IvfPq.probe(spark, cents, cbs, codes,
      quantized(qs).select(col("vec_id").as("q_id"), col("qv")),
      5, 2, m, subLen, excludeSelf = true)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }

  test("freeze-time degeneracy guard: collapsed seed codebooks refuse to " +
      "freeze, naming the pqRounds remedy; the remedy works on the same " +
      "config; an all-zero-residual batch stays legal") {
    // VERDICT r15 #2: the 1M ablation's matched-coarse failure
    // (PLANS.md — pqRounds=0 seed codebooks collapsed at the origin,
    // ADC recall 0.000, served SILENTLY) made an enforced freeze-time
    // guard. Cheapest deterministic instantiation of the regime:
    // kCb <= kc puts every codebook seed row AT a centroid (its own
    // nearest, residual exactly zero) while the rest of the batch
    // carries real residual energy.
    val base = Fixtures.tempDir("sivfpq-degen")
    val state = base.resolve("state").toString
    val e = intercept[IllegalArgumentException] {
      StreamingIvfPq.appendBatch(spark, state, corpus, kc, m, subLen,
        kCb = kc, batchId = 0L)
    }
    assert(e.getMessage.contains("DEGENERATE") &&
      e.getMessage.contains("pqRounds >= 1"), e.getMessage)
    // nothing froze: no committed quantizer, no committed codes, no
    // consumed batch id — the replay re-attempts (and refuses again)
    assert(StreamingIvfPq.readIndex(spark, state).isEmpty)
    val e2 = intercept[IllegalArgumentException] {
      StreamingIvfPq.appendBatch(spark, state, corpus, kc, m, subLen,
        kCb = kc, batchId = 0L)
    }
    assert(e2.getMessage.contains("DEGENERATE"))
    // the named remedy on the SAME corpus and geometry: Lloyd-trained
    // codebooks have residual energy, freeze, fold, and serve
    assert(StreamingIvfPq.appendBatch(spark, state, corpus, kc, m, subLen,
      kCb = kc, batchId = 0L, pqRounds = 1))
    val (cents, cbs, codes) = StreamingIvfPq.readIndex(spark, state).get
    assert(codeSet(codes) ===
      codeSet(IvfPq.append(spark, quantized(corpus), cents, cbs, m, subLen)))
    assert(StreamingIvfPq.probe(spark, state,
      corpus.filter($"vec_id" >= 1000), k = 3, nProbe = 2, m, subLen)
      .count() > 0)
    // all-zero-residual batch — the corpus IS the centroid set, so
    // zero codebooks are EXACT, not degenerate: the guard must not
    // false-alarm (it would otherwise brick every corpus that
    // legitimately sits on its quantizer)
    val state2 = base.resolve("state2").toString
    assert(StreamingIvfPq.appendBatch(spark, state2,
      corpus.filter($"vec_id" < kc), kc, m, subLen, kCb = kc, batchId = 0L))
    assert(StreamingIvfPq.readIndex(spark, state2).isDefined)
    // the driver-oracle geometry (kCb > kc: codebook seeds include
    // non-centroid rows with real residuals) is unaffected — pinned
    // by every other case in this suite at (kc=8, kCb=16).
  }

  test("compact: a concurrent append between listing and swap aborts loudly; " +
      "the appended generation and its applog marker survive; the next " +
      "clean compact folds it") {
    // VERDICT r14 #1 (the StreamingIvfSpec twin for the IVF-PQ store)
    val base = Fixtures.tempDir("sivfpq-ccg")
    val state = base.resolve("state").toString
    for ((lo, hi, bid) <- Seq((0L, 80L, 0L), (80L, 150L, 1L)))
      assert(StreamingIvfPq.appendBatch(spark, state,
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi),
        kc, m, subLen, kCb, bid))
    def codes = liveCodes(state)
    def vdirs() = codes.list().filter(_.startsWith("v")).sorted.toSeq
    val e = intercept[RuntimeException] {
      StreamingIvfPq.compactImpl(spark, state, () => {
        assert(StreamingIvfPq.appendBatch(spark, state,
          corpus.filter($"vec_id" >= 150L), kc, m, subLen, kCb, 2L))
      })
    }
    assert(e.getMessage.contains("concurrent writer") &&
      e.getMessage.contains(f"v${2L}%020d"), e.getMessage)
    assert(vdirs() === (0L to 2L).map(i => f"v$i%020d"))
    assert(new File(new File(codes, "applog"), f"v${2L}%020d").exists(),
      "the concurrent append's applog evidence must survive the abort")
    assert(!new File(state, "codes/g1").exists(),
      "the aborted rewrite must be discarded")
    // nothing lost: the served code table is the one-shot encode of
    // the full corpus against the frozen pair
    val (cents, cbs, served) = StreamingIvfPq.readIndex(spark, state).get
    val want = codeSet(IvfPq.append(spark, quantized(corpus), cents, cbs, m, subLen))
    assert(codeSet(served) === want)
    // the next clean compaction folds all three generations
    assert(StreamingIvfPq.compact(spark, state))
    assert(vdirs() === Seq(f"v${2L}%020d"))
    assert(codeSet(StreamingIvfPq.readIndex(spark, state).get._3) === want)
  }
}
