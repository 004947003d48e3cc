package graft

import org.apache.spark.sql.functions._

import graft.sink.Compactor

class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(dir: String): Seq[String] =
    Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq

  test("compaction: many small files → few, data identical") {
    val dir = Fixtures.tempDir("compact").resolve("t").toString
    // simulate 40 tiny incremental loads
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(40).write.parquet(Compactor.writeDir(spark, dir))
    assert(Compactor.fileCount(spark, dir) >= 10) // AQE may coalesce some
    val before = rows(dir)

    val n = Compactor.compact(spark, dir, targetRowsPerFile = 20)
    assert(n == 2, s"expected 2 files, got $n")
    assert(rows(dir) == before)
  }

  test("compaction preserves Hive partition layout") {
    val dir = Fixtures.tempDir("compactpart").resolve("t").toString
    (1 to 100).map(i => (s"2025-05-${"%02d".format(i % 4 + 1)}", i.toLong))
      .toDF("date", "id")
      .repartition(20).write.partitionBy("date").parquet(Compactor.writeDir(spark, dir))
    assert(Compactor.fileCount(spark, dir) > 4) // recursive count sees them
    val before = rows(dir)

    Compactor.compact(spark, dir, targetRowsPerFile = 50,
      partitionBy = Seq("date"))
    // date= directories survive in the new live generation and
    // partition discovery still works
    val live = new org.apache.hadoop.fs.Path(Compactor.writeDir(spark, dir))
    val dirs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(live).filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.count(_.startsWith("date=")) == 4, dirs.mkString(","))
    assert(rows(dir) == before)
  }

  test("cluster-by compaction sorts within files for stats pruning") {
    val dir = Fixtures.tempDir("cluster").resolve("t").toString
    val rnd = new scala.util.Random(3)
    (1 to 1000).map(_ => (rnd.nextInt(1000).toLong, "x")).toDF("k", "v")
      .repartition(10).write.parquet(Compactor.writeDir(spark, dir))
    Compactor.compact(spark, dir, targetRowsPerFile = 500, clusterBy = Seq("k"))
    // range partitioning: per-file key ranges must not overlap
    val ranges = Compactor.read(spark, dir)
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    for (Seq((_, hi1), (lo2, _)) <- ranges.toSeq.sliding(2))
      assert(hi1 <= lo2, s"file ranges overlap: $ranges")
  }

  test("a concurrent append during a healthy compact aborts loudly and survives") {
    // VERDICT r13 #2: rows are read at compact entry and the swap
    // REPLACES the live dir — a file appended by the daily ingest
    // between the read and the swap was silently dropped. The
    // optimistic pre-swap listing re-check turns that into a loud
    // abort with the appended rows intact and only the rewrite
    // discarded.
    import java.io.File
    val dir = Fixtures.tempDir("compactrace").resolve("t").toString
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.parquet(Compactor.writeDir(spark, dir))
    val before = rows(dir)
    val e = intercept[RuntimeException] {
      Compactor.compactImpl(spark, dir, targetRowsPerFile = 20, Nil, Nil,
        beforeSwap = () =>
          Seq((999L, "landed-mid-compact")).toDF("id", "v")
            .write.mode("append").parquet(Compactor.writeDir(spark, dir)))
    }
    assert(e.getMessage.contains("changed during the rewrite") &&
      e.getMessage.contains("no-writer maintenance slot"))
    // the concurrent write survives, the rewrite was discarded
    val after = rows(dir)
    assert(after.size === before.size + 1)
    assert(after.contains("[999,landed-mid-compact]"))
    assert(!new File(dir, "g1").exists())
    // the next compact (no concurrent writer this time) succeeds and
    // keeps every row including the mid-compact append
    assert(Compactor.compact(spark, dir, targetRowsPerFile = 41) === 1)
    assert(rows(dir) === after)
  }

  test("pointer mode: compaction publishes via one PTR rewrite, data identical; " +
      "stale targets invisible and GC'd; the concurrency guard aborts loudly; " +
      "a non-virgin dir is refused") {
    // The StateFs generation layout for TABLE compaction — the same
    // rationale as the index stores (on an object store a directory
    // rename is a per-object copy, non-atomic).
    import java.io.File
    val dir = Fixtures.tempDir("compact-ptr").resolve("t").toString
    // writers resolve the live generation per job (the writer
    // discipline — header scaladoc); the first one publishes PTR=g0
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(40).write.mode("append")
      .parquet(Compactor.writeDir(spark, dir))
    assert(Compactor.fileCount(spark, dir) >= 10)
    val before = Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq
    def ptr(): String =
      java.nio.file.Files.readString(new File(dir, "PTR").toPath).trim
    assert(ptr() === "g0")
    // a stale partial target from a crashed compaction is invisible
    // to reads (they follow PTR) and clobbered by the entry GC
    assert(new File(new File(dir), "g1/junk").mkdirs())
    assert(Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq
      === before)
    val n = Compactor.compact(spark, dir, targetRowsPerFile = 20)
    assert(n === 2, s"expected 2 files, got $n")
    assert(ptr() === "g1")
    assert(new File(dir, "g0").exists(),
      "the superseded generation must survive the swap (reader grace window)")
    assert(Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq
      === before)
    // the concurrency guard in pointer mode: the abort discards ONLY
    // the staged generation; PTR never moves; the concurrent append
    // (in the live generation) survives
    val e = intercept[RuntimeException] {
      Compactor.compactImpl(spark, dir, targetRowsPerFile = 20, Nil, Nil,
        beforeSwap = () =>
          Seq((999L, "landed-mid-compact")).toDF("id", "v")
            .write.mode("append").parquet(Compactor.writeDir(spark, dir)))
    }
    assert(e.getMessage.contains("changed during the rewrite") &&
      e.getMessage.contains("no-writer maintenance slot"))
    assert(ptr() === "g1")
    assert(!new File(dir, "g2").exists(),
      "the aborted target generation must be discarded")
    val after = Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(after.size === before.size + 1 &&
      after.contains("[999,landed-mid-compact]"))
    // the next clean compact publishes g2; the old grace window (g0)
    // falls to its entry GC and g1 becomes the new grace window
    assert(Compactor.compact(spark, dir, targetRowsPerFile = 41) === 1)
    assert(ptr() === "g2")
    assert(!new File(dir, "g0").exists() && new File(dir, "g1").exists())
    assert(Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq
      === after)
    // a non-virgin plain-layout table is refused loudly, never
    // converted: its files would be invisible to PTR-following readers
    val dir2 = Fixtures.tempDir("compact-ptr2").resolve("t").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir2)
    val e2 = intercept[RuntimeException](Compactor.writeDir(spark, dir2))
    assert(e2.getMessage.contains("leftover rename layout"), e2.getMessage)
  }

  test("pointer-mode randomized walk: appends, compactions, planted crash " +
      "states, orphan tmp files, and concurrent aborts interleaved — reads " +
      "always serve the full union, never a torn generation") {
    // The layout's own composition walk — the directed case above
    // pins each state once, here 30 seeded steps interleave them: out-of-band appends
    // through writeDir, compactions, stale unpublished targets
    // planted before compactions, orphan `PTR.tmp` files (the crash
    // between writeFileAtomic's create and rename, collected by the
    // entry GC since r16), and concurrent-append aborts through the
    // pre-swap seam. After every step a read must serve exactly the
    // accumulated union.
    import java.io.File
    val dir = Fixtures.tempDir("compact-ptr-fuzz").resolve("t").toString
    def ptr(): String =
      java.nio.file.Files.readString(new File(dir, "PTR").toPath).trim
    var expected = Vector.empty[String]
    var nextRow = 0L
    def append(n: Int): Unit = {
      val rows = (0 until n).map { _ => nextRow += 1; (nextRow, s"r$nextRow") }
      rows.toDF("id", "v").coalesce(1).write.mode("append")
        .parquet(Compactor.writeDir(spark, dir))
      expected ++= rows.map { case (i, v) => s"[$i,$v]" }
    }
    def checkRead(): Unit =
      assert(Compactor.read(spark, dir).collect().map(_.toString).sorted.toSeq
        === expected.sorted, "read diverges from the accumulated union")
    append(4)
    val rnd = new scala.util.Random(20260817)
    val fired = scala.collection.mutable.Set.empty[Int]
    for (step <- 1 to 30) {
      val c = rnd.nextInt(5)
      fired += c
      c match {
        case 0 => // out-of-band append, writer discipline: resolve per job
          append(1 + rnd.nextInt(3))
        case 1 => // compaction publishes one PTR move; the superseded
                  // generation survives as the reader grace window
          val liveGen = ptr()
          assert(Compactor.compact(spark, dir, targetRowsPerFile = 1000) === 1)
          assert(ptr() != liveGen, "compact must publish a new generation")
          assert(new File(dir, liveGen).exists(),
            s"step $step: $liveGen must survive as the grace window")
        case 2 => // a crashed compaction's partial unpublished target:
                  // invisible to reads, clobbered by the next entry GC
          val next = new File(dir, "g" + (ptr().drop(1).toLong + 1))
          assert(new File(next, "junk-partial").mkdirs())
          checkRead()
          assert(Compactor.compact(spark, dir, targetRowsPerFile = 1000) === 1)
          assert(!new File(next, "junk-partial").exists(),
            s"step $step: the entry GC must clobber the stale target")
        case 3 => // orphan tmp FILE under the base (crash between
                  // writeFileAtomic's create and rename): invisible,
                  // collected by the next compact's entry GC
          val orphan = new File(dir, "PTR.tmp")
          val w = new java.io.FileWriter(orphan)
          try w.write("g999") finally w.close()
          checkRead()
          assert(Compactor.compact(spark, dir, targetRowsPerFile = 1000) === 1)
          assert(!orphan.exists(),
            s"step $step: the entry GC must collect the orphan tmp file")
        case 4 => // concurrent append mid-compact: loud abort, PTR
                  // unmoved, ONLY the staged generation discarded, the
                  // concurrent rows intact
          val liveGen = ptr()
          val e = intercept[RuntimeException] {
            Compactor.compactImpl(spark, dir, targetRowsPerFile = 1000,
              Nil, Nil, beforeSwap = () => append(1))
          }
          assert(e.getMessage.contains("changed during the rewrite"),
            s"step $step: ${e.getMessage}")
          assert(ptr() === liveGen, "an aborted compact must not move PTR")
          assert(!new File(dir, "g" + (liveGen.drop(1).toLong + 1)).exists(),
            s"step $step: the aborted target generation must be discarded")
      }
      checkRead()
      // never more than live + one grace window, and no stray tmp dirs
      // once a compaction has run this step
      val gens = Option(new File(dir).list()).getOrElse(Array.empty)
        .filter(_.startsWith("g")).sorted
      assert(gens.contains(ptr()), s"step $step: PTR names a missing gen")
    }
    assert(fired === Set(0, 1, 2, 3, 4),
      s"the seed must exercise every walk case, got $fired — rotate it")
    // tail: one clean compact collects everything stale; exactly the
    // live generation and its grace window remain
    assert(Compactor.compact(spark, dir, targetRowsPerFile = 1000) === 1)
    checkRead()
    val gens = Option(new File(dir).list()).getOrElse(Array.empty)
      .filter(f => f.startsWith("g") && new File(dir, f).isDirectory).sorted
    assert(gens.length === 2 && gens.last === ptr(),
      s"expected live + grace window only, got ${gens.mkString(",")}")
  }

  test("grace-window contract: a reader's resolved generation survives ONE " +
      "compaction but not two") {
    // The one-generation contract (StateFs.pointerSwap scaladoc)
    // pinned: a reader that resolved the live generation keeps it
    // through the next swap (the grace window) but loses it to the
    // writer-entry GC of the compaction after that.
    import java.io.File
    val d1 = Fixtures.tempDir("grace-default").resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(Compactor.writeDir(spark, d1))
    // the reader's generation is gone after the SECOND compaction — a
    // scan must not span two
    val readerGen = new File(Compactor.writeDir(spark, d1)) // resolves g0
    assert(Compactor.compact(spark, d1, targetRowsPerFile = 1000) === 1)
    assert(readerGen.exists(), "g0 must survive the first swap (grace window)")
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(Compactor.writeDir(spark, d1))
    assert(Compactor.compact(spark, d1, targetRowsPerFile = 1000) === 1)
    assert(!readerGen.exists(),
      "the second compaction's entry GC collects the reader's generation " +
        "— the documented loss mode of a scan spanning two compactions")
  }

  test("schema evolution: mergeSchema unions batch schemas") {
    val dir = Fixtures.tempDir("evolve").resolve("t").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("append")
      .parquet(Compactor.writeDir(spark, dir))
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.mode("append")
      .parquet(Compactor.writeDir(spark, dir))
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(Compactor.writeDir(spark, dir))
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old batch: null
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }
}
