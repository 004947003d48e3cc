package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import graft.util.{AppendLog, StateFs}

/** Direct unit coverage of the shared state-layout primitives — they
  * are otherwise exercised only THROUGH the operators (Bm25IndexSpec /
  * StreamingIvfSpec / CompactionSpec crash walks). Each primitive's
  * contract is pinned in isolation, so an operator-spec failure can be
  * bisected to "operator logic" vs "layout machinery".
  */
class StateFsSpec extends SparkTestBase {

  private def fsFor(p: Path) = StateFs.fs(spark, p)

  private def mk(p: Path): Path = {
    val fs = fsFor(p)
    fs.mkdirs(p); p
  }

  private def touch(dir: Path, name: String, content: String = ""): Unit = {
    val fs = fsFor(dir)
    val out = fs.create(new Path(dir, name), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("committedVDirs: only _SUCCESS-committed v* child dirs, name-sorted") {
    val base = new Path(Fixtures.tempDir("statefs-vdirs").toString)
    val fs = fsFor(base)
    val v1 = mk(new Path(base, "v00000000000000000001")); touch(v1, "_SUCCESS")
    val v0 = mk(new Path(base, "v00000000000000000000")); touch(v0, "_SUCCESS")
    mk(new Path(base, "v00000000000000000002")) // uncommitted: no _SUCCESS
    mk(new Path(base, "other"))                 // non-v dir
    touch(base, "MANIFEST", "v00000000000000000001") // plain file ignored
    assert(StateFs.committedVDirs(fs, base).map(_.getName) ===
      Seq("v00000000000000000000", "v00000000000000000001"))
    assert(StateFs.committedVDirs(fs, new Path(base, "absent")).isEmpty)
  }

  test("writeFolded records the folded dir names; a plain generation has no marker") {
    val base = new Path(Fixtures.tempDir("statefs-folded").toString)
    val fs = fsFor(base)
    val gen = mk(new Path(base, "v0"))
    StateFs.writeFolded(fs, gen, Seq("a", "b", "c"))
    assert(StateFs.readString(fs, new Path(gen, "_COMPACTED")) === "a\nb\nc")
    assert(!fs.exists(new Path(mk(new Path(base, "v1")), "_COMPACTED")))
  }

  test("writeFileAtomic overwrites an existing target in place") {
    val base = new Path(Fixtures.tempDir("statefs-atomic").toString)
    val fs = fsFor(base)
    mk(base)
    val target = new Path(base, "CURRENT")
    StateFs.writeFileAtomic(spark, target, "v1")
    assert(StateFs.readString(fs, target) === "v1")
    StateFs.writeFileAtomic(spark, target, "v2") // plain rename cannot overwrite
    assert(StateFs.readString(fs, target) === "v2")
    assert(!fs.exists(new Path(base, "CURRENT.tmp")))
  }

  test("pointer mode: enable/resolve; virgin-only conversion; the swap is " +
      "one PTR rewrite and every crash state is read-safe with zero repair") {
    // No directory rename is load-bearing, so the crash matrix needs
    // no heals: a partial unpublished target serves the old
    // generation, a published pointer with an undeleted previous
    // generation serves the new one, stale generations fall to the
    // writer-entry GC.
    val base = new Path(Fixtures.tempDir("statefs-ptr").resolve("s").toString)
    val fs = fsFor(base)
    // a virgin base resolves to g0 and a reader creates nothing
    val g0 = new Path(base, "g0")
    assert(StateFs.resolveLive(fs, base) === g0)
    assert(!fs.exists(base))
    // the first writer publishes PTR=g0 before any generation exists
    assert(StateFs.openLive(spark, base) === g0)
    assert(StateFs.readString(fs, new Path(base, "PTR")) === "g0" && !fs.exists(g0))
    assert(StateFs.openLive(spark, base) === g0) // idempotent
    // a "stream" writes a committed generation into the live tree
    mk(g0); val v0 = mk(new Path(g0, "v0")); touch(v0, "_SUCCESS"); touch(v0, "data", "a")
    // crash state 1: a compaction staged the next generation but died
    // before publishing — readers still resolve the old one
    val g1 = mk(new Path(base, "g1")); touch(g1, "partial", "junk")
    assert(StateFs.resolveLive(fs, base) === g0)
    // writer-entry GC collects the stale target
    StateFs.gcStaleGens(fs, base, "g0")
    assert(!fs.exists(g1) && fs.exists(new Path(v0, "data")))
    // a clean pointer swap: stage g1, publish — the previous
    // generation is KEPT as the in-flight-reader grace window
    // (ADVICE r15: an inline delete yanked files out from under a
    // reader that resolved g0 just before the swap) and falls to the
    // next writer-entry GC
    val g1b = mk(new Path(base, "g1"))
    val v1 = mk(new Path(g1b, "v1")); touch(v1, "_SUCCESS"); touch(v1, "data", "b")
    StateFs.pointerSwap(spark, base, g1b)
    assert(StateFs.resolveLive(fs, base) === g1b)
    assert(fs.exists(new Path(v0, "data")),
      "the superseded generation must survive the swap (reader grace window)")
    StateFs.gcStaleGens(fs, base, "g1")
    assert(!fs.exists(g0) && fs.exists(new Path(v1, "data")))
    // crash state 2: pointer moved manually (the swap-without-GC shape
    // is now also the NORMAL post-swap state) — readers follow the
    // pointer; the stale prev is GC'd at the next writer entry
    val g2 = mk(new Path(base, "g2"))
    val v2 = mk(new Path(g2, "v2")); touch(v2, "_SUCCESS"); touch(v2, "data", "c")
    StateFs.writeFileAtomic(spark, new Path(base, "PTR"), "g2") // swap w/o delete
    assert(StateFs.resolveLive(fs, base) === g2)
    // ...and an orphan PTR.tmp from a crashed atomic write is cleaned
    // by the same GC (ADVICE r15: nothing else ever removed it)
    touch(base, "PTR.tmp", "orphan")
    StateFs.gcStaleGens(fs, base, "g2")
    assert(!fs.exists(g1b) && fs.exists(new Path(v2, "data")))
    assert(!fs.exists(new Path(base, "PTR.tmp")),
      "writer-entry GC must drop orphan .tmp files under the base")
    // EXTERNAL LOSS OF PTR with later generations present is loud
    // (review r15): defaulting to g0 would serve an empty index and
    // the next compaction's GC would delete the real live generation
    assert(fs.delete(new Path(base, "PTR"), false))
    val eLoss = intercept[IllegalArgumentException] {
      StateFs.resolveLive(fs, base)
    }
    assert(eLoss.getMessage.contains("version pointer was removed externally")
      && eLoss.getMessage.contains("g2"), eLoss.getMessage)
    // the one-line repair the message prescribes recovers
    StateFs.writeFileAtomic(spark, new Path(base, "PTR"), "g2")
    assert(StateFs.resolveLive(fs, base) === g2)
    // ...and so is g0 alone without PTR: the first writer publishes
    // PTR before it writes any generation
    StateFs.deleteRec(fs, g2)
    assert(fs.delete(new Path(base, "PTR"), false))
    mk(g0)
    assert(intercept[IllegalArgumentException](StateFs.resolveLive(fs, base))
      .getMessage.contains("[g0]"))
    // the PTR.tmp of a crashed first publish leaves a VIRGIN base, and
    // the next writer's publish replaces it
    val virgin = new Path(Fixtures.tempDir("statefs-ptr3").resolve("s").toString)
    val vfs = fsFor(virgin)
    vfs.mkdirs(virgin); touch(virgin, "PTR.tmp", "g0")
    assert(StateFs.resolveLive(vfs, virgin) === new Path(virgin, "g0"))
    assert(StateFs.openLive(spark, virgin) === new Path(virgin, "g0"))
    assert(StateFs.readString(vfs, new Path(virgin, "PTR")) === "g0")
    // a non-empty base without PTR is a leftover rename layout:
    // refused by readers and writers alike, nothing deleted
    val renameBase = new Path(Fixtures.tempDir("statefs-ptr2").resolve("s").toString)
    val rv = mk(new Path(renameBase, "v0")); touch(rv, "_SUCCESS")
    for (e <- Seq(
        intercept[RuntimeException](StateFs.resolveLive(fsFor(renameBase), renameBase)),
        intercept[RuntimeException](StateFs.openLive(spark, renameBase))))
      assert(e.getMessage.contains("leftover rename layout") &&
        e.getMessage.contains("v0"), e.getMessage)
    assert(fsFor(renameBase).exists(new Path(rv, "_SUCCESS")) &&
      !fsFor(renameBase).exists(new Path(renameBase, "PTR")))
  }

  test("gcStaleGens keeps only the live generation: the one-compaction " +
      "grace window, crashed targets above the live one, orphan .tmp files") {
    val base = new Path(Fixtures.tempDir("statefs-gcgens").resolve("st").toString)
    val fs = fsFor(base)
    for (g <- 0 to 4) touch(mk(new Path(base, s"g$g")), "data.txt", s"g$g")
    touch(base, "PTR", "g3")
    touch(base, "PTR.tmp", "g4")
    touch(mk(new Path(base, "other")), "f")
    StateFs.gcStaleGens(fs, base, "g3")
    assert(fs.exists(new Path(base, "g3/data.txt")), "the live generation survives")
    assert((Seq(0, 1, 2, 4).map(g => new Path(base, s"g$g")) :+
      new Path(base, "PTR.tmp")).forall(p => !fs.exists(p)),
      "every predecessor, the crashed target above, and the orphan .tmp are stale")
    assert(StateFs.readString(fs, new Path(base, "PTR")) === "g3" &&
      fs.exists(new Path(base, "other/f")), "gc must not touch non-generation state")
  }

  test("witness write order (r16): FRONTIER strictly precedes GENESIS, so " +
      "the crash between them is quiet and the inverse state is loud") {
    import graft.util.StateFs
    val base = mk(new Path(Fixtures.tempDir("statefs-witness").resolve("d").toString))
    val fs = StateFs.fs(spark, base)
    val v0 = mk(new Path(base, f"v${0L}%020d"))
    touch(v0, "_SUCCESS"); touch(v0, "data", "a")
    AppendLog.logAppend(fs, base, v0.getName)
    assert(fs.exists(AppendLog.frontierFile(base)) &&
      fs.exists(AppendLog.genesisFile(base)))
    // the benign crash window: FRONTIER written, GENESIS not yet —
    // the dense check is skipped (no GENESIS), the frontier check
    // passes, listings stay quiet; the same id's WAL replay
    // (logAppend again) completes the pair
    assert(fs.delete(AppendLog.genesisFile(base), false))
    assert(AppendLog.checkedVDirs(fs, base, "T").map(_.getName) === Seq(v0.getName))
    AppendLog.logAppend(fs, base, v0.getName)
    assert(fs.exists(AppendLog.genesisFile(base)),
      "the replay must complete the missing GENESIS")
    // the inverse — GENESIS present, FRONTIER gone — cannot arise
    // benignly under the r16 order, so it is certain external removal
    // of the witness and every listing refuses it naming the repair
    assert(fs.delete(AppendLog.frontierFile(base), false))
    val e = intercept[IllegalArgumentException] {
      AppendLog.checkedVDirs(fs, base, "T")
    }
    assert(e.getMessage.contains("FRONTIER") &&
      e.getMessage.contains("GENESIS exists"), e.getMessage)
  }
}
