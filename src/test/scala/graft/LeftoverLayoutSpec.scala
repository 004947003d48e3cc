package graft

import java.io.File

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Bm25Index
import graft.sink.Compactor
import graft.streaming.{StreamingIvf, StreamingIvfPq, StreamingKMeans}

/** The one state layout, from the outside: every stored base (the
  * BM25 `postings`/`dl` families and `merged` store, the IVF `lists`,
  * the IVF-PQ `codes`, a Compactor table, a StreamingKMeans state) is a
  * `PTR` file plus `g<k>` generation dirs.
  *
  *  - A base left in a retired layout (`v*` dirs or parquet files
  *    directly under it, a `.bak` sibling, or `v<id>` dirs named by a
  *    `CURRENT` pointer) is refused loudly on read, append and compact,
  *    naming the layout, and every file stays in place.
  *  - A virgin base (absent, or holding only a crashed first
  *    publish's `PTR.tmp`) reads as an empty store without creating
  *    anything, and the first append publishes `PTR=g0`.
  */
class LeftoverLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val (kc, m, subLen, kCb) = (8, 4, 4, 16)

  private lazy val vecs: DataFrame = {
    val rnd = new Random(11)
    (0 until 60).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def docs: DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  /** Every file under `root` with its size — what a refusal must
    * leave untouched. */
  private def snapshot(root: File): Map[String, Long] =
    org.apache.commons.io.FileUtils.listFiles(root, null, true).toArray
      .map(_.asInstanceOf[File])
      .map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap

  /** Rewrite a base built in the generation layout into the retired
    * rename-aside layout it replaced: the live generation's contents
    * directly under the base, no `PTR`, no generation dirs. A base
    * without `PTR` is already in that layout (the one a build before
    * the single layout writes) and is left as it is. */
  private def flatten(base: File): Unit = {
    val ptr = new File(base, "PTR")
    if (ptr.exists()) {
      val live = new File(base, java.nio.file.Files.readString(ptr.toPath).trim)
      for (f <- live.listFiles()) assert(f.renameTo(new File(base, f.getName)))
      for (f <- base.listFiles() if f.getName.matches("g\\d+|\\.?PTR.*"))
        Fixtures.deleteRec(f)
    }
  }

  /** `ops` each fail loudly naming the leftover layout and `base`, and
    * no file under `root` changes. */
  private def assertRefused(root: File, base: String)(ops: (String, () => Any)*): Unit = {
    val before = snapshot(root)
    assert(before.nonEmpty)
    for ((what, op) <- ops) {
      val e = intercept[RuntimeException] { op() }
      assert(e.getMessage.contains("leftover rename layout") &&
        e.getMessage.contains(base), s"$what: ${e.getMessage}")
      assert(snapshot(root) === before, s"$what must delete or create nothing")
    }
  }

  test("a leftover rename-layout BM25 family is refused on read, append " +
      "and compact, every file left in place") {
    val state = Fixtures.tempDir("leftover-bm25").resolve("state").toFile
    val st = state.toString
    Bm25Index.appendBatch(spark, st, docs.filter(col("doc_id") % 2 === 0), 0L)
    Bm25Index.appendBatch(spark, st, docs.filter(col("doc_id") % 2 === 1), 1L)
    flatten(new File(state, "postings"))
    flatten(new File(state, "dl"))
    assert(new File(state, f"postings/v${0L}%020d/_SUCCESS").exists())
    assertRefused(state, "postings")(
      "read" -> (() => Bm25Index.retrieve(spark, st, Seq("spark")).count()),
      "append" -> (() => Bm25Index.appendBatch(spark, st,
        Seq((900001L, "spark")).toDF("doc_id", "text"), 2L)),
      "compact" -> (() => Bm25Index.compact(spark, st)))
  }

  test("a leftover rename-layout IVF lists store is refused on read, append " +
      "and compact; so is one caught mid-swap with only lists.bak") {
    val base = Fixtures.tempDir("leftover-ivf").toFile
    val state = new File(base, "state")
    val st = state.toString
    StreamingIvf.appendBatch(spark, st, vecs.filter($"vec_id" < 30), 4, 0L)
    StreamingIvf.appendBatch(spark, st, vecs.filter($"vec_id" >= 30), 4, 1L)
    flatten(new File(state, "lists"))
    def ops = Seq(
      "read" -> (() => StreamingIvf.readIndex(spark, st)),
      "append" -> (() => StreamingIvf.appendBatch(spark, st,
        vecs.filter($"vec_id" < 5), 4, 2L)),
      "compact" -> (() => StreamingIvf.compact(spark, st)))
    assertRefused(base, "lists")(ops: _*)
    // the old swap's crash window: the live tree moved aside, nothing
    // in its place — an absent base with a .bak sibling is NOT virgin
    assert(new File(state, "lists").renameTo(new File(state, "lists.bak")))
    assertRefused(base, "lists")(ops: _*)
  }

  test("a leftover rename-layout IVF-PQ codes store is refused on read, " +
      "append and compact, every file left in place") {
    val state = Fixtures.tempDir("leftover-pq").resolve("state").toFile
    val st = state.toString
    StreamingIvfPq.appendBatch(spark, st, vecs.filter($"vec_id" < 30),
      kc, m, subLen, kCb, 0L)
    StreamingIvfPq.appendBatch(spark, st, vecs.filter($"vec_id" >= 30),
      kc, m, subLen, kCb, 1L)
    flatten(new File(state, "codes"))
    assertRefused(state, "codes")(
      "read" -> (() => StreamingIvfPq.readIndex(spark, st)),
      "append" -> (() => StreamingIvfPq.appendBatch(spark, st,
        vecs.filter($"vec_id" < 5), kc, m, subLen, kCb, 2L)),
      "compact" -> (() => StreamingIvfPq.compact(spark, st)))
  }

  test("a leftover plain-layout Compactor table is refused on read, append " +
      "and compact, every file left in place") {
    val dir = Fixtures.tempDir("leftover-table").resolve("t").toFile
    (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(dir.toString)
    assertRefused(dir, dir.toString)(
      "read" -> (() => Compactor.read(spark, dir.toString).count()),
      "append" -> (() => Compactor.writeDir(spark, dir.toString)),
      "compact" -> (() => Compactor.compact(spark, dir.toString, 10)))
  }

  /** Rewrite a replace store built in the generation layout into the
    * retired `v<id>` + `CURRENT` layout: the live generation renamed
    * to a version dir the pointer names, no `PTR`. */
  private def toCurrentLayout(base: File): Unit = {
    val live = java.nio.file.Files.readString(new File(base, "PTR").toPath).trim
    val v = f"v${0L}%020d"
    assert(new File(base, live).renameTo(new File(base, v)))
    for (f <- base.listFiles() if f.getName.matches("g\\d+|\\.?PTR.*"))
      Fixtures.deleteRec(f)
    java.nio.file.Files.writeString(new File(base, "CURRENT").toPath, v)
  }

  test("a leftover CURRENT-layout BM25 merged store and StreamingKMeans " +
      "state are refused on every entry point, every file left in place") {
    val root = Fixtures.tempDir("leftover-current").toFile
    val bm = new File(root, "bm"); val st = bm.toString
    Bm25Index.appendBatch(spark, st,
      Seq((1L, "spark vector"), (2L, "customer spark")).toDF("doc_id", "text"), 0L)
    toCurrentLayout(new File(bm, "merged"))
    assertRefused(bm, "merged")(
      "read" -> (() => Bm25Index.retrieve(spark, st, Seq("spark")).count()),
      "append" -> (() => Bm25Index.appendBatch(spark, st,
        Seq((3L, "spark")).toDF("doc_id", "text"), 1L)),
      "compact" -> (() => Bm25Index.compact(spark, st)))
    val km = new File(root, "km").toString
    val state = Seq((0L, Seq(0L, 0L), 1L)).toDF("c_id", "sums", "n")
    StreamingKMeans.commitState(state, km, 0L)
    toCurrentLayout(new File(km))
    assertRefused(new File(km), km)(
      "read" -> (() => StreamingKMeans.readState(spark, km)),
      "commit" -> (() => StreamingKMeans.commitState(state, km, 1L)))
  }

  test("virgin bases: a read creates nothing, a PTR.tmp-only base is " +
      "virgin, and the first append publishes PTR=g0") {
    val root = Fixtures.tempDir("virgin").toFile
    def ptr(base: File): String =
      java.nio.file.Files.readString(new File(base, "PTR").toPath).trim
    // a crashed first publish: only the pointer's temp file was written
    def crashedPublish(base: File): Unit = {
      assert(base.mkdirs())
      java.nio.file.Files.writeString(new File(base, "PTR.tmp").toPath, "g0")
    }
    // reads of absent stores see empty stores and create nothing
    val bm = new File(root, "bm"); val iv = new File(root, "iv")
    val pq = new File(root, "pq"); val table = new File(root, "t")
    assert(Bm25Index.readState(spark, bm.toString).isEmpty)
    assert(StreamingIvf.readIndex(spark, iv.toString).isEmpty)
    assert(StreamingIvfPq.readIndex(spark, pq.toString).isEmpty)
    assert(Compactor.fileCount(spark, table.toString) === 0)
    assert(root.list().isEmpty, s"a read created ${root.list().toSeq}")
    // PTR.tmp-only bases read as empty too, then take the first append
    for (b <- Seq(new File(bm, "postings"), new File(iv, "lists"),
        new File(pq, "codes"), table)) crashedPublish(b)
    assert(Bm25Index.readState(spark, bm.toString).isEmpty)
    assert(StreamingIvf.readIndex(spark, iv.toString).isEmpty)
    assert(StreamingIvfPq.readIndex(spark, pq.toString).isEmpty)
    assert(Compactor.fileCount(spark, table.toString) === 0)
    assert(!new File(bm, "postings/PTR").exists() && !new File(table, "PTR").exists())
    // the first append publishes PTR=g0 and writes inside g0
    assert(Bm25Index.appendBatch(spark, bm.toString, docs, 0L))
    for (sub <- Seq("postings", "dl")) {
      assert(ptr(new File(bm, sub)) === "g0")
      assert(new File(bm, f"$sub/g0/v${0L}%020d/_SUCCESS").exists())
    }
    assert(StreamingIvf.appendBatch(spark, iv.toString, vecs, 4, 0L))
    assert(ptr(new File(iv, "lists")) === "g0" &&
      new File(iv, f"lists/g0/v${0L}%020d/_SUCCESS").exists())
    assert(StreamingIvfPq.appendBatch(spark, pq.toString, vecs, kc, m, subLen, kCb, 0L))
    assert(ptr(new File(pq, "codes")) === "g0" &&
      new File(pq, f"codes/g0/v${0L}%020d/_SUCCESS").exists())
    // a table writer publishes the pointer before it writes any file
    val target = Compactor.writeDir(spark, table.toString)
    assert(ptr(table) === "g0" && target.endsWith("g0") && !new File(table, "g0").exists())
    Seq((1L, "a")).toDF("id", "v").write.parquet(target)
    assert(Compactor.read(spark, table.toString).count() === 1)
    assert(!new File(table, "PTR.tmp").exists(), "the publish consumed PTR.tmp")
  }
}
