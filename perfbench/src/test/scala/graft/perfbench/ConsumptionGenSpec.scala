package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class ConsumptionGenSpec extends AnyFunSuite {
  private val shape = Shape.ingestDaily.copy(rowsPerDay = 2000, clients = 3000, correctionRows = 200)

  /** Lands three days and one correction; returns (relative path, bytes, mtime). */
  private def land(seed: Long): Seq[(String, Seq[Byte], Long)] = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      val g = new ConsumptionGen(seed, shape, dir)
      val files = (0 until 3).flatMap(d => g.landDay(d, d)) :+ g.landCorrection(1, 3, 0)
      files.map(l => (dir.toPath.relativize(l.path.toPath).toString,
        Files.readAllBytes(l.path.toPath).toSeq, l.path.lastModified))
    } finally Fs.deleteRecursively(dir)
  }

  test("the same seed lands byte-identical files with the same modification times") {
    val a = land(7)
    assert(a.size == 3 * shape.filesPerDay + 1)
    assert(a == land(7))
  }

  test("a different seed lands different files") {
    val a = land(7).map(_._2)
    val b = land(8).map(_._2)
    assert(a.zip(b).forall { case (x, y) => x != y })
  }

  test("keys never repeat inside one file and the model keeps the last writer") {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      val g = new ConsumptionGen(3, shape, dir)
      val files = g.landDay(0, 0)
      val rows = files.map { l =>
        val lines = new String(Files.readAllBytes(l.path.toPath)).split("\n").toSeq.tail
        val valid = lines.map(_.split(",")).filter(_(0) != "unknown")
        assert(valid.map(_(1)).distinct.size == valid.size, l.path)
        valid
      }
      val last = rows.flatten.map(r => r(1).stripPrefix("C").toInt -> r).toMap
      val model = g.model(g.date(0))
      assert(model.size == last.size)
      last.foreach { case (c, r) =>
        val tokens = if (r(4) == "n/a") 0L else r(4).toLong
        assert(model(c).serviceName == r(3) && model(c).tokens == tokens)
      }
      assert(files.map(_.path.lastModified) == files.map(_.path.lastModified).sorted)
    } finally Fs.deleteRecursively(dir)
  }

  test("late days land between 1 and maxLateDays late at about the configured share") {
    val g = new ConsumptionGen(11, shape, new File("unused"))
    val late = (0 until 2000).map(g.lateness)
    assert(late.forall(l => l >= 0 && l <= shape.maxLateDays))
    val share = late.count(_ > 0) / 2000.0
    assert(math.abs(share - shape.lateShare) < 0.05, share)
  }
}
