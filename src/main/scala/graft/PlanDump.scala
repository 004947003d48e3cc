package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Executed-plan dumper for the optimization-round deliverables
  * (`plans/r<n>/<query>_{before,after}.txt`). Each named query runs
  * once through its own `QueryExecution`; the file then holds the
  * plan that actually ran (for AQE queries the final plan,
  * `isFinalPlan=true`) followed by every operator's SQL metrics.
  * Per-query timing with layer attribution is
  * `perfbench/run.py --trace 1`.
  *
  * usage: sbt "runMain graft.PlanDump <suffix> <query> [query…]"
  * env:   SPARK_GRAFT_SF_DIR (default sf0.01),
  *        SPARK_GRAFT_PLANS_DIR (default /tmp/plans)
  */
object PlanDump extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <query> [query…]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "/tmp/plans"))
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, args.head, args.tail.toSeq)
    spark.stop()
  }

  /** Runs each query once and writes `<query>_<suffix>.txt` under
    * `outDir`; returns the written files. The wall time printed covers
    * building the frame (some queries run jobs while building) and the
    * collect. */
  def dump(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
      names: Seq[String]): Seq[Path] = {
    Files.createDirectories(outDir)
    names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted}"))
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val rows = df.collect().length
      val secs = (System.nanoTime() - t0) / 1e9
      val qe = df.queryExecution
      val out = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(out, qe.explainString(FormattedMode) +
        "\n== SQL metrics ==\n" + metricLines(qe.executedPlan))
      println(f"[plandump] $name%-28s rows=$rows%-9d $secs%7.2f s -> ${out.getFileName}")
      out
    }
  }

  /** One line per operator that carries metrics, pre-order through
    * AQE query stages and subqueries. */
  private def metricLines(plan: SparkPlan): String =
    collectWithSubqueries(plan) { case p if p.metrics.nonEmpty =>
      val ms = p.metrics.toSeq.sortBy(_._1).map { case (key, m) =>
        val v = m.metricType match {
          case "size" => s"${m.value} B"
          case "timing" => s"${m.value} ms"
          case "nsTiming" => s"${m.value} ns"
          case "average" => s"${m.value / 10.0}" // Spark stores averages ×10
          case _ => m.value.toString
        }
        s"${m.name.getOrElse(key)}=$v"
      }
      s"${p.nodeName}: ${ms.mkString(", ")}\n"
    }.mkString
}
