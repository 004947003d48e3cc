package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.queries._

/** `query_mix`: passes over a fixed subset of `SparkEntry.queries`,
  * one query per registry plus the dedup targets, in a fixed order
  * (the seed varies the tables). A pass starts with
  * `SessionMemo.resetAll`, so it costs what a fresh analyst session
  * pays, memoized rebuilds included; set-up runs one untimed pass so
  * that JVM warm-up stays out of the measured passes. The timed action
  * is `collect()`, which reads every output column and keeps the final
  * sort. Results are written out after the run for the oracle check
  * (`perfbench/oracle.py`), which runs each query's DuckDB SQL over
  * the same generated tables during set-up. */
final class QueryMix(spark: SparkSession, a: Args, dataDir: File) extends Workload {
  import QueryMix._

  private val dir = dataDir.getAbsolutePath
  private val fns = SparkEntry.queries
  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val hashes = mutable.Map.empty[String, Int]
  private var failures = Vector.empty[String]

  override def boundary(i: Int): Boolean = i % Subset.size == 0

  private val results = new File(a.work, "results")

  /** Publishes the oracle SQL, so the launcher computes the expected
    * results while this JVM warms up, then runs one untimed pass: class
    * loading, JIT and codegen. */
  def setup(): Unit = {
    val sql = SparkEntry.oracleSql
    val tmp = new File(results, "oracle_sql.json.tmp")
    J.write(tmp, J.obj(Subset.flatMap(n => sql.get(n).map(q => n -> J.str(q)))))
    java.nio.file.Files.move(tmp.toPath, new File(results, "oracle_sql.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    SessionMemo.resetAll(spark)
    Subset.foreach(n => fns(n)(spark, dir).collect())
  }

  /** Waits until the launcher's oracle run is done, so that it does
    * not compete with the measured pass for cores. */
  override def beforeMeasure(): Unit = {
    val done = new File(a.work, "oracle.done")
    val until = Fs.now() + 150000L
    while (!done.exists && Fs.now() < until) Thread.sleep(50)
  }

  def step(i: Int, tracer: Option[Tracer]): Step = {
    if (i % Subset.size == 0) SessionMemo.resetAll(spark)
    val name = Subset(i % Subset.size)
    val t0 = Fs.now()
    val (ok, rows, tb) = try {
      val df = fns(name)(spark, dir)
      val tb = Fs.now()
      val rows = df.collect()
      if (!firstResult.contains(name)) firstResult(name) = (df.schema, rows)
      val h = rows.map(_.toString).sorted.toSeq.hashCode
      val same = hashes.getOrElseUpdate(name, h) == h
      if (!same) failures :+= s"$name: result differs between passes"
      (same, rows.length.toLong, tb)
    } catch {
      case e: Exception => failures :+= s"$name: $e"; (false, 0L, Fs.now())
    }
    val t1 = Fs.now()
    Step(i, name, registryOf(name), t0, t1, ok, tracer.isDefined, rows = rows, buildMs = tb - t0)
  }

  /** Writes each query's first result for the oracle check; the
    * queries themselves were checked for repeat determinism in
    * [[step]]. */
  def finish(): Seq[String] = {
    firstResult.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(results, name).getAbsolutePath)
    }
    failures
  }

  def layers(t: Tracer, traced: Seq[Step]): Map[String, Double] = {
    val figs = traced.map(s => t.stepFigures(s) ++ Map(
      "queries.build_s" -> s.buildMs / 1e3,
      "queries.action_s" -> (s.endMs - s.startMs - s.buildMs) / 1e3))
    def m(k: String) = Workload.mean(figs, k)
    val passes = math.max(1.0, traced.size.toDouble / Subset.size)
    Workload.engine(figs) ++ Map(
      "queries.build_s" -> m("queries.build_s"),
      "queries.action_s" -> m("queries.action_s"),
      "queries.plan_s" -> m("plan.s"),
      "queries.executions" -> m("executions"),
      "queries.driver_gap_s" -> m("driver_gap.s"),
      "queries.exec_s" -> (m("x.queries.s") + m("x.action.s")),
      "operators.s" -> m("x.operators.s"),
      "operators.executions" -> m("x.operators.executions"),
      "materializer.rounds" -> m("materializer.rounds")) ++
      Registries.map { case (reg, _) =>
        s"queries.${reg}_s" -> traced.filter(_.family == reg).map(_.wallS).sum / passes
      }
  }
}

object QueryMix {
  /** One query per registry, plus the dedup targets of the roadmap
    * (`q_dedup_ensemble` and the connected-components pair).
    * `q_rag_incremental` and `q_embed_clusters` are left out: each
    * alone costs more than a run's whole budget. */
  val Subset: Seq[String] = Seq(
    "q_ingest_dedup", "q_pricing_summary", "q_token_count", "q_length_hist", "q_curriculum",
    "q_kmeans_assign", "q_dedup_ensemble", "q_dedup_clusters", "q_dedup_droplist",
    "q_sessionize", "q_rank_stats", "q_tpch_q6")

  val Registries: Seq[(String, Seq[QueryDef])] = Seq(
    "ingest" -> IngestQueries.all, "relational" -> RelationalQueries.all,
    "text" -> TextQueries.all, "corpus" -> CorpusQueries.all, "curation" -> CurationQueries.all,
    "vector" -> VectorQueries.all, "dedup" -> DedupQueries.all,
    "analytics" -> AnalyticsQueries.all, "advanced" -> AdvancedQueries.all,
    "tpch" -> (TpchQueries.all ++ TpchQueries2.all))

  def registryOf(name: String): String =
    Registries.collectFirst { case (r, defs) if defs.exists(_.name == name) => r }.getOrElse("other")
}
