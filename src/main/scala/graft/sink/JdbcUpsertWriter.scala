package graft.sink

import org.apache.spark.sql.{DataFrame, Row}

import graft.model.Consumption

/** The reference's Postgres sink (SURVEY.md §2.1 S7) done right:
  * batched `INSERT … ON CONFLICT (date, client_id) DO UPDATE`
  * statements per partition — versus the reference's one network
  * round-trip per row (`src/db_operations.py:75-91`, see BASELINE.md
  * "Sink write pattern").
  *
  * The statement executor is injected so the writer is testable
  * without a database (the container has none) and swappable for a
  * real `java.sql.Connection` pool in production. Executors run on
  * the EXECUTORS (inside `foreachPartition`), so the factory must be
  * serializable — exactly the foreachBatch JDBC recipe.
  */
/** Connection coordinates for the reference's Postgres sink
  * (`/root/reference/src/lambda_handler.py:50-66` `DB_CONFIG` dict);
  * resolved by [[graft.ingest.AppConfig]] from env vars or a secret
  * JSON document. `toString` masks the password so the config can be
  * logged safely. */
final case class DbConfig(
    dbname: String,
    user: String,
    password: String,
    host: String,
    port: Int) {
  def jdbcUrl: String = s"jdbc:postgresql://$host:$port/$dbname"
  override def toString: String =
    s"DbConfig($dbname,$user,****,$host,$port)"
}

object JdbcUpsertWriter {

  /** One dialect's upsert statement: the SQL text plus the
    * bind-column order — placeholder `i` (1-based in JDBC) binds the
    * row's `binds(i-1)` column. The seam exists because the upsert
    * spelling is the ONE thing that differs per engine (review r16:
    * the Postgres statement was previously tested only through the
    * injected-executor seam; the Derby dialect lets the REAL
    * statement run end-to-end against an embedded database in this
    * container — SinksSpec). */
  final case class UpsertStatement(sql: String, binds: Seq[String])

  /** PostgreSQL — the reference's target engine
    * (`src/db_operations.py:77-91`): one `INSERT .. ON CONFLICT
    * (date, client_id) DO UPDATE` per row, batched. Binds the 5
    * natural columns once. */
  val postgres: UpsertStatement = UpsertStatement(
    """INSERT INTO consumptions
      |  (date, client_id, client_name, service_name, total_consumed_tokens,
      |   created_at, updated_at, is_active)
      |VALUES (?, ?, ?, ?, ?, NOW(), NOW(), TRUE)
      |ON CONFLICT (date, client_id) DO UPDATE SET
      |  client_name = EXCLUDED.client_name,
      |  service_name = EXCLUDED.service_name,
      |  total_consumed_tokens = EXCLUDED.total_consumed_tokens,
      |  updated_at = NOW()""".stripMargin,
    Consumption.expectedColumns)

  /** ANSI `MERGE INTO` as Apache Derby spells it — the embedded
    * integration-test dialect (and the shape most warehouses that
    * lack `ON CONFLICT` accept). Same semantics as [[postgres]]: key
    * match updates the mutable columns and `updated_at`; no match
    * inserts with both audit timestamps and `is_active`; `created_at`
    * is never touched by an update. The `CAST(? AS ..)` wrappers give
    * Derby the parameter types it cannot infer in the ON clause;
    * `"date"` is quoted because unquoted identifiers fold to upper
    * case and DATE doubles as a type name. Placeholder order: 2 in
    * ON, 3 in UPDATE, 5 in INSERT. */
  val derby: UpsertStatement = UpsertStatement(
    """MERGE INTO consumptions t
      |USING SYSIBM.SYSDUMMY1
      |ON t."date" = CAST(? AS DATE) AND t.client_id = CAST(? AS VARCHAR(128))
      |WHEN MATCHED THEN UPDATE SET
      |  client_name = CAST(? AS VARCHAR(256)),
      |  service_name = CAST(? AS VARCHAR(256)),
      |  total_consumed_tokens = CAST(? AS BIGINT),
      |  updated_at = CURRENT_TIMESTAMP
      |WHEN NOT MATCHED THEN INSERT
      |  ("date", client_id, client_name, service_name,
      |   total_consumed_tokens, created_at, updated_at, is_active)
      |VALUES (CAST(? AS DATE), CAST(? AS VARCHAR(128)),
      |  CAST(? AS VARCHAR(256)), CAST(? AS VARCHAR(256)),
      |  CAST(? AS BIGINT), CURRENT_TIMESTAMP, CURRENT_TIMESTAMP,
      |  TRUE)""".stripMargin,
    Seq("date", "client_id",
      "client_name", "service_name", "total_consumed_tokens",
      "date", "client_id", "client_name", "service_name",
      "total_consumed_tokens"))

  /** Back-compat alias: the Postgres statement text. */
  val upsertSql: String = postgres.sql

  /** One batch of bind-parameter rows (maps 1:1 to an addBatch /
    * executeBatch round-trip). */
  final case class Batch(statements: Seq[Seq[Any]])

  /** A REAL JDBC executor for [[write]]: one connection and ONE
    * transaction per [[Batch]] (the per-batch atomicity the reference
    * gets from psycopg2's implicit transaction,
    * `src/db_operations.py:86-91`), prepared once and executed as a
    * JDBC batch. `url`-only via `DriverManager`, so it is
    * serializable into `foreachPartition` closures as-is; a pooled
    * production factory replaces it without touching [[write]]. */
  def jdbcExecutor(url: String, sql: String): Batch => Unit = { batch =>
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(sql)
      try {
        batch.statements.foreach { binds =>
          binds.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
          ps.addBatch()
        }
        ps.executeBatch()
        conn.commit()
      } catch {
        case e: Throwable =>
          // The rollback itself can throw — typically BECAUSE the
          // connection died, which is exactly when the batch fails.
          // Attach it as suppressed so the original batch failure
          // reaches the Spark task error instead of being replaced by
          // the rollback symptom (ADVICE r17).
          try conn.rollback()
          catch { case rb: Throwable => e.addSuppressed(rb) }
          throw e
      } finally ps.close()
    } finally conn.close()
  }

  /** Write `df` (already deduplicated per key) through the executor
    * in batches of `batchSize` rows per round-trip, binding parameters
    * in `statement.binds` order. Returns rows written. */
  def write(df: DataFrame, execute: Batch => Unit, batchSize: Int = 500,
      statement: UpsertStatement = postgres): Long = {
    val cols = Consumption.expectedColumns
    val bindCols = statement.binds
    val written = df.sparkSession.sparkContext.longAccumulator("jdbc_rows")
    df.select(cols.head, cols.tail: _*).foreachPartition { (rows: Iterator[Row]) =>
      rows.grouped(batchSize).foreach { group =>
        val binds = group.map(r => bindCols.map(c => r.getAs[Any](c)))
        execute(Batch(binds))
        written.add(group.size.toLong)
      }
    }
    written.value
  }
}
