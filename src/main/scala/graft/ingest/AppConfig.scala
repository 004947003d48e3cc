package graft.ingest

import java.time.LocalDate

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sink.DbConfig
import graft.util.Log

/** Environment + secret driven configuration resolution (reference
  * parity: `/root/reference/src/lambda_handler.py:15-66`).
  *
  * The reference resolves, at startup:
  *  1. storage coordinates from required env vars (`S3_BUCKET`,
  *     `S3_PREFIX`, `CHECKPOINT_KEY`, `MISSING_DATES_KEY`,
  *     `lambda_handler.py:43-46`) — a missing one raises `KeyError`;
  *  2. database credentials with a platform switch
  *     (`lambda_handler.py:48-66`): in-platform → a secrets-manager
  *     JSON document with keys `DB_NAME/DB_USER/DB_PASS/DB_HOST/
  *     DB_PORT`; local → individual env vars (`DB_NAME/DB_USER/
  *     DB_PASSWORD/DB_HOST/DB_PORT` — the PASS-vs-PASSWORD asymmetry
  *     is the reference's own and is preserved);
  *  3. the E5 default date (`DEFAULT_DATE`, `s3_processor.py:201-210`).
  *
  * Here the storage root is any Hadoop-FS URI (`file://`, `hdfs://`,
  * `s3a://…` all work unchanged — the engine never talks to a blob
  * store directly), and the secret fetcher is injected: the platform
  * deployment passes its secrets client, tests pass a literal, and
  * the default reads the file named by `SECRET_NAME` (the
  * mounted-secret pattern; zero-egress containers have no secrets
  * service).
  */
object AppConfig {

  private val log = Log("graft.ingest.AppConfig")

  /** Missing/invalid configuration — names the offending key like the
    * reference's bare `os.environ[...]` KeyError. */
  final case class ConfigError(key: String, detail: String)
      extends RuntimeException(s"config key '$key': $detail")

  final case class Resolved(
      pipeline: Pipeline.Config,
      db: DbConfig,
      inPlatform: Boolean,
      hadoopConf: Map[String, String] = Map.empty) {
    /** Masks object-store credentials (same standard as [[DbConfig]]'s
      * password masking) so the resolved config can be logged safely:
      * the auto-generated case-class toString would print
      * `fs.s3a.secret.key` in clear. */
    override def toString: String = {
      val masked = hadoopConf.map {
        case (k, _) if Resolved.sensitive(k) => k -> "***"
        case kv => kv
      }
      s"Resolved($pipeline, $db, inPlatform=$inPlatform, hadoopConf=$masked)"
    }
  }

  object Resolved {
    private val sensitive =
      Set("fs.s3a.secret.key", "fs.s3a.access.key", "fs.s3a.session.token")
  }

  /** Required env lookup (reference `os.environ['X']`). */
  private def req(env: Map[String, String], key: String): String =
    env.getOrElse(key, throw ConfigError(key, "required but not set"))

  /** Parse a secret JSON document into DB credentials
    * (`lambda_handler.py:50-56`; key names are the reference's). */
  def parseSecret(json: String): DbConfig = {
    val node =
      try new ObjectMapper().readTree(json)
      catch { case e: Exception => throw ConfigError("SECRET", s"not valid JSON: ${e.getMessage}") }
    def f(k: String): String = {
      val v = node.get(k)
      if (v == null) throw ConfigError(k, "missing from secret JSON") else v.asText()
    }
    DbConfig(f("DB_NAME"), f("DB_USER"), f("DB_PASS"), f("DB_HOST"),
      try f("DB_PORT").toInt catch { case _: NumberFormatException =>
        throw ConfigError("DB_PORT", "secret value is not an integer") })
  }

  /** Local-mode DB credentials from individual env vars
    * (`lambda_handler.py:58-66`). */
  def dbFromEnv(env: Map[String, String]): DbConfig =
    DbConfig(req(env, "DB_NAME"), req(env, "DB_USER"), req(env, "DB_PASSWORD"),
      req(env, "DB_HOST"),
      try req(env, "DB_PORT").toInt catch { case _: NumberFormatException =>
        throw ConfigError("DB_PORT", "env value is not an integer") })

  /** Optional string field from a secret JSON document (None when the
    * JSON is invalid or the key is absent — object-store keys are
    * optional, unlike the required DB credentials). */
  private def secretField(json: String, key: String): Option[String] =
    try {
      // filterNot(isNull): a JSON null (`"S3_ENDPOINT": null`) would
      // otherwise map through NullNode.asText() to the literal string
      // "null" and configure fs.s3a.endpoint=null (flipping the
      // path-style default on the way) — treat it as absent instead.
      Option(new ObjectMapper().readTree(json))
        .flatMap(n => Option(n.get(key))).filterNot(_.isNull).map(_.asText())
    } catch { case _: Exception => None }

  /** Object-store configuration as standard Hadoop `fs.s3a.*` keys
    * (public hadoop-aws configuration surface; the reference is
    * S3-native — `/root/reference/src/s3_processor.py:46-50,82-91` —
    * but Spark reaches object stores through the Hadoop FS layer, so
    * the engine's analogue is session configuration, not an SDK
    * client). Per-key precedence: env var > secret JSON field >
    * default. `fs.s3a.path.style.access` defaults to "true" whenever
    * a custom endpoint is configured (the common non-AWS layout);
    * with no endpoint no s3a keys are emitted and the default
    * provider chain applies.
    *
    * Source keys: `S3_ENDPOINT`, `S3_ACCESS_KEY`, `S3_SECRET_KEY`,
    * `S3_PATH_STYLE` — read from the environment first, then from the
    * same secret JSON document that carries the DB credentials. */
  def s3aConf(env: Map[String, String], secretJson: Option[String]): Map[String, String] = {
    def pick(key: String): Option[String] =
      env.get(key).orElse(secretJson.flatMap(secretField(_, key)))
    val endpoint = pick("S3_ENDPOINT")
    val entries = Seq(
      "fs.s3a.endpoint" -> endpoint,
      "fs.s3a.access.key" -> pick("S3_ACCESS_KEY"),
      "fs.s3a.secret.key" -> pick("S3_SECRET_KEY"),
      "fs.s3a.path.style.access" ->
        pick("S3_PATH_STYLE").orElse(endpoint.map(_ => "true")))
    entries.collect { case (k, Some(v)) => k -> v }.toMap
  }

  /** Apply the resolved object-store keys to the live session's
    * Hadoop configuration (the step a real deployment touches first:
    * credentials reach the `s3a://` scheme through here). */
  def applyHadoopConf(
      spark: org.apache.spark.sql.SparkSession,
      conf: Map[String, String]): Unit =
    conf.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }

  /** Default secret fetcher: `SECRET_NAME` names a mounted secret
    * file whose content is the JSON document. */
  def fileSecretFetcher(name: String): String = {
    val p = java.nio.file.Paths.get(name)
    if (!java.nio.file.Files.isReadable(p))
      throw ConfigError("SECRET_NAME", s"secret file '$name' not readable")
    new String(java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Resolve the full run configuration from an environment map.
    *
    * Storage keys (reference `lambda_handler.py:43-46`): `DATA_ROOT`
    * (root URI; the bucket analogue), `DATA_PREFIX`, `CHECKPOINT_KEY`,
    * `MISSING_DATES_KEY`, optional `TARGET_KEY` (default `table` —
    * the reference's fixed Postgres table analogue), `DEFAULT_DATE`
    * (E5 checkpoint fallback, `YYYY_MM_DD`).
    *
    * @param env         environment (injectable for tests; defaults to `sys.env`)
    * @param fetchSecret platform-mode secret fetcher, `SECRET_NAME → JSON`
    * @param today       discovery horizon end (defaults to UTC today)
    */
  def resolve(
      env: Map[String, String] = sys.env,
      fetchSecret: String => String = fileSecretFetcher,
      today: LocalDate = LocalDate.now(java.time.ZoneOffset.UTC)): Resolved = {
    Log.init(env)
    val root = req(env, "DATA_ROOT").stripSuffix("/")
    val prefix = req(env, "DATA_PREFIX").stripPrefix("/").stripSuffix("/")
    val ckpt = req(env, "CHECKPOINT_KEY").stripPrefix("/")
    val missing = req(env, "MISSING_DATES_KEY").stripPrefix("/")
    val target = env.getOrElse("TARGET_KEY", "table").stripPrefix("/")
    val defaultDate = req(env, "DEFAULT_DATE")

    val platform = Log.inPlatform(env)
    val (db, secretJson) =
      if (platform) {
        log.info("Running in-platform")
        val secretName = req(env, "SECRET_NAME")
        log.info(s"secret_name = '$secretName'")
        val json = fetchSecret(secretName)
        val resolved = parseSecret(json)
        log.info("Secret loaded")
        (resolved, Some(json))
      } else {
        log.info("Running Locally")
        (dbFromEnv(env), None)
      }

    Resolved(
      Pipeline.Config(
        prefix = s"$root/$prefix",
        checkpointDir = s"$root/$ckpt",
        registryDir = s"$root/$missing",
        targetDir = s"$root/$target",
        defaultDate = defaultDate,
        today = today),
      db,
      platform,
      s3aConf(env, secretJson))
  }
}
