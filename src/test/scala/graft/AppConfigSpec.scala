package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.AppConfig
import graft.sink.DbConfig
import graft.util.Log

/** Config/secrets resolution (reference parity:
  * `/root/reference/src/lambda_handler.py:15-66`): required-env
  * errors, platform-vs-local DB credential switch, secret-JSON
  * parsing, and the E5 default-date feed into Pipeline.Config. */
class AppConfigSpec extends AnyFunSuite with SparkTestBase {

  private val storageEnv = Map(
    "DATA_ROOT" -> "file:///tmp/graft-root/",
    "DATA_PREFIX" -> "incoming/consumption",
    "CHECKPOINT_KEY" -> "state/checkpoint",
    "MISSING_DATES_KEY" -> "state/missing",
    "DEFAULT_DATE" -> "2025_04_30")

  private val localDbEnv = Map(
    "DB_NAME" -> "consumption", "DB_USER" -> "ingest",
    "DB_PASSWORD" -> "pw-local", "DB_HOST" -> "localhost", "DB_PORT" -> "5432")

  private val secretJson =
    """{"DB_NAME":"consumption","DB_USER":"svc","DB_PASS":"pw-secret",
      |"DB_HOST":"db.internal","DB_PORT":"5433"}""".stripMargin

  test("local mode: DB credentials come from individual env vars") {
    val r = AppConfig.resolve(storageEnv ++ localDbEnv,
      fetchSecret = _ => fail("secret fetcher must not be called locally"),
      today = LocalDate.parse("2025-05-04"))
    assert(!r.inPlatform)
    assert(r.db == DbConfig("consumption", "ingest", "pw-local", "localhost", 5432))
  }

  test("platform mode: DB credentials come from the secret JSON") {
    var fetched: Option[String] = None
    val env = storageEnv ++ localDbEnv ++
      Map(Log.PlatformMarker -> "cluster-7", "SECRET_NAME" -> "prod/db")
    val r = AppConfig.resolve(env,
      fetchSecret = { n => fetched = Some(n); secretJson },
      today = LocalDate.parse("2025-05-04"))
    assert(r.inPlatform)
    assert(fetched.contains("prod/db"))
    // secret wins over the env vars even though both are present
    assert(r.db == DbConfig("consumption", "svc", "pw-secret", "db.internal", 5433))
  }

  test("storage env maps onto Pipeline.Config; E5 default date flows through") {
    val r = AppConfig.resolve(storageEnv ++ localDbEnv,
      today = LocalDate.parse("2025-05-04"))
    val p = r.pipeline
    assert(p.prefix == "file:///tmp/graft-root/incoming/consumption")
    assert(p.checkpointDir == "file:///tmp/graft-root/state/checkpoint")
    assert(p.registryDir == "file:///tmp/graft-root/state/missing")
    assert(p.targetDir == "file:///tmp/graft-root/table") // TARGET_KEY default
    assert(p.defaultDate == "2025_04_30")
    assert(p.today == LocalDate.parse("2025-05-04"))
  }

  test("missing required key names the key (reference KeyError semantics)") {
    val e = intercept[AppConfig.ConfigError] {
      AppConfig.resolve((storageEnv - "CHECKPOINT_KEY") ++ localDbEnv)
    }
    assert(e.key == "CHECKPOINT_KEY")
    val e2 = intercept[AppConfig.ConfigError] {
      AppConfig.resolve(storageEnv ++ (localDbEnv - "DB_PASSWORD"))
    }
    assert(e2.key == "DB_PASSWORD")
  }

  test("secret parsing errors: malformed JSON, missing field, bad port") {
    assert(intercept[AppConfig.ConfigError](
      AppConfig.parseSecret("not json")).key == "SECRET")
    assert(intercept[AppConfig.ConfigError](
      AppConfig.parseSecret("""{"DB_NAME":"x"}""")).key == "DB_USER")
    assert(intercept[AppConfig.ConfigError](
      AppConfig.parseSecret(secretJson.replace("5433", "not-a-port"))).key == "DB_PORT")
  }

  test("DbConfig renders a JDBC URL and masks the password in toString") {
    val db = DbConfig("consumption", "svc", "hunter2", "db.internal", 5433)
    assert(db.jdbcUrl == "jdbc:postgresql://db.internal:5433/consumption")
    assert(!db.toString.contains("hunter2"))
  }

  // --- object-store (fs.s3a.*) configuration -------------------------

  private val s3Secret =
    """{"DB_NAME":"consumption","DB_USER":"svc","DB_PASS":"pw-secret",
      |"DB_HOST":"db.internal","DB_PORT":"5433",
      |"S3_ENDPOINT":"https://secret-store.example:9000",
      |"S3_ACCESS_KEY":"secret-ak","S3_SECRET_KEY":"secret-sk"}""".stripMargin

  test("s3aConf precedence: env var > secret JSON field > default") {
    // env wins for the endpoint; secret fills the keys env lacks;
    // path-style defaults to true because an endpoint is configured.
    val conf = AppConfig.s3aConf(
      Map("S3_ENDPOINT" -> "https://env-store.example:9000"),
      Some(s3Secret))
    assert(conf("fs.s3a.endpoint") == "https://env-store.example:9000")
    assert(conf("fs.s3a.access.key") == "secret-ak")
    assert(conf("fs.s3a.secret.key") == "secret-sk")
    assert(conf("fs.s3a.path.style.access") == "true")
    // explicit env S3_PATH_STYLE overrides the endpoint-driven default
    val conf2 = AppConfig.s3aConf(
      Map("S3_ENDPOINT" -> "e", "S3_PATH_STYLE" -> "false"), Some(s3Secret))
    assert(conf2("fs.s3a.path.style.access") == "false")
  }

  test("s3aConf with no endpoint anywhere emits no s3a keys (provider chain)") {
    assert(AppConfig.s3aConf(Map.empty, None).isEmpty)
    // access keys without an endpoint still flow through; only the
    // path-style default is endpoint-gated
    val conf = AppConfig.s3aConf(Map("S3_ACCESS_KEY" -> "ak"), None)
    assert(conf == Map("fs.s3a.access.key" -> "ak"))
  }

  test("resolve carries hadoopConf; platform secret feeds it") {
    val env = storageEnv ++ localDbEnv ++
      Map(Log.PlatformMarker -> "cluster-7", "SECRET_NAME" -> "prod/db")
    val r = AppConfig.resolve(env, fetchSecret = _ => s3Secret,
      today = LocalDate.parse("2025-05-04"))
    assert(r.hadoopConf("fs.s3a.endpoint") == "https://secret-store.example:9000")
    assert(r.hadoopConf("fs.s3a.access.key") == "secret-ak")
    // local mode with no S3_* env → empty map, nothing applied
    val rLocal = AppConfig.resolve(storageEnv ++ localDbEnv,
      today = LocalDate.parse("2025-05-04"))
    assert(rLocal.hadoopConf.isEmpty)
  }

  test("Resolved.toString masks object-store credentials (loggable like DbConfig)") {
    val env = storageEnv ++ localDbEnv ++
      Map(Log.PlatformMarker -> "cluster-7", "SECRET_NAME" -> "prod/db")
    val r = AppConfig.resolve(env, fetchSecret = _ => s3Secret,
      today = LocalDate.parse("2025-05-04"))
    assert(r.hadoopConf("fs.s3a.secret.key") == "secret-sk") // value intact
    val rendered = r.toString
    assert(!rendered.contains("secret-sk"), "secret key leaked into toString")
    assert(!rendered.contains("secret-ak"), "access key leaked into toString")
    assert(rendered.contains("fs.s3a.endpoint"),
      "non-sensitive keys should still render")
  }

  test("JSON null secret fields are treated as absent, not the string 'null'") {
    // a null endpoint must NOT configure fs.s3a.endpoint=null (which
    // would also flip the path-style default on)
    val conf = AppConfig.s3aConf(Map.empty,
      Some("""{"S3_ENDPOINT": null, "S3_ACCESS_KEY": "ak"}"""))
    assert(conf == Map("fs.s3a.access.key" -> "ak"))
  }

  test("non-file scheme DATA_ROOT builds object-store paths unchanged") {
    val env = storageEnv.updated("DATA_ROOT", "s3a://ingest-bucket") ++ localDbEnv
    val p = AppConfig.resolve(env, today = LocalDate.parse("2025-05-04")).pipeline
    assert(p.prefix == "s3a://ingest-bucket/incoming/consumption")
    assert(p.checkpointDir == "s3a://ingest-bucket/state/checkpoint")
    assert(p.registryDir == "s3a://ingest-bucket/state/missing")
    assert(p.targetDir == "s3a://ingest-bucket/table")
  }

  test("applyHadoopConf sets keys on the live session's hadoopConfiguration") {
    val key = "fs.s3a.endpoint"
    val prev = Option(spark.sparkContext.hadoopConfiguration.get(key))
    try {
      AppConfig.applyHadoopConf(spark,
        Map(key -> "https://apply-test.example:9000"))
      assert(spark.sparkContext.hadoopConfiguration.get(key) ==
        "https://apply-test.example:9000")
    } finally {
      prev match {
        case Some(v) => spark.sparkContext.hadoopConfiguration.set(key, v)
        case None    => spark.sparkContext.hadoopConfiguration.unset(key)
      }
    }
  }
}
