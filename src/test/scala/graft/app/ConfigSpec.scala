package graft.app

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Spool

class ConfigSpec extends AnyFunSuite {

  test("config loads from a properties file and validates required keys") {
    val f = java.nio.file.Paths.get(Spool.dir("graft-cfg"), "app.properties")
    java.nio.file.Files.writeString(f,
      """fm.prefix=dl-fw
        |region=us-east-2
        |control.db.url=jdbc:postgresql://ctrl:5432/meta
        |control.db.user=svc
        |""".stripMargin)
    val cfg = EngineConfig.load(f.toString)
    assert(cfg.fmPrefix == "dl-fw")
    assert(cfg.paths.inboundBucket(graft.model.TriggerMechanism.TimeDriven) ==
      "dl-fw-time-drvn-inbound-us-east-2")
    assert(cfg.controlSecretName == "control-db") // default
  }

  test("missing required keys are rejected at load time") {
    val p = new java.util.Properties()
    p.setProperty("fm.prefix", "x")
    assertThrows[IllegalArgumentException](EngineConfig.fromProps(p))
  }

  test("env credential provider folds secret names to env-var keys") {
    val env = Map(
      "GRAFT_SECRET_DL_FW_INGSTN_DB_SECRETS_3_3" -> "pw3",
      "GRAFT_SECRET_CONTROL_DB_PASSWORD" -> "cpw",
      "UNRELATED" -> "nope")
    val creds = new EnvCredentialProvider(env)
    assert(creds.dbPassword("dl-fw", 3).contains("pw3"))
    assert(creds.secret("control-db") == Map("password" -> "cpw"))
    assert(creds.secret("nothing").isEmpty)
  }

  test("props-file credential provider reads <dir>/<name>.properties") {
    val dir = java.nio.file.Paths.get(Spool.dir("graft-secrets"))
    java.nio.file.Files.writeString(dir.resolve("control-db.properties"),
      "password=s3cret\nhost=ctrl\n")
    val creds = new PropsFileCredentialProvider(dir.toString)
    assert(creds.secret("control-db") ==
      Map("password" -> "s3cret", "host" -> "ctrl"))
    assert(creds.secret("absent").isEmpty)
  }

  test("secrets-store provider: reference key scheme + SecretString JSON payload") {
    val dir = java.nio.file.Paths.get(Spool.dir("graft-sm"))
    // the per-source ingestion secret: {fm_prefix}-ingstn-db-secrets-{src_sys_id}
    // whose SecretString is {"<src_sys_id>": "<password>"}
    // (dataIngestionUtils.py:71,108-111)
    java.nio.file.Files.writeString(dir.resolve("dl-fw-ingstn-db-secrets-3.secret"),
      """{"SecretString": "{\"3\": \"pw-three\"}"}""")
    // the control-store secret: host/port/username/password/dbname
    // (pg_connect.py:69-73); numeric port arrives as its literal text
    java.nio.file.Files.writeString(dir.resolve("control-db.secret"),
      """{"SecretString": "{\"host\": \"ctrl\", \"port\": 5432, """ +
        """\"username\": \"svc\", \"password\": \"s3\\u0063ret\", \"dbname\": \"meta\"}"}""")
    val creds = new SecretsStoreCredentialProvider(dir.toString)
    assert(creds.dbSecretName("dl-fw", 3) == "dl-fw-ingstn-db-secrets-3")
    assert(creds.dbPassword("dl-fw", 3).contains("pw-three"))
    assert(creds.secret("control-db") == Map(
      "host" -> "ctrl", "port" -> "5432", "username" -> "svc",
      "password" -> "s3cret", "dbname" -> "meta"))
    assert(creds.secret("absent").isEmpty)
    assert(creds.dbPassword("dl-fw", 99).isEmpty)
  }

  test("secrets-store provider: SecretBinary decodes base64 to raw bytes") {
    val dir = java.nio.file.Paths.get(Spool.dir("graft-smb"))
    val raw = Array[Byte](0, 1, 2, -1, 127, 10, 34, 92)
    val b64 = java.util.Base64.getEncoder.encodeToString(raw)
    java.nio.file.Files.writeString(dir.resolve("dl-fw-ingstn-db-secrets-9.secret"),
      s"""{"SecretBinary": "$b64"}""")
    val creds = new SecretsStoreCredentialProvider(dir.toString)
    // the binary branch returns decoded bytes (dataIngestionUtils.py:113-115)
    assert(creds.secretBinary("dl-fw-ingstn-db-secrets-9").get.toSeq == raw.toSeq)
    // and the string branch is empty for a binary secret — either/or shape
    assert(creds.secret("dl-fw-ingstn-db-secrets-9").isEmpty)
    // a string secret has no binary payload
    java.nio.file.Files.writeString(dir.resolve("s.secret"),
      """{"SecretString": "{\"k\": \"v\"}"}""")
    assert(creds.secretBinary("s").isEmpty)
    assert(creds.secretBinary("absent").isEmpty)
  }

  test("flat-JSON parser round-trips arbitrary string maps (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val keyGen = Gen.nonEmptyListOf(Gen.asciiPrintableChar).map(_.mkString)
    val valGen = Gen.listOf(Gen.oneOf(
      Gen.asciiPrintableChar, Gen.oneOf('"', '\\', '\n', '\t', '\u0001')))
      .map(_.mkString)
    val mapGen = Gen.mapOf(Gen.zip(keyGen, valGen))
    val prop = Prop.forAllNoShrink(mapGen) { m =>
      val json = m.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")
      FlatJson.parse(json) == m
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("run logger: timed blocks log and rethrow; buffer ships via relay") {
    val buf = new BufferSink
    val log = new RunLogger(Seq(buf))
    assert(log.timed("ok-step")(41 + 1) == 42)
    assertThrows[RuntimeException](
      log.timed("bad-step")(throw new RuntimeException("boom")))
    val tmp = Spool.dir("graft-log")
    val relay = new graft.files.FileRelay()
    log.ship(buf, relay, s"$tmp/logs/run.log")
    val shipped = relay.readUtf8(new org.apache.hadoop.fs.Path(s"$tmp/logs/run.log"))
    assert(shipped.contains("ok-step: start"))
    assert(shipped.contains("bad-step: failed: boom"))
  }
}
