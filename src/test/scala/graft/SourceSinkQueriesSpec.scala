package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The driver-visible source/sink rows (SourceSinkQueries) and the
  * FhirFixtureServer behaviors the registry row does not reach
  * (cascade delete, identifier-system search isolation). */
class SourceSinkQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")

  test("cnics_http_e2e_audit: live-HTTP pipeline inserts then updates, one rejected POST") {
    val rows = run("cnics_http_e2e_audit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(rows(("run1", "Patient", "insert")) === 2L)
    assert(rows(("run2", "Patient", "update")) === 2L)
    assert(rows(("run2", "Observation", "insert")) === 0L)
    assert(rows(("http", "Bundle", "rejected_once")) === 1L)
    assert(rows(("store", "Patient", "count")) === 2L)
  }

  test("a9_idlist_roundtrip keeps quote escaping and the colon-truncation quirk") {
    val back = run("a9_idlist_roundtrip").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === Set(("uw", "p-1"), ("uw", "o'brien"), ("sea", "a")))
  }

  test("snapshotForKeys over HTTP: system-qualified token-OR fetches exactly the asked keys") {
    val srv = new graft.sinks.FhirFixtureServer()
    val port = srv.start()
    try {
      import spark.implicits._
      val store = new graft.sinks.HttpFhirStore(
        s"http://localhost:$port", maxRetries = 2, idBatch = 2)
      // two sites sharing VALUE "p1" — the system qualifier must keep
      // them apart
      val seed = Seq(
        ("p1", "uw-1", """{"identifier":[{"system":"s-uw","value":"p1"}]}""", "insert"),
        ("p2", "uw-2", """{"identifier":[{"system":"s-uw","value":"p2"}]}""", "insert"),
        ("p3", "uw-3", """{"identifier":[{"system":"s-uw","value":"p3"}]}""", "insert"),
        ("p1", "sea-1", """{"identifier":[{"system":"s-sea","value":"p1"}]}""", "insert")
      ).toDF("key", "id", "json", "merge_action")
      // all four under Patient: keys collide across sites, ids do not
      store.applyActions("Patient", seed)

      val got = store.snapshotForKeys(spark, "Patient",
          Seq("p1", "p3", "absent").toDF("key"), Some("s-uw"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // p1 resolves to the uw resource (not sea's), absent key is absent
      assert(got === Map("p1" -> "uw-1", "p3" -> "uw-3"))
    } finally srv.stop()
  }

  test("fixture server: Patient DELETE with _cascade=delete removes subject children") {
    val srv = new graft.sinks.FhirFixtureServer()
    val port = srv.start()
    try {
      import spark.implicits._
      val store = new graft.sinks.HttpFhirStore(s"http://localhost:$port", maxRetries = 2)
      val seed = Seq(
        ("p1", "pat-1", """{"identifier":[{"system":"s-uw","value":"p1"}]}""", "insert"),
        ("p2", "pat-2", """{"identifier":[{"system":"s-sea","value":"p2"}]}""", "insert")
      ).toDF("key", "id", "json", "merge_action")
      store.applyActions("Patient", seed)
      val kids = Seq(
        ("c1", "cond-1", """{"identifier":[{"value":"c1"}],"subject":{"reference":"Patient/pat-1"}}""", "insert"),
        ("c2", "cond-2", """{"identifier":[{"value":"c2"}],"subject":{"reference":"Patient/pat-2"}}""", "insert")
      ).toDF("key", "id", "json", "merge_action")
      store.applyActions("Condition", kids)
      assert(srv.count("Condition") === 2L)

      // identifier-system scoping: each site's snapshot sees only its own
      val uw = store.snapshot(spark, "Patient", Some("s-uw")).collect()
      assert(uw.map(_.getString(0)).toSet === Set("p1"))

      // cascade: deleting pat-1 takes cond-1 with it, pat-2's child stays
      val del = Seq(("p1", "pat-1", null: String, "delete"))
        .toDF("key", "id", "json", "merge_action")
      store.applyActions("Patient", del)
      assert(srv.count("Patient") === 1L)
      assert(srv.count("Condition") === 1L)
      assert(srv.data.containsKey("/Condition/cond-2"))
    } finally srv.stop()
  }
  test("cnics_http_auth_audit: bearer pipeline, wrong/absent creds loud, one token fetch") {
    val rows = run("cnics_http_auth_audit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(rows(("run", "Patient", "insert")) === 2L)
    assert(rows(("auth", "token", "fetched")) === 1L)
    assert(rows(("auth", "token", "rejected")) === 1L)
    assert(rows(("auth", "job", "wrong_secret_aborted")) === 1L)
    assert(rows(("auth", "job", "unauthenticated_failed_loud")) === 1L)
    assert(rows(("store", "Patient", "count")) === 2L)
  }

  test("bearer 401-refresh: a revoked token is refreshed ONCE mid-run, then fails for real") {
    import spark.implicits._
    val srv = new graft.sinks.FhirFixtureServer(authSecret = Some("pw"))
    val port = srv.start()
    try {
      val base = s"http://localhost:$port"
      val store = new graft.sinks.HttpFhirStore(base, maxRetries = 3,
        auth = Some(new graft.sinks.ClientCredentialsAuth(
          s"$base/auth/token", "client-cnics-crud", "pw")))
      val acts = Seq(("k1", "pat-1",
        """{"resourceType":"Patient","id":"pat-1","identifier":[{"system":"s-uw","value":"k1"}]}""",
        "insert"))
        .toDF("key", "id", "json", "merge_action").coalesce(1)
      // revoke the cached token: the next bundle POST 401s, the sink
      // refreshes once (tokenFetches 1 -> 2) and the retry succeeds
      srv.revokeToken()
      val counts = store.applyActions("Patient", acts)
      assert(counts("insert") === 1L)
      assert(srv.tokenFetches.get() === 2)
      assert(srv.count("Patient") === 1L)

      // the GET path refreshes too: revoke again, snapshot 401s once,
      // refreshes (tokenFetches 2 -> 3) and the retried read succeeds
      srv.revokeToken()
      assert(store.snapshot(spark, "Patient").collect()
        .map(_.getString(0)).toSet === Set("k1"))
      assert(srv.tokenFetches.get() === 3)
    } finally srv.stop()
  }

  test("token fetch retries a 429 like every other store request") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress("localhost", 0), 0)
    server.createContext("/auth/token", (ex: HttpExchange) => {
      val (status, body) =
        if (hits.getAndIncrement() == 0) (429, """{"error":"slow_down"}""")
        else (200, """{"access_token":"tok-after-429","token_type":"Bearer"}""")
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val auth = new graft.sinks.ClientCredentialsAuth(
        s"http://localhost:${server.getAddress.getPort}/auth/token",
        "client-cnics-crud", "pw", maxRetries = 3)
      assert(auth.token(java.net.http.HttpClient.newHttpClient()) === "tok-after-429")
      assert(hits.get() === 2)
    } finally server.stop(0)
  }

  test("HttpFhirStore.fromSettings dispatches the reference store flavors") {
    val srv = new graft.sinks.FhirFixtureServer(authSecret = Some("aidbox-pw"))
    val port = srv.start()
    try {
      val base = s"http://localhost:$port"
      // aidbox flavor: auth wired from settings + secrets, fail-fast fetch
      graft.sinks.HttpFhirStore.fromSettings(
        s"""[Options]
           |FhirStore = "aidbox"
           |AidboxFhirUrl = "$base"
           |AidboxAuthUrl = "$base/auth/token"
           |""".stripMargin,
        "[FHIR]\nAidboxAuthPw = \"aidbox-pw\"\n")
      assert(srv.tokenFetches.get() === 1)
      // wrong secret aborts construction (the reference quit())
      intercept[IllegalStateException] {
        graft.sinks.HttpFhirStore.fromSettings(
          s"""[Options]
             |FhirStore = "aidbox"
             |AidboxFhirUrl = "$base"
             |AidboxAuthUrl = "$base/auth/token"
             |""".stripMargin,
          "[FHIR]\nAidboxAuthPw = \"nope\"\n")
      }
      // unknown flavor is a loud config error
      intercept[RuntimeException] {
        graft.sinks.HttpFhirStore.fromSettings(
          "[Options]\nFhirStore = \"vista\"\n", "")
      }
    } finally srv.stop()
  }
}
