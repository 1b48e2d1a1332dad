package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Deterministic in-JVM FHIR-subset server — the HTTP twin of
  * [[InMemoryFhirStore]], so the production [[HttpFhirStore]] path can
  * run inside a driver-visible CORRECTNESS row (`cnics_http_e2e_audit`)
  * instead of only inside ScalaTests. Implements exactly the surface
  * the sink speaks (reference wire behavior, cnics_to_fhir.py:215-217,
  * 246-247, 322-337):
  *
  *  - `POST /` transaction Bundles: PUT-with-id upserts and DELETEs
  *    (a Patient DELETE carrying `?_cascade=delete` also removes the
  *    patient's child resources by `subject.reference` — HAPI's
  *    cascade semantics, which the reference relies on);
  *  - `GET /<Type>` search: `_summary=count` sizing, `_count`/
  *    `_offset` paging over an `_sort=_id` total order,
  *    `identifier=<system>|` token-system scoping (the multi-site
  *    isolation filter) and `subject=` reference scoping;
  *  - optional `failFirstPost`: the FIRST bundle POST is rejected with
  *    a 500 exactly once, so the sink's bounded-retry wrapper (F14)
  *    is exercised — and counted — on the driver's gate;
  *  - optional `strictReferences`: PUT entries whose subject.reference
  *    resolves neither in the store nor within the same bundle 400 the
  *    WHOLE bundle before anything applies (HAPI-style referential
  *    integrity under FHIR transaction semantics) — the tripwire that
  *    proves the single-stage mixed-type write's parent-first bundle
  *    ordering ([[HttpFhirStore.applyActionsMixed]]);
  *  - optional `authSecret`: the server becomes an Aidbox-shaped
  *    auth-fronted store (reference flavor, cnics_to_fhir.py:196-213):
  *    `POST /auth/token?grant_type=client_credentials&client_id=…&
  *    client_secret=…` issues `{"access_token": …}` when the secret
  *    matches (401 + tokenRejects otherwise), and EVERY other request
  *    must carry `Authorization: Bearer <current token>` or is 401'd
  *    (+ unauthorized). [[revokeToken]] invalidates the current token
  *    so the sink's bounded 401-refresh path can be exercised
  *    deterministically.
  *
  * State is a ConcurrentHashMap keyed `/<Type>/<id>`; everything is
  * deterministic given the same request set, which is what lets the
  * e2e audit row pin its counters as a literal oracle.
  */
final class FhirFixtureServer(failFirstPost: Boolean = false,
    authSecret: Option[String] = None,
    strictReferences: Boolean = false) {

  val data = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val posts = new java.util.concurrent.atomic.AtomicInteger(0)
  val gets = new java.util.concurrent.atomic.AtomicInteger(0)
  val rejectedPosts = new java.util.concurrent.atomic.AtomicInteger(0)
  // strictReferences rejections: bundles whose PUT entries carry a
  // subject.reference that resolves neither in the store nor within
  // the bundle itself (FHIR transaction semantics: references are
  // resolved against the bundle AS A WHOLE, then the store) — the
  // server 400s the bundle ATOMICALLY, store untouched. This is what
  // makes the single-stage mixed-type write path's parent-first
  // ordering a TESTED contract instead of a convention.
  val refRejects = new java.util.concurrent.atomic.AtomicInteger(0)
  val tokenFetches = new java.util.concurrent.atomic.AtomicInteger(0)
  val tokenRejects = new java.util.concurrent.atomic.AtomicInteger(0)
  val unauthorized = new java.util.concurrent.atomic.AtomicInteger(0)
  // token generations: the valid bearer is "graft-token-<generation>";
  // revokeToken() bumps the generation, so outstanding tokens expire
  @volatile private var tokenGeneration = 1
  private val firstRejected = new java.util.concurrent.atomic.AtomicBoolean(false)
  private var server: HttpServer = _

  /** Expire the currently issued token (Aidbox tokens are short-lived);
    * the next authenticated request 401s until a fresh token is
    * fetched. */
  def revokeToken(): Unit = tokenGeneration += 1
  // subject.reference -> stored paths, maintained on every PUT/DELETE so
  // a cascade delete touches only the deleted patient's children (a full
  // store re-parse per DELETE made a 12.5k-delete delta take minutes)
  private val bySubject =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
  private val subjectOf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def indexPut(path: String, subjRef: String): Unit = {
    unindex(path)
    if (subjRef.nonEmpty) {
      subjectOf.put(path, subjRef)
      bySubject.computeIfAbsent(subjRef,
        _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]()).add(path)
      ()
    }
  }

  private def unindex(path: String): Unit = {
    val old = subjectOf.remove(path)
    if (old != null) {
      val s = bySubject.get(old)
      if (s != null) { s.remove(path); () }
    }
  }

  def start(): Int = {
    server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", new Handler)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  def count(resourceType: String): Long =
    data.keySet.stream.filter(_.startsWith(s"/$resourceType/")).count()

  private final class Handler extends HttpHandler {
    private val mapper = new ObjectMapper()

    def handle(ex: HttpExchange): Unit = try {
      if (ex.getRequestURI.getPath == "/auth/token") handleToken(ex)
      else if (!authorized(ex)) {
        unauthorized.incrementAndGet()
        reply(ex, 401, """{"resourceType":"OperationOutcome","issue":[{"code":"login"}]}""")
      } else ex.getRequestMethod match {
        case "POST" => handlePost(ex)
        case "GET"  => handleGet(ex)
        case _      => reply(ex, 405, "{}")
      }
    } catch { case _: Throwable => reply(ex, 500, "{}") }

    private def authorized(ex: HttpExchange): Boolean = authSecret.isEmpty || {
      val h = ex.getRequestHeaders.getFirst("Authorization")
      h != null && h == s"Bearer graft-token-$tokenGeneration"
    }

    /** Aidbox-shaped token endpoint: client credentials as URL params
      * over an empty POST body (the reference's requests.post(params=…)
      * wire shape, cnics_to_fhir.py:205-207). */
    private def handleToken(ex: HttpExchange): Unit = {
      val params = Option(ex.getRequestURI.getRawQuery).toSeq
        .flatMap(_.split("&")).map(_.split("=", 2))
        .collect { case Array(k, v) =>
          k -> java.net.URLDecoder.decode(v, "UTF-8") }
        .toMap
      val ok = ex.getRequestMethod == "POST" &&
        params.get("grant_type").contains("client_credentials") &&
        authSecret.exists(params.get("client_secret").contains(_))
      if (ok) {
        tokenFetches.incrementAndGet()
        reply(ex, 200, s"""{"access_token":"graft-token-$tokenGeneration","token_type":"Bearer"}""")
      } else {
        tokenRejects.incrementAndGet()
        reply(ex, 401, """{"error":"invalid_client"}""")
      }
    }

    private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }

    private def handlePost(ex: HttpExchange): Unit = {
      posts.incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      if (failFirstPost && firstRejected.compareAndSet(false, true)) {
        rejectedPosts.incrementAndGet()
        reply(ex, 500, """{"resourceType":"OperationOutcome"}""")
        return
      }
      val bundle = mapper.readTree(body)
      // strict mode: verify BEFORE applying (transaction atomicity) —
      // every PUT's subject.reference must resolve in the store, or in
      // this bundle's own PUTs, and not be deleted by this bundle
      if (strictReferences) {
        val puts = scala.collection.mutable.Set[String]()
        val dels = scala.collection.mutable.Set[String]()
        bundle.path("entry").forEach { e =>
          val target = "/" + e.path("request").path("url").asText().split("\\?")(0)
          e.path("request").path("method").asText() match {
            case "PUT" => puts += target; ()
            case "DELETE" => dels += target; ()
            case _ => ()
          }
        }
        var bad: String = null
        bundle.path("entry").forEach { e =>
          if (e.path("request").path("method").asText() == "PUT") {
            val subj = e.path("resource").path("subject").path("reference").asText("")
            if (subj.nonEmpty) {
              val p = "/" + subj
              if (dels.contains(p) || (!puts.contains(p) && !data.containsKey(p)))
                bad = subj
            }
          }
        }
        if (bad != null) {
          refRejects.incrementAndGet()
          reply(ex, 400, s"""{"resourceType":"OperationOutcome","issue":[{"code":"processing","diagnostics":"unresolvable reference $bad"}]}""")
          return
        }
      }
      bundle.path("entry").forEach { e =>
        val req = e.path("request")
        val rawUrl = req.path("url").asText()
        val target = "/" + rawUrl.split("\\?")(0)
        req.path("method").asText() match {
          case "PUT" =>
            val res = e.path("resource")
            data.put(target, res.toString)
            indexPut(target, res.path("subject").path("reference").asText(""))
          case "DELETE" =>
            data.remove(target)
            unindex(target)
            // ?_cascade=delete on a Patient: drop the children whose
            // subject references the deleted patient (index lookup, not
            // a store scan)
            if (rawUrl.contains("_cascade=delete")) {
              val subjRef = rawUrl.split("\\?")(0) // "Patient/<id>"
              val kids = bySubject.remove(subjRef)
              if (kids != null) kids.forEach { p =>
                data.remove(p); subjectOf.remove(p); ()
              }
            }
          case _ => ()
        }
      }
      reply(ex, 200, """{"resourceType":"Bundle","type":"transaction-response"}""")
    }

    private def handleGet(ex: HttpExchange): Unit = {
      gets.incrementAndGet()
      val path = ex.getRequestURI.getPath // "/Patient"
      val params = Option(ex.getRequestURI.getRawQuery).toSeq
        .flatMap(_.split("&")).map(_.split("=", 2))
        .collect { case Array(k, v) =>
          k -> java.net.URLDecoder.decode(v, "UTF-8") }
        .toMap
      // FHIR token search on `identifier`: comma-separated OR of
      // tokens, each `system|value` (exact), `system|` (any value
      // under the system), or `value` (any system). A resource
      // matches if ANY token matches ANY of its identifiers.
      val idTokens: Option[Seq[(Option[String], Option[String])]] =
        params.get("identifier").map(_.split(",").toSeq.map { tok =>
          if (tok.contains("|")) {
            val Array(sys, v @ _*) = tok.split("\\|", 2): @unchecked
            (Some(sys), v.headOption.filter(_.nonEmpty))
          } else (None, Some(tok))
        })
      val subject = params.get("subject")
      val prefix = path + "/"
      val matches = scala.collection.mutable.ArrayBuffer[(String, ObjectNode)]()
      data.forEach { (p, b) =>
        if (p.startsWith(prefix)) {
          val node = mapper.readTree(b).asInstanceOf[ObjectNode]
          val sysOk = idTokens.forall { toks =>
            var found = false
            node.path("identifier").forEach { i =>
              val isys = i.path("system").asText("")
              val ival = i.path("value").asText("")
              if (toks.exists { case (ts, tv) =>
                ts.forall(_ == isys) && tv.forall(_ == ival) }) found = true
            }
            found
          }
          val subjOk = subject.forall(
            _ == node.path("subject").path("reference").asText(""))
          if (sysOk && subjOk) {
            val id = p.substring(prefix.length)
            node.put("id", id)
            matches += ((id, node))
          }
        }
      }
      val sorted = matches.sortBy(_._1) // the `_sort=_id` total order
      if (params.get("_summary").contains("count"))
        reply(ex, 200, s"""{"resourceType":"Bundle","total":${sorted.size}}""")
      else {
        val off = params.get("_offset").map(_.toInt).getOrElse(0)
        val cnt = params.get("_count").map(_.toInt).getOrElse(1000)
        val entries = sorted.slice(off, off + cnt)
          .map { case (_, n) => "{\"resource\":" + n.toString + "}" }
          .mkString(",")
        reply(ex, 200,
          s"""{"resourceType":"Bundle","total":${sorted.size},"entry":[$entries],"link":[]}""")
      }
    }
  }
}
