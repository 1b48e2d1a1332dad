package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** [[HttpFhirStore.send]]'s retry rules against stub servers: what it
  * waits for before a retry, and what it never retries. */
class HttpSendSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** Runs `f` on the base URL of a stub server whose every exchange
    * `handle` answers with (status, headers, body), each on a thread
    * of its own, so a slow answer never holds up the server's stop. */
  private def stub[A](handle: HttpExchange => (Int, Seq[(String, String)], String))(
      f: String => A): A = {
    val pool = Executors.newCachedThreadPool()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => {
      val (status, headers, body) = handle(ex)
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}")
    finally { server.stop(0); pool.shutdownNow(); () }
  }

  test("an interrupted send rethrows at once, keeps the interrupt flag and sends nothing more") {
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val (arrived, answer) = (new CountDownLatch(1), new CountDownLatch(1))
    stub { ex =>
      ex.getRequestBody.readAllBytes()
      requests.incrementAndGet()
      arrived.countDown()
      answer.await(3, TimeUnit.SECONDS)
      (200, Nil, """{"resourceType":"Bundle"}""")
    } { url =>
      @volatile var outcome: (Throwable, Boolean) = null
      val sender = new Thread(() =>
        try HttpFhirStore.send(HttpClient.newHttpClient(), None, 3,
          () => HttpRequest.newBuilder(URI.create(s"$url/Patient")).GET())
        catch { case e: Throwable => outcome = (e, Thread.currentThread.isInterrupted) })
      sender.start()
      // interrupted 200 ms into the wait for the reply
      assert(arrived.await(10, TimeUnit.SECONDS))
      Thread.sleep(200)
      sender.interrupt()
      sender.join(2000)
      try {
        assert(!sender.isAlive, "the send outlived its interrupt by 2 s")
        assert(outcome._1.isInstanceOf[InterruptedException], outcome._1)
        assert(outcome._2, "the interrupt flag was cleared")
        assert(requests.get === 1)
      } finally answer.countDown()
    }
  }

  test("an interrupted snapshot count rethrows and starts no cursor walk") {
    val urls = new ConcurrentLinkedQueue[String]()
    val (arrived, answer) = (new CountDownLatch(1), new CountDownLatch(1))
    stub { ex =>
      urls.add(ex.getRequestURI.toString)
      arrived.countDown()
      answer.await(3, TimeUnit.SECONDS)
      (200, Nil, """{"resourceType":"Bundle","total":1}""")
    } { url =>
      @volatile var outcome: (Throwable, Boolean) = null
      val caller = new Thread(() =>
        try new HttpFhirStore(url, maxRetries = 3).snapshot(spark, "Patient")
        catch { case e: Throwable => outcome = (e, Thread.currentThread.isInterrupted) })
      caller.start()
      // interrupted while it waits for the count reply
      assert(arrived.await(10, TimeUnit.SECONDS))
      Thread.sleep(200)
      caller.interrupt()
      caller.join(2000)
      try {
        assert(!caller.isAlive, "the snapshot outlived its interrupt by 2 s")
        assert(outcome._1.isInstanceOf[InterruptedException], outcome._1)
        assert(outcome._2, "the interrupt flag was cleared")
        Thread.sleep(300) // room for a stray follow-up request to land
        assert(urls.toArray.toSeq.map(_.toString).forall(_.contains("_summary=count")), urls)
      } finally answer.countDown()
    }
  }

  test("a 429's Retry-After HTTP-date is waited out before the re-post") {
    import spark.implicits._
    val served = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // arrival times (ms) of every bundle POST; the first is refused
    val arrivals = new ConcurrentLinkedQueue[Long]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    stub { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      arrivals.add(System.currentTimeMillis())
      if (arrivals.size == 1) {
        // an IMF-fixdate has whole seconds: 2 s past the current second
        // is 1-2 s ahead
        val at = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
          .withNano(0).plusSeconds(2)
        (429, Seq("Retry-After" ->
          java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(at)),
          """{"resourceType":"OperationOutcome"}""")
      } else {
        mapper.readTree(body).path("entry").forEach { e =>
          served.put(e.path("request").path("url").asText(), e.path("resource").toString)
        }
        (200, Nil, """{"resourceType":"Bundle","type":"transaction-response"}""")
      }
    } { url =>
      val store = new HttpFhirStore(url, maxRetries = 3)
      val rows = (1 to 3).map(i =>
        (s"k$i", s"id-$i", s"""{"identifier":[{"value":"k$i"}]}""", "insert"))
        .toDF("key", "id", "json", "merge_action").coalesce(1)
      assert(store.applyActions("Patient", rows) === Map("insert" -> 3L))
      val times = arrivals.toArray.map(_.asInstanceOf[Long])
      assert(times.length === 2)
      val gap = times(1) - times(0)
      assert(gap >= 1000L && gap < 3000L, s"re-posted after $gap ms")
      assert(served.keySet.toArray.toSet === Set("Patient/id-1", "Patient/id-2", "Patient/id-3"))
    }
  }
}
