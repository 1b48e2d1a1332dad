package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import graft.sinks.FhirStore

/** What the store decorator reports: the calls that cut a sync into
  * per-type spans. */
trait StoreObserver {
  def read(resourceType: String): Unit
  def write(resourceType: String): Unit
  def written(resourceType: String): Unit
}

/** [[FhirStore]] decorator around the store under test. It counts the
  * store calls (the request count of a store without a wire) and hands
  * each call boundary to the current observer, if any. Every method
  * forwards to the wrapped store, so its own overrides stay in effect. */
final class ObservedStore(val inner: FhirStore) extends FhirStore with Serializable {
  val calls = new AtomicLong(0L)
  @transient @volatile var observer: Option[StoreObserver] = None

  private def read(rt: String): Unit = { calls.incrementAndGet(); observer.foreach(_.read(rt)) }

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String]): DataFrame = {
    read(resourceType)
    inner.snapshot(spark, resourceType, identifierSystem)
  }

  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    read(resourceType)
    inner.snapshotForSubjects(spark, resourceType, subjectIds)
  }

  override def snapshotForKeys(spark: SparkSession, resourceType: String,
      keys: DataFrame, identifierSystem: Option[String]): DataFrame = {
    read(resourceType)
    inner.snapshotForKeys(spark, resourceType, keys, identifierSystem)
  }

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    calls.incrementAndGet()
    observer.foreach(_.write(resourceType))
    try inner.applyActions(resourceType, actions)
    finally observer.foreach(_.written(resourceType))
  }

  override def applyActionsMixed(actions: DataFrame): Map[(String, String), Long] = {
    calls.incrementAndGet()
    inner.applyActionsMixed(actions)
  }
}

/** Resource counters of one span. */
final class SpanStats {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var gets = 0L
  var posts = 0L
  var postRejects = 0L
  var serverNs = 0L
}

/** SparkListener that charges every job, and its tasks, to the span
  * named by the job's `perfbench.span` local property, and records when
  * each SQL execution writing under a watched directory ends (the
  * incremental sync's manifest swing). */
final class SpanListener(watchRoot: Option[String]) extends SparkListener {
  import SpanListener.Job
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskStats = new ConcurrentHashMap[Int, SpanStats]()
  private val watched = new ConcurrentHashMap[Long, String]()
  /** resource type -> end times (epoch ms) of SQL writes under
    * `<watchRoot>/<type>/` */
  val writeEnds = new ConcurrentHashMap[String, java.util.List[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Prop)))
      .getOrElse("untraced")
    jobs.put(e.jobId, Job(span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (m != null) {
      val st = taskStats.computeIfAbsent(job, _ => new SpanStats)
      st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      watchRoot.foreach { root =>
        val plan = s.physicalPlanDescription
        if (plan != null && plan.contains("InsertIntoHadoopFsRelationCommand"))
          Extract.SyncedTypes.find(rt => plan.contains(s"$root/$rt/"))
            .foreach(rt => watched.put(s.executionId, rt))
      }
    case end: SparkListenerSQLExecutionEnd =>
      Option(watched.remove(end.executionId)).foreach { rt =>
        writeEnds.computeIfAbsent(rt, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[Long]())).add(end.time)
      }
    case _ => ()
  }

  /** Task counters of a job. */
  def jobStats(jobId: Int): Option[SpanStats] = Option(taskStats.get(jobId))

  def clear(): Unit = { jobs.clear(); stageJob.clear(); taskStats.clear(); writeEnds.clear() }
}

object SpanListener {
  val Prop = "perfbench.span"
  /** A job's span (its local property) and start time (epoch ms). */
  final case class Job(span: String, startMs: Long)
}

/** One traced sync: consecutive store-call boundaries cut it into
  * per-type spans that tile it exactly:
  *  - `pipeline.pre.T`: from the previous boundary to T's snapshot call;
  *  - `sinks.read.T`: T's snapshot call to its apply call;
  *  - `sinks.write.T`: the apply call;
  *  - `pipeline.post.T`: from the apply's return to the end of T's
  *    manifest swing (incremental sync only; after the last type it
  *    also holds the sync's closing bookkeeping).
  * Work between a write's return and the next snapshot call that is not
  * T's manifest swing belongs to the next type's `pre` span. Spans after
  * the sync (`model.assemble.T`) are recorded with [[mark]] too. */
final class SyncTrace(sc: SparkContext, incremental: Boolean) extends StoreObserver {
  private val marks = mutable.ArrayBuffer[(String, Long)]()
  @volatile var current: String = "untraced"

  def mark(name: String): Unit = synchronized {
    marks += ((name, SyncTrace.epochNs()))
    current = name
    sc.setLocalProperty(SpanListener.Prop, name)
  }

  def start(): Unit = mark(s"pipeline.pre.${Extract.SyncedTypes.head}")
  def read(rt: String): Unit = mark(s"sinks.read.$rt")
  def write(rt: String): Unit = mark(s"sinks.write.$rt")
  def written(rt: String): Unit = mark(s"gap.$rt")
  def stop(): Unit = { mark("end"); sc.setLocalProperty(SpanListener.Prop, null) }

  private def next(rt: String): Option[String] =
    Extract.SyncedTypes.dropWhile(_ != rt).drop(1).headOption

  /** Resolved spans (name, startNs, endNs), once the listener bus has
    * drained. Each mark's span ends at the following mark; the `end`
    * mark closes the sync and `done` the spans recorded after it. */
  def spans(listener: SpanListener): Seq[(String, Long, Long)] = {
    val ms = marks.toSeq
    ms.zip(ms.drop(1)).flatMap { case ((name, t0), (_, t1)) =>
      if (!name.startsWith("gap.")) Seq((name, t0, t1))
      else {
        val rt = name.stripPrefix("gap.")
        val post = s"pipeline.post.$rt"
        next(rt) match {
          case None => Seq((post, t0, t1))
          case Some(n) if !incremental => Seq((s"pipeline.pre.$n", t0, t1))
          case Some(n) =>
            val swingEnd = Option(listener.writeEnds.get(rt)).toSeq
              .flatMap(_.asScala.map(_ * 1000000L))
              .filter(t => t >= t0 - 1000000L && t <= t1 + 1000000L)
              .maxOption.getOrElse(t0)
            val cut = math.min(math.max(swingEnd, t0), t1)
            Seq((post, t0, cut), (s"pipeline.pre.$n", cut, t1))
        }
      }
    }.filter { case (n, _, _) => n != "end" && n != "done" }
  }

  /** Span a job was charged to, with gap jobs split at the manifest
    * swing's end like the span walls. */
  def spanOfJob(job: SpanListener.Job,
      resolved: Seq[(String, Long, Long)]): String =
    if (!job.span.startsWith("gap.")) job.span
    else {
      val t = job.startMs * 1000000L
      val rt = job.span.stripPrefix("gap.")
      val candidates = resolved.filter { case (n, _, _) =>
        n == s"pipeline.post.$rt" || next(rt).exists(x => n == s"pipeline.pre.$x") }
      candidates.find { case (_, a, b) => t >= a - 1000000L && t < b }
        .orElse(candidates.lastOption).map(_._1).getOrElse(s"pipeline.post.$rt")
    }
}

object SyncTrace {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Nanosecond clock on the epoch scale of listener event times. */
  def epochNs(): Long = offsetNs + System.nanoTime()
}

/** Loopback HTTP proxy in front of the FHIR server: forwards every
  * request unchanged and charges its round trip to the server, its
  * method and its status to the span current when it arrived. */
final class TimingProxy(targetPort: Int, span: () => String) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}

  val stats = new ConcurrentHashMap[String, SpanStats]()
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
  private var server: HttpServer = _

  def start(): Int = {
    server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => forward(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    pool.shutdownNow()
    ()
  }

  private def forward(ex: HttpExchange): Unit = try {
    val name = span()
    val body = ex.getRequestBody.readAllBytes()
    val query = Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
    val b = HttpRequest.newBuilder(java.net.URI.create(
      s"http://127.0.0.1:$targetPort${ex.getRequestURI.getRawPath}$query"))
      .method(ex.getRequestMethod,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofByteArray(body))
    Option(ex.getRequestHeaders.getFirst("Content-Type")).foreach(b.header("Content-Type", _))
    val t0 = System.nanoTime()
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    val dt = System.nanoTime() - t0
    val st = stats.computeIfAbsent(name, _ => new SpanStats)
    st.synchronized {
      st.serverNs += dt
      if (ex.getRequestMethod == "POST") {
        st.posts += 1
        if (r.statusCode() >= 400) st.postRejects += 1
      } else st.gets += 1
    }
    val out = r.body()
    ex.sendResponseHeaders(r.statusCode(), if (out.isEmpty) -1L else out.length.toLong)
    if (out.nonEmpty) ex.getResponseBody.write(out)
  } catch {
    case _: Throwable => ex.sendResponseHeaders(502, -1)
  } finally ex.close()
}
