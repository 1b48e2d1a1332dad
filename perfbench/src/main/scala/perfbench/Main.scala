package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (normally started by `run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      [--work-dir <dir>]
  * }}}
  *
  * Sets the workload up, runs the warm-up op, then runs checked syncs for `--seconds` seconds and prints one
  * JSON result line. With `--trace 1` it instead runs untraced and
  * traced syncs for half the time each and reports the per-layer
  * metrics and the tracing overhead; the spans go to
  * `<work-dir>/trace-<workload>-<seed>.json`. Exits 1 when any check
  * failed. */
object Main {
  def main(args: Array[String]): Unit = {
    Log("start")
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = WorkloadSpec(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = new java.io.File(opts.getOrElse("work-dir", ".bench_build/work"))
      .getAbsolutePath

    val spark = Session.create(workDir)
    val wl = new CnicsWorkload(spec, spark, seed, s"$workDir/${spec.name}")
    val result = try {
      if (trace) Runner.traced(wl, spark, seconds, workDir, seed)
      else Runner.untraced(wl, seconds)
    } catch {
      case e: Throwable =>
        System.err.println(s"benchmark failed: $e")
        e.printStackTrace()
        Result(correct = false, attempted = 1, failed = 1, Map.empty)
    }
    spark.stop()
    println(result.json)
    // the HTTP servers' worker pools are not daemons
    sys.exit(if (result.correct) 0 else 1)
  }
}

object Session {
  def create(workDir: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val local = s"$workDir/spark-local"
    new java.io.File(local).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}

final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Map[String, Metric]) {
  def json: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Runner {
  /** The end-to-end metrics an untraced run reports. */
  val EndToEnd: Seq[String] =
    Seq("sync_s", "setup_s", "store_requests_per_1k_resources", "peak_rss_mb")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Checked ops until `seconds` have passed; stops at the first
    * failure. */
  private def measure(seconds: Double, minOps: Int)(op: => SyncResult)
      : (Seq[SyncResult], Int) = {
    val out = mutable.ArrayBuffer[SyncResult]()
    val t0 = System.nanoTime()
    var failed = 0
    while (failed == 0 && (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds)) {
      try out += op
      catch {
        case e: Throwable =>
          System.err.println(s"op ${out.size + 1} failed: $e")
          failed += 1
      }
    }
    (out.toSeq, failed)
  }

  def untraced(wl: CnicsWorkload, seconds: Double): Result = {
    val t0 = System.nanoTime()
    val site = wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    try {
      wl.warmUp(site)
      val (ops, failed) = measure(seconds, minOps = 2)(wl.op(site, site.store))
      val perK = ops.map(r => r.requests * 1000.0 / wl.resources(site.current))
      Result(failed == 0, ops.size + failed, failed, Map(
        "sync_s" -> Metric(median(ops.map(_.wallS)), "s"),
        "setup_s" -> Metric(setupS, "s"),
        "store_requests_per_1k_resources" -> Metric(median(perK), "count"),
        "peak_rss_mb" -> Metric(peakRssMb(), "MB")))
    } finally site.close()
  }

  /** Untraced and traced ops in turn (at least one of each) for the
    * whole time; the first traced op is followed by the
    * `model.assemble` spans. */
  def traced(wl: CnicsWorkload, spark: SparkSession, seconds: Double, workDir: String,
      seed: Long): Result = {
    val site = wl.setup()
    try {
      wl.warmUp(site)
      if (wl.spec.http) {
        val proxy = new TimingProxy(site.serverPort.get, () => currentSpan)
        site.proxy = Some(proxy)
        site.tracedStore = new ObservedStore(new graft.sinks.HttpFhirStore(
          s"http://127.0.0.1:${proxy.start()}"))
      }
      val listener = new SpanListener(
        if (wl.spec.incremental) Some(wl.manifestRoot(site)) else None)
      spark.sparkContext.addSparkListener(listener)
      val perSync = mutable.ArrayBuffer[Map[String, Double]]()
      val spans = mutable.ArrayBuffer[String]()
      val plain = mutable.ArrayBuffer[SyncResult]()
      val (tracedOps, failed) = measure(seconds / 2, minOps = 1) {
        plain += wl.op(site, site.store)
        val tr = new SyncTrace(spark.sparkContext, wl.spec.incremental)
        active = Some(tr)
        site.tracedStore.observer = Some(tr)
        val r = try {
          tr.start()
          val r = wl.op(site, site.tracedStore)
          tr.stop()
          if (perSync.isEmpty) wl.assembly(site, site.current).foreach { case (rt, df) =>
            tr.mark(s"model.assemble.$rt")
            df.select("json").write.format("noop").mode("overwrite").save()
          }
          tr.mark("done")
          r
        } finally {
          site.tracedStore.observer = None
          spark.sparkContext.setLocalProperty(SpanListener.Prop, null)
          active = None
        }
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
        val layer = Layers.of(wl, tr, listener, site.proxy, r, Session.cores(spark))
        perSync += layer.metrics
        spans ++= layer.spanJson(perSync.size)
        listener.clear()
        site.proxy.foreach(_.stats.clear())
        r
      }
      writeSpans(s"$workDir/trace-${wl.spec.name}-$seed.json", spans.toSeq)
      val ok = failed == 0 && tracedOps.nonEmpty
      val metrics = if (!ok) Map.empty[String, Metric] else {
        // the assemble spans exist on the first traced sync only
        def value(n: String): Double =
          if (n.startsWith("model.")) perSync.head(n) else median(perSync.toSeq.map(_(n)))
        perSync.head.keys.map(n => n -> Metric(value(n), Layers.unit(n))).toMap +
          ("tracing_overhead" -> Metric(
            median(tracedOps.map(_.wallS)) / median(plain.toSeq.map(_.wallS)), "ratio"))
      }
      Result(ok, plain.size + tracedOps.size + failed, failed, metrics)
    } finally site.close()
  }

  @volatile private var active: Option[SyncTrace] = None
  private def currentSpan: String = active.map(_.current).getOrElse("untraced")

  private def writeSpans(path: String, spans: Seq[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, spans.mkString("[\n", ",\n", "\n]\n"))
    ()
  }
}

/** Per-layer metrics of one traced sync. */
final case class Layers(metrics: Map[String, Double],
    spans: Seq[(String, Long, Long)], syncStart: Long, syncEnd: Long) {
  /** The sync's spans as JSON records: the root `sync` span, whose self
    * time is what its per-type children do not cover, and each child. */
  def spanJson(sync: Int): Seq[String] = {
    val children = spans.filter { case (n, a, _) => a < syncEnd && !n.startsWith("model.") }
    val covered = children.map { case (_, a, b) => b - a }.sum
    def rec(name: String, parent: String, a: Long, b: Long, self: Long) =
      f"""{"sync": $sync, "name": "$name", "parent": "$parent", "start_ms": ${a / 1e6}%.3f, "end_ms": ${b / 1e6}%.3f, "self_s": ${self / 1e9}%.6f}"""
    rec("sync", "", syncStart, syncEnd, (syncEnd - syncStart) - covered) +:
      spans.map { case (n, a, b) =>
        rec(n, if (n.startsWith("model.")) "" else "sync", a, b, b - a) }
  }
}

object Layers {
  /** Every per-layer metric name a traced run reports. */
  val names: Seq[String] = Extract.SyncedTypes.flatMap { t =>
    Seq(s"pipeline.pre.$t.wall_s", s"sinks.read.$t.wall_s", s"sinks.read.$t.gets",
      s"sinks.read.$t.util", s"sinks.write.$t.wall_s", s"sinks.write.$t.shuffle_mb",
      s"sinks.write.$t.output_mb", s"sinks.write.$t.posts", s"pipeline.post.$t.wall_s")
  } ++ Extract.AllTypes.map(t => s"model.assemble.$t.wall_s") ++ Seq("sinks.http.post_rejects", "sinks.http.server_s", "spark.jobs_per_sync",
    "spark.tasks_per_sync", "spark.gc_s", "reconcile.changed_per_written",
    "tracing_overhead")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith(".util") || name.endsWith("_per_written") ||
      name == "tracing_overhead") "ratio"
    else "count"

  def of(wl: CnicsWorkload, tr: SyncTrace, listener: SpanListener,
      proxy: Option[TimingProxy], r: SyncResult, cores: Int): Layers = {
    val spans = tr.spans(listener)
    val stats = mutable.Map[String, SpanStats]().withDefault(_ => new SpanStats)
    def add(span: String)(f: SpanStats => Unit): Unit = {
      val st = stats(span); f(st); stats(span) = st
    }
    listener.jobs.asScala.foreach { case (id, job) =>
      val span = tr.spanOfJob(job, spans)
      add(span)(_.jobs += 1)
      listener.jobStats(id).foreach { t =>
        add(span) { st =>
          st.tasks += t.tasks; st.runMs += t.runMs; st.gcMs += t.gcMs
          st.shuffleWriteBytes += t.shuffleWriteBytes; st.outputBytes += t.outputBytes
        }
      }
    }
    proxy.foreach(_.stats.asScala.foreach { case (span, h) =>
      add(span) { st =>
        st.gets += h.gets; st.posts += h.posts; st.postRejects += h.postRejects
        st.serverNs += h.serverNs
      }
    })
    val wall = spans.groupMapReduce(_._1) { case (_, a, b) => (b - a) / 1e9 }(_ + _)
      .withDefaultValue(0.0)
    val syncStart = spans.head._2
    val syncEnd = spans.filterNot(_._1.startsWith("model.")).map(_._3).max
    val inSync = stats.toSeq.filterNot { case (n, _) => n.startsWith("model.") }.map(_._2)
    val mb = 1024.0 * 1024.0
    val m = Extract.SyncedTypes.flatMap { t =>
      val rd = stats(s"sinks.read.$t")
      val wr = stats(s"sinks.write.$t")
      val readWall = wall(s"sinks.read.$t")
      Seq(
        s"pipeline.pre.$t.wall_s" -> wall(s"pipeline.pre.$t"),
        s"sinks.read.$t.wall_s" -> readWall,
        s"sinks.read.$t.gets" -> rd.gets.toDouble,
        s"sinks.read.$t.util" ->
          (if (readWall > 0) rd.runMs / 1000.0 / (readWall * cores) else 0.0),
        s"sinks.write.$t.wall_s" -> wall(s"sinks.write.$t"),
        s"sinks.write.$t.shuffle_mb" -> wr.shuffleWriteBytes / mb,
        s"sinks.write.$t.output_mb" -> wr.outputBytes / mb,
        s"sinks.write.$t.posts" -> wr.posts.toDouble,
        s"pipeline.post.$t.wall_s" -> wall(s"pipeline.post.$t"))
    } ++ Extract.AllTypes.map(t => s"model.assemble.$t.wall_s" -> wall(s"model.assemble.$t")) ++ Seq(
      "sinks.http.post_rejects" -> inSync.map(_.postRejects).sum.toDouble,
      "sinks.http.server_s" -> inSync.map(_.serverNs).sum / 1e9,
      "spark.jobs_per_sync" -> inSync.map(_.jobs).sum.toDouble,
      "spark.tasks_per_sync" -> inSync.map(_.tasks).sum.toDouble,
      "spark.gc_s" -> inSync.map(_.gcMs).sum / 1000.0,
      "reconcile.changed_per_written" -> wl.changedPerWritten(r.audit))
    Layers(m.toMap, spans, syncStart, syncEnd)
  }
}
