package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pluggable FHIR resource store (SURVEY.md §2 A7/B1/B2).
  *
  * `snapshot` answers "what does the store currently hold" as a
  * (key, id) frame keyed on the business identifier — the right-hand
  * side of the reconcile merge. `applyActions` performs the writes.
  *
  * Contract for `actions`: columns `key` (business identifier value),
  * `id` (target resource id), `json` (serialized resource, null for
  * deletes), `merge_action` in {insert, update, delete, error}. An
  * `error` row is a key the store holds more than once (E5, the
  * reference's "Multiple patient resources" abort): every store counts
  * it in the returned map and never applies it, so the key's stored
  * resources stay as they are.
  */
trait FhirStore {
  /** Store snapshot, optionally scoped to resources carrying an
    * identifier under `identifierSystem` — the reference's site-scoped
    * Patient GET (`?identifier=<system>|`, cnics_to_fhir.py:322-326).
    * Scoping is a correctness requirement on a SHARED multi-site
    * store: the reconcile's delete set is store∖source, and an
    * unscoped snapshot would classify every other site's patients as
    * deletable orphans. */
  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame

  /** Snapshot of a child resource type restricted to the given subject
    * resources — the distributed twin of the reference's per-patient
    * child GETs (`cnics_to_fhir.py:543-546, 640-643, 723-726`).
    * `subjectIds` is a one-column frame of subject resource ids (the
    * `Patient/<id>` target without the type prefix). Scoping matters
    * for correctness, not just scale: the reconcile's delete set is
    * store∖source, and only store entries belonging to the cohort's
    * subjects are legitimately deletable. */
  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame

  /** Key-targeted snapshot: only the given business keys are looked
    * up — the read half of an incremental sync, where a dirty set of
    * K keys must cost O(K) on the wire, not O(store). `keys` is a
    * one-column frame of identifier values; `identifierSystem`
    * qualifies them (FHIR token `system|value`), which a shared
    * multi-site store REQUIRES — raw values collide across sites.
    * Default: the scoped full snapshot semi-joined to the keys (right
    * for scan-based stores, where the scan IS the fan-out); the HTTP
    * store overrides with batched token-OR searches. */
  def snapshotForKeys(spark: SparkSession, resourceType: String,
      keys: DataFrame, identifierSystem: Option[String] = None): DataFrame =
    snapshot(spark, resourceType, identifierSystem)
      .join(keys.select(col(keys.columns.head).cast("string").as("key")),
        Seq("key"), "left_semi")

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long]

  /** Mixed-type SINGLE-STAGE write (r15 verdict #7): `actions` carries
    * every resource type of the job at once — (resource_type, key, id,
    * json, merge_action) — and the store applies them in one pass,
    * returning counts keyed (resource_type, action). Client-assigned
    * ids make this legal: children reference `Patient/<deterministic
    * id>`, so no store-returned id feeds a later stage.
    *
    * Default (stores with no write of their own, such as
    * [[InMemoryFhirStore]]): per-type [[applyActions]] in parent-first
    * order — same end state, still sequential per type. Neither real
    * store uses it: [[HttpFhirStore]] overrides with true mixed-type
    * transaction Bundles (ONE distributed write job, the parent→child
    * stage barrier gone), and [[ParquetFhirStore]] with one rewrite per
    * type directory, children before Patient. The distinct-type collect
    * is a ≤#resource-types driver read, not a data collect. */
  def applyActionsMixed(actions: DataFrame): Map[(String, String), Long] = {
    val types = actions.select("resource_type").distinct()
      .collect().map(_.getString(0))
    types.sortBy(t => (if (t == "Patient") 0 else 1, t)).flatMap { rt =>
      applyActions(rt, actions.filter(col("resource_type") === rt)
        .select("key", "id", "json", "merge_action"))
        .map { case (a, n) => (rt, a) -> n }
    }.toMap
  }
}

object FhirStore {
  val snapshotSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("id", StringType)))
}

/** Driver-local store double for tests and goldens. Deterministic and
  * synchronous; the `collect()` here is test-harness plumbing, not the
  * data plane (the production sink is HttpFhirStore's partition-wise
  * writer). */
class InMemoryFhirStore extends FhirStore with Serializable {
  // (resourceType, key) -> (id, json)
  val data: scala.collection.mutable.Map[(String, String), (String, String)] =
    scala.collection.mutable.Map()

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def hasSystem(json: String, sys: String): Boolean = {
      val ids = mapper.readTree(json).path("identifier")
      var found = false
      ids.forEach(n => if (n.path("system").asText("") == sys) found = true)
      found
    }
    val rows = data.collect { case ((rt, key), (id, json)) if rt == resourceType &&
        identifierSystem.forall(hasSystem(json, _)) =>
      Row(key, id)
    }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FhirStore.snapshotSchema)
  }

  /** Subject-scoped snapshot: filters stored resources on their
    * serialized `subject.reference`. Driver-side like the rest of the
    * double (test-harness plumbing, not the data plane). */
  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val wanted = subjectIds.collect().map(r => "Patient/" + r.get(0).toString).toSet
    val rows = data.collect { case ((rt, key), (id, json)) if rt == resourceType &&
        wanted.contains(mapper.readTree(json).path("subject").path("reference").asText("")) =>
      Row(key, id)
    }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FhirStore.snapshotSchema)
  }

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] = {
    val rows = actions.select("key", "id", "json", "merge_action").collect()
    rows.foreach { r =>
      val (key, id, json, act) = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      act match {
        case "delete" => data.remove((resourceType, key)); ()
        case "error" => ()
        case _ => data((resourceType, key)) = (id, json)
      }
    }
    // HAPI cascade parity: the HTTP sink sends `?_cascade=delete` on
    // Patient deletes (cnics_to_fhir.py:333), so the double removes the
    // deleted patients' children too — all three store implementations
    // agree on the end state. One scan for the whole delete batch, not
    // one per deleted row.
    if (resourceType == "Patient") {
      val deletedRefs = rows.collect {
        case r if r.getString(3) == "delete" => s"Patient/${r.getString(1)}"
      }.toSet
      if (deletedRefs.nonEmpty) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        // keys, not a Map built from them: a Map keyed on the type
        // would keep one doomed child per type
        val doomed = data.toSeq.collect { case (k, (_, j))
            if deletedRefs.contains(mapper.readTree(j).path("subject")
              .path("reference").asText("")) => k }
        doomed.foreach(data.remove)
      }
    }
    rows.groupBy(_.getString(3)).map { case (k, v) => k -> v.length.toLong }
  }
}

/** Parquet-backed store: the lakehouse form of the reconcile target.
  * Resources live as (key, id, json) rows in one parquet directory per
  * resource type; `snapshot` is a plain distributed scan (no paging at
  * all — the scan parallelism IS the fan-out), and a write rewrites
  * each touched directory copy-on-write: survivors (minus deletes)
  * plus upserts, written to a fresh version directory and swapped in.
  * One write mechanism serves both entry points: [[applyActionsMixed]]
  * rewrites every directory it touches exactly once, children before
  * Patient, and [[applyActions]] is the same body over a one-type
  * frame. Every operation is a Spark job over the full cluster; the
  * driver only moves directory pointers. Idempotent by construction —
  * actions keyed on the business identifier, PUT-semantics like the
  * HTTP sink. `baseDir` may be any Hadoop path (plain local, `file:`,
  * `hdfs:`, `s3a:`): every existence check and listing goes through
  * the path's Hadoop FileSystem, like the swap itself. */
class ParquetFhirStore(baseDir: String) extends FhirStore with Serializable {
  import org.apache.hadoop.fs.Path
  import graft.operators.Lakehouse

  private def dir(rt: String) = s"$baseDir/$rt"

  /** Restore every type dir a crashed [[swapIn]] left stranded at
    * `<type>.bak` — run by every read and write entry, so a crash
    * between the swap's two renames never reads as an empty store
    * (which would classify every source row as an insert). */
  private def heal(spark: SparkSession): Unit =
    Option(Lakehouse.fs(spark, baseDir).globStatus(new Path(baseDir, "*.bak")))
      .getOrElse(Array.empty)
      .foreach(b => Lakehouse.recoverBakSwap(spark, dir(b.getPath.getName.stripSuffix(".bak"))))

  /** The stored (key, id, json) rows of a type, read with the declared
    * schema (no schema-inference job); empty when the type has no dir. */
  private def stored(spark: SparkSession, rt: String): DataFrame =
    if (Lakehouse.fs(spark, baseDir).exists(new Path(dir(rt))))
      spark.read.schema(ParquetFhirStore.rowSchema).parquet(dir(rt))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ParquetFhirStore.rowSchema)

  /** The type dirs on disk other than Patient — the cascade's targets
    * (not the `.v*` versions a write is building, nor a swap's `.bak`). */
  private def childDirs(spark: SparkSession): Seq[String] = {
    val fs = Lakehouse.fs(spark, baseDir)
    val root = new Path(baseDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n != "Patient" && !n.contains(".v") && !n.endsWith(".bak"))
  }

  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = {
    heal(spark)
    val base = stored(spark, resourceType)
    identifierSystem match {
      case None => base.select("key", "id")
      case Some(sys) =>
        // any identifier under the system qualifies (FHIR token search
        // semantics of `identifier=<system>|`): parse just the
        // identifier systems out of the stored JSON — a narrow
        // projection, scanned distributed like the rest of the snapshot
        base
          .withColumn("__ids", expr(
            "from_json(json, 'STRUCT<identifier: ARRAY<STRUCT<system: STRING>>>')"))
          .filter(exists(col("__ids.identifier"), i => i("system") === lit(sys)))
          .select("key", "id")
    }
  }

  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    heal(spark)
    val idCol = subjectIds.columns.head
    val subj = subjectIds.select(
      concat(lit("Patient/"), col(idCol).cast("string")).as("__subj"))
    stored(spark, resourceType)
      .withColumn("__subj", get_json_object(col("json"), "$.subject.reference"))
      .join(broadcast(subj), Seq("__subj"), "left_semi")
      .select("key", "id")
  }

  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] =
    applyActionsMixed(actions.select(lit(resourceType).as("resource_type"),
        col("key"), col("id"), col("json"), col("merge_action")))
      .map { case ((_, a), n) => a -> n }

  /** The store's one write: `actions` is materialized once (a local
    * checkpoint, filled by the count) and counted with one
    * (resource_type, merge_action) aggregate, then each type
    * dir is rewritten ONCE — its stored rows minus its touched keys,
    * minus (HAPI cascade parity with the HTTP sink's
    * `?_cascade=delete`, cnics_to_fhir.py:333) the rows whose
    * `subject.reference` names a Patient deleted in this call, plus
    * its upserts. An `error` key is counted and keeps its stored rows.
    * A Patient delete rewrites every child dir on disk; otherwise only
    * the types with applied actions are rewritten.
    *
    * The checkpoint is released when the write returns, and a lost
    * executor during the rewrites fails the write (checkpoint blocks
    * cannot be recomputed; the bak swaps keep the store consistent and
    * the next run re-classifies what was not swapped in).
    *
    * Children swap BEFORE the Patient dir: a crash between the two then
    * leaves the deleted patients still in the store, so the next run
    * re-classifies the delete and re-fires the cascade (idempotent
    * no-op on the already-rewritten children). The reverse order would
    * orphan children permanently — the departed patient has no cohort
    * subject, so no later child reconcile can reach them and the
    * Patient delete never re-fires. */
  override def applyActionsMixed(actions: DataFrame): Map[(String, String), Long] = {
    val spark = actions.sparkSession
    heal(spark)
    // a checkpoint, not a persist: every rewrite below then plans over
    // a leaf instead of re-analyzing the whole classify lineage
    graft.operators.Checkpoints.pinned(
        actions.select("resource_type", "key", "id", "json", "merge_action")) { acts =>
      val counts = acts.groupBy("resource_type", "merge_action").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val acted = counts.keySet.collect { case (rt, a) if a != "error" => rt }
      val cascade = counts.contains(("Patient", "delete"))
      val deletedRefs = acts
        .filter(col("resource_type") === "Patient" && col("merge_action") === "delete")
        .select(concat(lit("Patient/"), col("id")).as("__subj"))
      def rewrite(rt: String): Unit = {
        // an `error` key keeps its stored rows: it is neither touched nor upserted
        val mine = acts.filter(col("resource_type") === rt && col("merge_action") =!= "error")
        val upserts = mine.filter(col("merge_action") =!= "delete").select("key", "id", "json")
        val cur = stored(spark, rt)
        val live = if (!cascade || rt == "Patient") cur else cur
          .withColumn("__subj", get_json_object(col("json"), "$.subject.reference"))
          .join(broadcast(deletedRefs), Seq("__subj"), "left_anti")
          .select("key", "id", "json")
        swapIn(spark, rt,
          live.join(mine.select("key"), Seq("key"), "left_anti").unionByName(upserts))
      }
      val children = (acted ++ (if (cascade) childDirs(spark) else Nil)) - "Patient"
      children.toSeq.sorted.foreach(rewrite)
      if (acted("Patient")) rewrite("Patient")
      counts
    }
  }

  /** Copy-on-write swap: write `next` to a versioned tmp dir, then
    * bak-swap it into place ([[graft.operators.Lakehouse.bakSwapInto]]:
    * a failed rename throws before anything is deleted, and a crash
    * between the renames is healed by [[heal]]; object stores would
    * commit a manifest instead). */
  private def swapIn(spark: SparkSession, resourceType: String, next: DataFrame): Unit = {
    val tmp = dir(resourceType) + ".v" + System.nanoTime()
    next.write.mode("overwrite").parquet(tmp)
    Lakehouse.bakSwapInto(spark, dir(resourceType), tmp, "ParquetFhirStore")
  }
}

object ParquetFhirStore {
  /** The stored row of every type dir. */
  private val rowSchema: StructType = StructType(Seq(StructField("key", StringType),
    StructField("id", StringType), StructField("json", StringType)))
}

/** Client-credentials OAuth for auth-fronted FHIR stores — the
  * reference's `aidbox` store flavor (cnics_to_fhir.py:196-213): one
  * POST `?grant_type=client_credentials&client_id=…&client_secret=…`
  * to the auth endpoint (credentials as URL params over an empty body —
  * the reference's `requests.post(params=…)` wire shape), the
  * `access_token` parsed from the JSON reply, and `Authorization:
  * Bearer <token>` on every subsequent store call. A failed fetch
  * THROWS — the reference `quit()`s ("Unable to query FHIR server for
  * auth token"). The POST goes through [[HttpFhirStore.send]]: a 429,
  * 5xx or connect error gets the store's bounded-retry treatment, any
  * other 4xx is a credential problem and fails immediately (retrying
  * cannot fix it), and so does a reply without an `access_token`.
  *
  * Scale shape: tokens cache PER JVM (companion map keyed on
  * (url, client, secret)), so the driver fetches once at store
  * construction (fail-fast, before any pipeline work) and each
  * executor JVM fetches once on first use instead of once per task;
  * a 401 mid-run triggers ONE bounded [[refresh]] (tokens expire)
  * before the request is failed for real. */
final class ClientCredentialsAuth(tokenUrl: String, clientId: String,
    clientSecret: String, maxRetries: Int = 5) extends Serializable {
  import java.net.http.{HttpClient, HttpRequest}

  private def key = (tokenUrl, clientId, clientSecret)

  def token(c: HttpClient): String =
    ClientCredentialsAuth.cache.computeIfAbsent(key, _ => fetch(c))

  /** Drop the cached token and fetch a fresh one — the 401 path. */
  def refresh(c: HttpClient): String = {
    val t = fetch(c)
    ClientCredentialsAuth.cache.put(key, t)
    t
  }

  private def fetch(c: HttpClient): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // Deliberate wire-parity tradeoff (cnics_to_fhir.py:196-213): the
    // reference sends the credentials as URL params over an empty
    // body, and the Aidbox endpoint it talks to expects exactly that —
    // but query strings are commonly logged by proxies/servers, so the
    // secret can land in access logs. An RFC 6749 §2.3.1 form body is
    // the hardening move if the server ever accepts it.
    val u = s"$tokenUrl?grant_type=client_credentials" +
      s"&client_id=${enc(clientId)}&client_secret=${enc(clientSecret)}"
    try {
      val r = HttpFhirStore.send(c, None, maxRetries, () =>
        HttpRequest.newBuilder(java.net.URI.create(u))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.noBody()))
      val tok = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(r.body()).path("access_token").asText(null)
      require(tok != null && tok.nonEmpty, "auth reply carries no access_token")
      tok
    } catch {
      case e: Exception =>
        // send's messages name the request URI, whose query carries the
        // secret: the cause keeps the trace, never the secret
        val (msg, secret) = (String.valueOf(e.getMessage), enc(clientSecret))
        val cause = new RuntimeException(
          if (secret.isEmpty) msg else msg.replace(secret, "<secret>"))
        cause.setStackTrace(e.getStackTrace)
        throw new IllegalStateException(
          s"unable to fetch FHIR auth token from $tokenUrl", cause)
    }
  }
}

object ClientCredentialsAuth {
  // ConcurrentHashMap.computeIfAbsent, not TrieMap.getOrElseUpdate:
  // the latter may evaluate the fetch MORE THAN ONCE under a
  // concurrent first use (ADVICE r15 — an executor thundering herd
  // would fire duplicate token POSTs and break the "one fetch per
  // JVM" pin); computeIfAbsent runs the mapping function at most once
  // per key, with racers blocking on the winner.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), String]()
}

/** HTTP-backed store: the production sink/source.
  *
  * Scale design (vs the reference's single-threaded driver loop with
  * one request per row, cnics_to_fhir.py:339-354):
  *  - writes run on executors via `mapPartitions` with one pooled
  *    `HttpClient` per partition and bounded retries;
  *  - PUT-with-id upserts (client-assigned deterministic ids) make
  *    retries idempotent — no conditional-create dance needed;
  *  - snapshots of per-subject child resources fan out per partition
  *    (the distributed twin of the reference's per-patient GETs);
  *  - full-store snapshots fan page offsets out across executors
  *    (`?_count/_offset` after one `_summary=count` sizing call); for
  *    stores with no search total the fallback walks a slim
  *    `_elements=id` cursor (ids only on the driver) and fans the
  *    resource fetch out as `?_id=a,b,c` shard batches.
  *  - `auth` (the reference's `aidbox` flavor) puts `Authorization:
  *    Bearer` on every request, driver- and executor-side; the token
  *    is fetched ONCE at construction so wrong credentials abort the
  *    job before any pipeline work (the reference's quit()), and an
  *    unauthorized response is ALWAYS a loud failure — a swallowed
  *    401 would parse as an EMPTY store and make the reconcile
  *    classify every source row as insertable and every store row as
  *    a deletable orphan.
  * Every request goes through [[HttpFhirStore.send]], so no error
  * reply ever reaches a page parser or a write count. Driver never
  * touches row data.
  */
class HttpFhirStore(baseUrl: String, maxRetries: Int = 5, bundleSize: Int = 100,
    pageSize: Int = 1000, idBatch: Int = 100,
    auth: Option[ClientCredentialsAuth] = None)
    extends FhirStore with Serializable {

  import java.net.http.{HttpClient, HttpRequest}
  import java.net.URI
  import HttpFhirStore.{keyed, pages, send, writeBundles}

  private def client(): HttpClient = HttpClient.newHttpClient()

  // fail-fast at job start (cnics_to_fhir.py:211-213): bad credentials
  // must abort before any pipeline work, not 401 mid-reconcile
  auth.foreach(_.token(client()))

  /** Full-store snapshot, distributed: one driver `?_summary=count`
    * round-trip sizes the store, then page OFFSETS are partitioned
    * across executors and each partition fetches its
    * `?_count=N&_offset=k` pages with a pooled client — snapshot time
    * scales with executors, not store size. Servers without a search
    * total fall back to the sequential cursor pager (`link: next`),
    * which cannot be parallelized. Like any paged scan of a live store,
    * the snapshot is best-effort under concurrent mutation — identical
    * to the reference's one-shot search (cnics_to_fhir.py:215-217),
    * which also reads a moving store without isolation. */
  def snapshot(spark: SparkSession, resourceType: String,
      identifierSystem: Option[String] = None): DataFrame = {
    // FHIR token search `identifier=<system>|` — any identifier under
    // the system, any value (the reference's site scope, py:322). The
    // server applies the filter, so pages carry only in-scope rows.
    val idq = identifierSystem.map(s => "&identifier=" +
      java.net.URLEncoder.encode(s + "|", "UTF-8")).getOrElse("")
    val total: Long =
      try {
        val r = send(client(), auth, maxRetries, () => HttpRequest.newBuilder(
          URI.create(s"$baseUrl/$resourceType?_summary=count&_format=json$idq")).GET())
        val t = HttpFhirStore.mapper.readTree(r.body()).path("total")
        if (t.isNumber) t.asLong() else -1L
      } catch {
        // an interrupt stops the snapshot; only a failed count (a 400
        // from a server without `_summary=count`) falls back
        case e: InterruptedException => Thread.currentThread.interrupt(); throw e
        case scala.util.control.NonFatal(_) => -1L
      }
    if (total < 0L) return snapshotCursor(spark, resourceType, idq)
    if (total == 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], FhirStore.snapshotSchema)

    val ps = math.max(1, pageSize)
    val offsets = 0L.until(total, ps.toLong)
    val (url, bearer, retries) = (baseUrl, auth, maxRetries)
    import spark.implicits._
    spark.createDataset(offsets)
      .repartition(math.min(offsets.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { offs =>
        val pc = HttpClient.newHttpClient()
        // _sort=_id: FHIR leaves search result order UNSPECIFIED
        // without an explicit sort, and offset pages of an unordered
        // search may drop or duplicate rows across pages even on a
        // static store. Pinning the order is a requirement of this
        // parallel pager; servers that cannot sort should take the
        // sequential cursor fallback instead. Each offset is one page:
        // its `link: next` is another partition's offset.
        offs.flatMap(off => keyed(pc, bearer, retries,
          s"$url/$resourceType?_count=$ps&_offset=$off&_sort=_id&_format=json$idq",
          follow = false))
      }.toDF("key", "id")
  }

  /** Keyspace-sharded fallback for stores that report no search total.
    *
    * The `link: next` walk itself cannot be parallelized — each page URL
    * comes from the previous response — so it is split into two phases:
    *
    *  1. a slim driver cursor walks the ID INDEX (`_elements=id`), so
    *     the driver accumulates only resource-id strings — per-row
    *     metadata (~16 bytes), never resource bodies. Servers that
    *     ignore `_elements` just send fatter pages; ids are still all
    *     the driver keeps.
    *  2. the ids fan out across executors, and each partition bulk-
    *     fetches its shard with standard `?_id=a,b,c` token-OR searches
    *     (`idBatch` ids per request, pooled client).
    *
    * The resource fetch — the real byte cost — is distributed over >1
    * partition exactly like the offset pager; only the O(n)·16-byte id
    * walk stays sequential. Reference behavior this replaces: the
    * driver-buffered one-shot search of `cnics_to_fhir.py:215-217`. */
  private def snapshotCursor(spark: SparkSession, resourceType: String,
      idq: String = ""): DataFrame = {
    val ids = scala.collection.mutable.ArrayBuffer[String]()
    // the id walk carries the identifier-system scope; the `?_id=`
    // shard fetches below need no re-scoping (their ids came from it)
    pages(client(), auth, maxRetries,
        s"$baseUrl/$resourceType?_elements=id&_count=${math.max(1, pageSize)}&_format=json$idq") {
      res => Option(res.path("id").asText(null)).foreach(ids += _)
    }
    if (ids.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], FhirStore.snapshotSchema)
    val (url, bearer, retries) = (baseUrl, auth, maxRetries)
    val bsz = math.max(1, idBatch)
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (ids.size + bsz - 1) / bsz))
    import spark.implicits._
    spark.createDataset(ids.toSeq)
      .repartition(nParts)
      .mapPartitions { part =>
        val pc = HttpClient.newHttpClient()
        // a server may cap _count below the requested batch size (the
        // FHIR spec lets it override the client's count), so each
        // shard fetch follows link:next like every other pager here —
        // otherwise entries past the first page vanish silently
        part.grouped(bsz).flatMap(g => keyed(pc, bearer, retries,
          s"$url/$resourceType?_id=${g.mkString(",")}&_count=${g.size}&_format=json"))
      }.toDF("key", "id")
  }

  /** Distributed per-subject child snapshot: the cohort's subject ids
    * fan out across executors via `mapPartitions`; each partition runs
    * one pooled client issuing paged `?subject=Patient/<id>` searches
    * and emits (key, id) rows. No driver-side buffering — the store
    * page loop runs where the rows land, and the snapshot scales with
    * cohort partitions instead of total store size. */
  def snapshotForSubjects(spark: SparkSession, resourceType: String,
      subjectIds: DataFrame): DataFrame = {
    val (url, bearer, retries) = (baseUrl, auth, maxRetries)
    import spark.implicits._
    val idCol = subjectIds.columns.head
    subjectIds.select(col(idCol).cast("string")).as[String]
      .mapPartitions { sids =>
        val c = HttpClient.newHttpClient()
        sids.flatMap(sid => keyed(c, bearer, retries,
          s"$url/$resourceType?subject=Patient/$sid&_count=1000&_format=json"))
      }.toDF("key", "id")
  }

  /** Key-targeted snapshot over the wire: the dirty keys fan out
    * across executors and each partition looks its shard up with
    * system-qualified token-OR searches
    * (`?identifier=sys|a,sys|b,...`, `idBatch` tokens per request,
    * link-next paging per request) — the incremental-sync read path,
    * O(dirty) HTTP cost instead of a full scoped-store page walk.
    * System qualification is mandatory on shared stores: raw values
    * collide across sites (two sites both have a patient "001"). */
  override def snapshotForKeys(spark: SparkSession, resourceType: String,
      keys: DataFrame, identifierSystem: Option[String] = None): DataFrame = {
    val (url, bearer, retries) = (baseUrl, auth, maxRetries)
    val batchN = math.max(1, idBatch)
    val sysPrefix = identifierSystem.map(_ + "|").getOrElse("")
    import spark.implicits._
    val keyCol = keys.columns.head
    keys.select(col(keyCol).cast("string")).distinct().as[String]
      .mapPartitions { ks =>
        val c = HttpClient.newHttpClient()
        ks.grouped(batchN).flatMap { batch =>
          val tokens = batch
            .map(v => java.net.URLEncoder.encode(sysPrefix + v, "UTF-8"))
            .mkString(",")
          keyed(c, bearer, retries,
            s"$url/$resourceType?identifier=$tokens&_count=1000&_format=json")
        }
      }.toDF("key", "id")
  }

  /** Executor-side writes; returns action counts.
    *
    * Rows are batched into FHIR `transaction` Bundles of `bundleSize`
    * entries POSTed to the store base — N rows cost ⌈N/bundleSize⌉
    * HTTP round-trips instead of N (the scale form of the reference's
    * keep-alive session, cnics_to_fhir.py:246-247). Entries are
    * PUT-with-id upserts / DELETEs, so a failed bundle retries
    * idempotently as a whole. */
  def applyActions(resourceType: String, actions: DataFrame): Map[String, Long] =
    writeBundles(actions.select(lit(resourceType).as("resource_type"),
        col("id"), col("json"), col("merge_action")),
      baseUrl, auth, maxRetries, bundleSize)
      .map { case ((_, a), n) => a -> n }

  /** TRUE single-stage mixed-type write (r15 verdict #7, SURVEY §3.2's
    * flagged design): every resource type's actions land in ONE
    * distributed write job of mixed-type transaction Bundles — the
    * parent→child stage barrier the per-type [[applyActions]]
    * sequencing imposes is gone from the job DAG.
    *
    * What makes it sound on a server WITH referential integrity:
    *  - client-assigned deterministic ids (children reference
    *    `Patient/<id>` literally — no store-returned id dependency,
    *    no urn:uuid indirection needed for PUT-with-id entries;
    *    urn:uuid is the POST-create variant of the same design);
    *  - rows CO-PARTITION on their subject (`subject.reference`,
    *    a Patient row grouping with its own children), so a parent
    *    and its children land in one partition;
    *  - within a partition rows sort (subject, parent-first), so a
    *    child's Patient entry rides the SAME bundle or an EARLIER one
    *    of that partition — and bundles post sequentially per
    *    partition, so by the time a child-bearing bundle arrives its
    *    parent is either in it or already committed. The strict-
    *    reference fixture server 400s any violation, making the
    *    ordering a tested contract (`cnics_http_tx_audit`).
    *
    * Patient DELETEs keep `?_cascade=delete` (reference parity);
    * orphan-child DELETEs may race the cascade across partitions, but
    * deletes are idempotent and target disjoint end states. */
  override def applyActionsMixed(actions: DataFrame): Map[(String, String), Long] =
    writeBundles(actions
        .withColumn("subject_key", coalesce(
          get_json_object(col("json"), "$.subject.reference"),
          concat(lit("Patient/"), col("id"))))
        .withColumn("type_rank",
          when(col("resource_type") === "Patient", 0).otherwise(1))
        .repartition(col("subject_key"))
        .sortWithinPartitions(col("subject_key"), col("type_rank"), col("id"))
        .select("resource_type", "id", "json", "merge_action"),
      baseUrl, auth, maxRetries, bundleSize)
}

object HttpFhirStore {
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import java.net.URI

  // readTree is thread-safe: one per JVM serves every pager
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The longest `Retry-After` wait [[send]] honours. */
  val MaxRetryAfterMs = 30000L

  /** The wait a `Retry-After` value asks for, capped at
    * [[MaxRetryAfterMs]]: delta-seconds, or an HTTP-date (RFC 9110,
    * IMF-fixdate) waited until, or none when the value is neither. */
  private def retryAfterMs(value: String): Option[Long] = {
    val v = value.trim
    val ms =
      if (v.matches("\\d{1,9}")) Some(v.toLong * 1000L)
      else scala.util.Try(java.time.ZonedDateTime.parse(v,
        java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)).toOption
        .map(_.toInstant.toEpochMilli - System.currentTimeMillis())
    ms.map(m => math.min(math.max(m, 0L), MaxRetryAfterMs))
  }

  /** The one bounded-retry send every request goes through. It returns
    * only replies below 400. A 5xx, a 429 or a non-fatal connection
    * error retries (linear 200 ms × attempt backoff, `retries` attempts
    * in all); a 429 or 503 carrying `Retry-After` waits what
    * [[retryAfterMs]] reads from it instead. An interrupt is never
    * retried: it keeps the thread's interrupt flag and is rethrown, so
    * a cancelled task sends nothing more.
    * A 401 with `auth` configured triggers ONE token refresh; after
    * that, and without auth, 401/403 fail loudly. Any other 4xx is
    * terminal and throws at once, naming the status and the URL — an
    * error body must never be parsed as an empty page (the snapshot
    * would silently lose its rows) or counted as a written bundle. The
    * request is supplied as a BUILDER thunk so each attempt can
    * re-stamp the Authorization header with the current token. */
  private[sinks] def send(c: HttpClient, auth: Option[ClientCredentialsAuth], retries: Int,
      mk: () => HttpRequest.Builder): HttpResponse[String] = {
    var attempt = 0
    var refreshed = false
    var last: Throwable = null
    while (attempt < retries) {
      var backoffMs = 200L * (attempt + 1)
      val b = mk()
      auth.foreach(a => b.header("Authorization", "Bearer " + a.token(c)))
      val req = b.build()
      try {
        val r = c.send(req, HttpResponse.BodyHandlers.ofString())
        val status = r.statusCode()
        if (status < 400) return r
        else if (status == 401 && auth.isDefined && !refreshed) {
          auth.get.refresh(c)
          refreshed = true
          last = new IllegalStateException("HTTP 401 (token refreshed once)")
        } else if (status == 401 || status == 403)
          throw new IllegalStateException(
            s"unauthorized (HTTP $status) from ${req.uri()} — " +
              (if (auth.isDefined) "token refresh did not help"
               else "store requires auth but none is configured"))
        else if (status == 429 || status >= 500) {
          last = new RuntimeException(s"HTTP $status from ${req.method()} ${req.uri()}")
          if (status == 429 || status == 503)
            retryAfterMs(r.headers().firstValue("Retry-After").orElse(""))
              .foreach(ms => backoffMs = ms)
        } else throw new IllegalStateException(
          s"HTTP $status from ${req.method()} ${req.uri()}")
      } catch {
        case e: IllegalStateException => throw e
        case e: InterruptedException => Thread.currentThread.interrupt(); throw e
        case scala.util.control.NonFatal(e) => last = e
      }
      attempt += 1
      if (attempt < retries)
        try Thread.sleep(backoffMs)
        catch { case e: InterruptedException => Thread.currentThread.interrupt(); throw e }
    }
    throw last
  }

  /** The one link-next pager: GETs `first` and, when `follow`, every
    * `link: next` page after it, handing each entry's resource to `f`. */
  private def pages(c: HttpClient, auth: Option[ClientCredentialsAuth], retries: Int,
      first: String, follow: Boolean = true)(
      f: com.fasterxml.jackson.databind.JsonNode => Unit): Unit = {
    var u = first
    while (u != null) {
      val root = mapper.readTree(
        send(c, auth, retries, () => HttpRequest.newBuilder(URI.create(u)).GET()).body())
      root.path("entry").forEach(e => f(e.path("resource")))
      u = null
      if (follow) root.path("link").forEach { l =>
        if (l.path("relation").asText() == "next") u = l.path("url").asText()
      }
    }
  }

  /** The snapshot rows of [[pages]]: (first identifier value, id) per
    * resource that carries both. */
  private def keyed(c: HttpClient, auth: Option[ClientCredentialsAuth], retries: Int,
      first: String, follow: Boolean = true): Iterator[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    pages(c, auth, retries, first, follow) { res =>
      val key = res.path("identifier").path(0).path("value").asText(null)
      val id = res.path("id").asText(null)
      if (key != null && id != null) out += ((key, id))
    }
    out.iterator
  }

  /** The bundle writer behind both write paths: `rows` is
    * (resource_type, id, json, merge_action), and each partition POSTs
    * its rows in order as transaction Bundles of `bundleSize` entries
    * through [[send]]; `error` rows are counted and never posted.
    * Returns counts keyed (resource_type, action): each partition
    * returns its own tallies and the driver sums them, so the count is
    * part of the write job (no aggregate exchange, no second job) and
    * the driver reads at most partitions × types × 4 actions rows.
    * A bundle whose POST fails for good throws naming its size and its
    * first and last `type/id` beside the reply status and URL, never a
    * resource body. Lives in the companion so the write closure ships
    * no store. */
  private def writeBundles(rows: DataFrame, url: String,
      auth: Option[ClientCredentialsAuth], retries: Int,
      bundleSize: Int): Map[(String, String), Long] = {
    val bsz = math.max(1, bundleSize)
    import org.apache.spark.sql.Encoders
    rows.mapPartitions { it =>
        val c = HttpClient.newHttpClient()
        val byAction = scala.collection.mutable
          .Map[(String, String), Long]().withDefaultValue(0L)
        def tally(r: Row): Unit = byAction((r.getString(0), r.getString(3))) += 1L
        def ref(r: Row): String = s"${r.getString(0)}/${r.getString(1)}"
        it.filter(r => r.getString(3) != "error" || { tally(r); false })
          .grouped(bsz).foreach { batch =>
          val body = batch.map { r =>
            val (rt, id, json, act) =
              (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
            // Patient deletes cascade to the patient's child resources
            // (reference parity: cnics_to_fhir.py:333 appends
            // `?_cascade=delete`) — without it, a HAPI store with
            // referential integrity rejects the delete, and with it off
            // the children silently orphan.
            val cascade = if (rt == "Patient") "?_cascade=delete" else ""
            if (act == "delete")
              s"""{"request":{"method":"DELETE","url":"$rt/$id$cascade"}}"""
            else s"""{"resource":$json,"request":{"method":"PUT","url":"$rt/$id"}}"""
          }.mkString("""{"resourceType":"Bundle","type":"transaction","entry":[""", ",", "]}")
          try send(c, auth, retries, () => HttpRequest.newBuilder(URI.create(url))
            .header("Content-Type", "application/fhir+json;charset=utf-8")
            .POST(HttpRequest.BodyPublishers.ofString(body)))
          catch { case scala.util.control.NonFatal(e) => throw new IllegalStateException(
            s"bundle of ${batch.size} entries (${ref(batch.head)} .. ${ref(batch.last)})" +
              s" failed: ${e.getMessage}", e) }
          batch.foreach(tally)
        }
        byAction.iterator.map { case ((rt, a), n) => (rt, a, n) }
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .collect().groupMapReduce(t => (t._1, t._2))(_._3)(_ + _)
  }

  /** The reference's store-flavor dispatch (cnics_to_fhir.py:195-213):
    * `FhirStore=hapi` → unauthenticated `HapiFhirUrl`; `FhirStore=
    * aidbox` → `AidboxFhirUrl` behind client-credentials auth against
    * `AidboxAuthUrl`, with the reference's fixed client id
    * (`client-cnics-crud`, py:204) and the secret from secrets.ini
    * `[FHIR] AidboxAuthPw`. Settings values are quote-stripped by
    * [[graft.config.IniConfig]] exactly like the reference's
    * `.strip('"')`. Construction fail-fasts on the token fetch (the
    * reference `quit()`s). */
  def fromSettings(settingsText: String, secretsText: String): HttpFhirStore = {
    val opt = graft.config.IniConfig.parse(settingsText)
      .getOrElse("Options", Map.empty)
    def req(k: String): String =
      opt.getOrElse(k, sys.error(s"settings [Options] missing $k"))
    req("FhirStore") match {
      case "hapi" => new HttpFhirStore(req("HapiFhirUrl"))
      case "aidbox" =>
        val secret = graft.config.IniConfig.parse(secretsText)
          .getOrElse("FHIR", Map.empty)
          .getOrElse("AidboxAuthPw", sys.error("secrets [FHIR] missing AidboxAuthPw"))
        new HttpFhirStore(req("AidboxFhirUrl"),
          auth = Some(new ClientCredentialsAuth(
            req("AidboxAuthUrl"), "client-cnics-crud", secret)))
      case other => sys.error(s"unknown FhirStore flavor '$other' (hapi|aidbox)")
    }
  }
}
