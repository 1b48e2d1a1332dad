package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.{CnicsInputs, CnicsPipeline, Scope}
import graft.sinks.FhirStore

/** Structured Streaming surface for the CNICS pipeline itself
  * (SURVEY §7.5 / H — the reference is pure nightly batch): a
  * CDC-driven standing sync. The stream carries DIRTY SITE-PATIENT
  * KEYS (what a Debezium-style feed on the source tables emits); the
  * source tables themselves are read fresh per micro-batch for just
  * those keys, so each batch costs O(batch) assembly and O(batch)
  * store wire — [[CnicsPipeline.sync]] with [[Scope.Keys]] per
  * micro-batch, with the same delete semantics (a streamed key whose
  * cohort row vanished deletes, and its children go with the Patient
  * DELETE's cascade).
  */
object CnicsStreams {

  /** Standing sync of `types` over a dirty-key stream. `inputs` is
    * BY-NAME: each micro-batch re-reads the current source state (the
    * CDC feed says WHICH patients changed; the source of record says
    * WHAT they look like now). `onBatch` observes each micro-batch's
    * audit counters (test/ops hook; the store itself is the output). */
  def sync(keyStream: DataFrame, inputs: => CnicsInputs,
      store: FhirStore, site: String,
      types: Set[String] = CnicsPipeline.AllTypes,
      onBatch: (Long, Map[(String, String), Long]) => Unit = (_, _) => (),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = keyStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val keys = batch.toDF()
        if (!keys.isEmpty) {
          val audit = new CnicsPipeline(keys.sparkSession, inputs, store, site)
            .sync(types, Scope.Keys(keys))
          onBatch(id, audit)
        }
      }
    // a STANDING sync must survive a driver restart without replaying
    // or skipping CDC offsets — production callers pass a durable
    // checkpoint dir; tests with MemoryStream may omit it
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }
}
