package graft.streaming

import graft.operators.Upsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC-apply sink — the production pattern for "a stream of
  * row versions maintains a keyed table": `foreachBatch` turns each
  * micro-batch into a partition-pruned [[Upsert.mergeIntoManifested]]
  * plus a key-batch delete, so the reference's load-upsert core
  * (`2.2 loading-lambda-for-mysql.py:640-700` — staged batch merged
  * into the serving table per file) runs against a live stream on the
  * manifested substrate. A concurrent reader flips atomically between
  * published snapshots, and a crash mid-merge leaves the table serving
  * the previous manifest. A stream without deletes is a CDC stream
  * whose op is always `"upsert"`.
  */
object MergeSink {

  /** CDC APPLY — the Debezium-shaped ingestion path: a stream of
    * change events carrying an op column (`"delete"` vs anything
    * else = upsert) maintains the manifested table. Per micro-batch:
    * reduce to the NET EFFECT per key (max `versionCol` wins; on a
    * version tie the upsert, deterministically), merge the surviving
    * upserts ([[Upsert.mergeIntoManifested]] — op column dropped, so
    * it never leaks into the table schema), then remove the deleted
    * keys ([[Upsert.deleteKeysFromManifested]] — partition-pruned
    * straight from the key batch, no table scan). Both halves are
    * replay-idempotent, and a crash between them re-runs the merge as
    * a content no-op before the delete applies — so the sink stays
    * effectively-once on foreachBatch's at-least-once contract.
    * Cross-batch, deletes carry the versioned-merge caveat
    * [[Upsert.deleteFromManifested]] documents: a redelivery of a
    * PRE-delete batch would re-insert its keys; Structured Streaming
    * replays whole batches by id (never older ones), which is exactly
    * the model this relies on. */
  def startCdc(events: DataFrame, targetDir: String, keys: Seq[String],
               partitionCol: String, versionCol: String, opCol: String,
               checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow(),
               preBatch: () => Unit = () => ()): StreamingQuery = {
    require(keys.nonEmpty, "cdc sink needs at least one key column")
    val spark = events.sparkSession
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // caller-supplied validity probe, run BEFORE the batch commits:
        // a throw here fails the query without advancing the
        // checkpoint, so the batch replays after the operator restarts
        // in a valid configuration (Replicate's mid-run rename guard)
        preBatch()
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(versionCol).desc, col(opCol).desc)
        val latest = batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
          .localCheckpoint() // one materialization serves both halves
        // ONE pass over the (checkpointed) net-effect rows answers both
        // routing questions — separate emptiness probes were extra
        // jobs per micro-batch, pure fixed drain overhead (r22, guide
        // §1.2). Each count matches its filter below: a null op is
        // neither an upsert nor a delete, so it must not trigger a
        // merge that would publish an epoch for nothing
        val counts = latest.agg(
          count(when(col(opCol) =!= "delete", lit(1))).as("_nu"),
          count(when(col(opCol) === "delete", lit(1))).as("_nd")).head()
        val nUps = counts.getLong(0)
        val nDel = counts.getLong(1)
        if (nUps > 0L)
          Upsert.mergeIntoManifested(spark, targetDir,
            latest.filter(col(opCol) =!= "delete").drop(opCol), keys,
            partitionCol, versionCol)
        if (nDel > 0L)
          Upsert.deleteKeysFromManifested(spark, targetDir,
            latest.filter(col(opCol) === "delete")
              .select(keys.map(col): _*),
            keys, partitionCol)
      }
      .start()
  }
}
