package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Structured Streaming operators. The reference is batch-only
  * (SURVEY.md §2.10 — no streaming or event-time semantics exist in
  * it); batch ingest and resume go through `CrownJob` and IcebergLite.
  * The one streaming operator is continuous exact dedup.
  */
object StreamingIngest {

  /** Streaming exact dedup — the continuous-ingest flavor of
    * [[graft.operators.Dedup.exact]]: first-seen content hash wins
    * across micro-batches (within a batch the minimum doc_id, matching
    * the batch keeper policy); later duplicates are dropped. State is
    * one boolean per distinct hash in the state store, keyed exactly
    * like the batch groupBy. Emits (h, keeper_doc_id) once per distinct
    * document.
    *
    * SCALE CONTRACT: without a TTL the state grows one entry per
    * distinct hash FOREVER — at 10^12-doc ingest that is unbounded.
    * `ttlMs > 0` arms a processing-time timeout per hash, re-armed on
    * every sighting (TTL-of-inactivity): a hash unseen for `ttlMs` is
    * evicted and a later duplicate is RE-ADMITTED — the standard
    * bounded-state trade (exactly-once dedup within the TTL horizon,
    * at-least-once beyond it). Pair with the RocksDB state store
    * provider for out-of-heap state:
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * (exercised in StreamingSpec).
    *
    * Caveat: with a TTL armed the engine schedules micro-batches
    * CONTINUOUSLY (a later batch may need to fire evictions), so set a
    * real `Trigger.ProcessingTime`, and don't wait on
    * `processAllAvailable()` — the no-new-data flag it blocks on is
    * never raised while timeouts are pending. */
  def streamingDedup(docs: DataFrame, ttlMs: Long = -1L): Dataset[(String, Long)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    docs.select(md5(col("text")).as("h"), col("doc_id").cast("long").as("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (h: String, rows: Iterator[(String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Boolean]) => {
          if (state.hasTimedOut) {
            // eviction callback (no rows): drop the hash; the next
            // sighting re-admits it as a fresh first-seen
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs) // re-arm on sighting
            Iterator.empty
          } else {
            state.update(true)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            var keeper = Long.MaxValue
            rows.foreach(r => if (r._2 < keeper) keeper = r._2)
            Iterator.single((h, keeper))
          }
        })
  }
}
