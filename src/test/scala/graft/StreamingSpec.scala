package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingIngest

/** Structured Streaming: exact dedup across micro-batches, with and
  * without a state TTL. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("streaming exact dedup: first-seen wins within and across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIngest.streamingDedup(docs)
      .toDF("h", "keeper")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    // batch 1: 10 distinct texts, each duplicated once (ids 100+)
    mem.addData((0L until 10L).map(i => (i, s"text $i")) ++
      (0L until 10L).map(i => (100L + i, s"text $i")): _*)
    q.processAllAvailable()
    val out1 = spark.sql("SELECT keeper FROM stream_dedup").collect().map(_.getLong(0)).sorted
    assert(out1.toSeq === (0L until 10L), "within-batch dedup keeps min doc_id")
    // batch 2: 5 replays of old texts + 5 new
    mem.addData((0L until 5L).map(i => (200L + i, s"text $i")) ++
      (0L until 5L).map(i => (300L + i, s"new $i")): _*)
    q.processAllAvailable()
    q.stop()
    val out2 = spark.sql("SELECT keeper FROM stream_dedup").collect().map(_.getLong(0)).sorted
    // cross-batch replays dropped; only the 5 new docs appended
    assert(out2.toSeq === (0L until 10L) ++ (300L until 305L))
    // matches the batch keeper policy on the union of all input
    val all = ((0L until 10L).map(i => (i, s"text $i")) ++
      (0L until 10L).map(i => (100L + i, s"text $i")) ++
      (0L until 5L).map(i => (200L + i, s"text $i")) ++
      (0L until 5L).map(i => (300L + i, s"new $i"))).toDF("doc_id", "text")
    val batchKeepers = graft.operators.Dedup.exact(all)
      .select("keeper").collect().map(_.getLong(0)).sorted
    assert(out2.toSeq === batchKeepers.toSeq)
  }

  /** The three-batch TTL scenario, shared by the default-provider and
    * RocksDB-provider tests: sight a hash, drop its duplicate within
    * the TTL horizon, then let the TTL lapse mid-stream and check the
    * next sighting is re-admitted fresh.
    *
    * NOTE: processAllAvailable() CANNOT be used here — with
    * ProcessingTimeTimeout armed, the stateful operator's
    * shouldRunAnotherBatch is always true (a later batch may need to
    * fire evictions), so the engine never raises the no-new-data flag
    * that call waits on. The engine instead runs micro-batches
    * continuously; the scenario polls the sink with a deadline.
    *
    * ttlMs should be generous — the within-horizon check requires the
    * duplicate's batch to process within ttlMs of the first sighting,
    * so it must absorb multi-second GC/JIT/commit stalls on a loaded
    * host (and a stall that still exceeds it downgrades that one
    * assertion to an info note instead of a flake). */
  private def ttlScenario(queryName: String, ttlMs: Long, triggerMs: Long): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIngest.streamingDedup(docs, ttlMs)
      .toDF("h", "keeper")
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .start()
    try {
      def keepers() =
        spark.sql(s"SELECT keeper FROM $queryName").collect().map(_.getLong(0)).sorted.toSeq
      // 50ms polls on BOTH observation sides (tFirst via awaitKeepers,
      // the marker loop below): the stall measurement subtracts one
      // observation time from the other, so asymmetric poll latency
      // biases it — the old 100ms tFirst poll with a 50ms marker poll
      // could UNDERmeasure true state age and flake a legitimate
      // just-over-TTL eviction
      def awaitKeepers(expect: Seq[Long], why: String): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (System.currentTimeMillis < deadline && keepers() != expect) Thread.sleep(50)
        assert(keepers() === expect, why)
      }
      // engine-side batch timestamps: progress.timestamp is the trigger
      // clock reading the TTL arithmetic itself runs on (within ms of
      // batchTimestampMs), so output-bearing progress entries bound the
      // TRUE state age independently of how late the sink polls observe
      // rows — closing the window where a genuine premature
      // re-admission could hide behind slow observation
      def outputBatchTimes(): Seq[java.time.Instant] =
        q.recentProgress.toSeq.filter(_.sink.numOutputRows > 0)
          .map(p => java.time.Instant.parse(p.timestamp))
      def awaitProgress(f: () => Option[java.time.Instant]): Option[java.time.Instant] = {
        // progress publishes shortly AFTER sink rows become visible —
        // bounded extra polls, degrading to None (never a flake) if the
        // entry was shed from recentProgress
        val deadline = System.currentTimeMillis + 5000
        var ts = f()
        while (System.currentTimeMillis < deadline && ts.isEmpty) {
          Thread.sleep(50); ts = f()
        }
        ts
      }
      mem.addData((1L, "dup text"))
      awaitKeepers(Seq(1L), "first sighting emits")
      // tFirst is AFTER the first sighting's state write (we only
      // observe the sink later), so (now - tFirst) underestimates the
      // true state age — if even the underestimate exceeds ttlMs, the
      // hash may have been legitimately evicted before doc 5's batch.
      // MUST be captured before the progress poll below: that poll can
      // absorb up to 5 s, and a tFirst taken after it would bias the
      // stall measurement DOWN — misclassifying a tolerated >ttl host
      // stall as within-horizon and hard-failing the drop assertion
      val tFirst = System.currentTimeMillis
      // only keeper 1 has ever been emitted → the first output-bearing
      // batch is doc 1's; capture its engine timestamp now, before
      // later batches can push it out of recentProgress
      val batch1Ts = awaitProgress(() => outputBatchTimes().headOption)
      // within the TTL horizon the duplicate is still dropped: wait until
      // the duplicate's batch is fully processed (the marker doc from the
      // SAME addData call proves it), then check nothing extra appeared
      mem.addData((5L, "dup text"), (50L, "marker text"))
      val markerDeadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < markerDeadline && !keepers().contains(50L))
        Thread.sleep(50)
      // measure the stall the INSTANT the marker is first observed —
      // every ms of later measurement widens the band where a genuine
      // premature re-admission is indistinguishable from a tolerated
      // host stall (the band is now one poll interval + collect
      // latency; it cannot be zero from sink observations alone)
      val stall = System.currentTimeMillis - tFirst
      val withinHorizon = keepers()
      // classify an observed re-admission by the ENGINE's own batch
      // timestamps when available: doc 5's batch (the first
      // output-bearing batch after doc 1's — 5 and 50 share an addData
      // block, hence a micro-batch) legitimately re-admits iff its
      // trigger timestamp sits > ttl past doc 1's (that trigger clock
      // is what the TTL arithmetic runs on; 50 ms guard band for the
      // trigger-start vs batchTimestampMs skew). The sink-observed
      // stall is only the FALLBACK classifier when recentProgress shed
      // the bounding entries — it reads both batches late, so alone it
      // can both excuse a premature eviction (stall inflated past ttl)
      // and flake a legitimate one (tFirst lagging doc 1's batch).
      val stalledReadmit = withinHorizon == Seq(1L, 5L, 50L) && {
        val batch5Ts = awaitProgress(() =>
          batch1Ts.flatMap(t1 => outputBatchTimes().find(_.isAfter(t1))))
        (batch1Ts, batch5Ts) match {
          case (Some(t1), Some(t5)) =>
            val span = t5.toEpochMilli - t1.toEpochMilli
            assert(span > ttlMs - 50,
              s"doc 5 re-admitted but the engine's own batch timestamps are only " +
                s"${span}ms apart (ttl ${ttlMs}ms) — premature state eviction, " +
                "not a host stall")
            info(s"host stall (sink-observed ${stall}ms; engine batch span " +
              s"${span}ms > ttl ${ttlMs}ms) evicted the hash before doc 5's " +
              "batch — within-horizon drop not observable this run, skipping " +
              "that assertion")
            true
          case _ =>
            val tolerated = stall > ttlMs
            if (tolerated)
              info(s"host stalled ${stall}ms > ttl ${ttlMs}ms before doc 5's batch " +
                "and recentProgress shed the bounding entries — within-horizon " +
                "drop not observable this run, skipping that assertion")
            tolerated
        }
      }
      if (!stalledReadmit)
        assert(withinHorizon === Seq(1L, 50L), "duplicate within TTL horizon is dropped")
      // let the TTL lapse; the engine's continuous timeout batches evict
      // the idle hash, and the next sighting is re-admitted fresh
      Thread.sleep(ttlMs + 1500)
      mem.addData((7L, "dup text"))
      // if the stall path re-admitted doc 5, it is a keeper in the
      // append-only sink forever — the final expectation must carry it
      // or the tolerated stall still fails the suite 60 s later here
      val expectAfterTtl =
        if (stalledReadmit) Seq(1L, 5L, 7L, 50L) else Seq(1L, 7L, 50L)
      awaitKeepers(expectAfterTtl,
        "hash unseen for > TTL must be re-admitted after state eviction")
    } finally q.stop() // TTL-armed queries batch FOREVER — never leak one
  }

  test("streaming dedup TTL: expired state re-admits a hash") {
    ttlScenario("stream_dedup_ttl", ttlMs = 5000L, triggerMs = 200L)
  }

  /** Runs `body` under the documented 100-TB state configuration:
    * out-of-heap RocksDB state (provider ships in spark-sql) +
    * changelog checkpointing so a batch commit uploads an incremental
    * log, not a full snapshot zip; 2 shuffle partitions because the
    * provider's per-batch commit is heavyweight on this sandbox FS
    * (state store count fixes at query start). Restores the previous
    * conf afterwards. */
  private def withRocksDbState(body: => Unit): Unit = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val partsKey = "spark.sql.shuffle.partitions"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(provKey)
    val prevParts = spark.conf.get(partsKey)
    val prevChangelog = spark.conf.getOption(changelogKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(partsKey, "2")
    spark.conf.set(changelogKey, "true")
    try body
    finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
      spark.conf.set(partsKey, prevParts)
      prevChangelog match {
        case Some(v) => spark.conf.set(changelogKey, v)
        case None => spark.conf.unset(changelogKey)
      }
    }
  }

  test("streaming dedup runs on the RocksDB state store provider (scale conf smoke)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDbState {
      val mem = MemoryStream[(Long, String)]
      val q = StreamingIngest.streamingDedup(mem.toDF().toDF("doc_id", "text"))
        .toDF("h", "keeper")
        .writeStream.format("memory").queryName("stream_dedup_rocks")
        .outputMode("append").start()
      try {
        mem.addData((1L, "a"), (2L, "a"), (3L, "b"))
        q.processAllAvailable()
      } finally q.stop() // don't leak the query if the batch throws
      val out = spark.sql("SELECT keeper FROM stream_dedup_rocks")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(out === Seq(1L, 3L), "dedup semantics identical on RocksDB state")
    }
  }

  test("streaming dedup TTL drives >= 3 batches with mid-stream expiry on RocksDB") {
    // the full TTL state machine — arm, re-arm on duplicate, evict,
    // re-admit — on the RocksDB provider with changelog checkpointing:
    // each scenario step is its own micro-batch (plus continuous
    // timeout batches between them), so this exercises multi-batch
    // RocksDB commits, not just the one-batch smoke above. Longer TTL
    // and trigger than the default-provider run: per-batch RocksDB
    // commits on this sandbox FS can stall hundreds of ms, and the
    // within-horizon assertion needs the duplicate's batch inside the
    // TTL window.
    withRocksDbState {
      ttlScenario("stream_dedup_ttl_rocks", ttlMs = 8000L, triggerMs = 500L)
    }
  }
}
