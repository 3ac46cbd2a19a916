package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.SchedulerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.{CrownOps, GeoOps}
import graft.tables.{IcebergLite, PagesGen}
import graft.jobs.CrownJob

/** End-to-end pipeline semantics: the distributed operators must equal
  * the region-local golden implementation exactly (the reference is a
  * single-node engine, so single-node semantics IS the contract), and
  * the IcebergLite warm-start must be exactly-once per region (mirrors
  * tests/unit/test_instance_segmentation.py:37-48 cache re-run test). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def crownsFor(nPages: Long) = {
    val pages = PagesGen.pages(spark, nPages)
    val assigned = GeoOps.assignTiles(pages)
    CrownOps.synthesize(spark, assigned, GeoOps.TileGrid.Default)
  }

  test("pages generator: deterministic, text derivable from url position") {
    val a = PagesGen.pages(spark, 500).select("i", "url", "text", "lang").collect()
    val b = PagesGen.pages(spark, 500).select("i", "url", "text", "lang").collect()
    assert(a.map(_.toString()).sorted.sameElements(b.map(_.toString()).sorted))
    val r = a.find(_.getLong(0) == 41L).get
    assert(r.getString(1) == "https://host-0041.example/page-00000041")
    assert(r.getString(2).startsWith(s"url=${r.getString(1)} lang=${r.getString(3)} body="))
  }

  test("distributed NMS+merge equals the single-node golden pipeline") {
    import CrownOps.{Crown, MergedCrown}
    val jobConf = CrownJob.Conf(2 * GeoOps.PagesPerRegion,
      java.nio.file.Files.createTempDirectory("wh_parity").toString)
    import jobConf.{nmsIou, confThr, mergeIou}
    def fused(crowns: Seq[Crown]): Seq[MergedCrown] =
      CrownOps.nmsMerge(spark, spark.createDataset(crowns), nmsIou, confThr, mergeIou)
        .collect().toSeq
    def jobMerged(): Seq[MergedCrown] = {
      CrownJob.run(spark, jobConf)
      IcebergLite.read(spark, jobConf.warehouse, CrownJob.StageMerged).get
        .as[MergedCrown].collect().toSeq
    }
    val single = crownsFor(3000).collect().toSeq
    val small = crownsFor(2000).collect().toSeq
    // (name, regions in the input, input crowns, their distributed merge)
    val cases = Seq(
      ("3000 pages", 1, single, fused(single)),
      ("2000 pages", 1, small, fused(small)),
      ("CrownJob merged stage", 2, crownsFor(jobConf.nPages).collect().toSeq,
        jobMerged()))
    cases.foreach { case (name, regions, crowns, merged) =>
      // golden: nmsLocal then mergeLocal per (region, class), on the driver
      val byGroup = crowns.groupBy(c => (c.region, c.classIdx))
      assert(byGroup.keys.map(_._1).toSet.size === regions, name)
      val golden = byGroup.toSeq.flatMap { case ((region, cls), cs) =>
        CrownOps.mergeLocal(CrownOps.nmsLocal(cs.toIndexedSeq, nmsIou), cls,
          confThr, mergeIou).map(inst => (region, cls, inst.ids.sorted,
          CrownOps.median(inst.scores), inst.bbox.minX, inst.bbox.minY,
          inst.bbox.maxX, inst.bbox.maxY))
      }
      assert(merged.length === golden.length, name)
      assert(merged.map(m => (m.region, m.classIdx, m.memberIds.toList, m.score,
        m.minX, m.minY, m.maxX, m.maxY)).toSet === golden.toSet, name)
    }
  }

  test("fused nmsMerge equals nms-then-merge") {
    // staged path: distributed nms, then mergeLocal per (region, class)
    val ds = crownsFor(2000)
    val sep = CrownOps.nms(spark, ds, 0.7).collect().toSeq
      .groupBy(c => (c.region, c.classIdx)).toSeq.flatMap { case ((region, cls), cs) =>
        CrownOps.mergeLocal(cs.toIndexedSeq, cls, 0.3, 0.5).map(inst =>
          (region, cls, inst.ids.sorted, CrownOps.median(inst.scores),
            inst.bbox.minX, inst.bbox.maxY))
      }
    val fused = CrownOps.nmsMerge(spark, ds, 0.7, 0.3, 0.5).collect()
      .map(m => (m.region, m.classIdx, m.memberIds.toList, m.score, m.minX, m.maxY))
    assert(fused.length === sep.length)
    assert(fused.toSet === sep.toSet)
  }

  test("driver smoke gate: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("NaN-bbox instances are skipped before merge association (P10)") {
    // reference guard: instanceprocessor.py:191 / merge.py:112
    val good = crownsFor(500).collect().toIndexedSeq
    val nanPoly = Array(Double.NaN, 5.0, 10.0, 5.0, 10.0, 10.0)
    val bad = CrownOps.Crown(0L, 999999L, 999999L, 0L, CrownOps.ClassCanopy,
      0.9, Double.NaN, 5.0, 10.0, 10.0, nanPoly)
    val withBad = good :+ bad
    val merged = CrownOps.mergeLocal(withBad, CrownOps.ClassCanopy, 0.3, 0.5)
    val clean = CrownOps.mergeLocal(good, CrownOps.ClassCanopy, 0.3, 0.5)
    assert(merged.map(_.ids.sorted) === clean.map(_.ids.sorted))
    assert(!merged.exists(_.ids.contains(999999L)))
  }

  test("stats stage: per-region aggregates committed with lineage") {
    val wh = java.nio.file.Files.createTempDirectory("wh_stats").toString
    CrownJob.run(spark, CrownJob.Conf(2 * GeoOps.PagesPerRegion, wh))
    val stats = IcebergLite.read(spark, wh, CrownJob.StageStats).get.collect()
    assert(stats.length === 4) // 2 regions x 2 classes
    stats.foreach { r =>
      assert(r.getAs[Long]("n_crowns") > 0 && r.getAs[Double]("total_area") > 0)
    }
    assert(IcebergLite.committedKeys(spark, wh, CrownJob.StageStats).get.count() === 2)
  }

  test("submit-surface conf knobs drive the job's operator thresholds") {
    // spark.graft.crown.* session conf (what --conf forwards under
    // spark-submit) must reach the pipeline: run the same warehouse
    // build with a punishing confThr set via conf and check the merge
    // stage actually filtered by it (vs a default run)
    val whDefault = java.nio.file.Files.createTempDirectory("wh_knob_d").toString
    val whStrict = java.nio.file.Files.createTempDirectory("wh_knob_s").toString
    val n = 2 * GeoOps.PagesPerRegion
    val parsedDefault = CrownJob.confFrom(spark, n, whDefault)
    assert(parsedDefault === CrownJob.Conf(n, whDefault)) // unset keys keep defaults
    CrownJob.run(spark, parsedDefault)
    val knobs = Seq("confThr" -> "0.8", "emitGeom" -> "false")
    knobs.foreach { case (k, v) => spark.conf.set(s"spark.graft.crown.$k", v) }
    try {
      val parsed = CrownJob.confFrom(spark, n, whStrict)
      assert(parsed.confThr === 0.8 && !parsed.emitGeom &&
        parsed.nmsIou === 0.7) // untouched knob keeps its default
      CrownJob.run(spark, parsed)
      val dflt = CrownJob.mergedResult(spark, whDefault).get
      val strict = CrownJob.mergedResult(spark, whStrict).get
      // confThr gates merge membership, so the strict run keeps fewer
      // crowns and every survivor's score clears the bar
      assert(strict.count() < dflt.count())
      assert(strict.filter(col("score") < 0.8).count() === 0L)
      // malformed values fail loudly, not silently-default
      spark.conf.set("spark.graft.crown.nmsIou", "high")
      intercept[IllegalArgumentException](CrownJob.confFrom(spark, n, whStrict))
    } finally {
      (knobs.map(_._1) :+ "nmsIou").foreach(k =>
        spark.conf.unset(s"spark.graft.crown.$k"))
    }
  }

  test("NMS drops cross-tile duplicates: no page survives twice per class") {
    val kept = CrownOps.nms(spark, crownsFor(2000), 0.7).collect()
    val dupes = kept.groupBy(c => (c.pageId, c.classIdx)).filter(_._2.length > 1)
    assert(dupes.isEmpty)
    // when any duplicate of a page survives, it is the max-epsilon one
    // (a whole group can also be suppressed by a higher-scoring
    // overlapping crown of another page — same as the reference)
    val multi = crownsFor(2000).collect().groupBy(c => (c.pageId, c.classIdx))
      .filter(_._2.length > 1)
    val keptIds = kept.map(_.crownId).toSet
    multi.foreach { case (_, group) =>
      val survivors = group.filter(c => keptIds.contains(c.crownId))
      if (survivors.nonEmpty)
        assert(survivors.head.crownId === group.maxBy(_.score).crownId)
    }
    // and most duplicate groups do keep exactly one survivor
    val survivedGroups = multi.count(_._2.exists(c => keptIds.contains(c.crownId)))
    assert(survivedGroups > multi.size / 2)
  }

  test("merge: member scores collapse to numpy median") {
    assert(CrownOps.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(CrownOps.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }

  test("IcebergLite: commit/read/lineage round trip, atomic manifest") {
    val root = java.nio.file.Files.createTempDirectory("iceb").toString
    val df = spark.range(100).toDF("id").withColumn("region", col("id") % 4)
    val snap = IcebergLite.commit(spark, root, "s1", df, "region")
    assert(snap === 1L)
    assert(IcebergLite.read(spark, root, "s1").get.count() === 100)
    val lin = IcebergLite.lineage(spark, root, "s1").get
    assert(lin.agg(sum("rowCount")).head().getLong(0) === 100)
    assert(IcebergLite.committedKeys(spark, root, "s1").get.count() === 4)
    // second commit appends
    IcebergLite.commit(spark, root, "s1", df.filter(col("id") < 10), "region")
    assert(IcebergLite.read(spark, root, "s1").get.count() === 110)
    assert(IcebergLite.snapshots(root).map(_.id) === Seq(1L, 2L))
    // time travel: state as of snapshot 1 excludes the second commit
    assert(IcebergLite.readAsOf(spark, root, "s1", 1L).get.count() === 100)
    assert(IcebergLite.readAsOf(spark, root, "s1", 0L).isEmpty)
    // idempotency key: re-commit with the same key is a no-op
    val k1 = IcebergLite.commit(spark, root, "s1", df, "region", idempotencyKey = 7L)
    val k2 = IcebergLite.commit(spark, root, "s1", df, "region", idempotencyKey = 7L)
    assert(k1 === k2)
    assert(IcebergLite.snapshots(root).size === 3)
  }

  test("IcebergLite readRange: snapshot skipping via manifest key stats") {
    val root = java.nio.file.Files.createTempDirectory("icebrange").toString
    // three snapshots with disjoint region ranges
    (0 until 3).foreach { k =>
      val df = spark.range(100).toDF("id")
        .withColumn("region", col("id") % 10 + k * 10)
      IcebergLite.commit(spark, root, "s", df, "region")
    }
    val snaps = IcebergLite.snapshots(root)
    assert(snaps.map(s => (s.keyMin, s.keyMax)) === Seq((0L, 9L), (10L, 19L), (20L, 29L)))
    // a range query touching one snapshot lists ONLY that snapshot's
    // files (true data skipping, not just a filter)
    val pruned = IcebergLite.readRange(spark, root, "s", "region", 12, 15).get
    assert(pruned.count() === 40)
    assert(pruned.inputFiles.forall(_.contains("snap-2")),
      s"expected only snap-2 files, got ${pruned.inputFiles.toSeq}")
    // spanning range reads two snapshots; out-of-range reads none
    val two = IcebergLite.readRange(spark, root, "s", "region", 8, 12).get
    assert(two.count() === 50)
    assert(two.inputFiles.forall(f => f.contains("snap-1") || f.contains("snap-2")))
    assert(IcebergLite.readRange(spark, root, "s", "region", 100, 200).isEmpty)
    // the residual filter reaches the parquet scan (row-group pruning)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(region,12)"),
      s"residual filter not pushed:\n$plan")
    // an EMPTY snapshot (no rows → no stats) must never match a range
    // read — "no stats" is not "contains every key"
    IcebergLite.commit(spark, root, "s",
      spark.range(0).toDF("id").withColumn("region", col("id")), "region")
    val after = IcebergLite.readRange(spark, root, "s", "region", 12, 15).get
    assert(after.inputFiles.forall(_.contains("snap-2")),
      "empty snapshot leaked into the pruned file list")
  }

  /** Spark jobs launched while `body` runs, counted by a listener. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SchedulerAccess.drain(sc)
    sc.addSparkListener(l)
    try { body; SchedulerAccess.drain(sc); jobs.get } finally sc.removeSparkListener(l)
  }

  test("IcebergLite commit launches at most 2 jobs; a no-op CrownJob.run launches none") {
    val wh = Files.createTempDirectory("wh_jobs").toString
    val conf = CrownJob.Conf(GeoOps.PagesPerRegion + 500, wh) // 2 regions
    CrownJob.run(spark, conf)
    val crowns = IcebergLite.read(spark, wh, CrownJob.StageCrowns).get.localCheckpoint()
    val root = Files.createTempDirectory("iceb_jobs").toString
    val commitJobs = jobsOf(IcebergLite.commit(spark, root, "c", crowns, "region"))
    assert(commitJobs <= 2, s"commit launched $commitJobs jobs")
    assert(IcebergLite.read(spark, root, "c").get.count() === crowns.count())
    val snaps = IcebergLite.snapshots(wh)
    assert(jobsOf(CrownJob.run(spark, conf)) === 0)
    assert(IcebergLite.snapshots(wh) === snaps)
  }

  test("IcebergLite read and compact start no schema-inference job") {
    val root = Files.createTempDirectory("iceb_schema").toString
    val df = spark.range(40).toDF("id")
      .withColumn("region", col("id") % 3).withColumn("tag", lit("t").cast("string"))
    (0 until 3).foreach(k => IcebergLite.commit(spark, root, "s", df.filter(col("id") % 3 === k), "region"))
    val files = IcebergLite.snapshots(root).map(s => s"$root/data/s/snap-${s.id}")
    lazy val read = IcebergLite.read(spark, root, "s").get
    assert(jobsOf(read) === 0)
    assert(jobsOf(IcebergLite.readRange(spark, root, "s", "region", 1, 1).get) === 0)
    assert(read.schema === spark.read.parquet(files: _*).schema)
    assert(read.count() === 40L)
    // compaction: the rewrite's data write and tally, no read of its own
    assert(jobsOf(IcebergLite.compact(spark, root, "s", "region")) <= 2)
    assert(IcebergLite.read(spark, root, "s").get.count() === 40L)
  }

  test("IcebergLite lineage conserves rows over multi-key and empty commits") {
    val root = Files.createTempDirectory("iceb_conserve").toString
    val multi = spark.range(1000).toDF("id")
      .withColumn("region", (col("id") * 7) % 13 - 3).repartition(5)
    val inputs = Seq(multi, multi.filter(col("id") < 0), multi.filter(col("region") === 4))
    val ids = inputs.map(IcebergLite.commit(spark, root, "s", _, "region"))
    val snaps = IcebergLite.snapshots(root)
    val lin = IcebergLite.lineage(spark, root, "s").get
      .select("snapshotId", "unitKey", "rowCount").as[(Long, Long, Long)].collect()
    inputs.zip(ids).foreach { case (df, id) =>
      val snap = snaps.find(_.id == id).get
      val want = df.groupBy("region").count().as[(Long, Long)].collect().toMap
      assert(lin.filter(_._1 == id).map(r => r._2 -> r._3).toMap === want, s"snapshot $id")
      assert(snap.rowCount === want.values.sum && snap.rowCount === df.count())
      val stats = if (want.isEmpty) (Long.MinValue, Long.MaxValue)
        else (want.keys.min, want.keys.max)
      assert((snap.keyMin, snap.keyMax) === stats, s"snapshot $id")
    }
    val data = IcebergLite.read(spark, root, "s").get
    assert(lin.map(_._3).sum === data.count())
    assert(IcebergLite.committedKeys(spark, root, "s").get.as[Long].collect().sorted.toSeq ===
      data.select("region").distinct().as[Long].collect().sorted.toSeq)
  }

  test("IcebergLite lineage: only manifest-named files count; a missing one fails loudly") {
    val wh = Files.createTempDirectory("wh_sidecar").toString
    val conf = CrownJob.Conf(2 * GeoOps.PagesPerRegion, wh)
    CrownJob.runSynth(spark, conf.copy(failAfterRegions = 1))
    // a lineage file whose snapshot never reached the manifest claims region 1
    Files.write(Paths.get(wh, "lineage", CrownJob.StageCrowns, "snap-99.jsonl"),
      "{\"unitKey\":1,\"rowCount\":5}\n".getBytes("UTF-8"))
    def keys(stage: String) =
      IcebergLite.committedKeys(spark, wh, stage).get.as[Long].collect().toSet
    assert(keys(CrownJob.StageCrowns) === Set(0L))
    assert(IcebergLite.lineage(spark, wh, CrownJob.StageCrowns).get
      .filter(col("snapshotId") === 99).count() === 0)
    CrownJob.run(spark, conf)
    assert(keys(CrownJob.StageCrowns) === Set(0L, 1L))
    assert(keys(CrownJob.StageStats) === Set(0L, 1L))
    // a committed snapshot without its lineage file is not "no keys"
    val first = IcebergLite.snapshots(wh).head
    Files.delete(Paths.get(wh, "lineage", first.stage, s"snap-${first.id}.jsonl"))
    val e = intercept[IllegalStateException](IcebergLite.committedKeys(spark, wh, first.stage))
    assert(e.getMessage.contains(s"snapshot ${first.id} "))
    intercept[IllegalStateException](CrownJob.run(spark, conf))
  }

  test("resume: crash after k regions, re-run, exactly-once per region") {
    val whole = java.nio.file.Files.createTempDirectory("wh_full").toString
    val partial = java.nio.file.Files.createTempDirectory("wh_part").toString
    val n = 4 * GeoOps.PagesPerRegion // 4 regions

    // clean run
    CrownJob.run(spark, CrownJob.Conf(n, whole))
    val full = CrownJob.mergedResult(spark, whole).get.collect()

    // crashed run: synth commits only 2 regions, then "dies"
    CrownJob.runSynth(spark, CrownJob.Conf(n, partial, failAfterRegions = 2))
    val afterCrash = IcebergLite.committedKeys(spark, partial, CrownJob.StageCrowns)
      .get.count()
    assert(afterCrash === 2)

    // warm restart completes the remaining regions + merge
    CrownJob.run(spark, CrownJob.Conf(n, partial))
    val lin = IcebergLite.lineage(spark, partial, CrownJob.StageCrowns).get
    // exactly-once: each region committed in exactly one snapshot
    val perRegion = lin.groupBy("unitKey").agg(countDistinct("snapshotId").as("n"))
      .filter(col("n") > 1).count()
    assert(perRegion === 0)
    assert(IcebergLite.committedKeys(spark, partial, CrownJob.StageCrowns).get.count() === 4)

    // and the resumed output equals the clean run
    val resumed = CrownJob.mergedResult(spark, partial).get.collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getAs[Seq[Long]]("memberIds").sorted.mkString(","),
        r.getDouble(r.fieldIndex("score")))
    assert(resumed.map(key).toSet === full.map(key).toSet)

    // idempotence: another run is a no-op (no new snapshots of work)
    val snapsBefore = IcebergLite.snapshots(partial).size
    CrownJob.run(spark, CrownJob.Conf(n, partial))
    assert(IcebergLite.snapshots(partial).size === snapsBefore)
  }

  test("IcebergLite compact: snapshots collapse to one, data identical, other stages untouched") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("iceberg_compact").toString
    (0 until 3).foreach { i =>
      IcebergLite.commit(spark, root, "work",
        Seq((i.toLong * 10, s"v$i"), (i.toLong * 10 + 1, s"w$i")).toDF("k", "v"), "k")
    }
    IcebergLite.commit(spark, root, "other", Seq((99L, "x")).toDF("k", "v"), "k")
    val before = IcebergLite.read(spark, root, "work").get
      .as[(Long, String)].collect().sortBy(_._1)
    val oldIds = IcebergLite.snapshots(root).filter(_.stage == "work").map(_.id)
    // a KEYED snapshot must survive compaction (its (stage, key)
    // record is the streaming exactly-once replay guard)
    IcebergLite.commit(spark, root, "work", Seq((50L, "keyed")).toDF("k", "v"), "k",
      idempotencyKey = 7L)
    val newId = IcebergLite.compact(spark, root, "work", "k", expireData = true)
    assert(newId > 0)
    val snaps = IcebergLite.snapshots(root)
    assert(snaps.count(_.stage == "work") === 2) // compacted + keyed survivor
    assert(snaps.exists(s => s.stage == "work" && s.id === newId))
    assert(snaps.exists(s => s.stage == "work" && s.key === 7L), "keyed snapshot folded away")
    assert(snaps.count(_.stage == "other") === 1) // untouched
    // replaying the keyed batch is STILL a no-op after compaction
    val replay = IcebergLite.commit(spark, root, "work",
      Seq((50L, "keyed")).toDF("k", "v"), "k", idempotencyKey = 7L)
    assert(replay === snaps.find(s => s.stage == "work" && s.key === 7L).get.id)
    // data identical (compacted unkeyed rows + the keyed survivor);
    // manifest stats (rowCount, key range) recomputed on the rewrite
    val after = IcebergLite.read(spark, root, "work").get
      .as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq === (before :+ (50L, "keyed")).sortBy(_._1).toSeq)
    val ws = snaps.find(s => s.stage == "work" && s.id == newId).get
    assert(ws.rowCount === 6 && ws.keyMin === 0 && ws.keyMax === 21)
    // expired data dirs deleted (expireData = true)
    oldIds.foreach { id =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/data/work/snap-$id")), s"snap-$id not expired")
    }
    // appends after compaction coexist with the compacted snapshot
    IcebergLite.commit(spark, root, "work", Seq((100L, "z")).toDF("k", "v"), "k")
    assert(IcebergLite.read(spark, root, "work").get.count() === 8)
    // nothing to compact → -1, state unchanged
    val root2 = java.nio.file.Files.createTempDirectory("iceberg_compact1").toString
    IcebergLite.commit(spark, root2, "solo", Seq((1L, "a")).toDF("k", "v"), "k")
    assert(IcebergLite.compact(spark, root2, "solo", "k") === -1L)
    assert(IcebergLite.snapshots(root2).size === 1)
  }

  test("IcebergLite: concurrent compacts — exactly one wins, rows never doubled") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("iceberg_cc").toString
    (0 until 4).foreach { i =>
      IcebergLite.commit(spark, root, "s",
        Seq((i.toLong, s"v$i")).toDF("k", "v"), "k")
    }
    val fs = (0 until 2).map(_ => Future(IcebergLite.compact(spark, root, "s", "k")))
    val ids = fs.map(Await.result(_, 180.seconds))
    // whichever interleaving happened, the validated swap admits at
    // most one rewrite: the loser aborts (-1) instead of landing a
    // second full-union snapshot that would double every row
    assert(ids.count(_ > 0) === 1, s"ids=$ids")
    assert(IcebergLite.read(spark, root, "s").get.count() === 4, "rows doubled or lost")
    assert(IcebergLite.snapshots(root).count(_.stage == "s") === 1)
  }

  test("IcebergLite: two concurrent committers — both snapshots visible, distinct ids") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("iceberg_cas").toString
    // several rounds of two deliberately-interleaved committers: both
    // read the same manifest state before either renames (each commit's
    // Spark write keeps the window wide open) — under last-writer-wins
    // one entry per round would vanish
    val rounds = 3
    (0 until rounds).foreach { r =>
      val fa = Future(IcebergLite.commit(spark, root, s"stage_a$r",
        Seq((r.toLong, "a")).toDF("k", "v"), "k"))
      val fb = Future(IcebergLite.commit(spark, root, s"stage_b$r",
        Seq((r.toLong, "b")).toDF("k", "v"), "k"))
      val (ia, ib) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
      assert(ia !== ib, "reserved snapshot ids must be unique")
    }
    val snaps = IcebergLite.snapshots(root)
    assert(snaps.size === 2 * rounds, s"lost commits: ${snaps.map(_.stage)}")
    assert(snaps.map(_.id).distinct.size === 2 * rounds)
    assert(snaps.map(_.stage).toSet ===
      (0 until rounds).flatMap(r => Seq(s"stage_a$r", s"stage_b$r")).toSet)
    // every committed snapshot's data is readable
    (0 until rounds).foreach { r =>
      assert(IcebergLite.read(spark, root, s"stage_a$r").get.count() === 1L)
      assert(IcebergLite.read(spark, root, s"stage_b$r").get.count() === 1L)
    }
    // dead id-reservation markers are pruned under the lock
    val ids = java.nio.file.Paths.get(root, ".ids")
    val live = java.nio.file.Files.list(ids)
    try assert(live.count() <= 1L) finally live.close()
  }

  test("IcebergLite: concurrent same-idempotency-key commits collapse to ONE snapshot") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("iceberg_idem").toString
    // both racers pass the optimistic pre-check (same manifest state),
    // so only the under-lock re-check can prevent a duplicate
    val fs = (0 until 2).map(_ => Future(
      IcebergLite.commit(spark, root, "batch", Seq((1L, "x")).toDF("k", "v"), "k",
        idempotencyKey = 7L)))
    val ids = fs.map(Await.result(_, 120.seconds))
    assert(ids.head === ids(1), "both callers must observe the winning snapshot id")
    val snaps = IcebergLite.snapshots(root)
    assert(snaps.count(_.stage == "batch") === 1, s"duplicate idempotent commit: $snaps")
    assert(IcebergLite.read(spark, root, "batch").get.count() === 1L) // rows not doubled
  }
}
