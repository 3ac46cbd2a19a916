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

  test("nmsMerge and confidenceTiles over the partitioned crowns view equal them over raw crowns") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.graft.Bridge
    import graft.operators.RasterOps
    val crowns = crownsFor(2000)
    def merged(c: Dataset[CrownOps.Crown]) =
      CrownOps.nmsMerge(spark, c, 0.7, 0.3, 0.5).collect().toSeq.map(m =>
        (m.region, m.classIdx, m.memberIds.toSeq, m.score, m.scores.toSeq,
          Seq(m.minX, m.minY, m.maxX, m.maxY, m.area, m.perimeter),
          m.parts.toSeq.map(_.toSeq), m.geom.toSeq.map(_.toSeq)))
        .sortBy(r => (r._1, r._2, r._3.min))
    def tiles(c: Dataset[CrownOps.Crown]) = {
      val ts = RasterOps.confidenceTiles(spark, c, GeoOps.TileGrid.Default).collect()
      val byKey = ts.map(t => (t.region, t.tileId, t.classIdx) ->
        (t.minX, t.minY, t.rows, t.cols, t.gsd, t.data.toSeq)).toMap
      assert(byKey.size === ts.length, "one confidence tile per (region, tileId, classIdx)")
      byKey
    }
    val want = merged(crowns)
    val wantTiles = tiles(crowns)
    assert(want.nonEmpty && wantTiles.nonEmpty)
    // 16 hash buckets read as adaptive execution coalesces them, and
    // read as they are: the view must cluster each group either way
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    for ((coalesce, parts) <- Seq(("true", (n: Int) => n > 1 && n < 16), ("false", (n: Int) => n == 16)))
      withConf("spark.sql.shuffle.partitions" -> "16", coalesceKey -> coalesce,
          "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k") {
        val view = Bridge.partitionedView(CrownOps.byRegionClass(crowns))
        val n = view.rdd.getNumPartitions
        assert(parts(n), s"coalesce=$coalesce: the view has $n partitions")
        assert(merged(view) === want, s"coalesce=$coalesce")
        assert(tiles(view) === wantTiles, s"coalesce=$coalesce")
      }
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

  test("IcebergLite read starts no schema-inference job") {
    val root = Files.createTempDirectory("iceb_schema").toString
    val df = spark.range(40).toDF("id")
      .withColumn("region", col("id") % 3).withColumn("tag", lit("t").cast("string"))
    (0 until 3).foreach(k => IcebergLite.commit(spark, root, "s", df.filter(col("id") % 3 === k), "region"))
    val files = IcebergLite.snapshots(root).map(s => s"$root/data/s/snap-${s.id}")
    lazy val read = IcebergLite.read(spark, root, "s").get
    assert(jobsOf(read) === 0)
    assert(read.schema === spark.read.parquet(files: _*).schema)
    assert(read.count() === 40L)
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

  test("IcebergLite commit refuses a stage name the manifest and paths cannot carry") {
    val root = Files.createTempDirectory("iceb_stage").toString
    val df = Seq((1L, "a")).toDF("k", "v")
    // a quote broke the manifest entry (the snapshot vanished from reads);
    // a slash or ".." put data and lineage outside their directories
    Seq("a\"b", "../up", "a/b", "x.y", "").foreach { stage =>
      intercept[IllegalArgumentException](IcebergLite.commit(spark, root, stage, df, "k"))
    }
    assert(IcebergLite.snapshots(root).isEmpty)
    assert(!Files.exists(Paths.get(root, "data")) && !Files.exists(Paths.get(root, "lineage")))
    assert(IcebergLite.commit(spark, root, "Stage_2", df, "k") === 1L)
    assert(IcebergLite.snapshots(root) === Seq(IcebergLite.Snapshot(1L, "Stage_2", 1L)))
  }

  test("IcebergLite: a manifest entry or lineage line that does not parse fails loudly") {
    val root = Files.createTempDirectory("iceb_parse").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    IcebergLite.commit(spark, root, "s", df, "k")
    val manifest = Paths.get(root, "manifest.json")
    val good = new String(Files.readAllBytes(manifest), "UTF-8")
    def expectFail(file: java.nio.file.Path)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(file.toString), e.getMessage)
    }
    // an entry with an unescaped quote in its stage, and a truncated manifest
    val bad = good.stripSuffix("]}") + """,{"id":2,"stage":"a"b","rowCount":1}]}"""
    Seq(bad, good.dropRight(1)).foreach { txt =>
      Files.write(manifest, txt.getBytes("UTF-8"))
      expectFail(manifest)(IcebergLite.snapshots(root))
      expectFail(manifest)(IcebergLite.read(spark, root, "s"))
      // a commit must not rewrite the manifest without the entry
      expectFail(manifest)(IcebergLite.commit(spark, root, "s", df, "k"))
      assert(new String(Files.readAllBytes(manifest), "UTF-8") === txt)
    }
    Files.write(manifest, good.getBytes("UTF-8"))
    val lineage = Paths.get(root, "lineage", "s", "snap-1.jsonl")
    Files.write(lineage, (new String(Files.readAllBytes(lineage), "UTF-8") +
      "{\"unitKey\":3,\"rowCount\":}\n").getBytes("UTF-8"))
    expectFail(lineage)(IcebergLite.committedKeys(spark, root, "s"))
    expectFail(lineage)(IcebergLite.lineage(spark, root, "s"))
  }

  test("IcebergLite reads a warehouse whose manifest carries wallMs, key, kmin and kmax") {
    val root = Files.createTempDirectory("iceb_compat").toString
    // manifest, lineage and data files as the earlier writer laid them out
    Files.write(Paths.get(root, "manifest.json"), ("""{"snapshots":[""" +
      """{"id":1,"stage":"crowns","rowCount":3,"wallMs":412,"key":-1,"kmin":0,"kmax":1},""" +
      """{"id":2,"stage":"crowns","rowCount":2,"wallMs":87,"key":-1,"kmin":2,"kmax":2},""" +
      """{"id":3,"stage":"stream_assign","rowCount":1,"wallMs":30,"key":0,"kmin":7,"kmax":7},""" +
      """{"id":4,"stage":"stream_assign","rowCount":0,"wallMs":5,"key":1}]}""").getBytes("UTF-8"))
    val files = Seq(
      ("crowns", 1L, Seq((0L, "a"), (0L, "b"), (1L, "c")), "{\"unitKey\":0,\"rowCount\":2}\n{\"unitKey\":1,\"rowCount\":1}\n"),
      ("crowns", 2L, Seq((2L, "d"), (2L, "e")), "{\"unitKey\":2,\"rowCount\":2}\n"),
      ("stream_assign", 3L, Seq((7L, "f")), "{\"unitKey\":7,\"rowCount\":1}\n"),
      ("stream_assign", 4L, Seq.empty[(Long, String)], ""))
    files.foreach { case (stage, id, rows, lineage) =>
      rows.toDF("region", "v").write.parquet(s"$root/data/$stage/snap-$id")
      Files.createDirectories(Paths.get(root, "lineage", stage))
      Files.write(Paths.get(root, "lineage", stage, s"snap-$id.jsonl"), lineage.getBytes("UTF-8"))
    }
    assert(IcebergLite.snapshots(root) === files.map { case (stage, id, rows, _) =>
      IcebergLite.Snapshot(id, stage, rows.size.toLong) })
    def rows(stage: String) =
      IcebergLite.read(spark, root, stage).get.as[(Long, String)].collect().sorted.toSeq
    def keys(stage: String) =
      IcebergLite.committedKeys(spark, root, stage).get.as[Long].collect().sorted.toSeq
    assert(rows("crowns") === files.take(2).flatMap(_._3).sorted)
    assert(rows("stream_assign") === Seq((7L, "f")))
    assert(keys("crowns") === Seq(0L, 1L, 2L))
    assert(keys("stream_assign") === Seq(7L))
    assert(IcebergLite.lineage(spark, root, "crowns").get
      .select("snapshotId", "unitKey", "rowCount").as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 2L, 2L)))
    // the next commit appends after the earlier ids and keeps every entry
    assert(IcebergLite.commit(spark, root, "crowns", Seq((3L, "g")).toDF("region", "v"),
      "region") === 5L)
    assert(IcebergLite.snapshots(root).map(_.id) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(keys("crowns") === Seq(0L, 1L, 2L, 3L))
    assert(rows("crowns").size === 6)
  }
}
