package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal Iceberg-style table layer over Parquet, implemented in-repo
  * (no Iceberg jar in this environment — SURVEY.md header): immutable
  * snapshot data files + a JSON manifest swapped by atomic rename.
  * Re-creates the reference's resumable JSONL cache manifest
  * (/root/reference/src/tcd_pipeline/cache/cache.py:46-91,
  * docs/cache.md:21-47) with table semantics:
  *
  *  - `commit` appends a snapshot (set of parquet files written by one
  *    stage run) plus a lineage file: rows per unit key, tallied from
  *    the written files;
  *  - `read` unions all live snapshots of a stage (append model — the
  *    reference caches are append-only too);
  *  - readers never see a half-written snapshot: data lands under
  *    `data/<stage>/snap-<id>/`, and only the manifest rename makes it
  *    (and its lineage file) visible — a crash mid-write leaves the
  *    previous manifest intact (mirrors Spark's task-commit + the
  *    reference's "cache survives process death", scripts/predict.py:36-38);
  *  - `committedKeys` powers resume: the driver subtracts the keys
  *    recorded in lineage from the pending work units
  *    (replaces models/model.py:148-185 warm-start skip).
  *
  * Layout:
  * {{{
  * root/
  *   manifest.json                    # {"snapshots":[...]} atomic swap
  *   data/<stage>/snap-<id>/ *.parquet
  *   lineage/<stage>/snap-<id>.jsonl  # {"unitKey":k,"rowCount":n} per key
  * }}}
  */
object IcebergLite {

  /** `key` = caller-supplied idempotency key (e.g. streaming batch id);
    * -1 when unused. `keyMin`/`keyMax` are manifest-level stats of the
    * snapshot's unit-key column (the Iceberg data-skipping analogue):
    * range reads prune whole snapshots without touching their files.
    * Old manifests without the fields read back as the full range. */
  final case class Snapshot(id: Long, stage: String, rowCount: Long, wallMs: Long,
                            key: Long = -1L,
                            keyMin: Long = Long.MinValue, keyMax: Long = Long.MaxValue)

  private def manifestPath(root: String): Path = Paths.get(root, "manifest.json")

  // tiny hand-rolled JSON (flat schema, no deps)
  private def renderManifest(snaps: Seq[Snapshot]): String =
    snaps.map { s =>
      val stats =
        if (s.keyMin == Long.MinValue && s.keyMax == Long.MaxValue) ""
        else s""","kmin":${s.keyMin},"kmax":${s.keyMax}"""
      s"""{"id":${s.id},"stage":"${s.stage}","rowCount":${s.rowCount},"wallMs":${s.wallMs},"key":${s.key}$stats}"""
    }.mkString("{\"snapshots\":[", ",", "]}")

  def snapshots(root: String): Seq[Snapshot] = {
    val p = manifestPath(root)
    if (!Files.exists(p)) return Seq.empty
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val re = """\{"id":(\d+),"stage":"([^"]*)","rowCount":(\d+),"wallMs":(\d+)(?:,"key":(-?\d+))?(?:,"kmin":(-?\d+),"kmax":(-?\d+))?\}""".r
    re.findAllMatchIn(txt).map(m =>
      Snapshot(m.group(1).toLong, m.group(2), m.group(3).toLong, m.group(4).toLong,
        Option(m.group(5)).map(_.toLong).getOrElse(-1L),
        Option(m.group(6)).map(_.toLong).getOrElse(Long.MinValue),
        Option(m.group(7)).map(_.toLong).getOrElse(Long.MaxValue))).toSeq
  }

  private def writeManifest(root: String, snaps: Seq[Snapshot], tmpSuffix: String = ""): Unit = {
    Files.createDirectories(Paths.get(root))
    // per-writer tmp name: two committers sharing one tmp path would
    // race inside the write-then-rename window
    val tmp = Paths.get(root, s".manifest.tmp$tmpSuffix")
    Files.write(tmp, renderManifest(snaps).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Allocate a snapshot id no other in-flight writer holds: atomic
    * create-exclusive of a marker file under `.ids/` (the filesystem is
    * the lock service — POSIX and HDFS both give exclusive create).
    * Without this, two writers reading the same manifest would both
    * pick max+1 and the SECOND `data/<stage>/snap-<id>` write would
    * overwrite the first's files. */
  private def reserveId(root: String): Long = {
    val dir = Paths.get(root, ".ids")
    Files.createDirectories(dir)
    import scala.jdk.CollectionConverters._
    val reservedMax =
      try {
        val s = Files.list(dir)
        try s.iterator().asScala
          .flatMap(p => scala.util.Try(p.getFileName.toString.stripPrefix("id-").toLong).toOption)
          .foldLeft(0L)(math.max)
        finally s.close()
      } catch { case _: java.io.IOException => 0L }
    var cand = math.max(snapshots(root).map(_.id).maxOption.getOrElse(0L), reservedMax) + 1
    while (true) {
      try {
        Files.createFile(dir.resolve(s"id-$cand"))
        // CLOSE THE PRUNE WINDOW: another writer may have committed
        // this very id (and pruned its marker) between our manifest
        // read and the createFile — holding the marker is only
        // ownership if the id is still above the committed max.
        // In-flight lower ids stay safe: candidates always start above
        // the committed max, so a pruned-but-uncommitted marker's id
        // can never be handed out again.
        if (snapshots(root).map(_.id).maxOption.getOrElse(0L) < cand) return cand
        scala.util.Try(Files.deleteIfExists(dir.resolve(s"id-$cand")))
        cand = math.max(cand, snapshots(root).map(_.id).maxOption.getOrElse(0L)) + 1
      } catch { case _: java.nio.file.FileAlreadyExistsException => cand += 1 }
    }
    -1L // unreachable
  }

  // per-root monitors: file locks are held per-JVM, so two threads in
  // one JVM need a JVM-level mutex around the file-level one
  private val rootMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Make `snap` visible without losing concurrent commits (the plain
    * rename was last-writer-wins — verdict r3 item 8). The
    * read-merge-rename is a true critical section: a JVM-level monitor
    * (threads) nested inside an exclusive `.manifest.lock` file lock
    * (processes — POSIX/NFSv4/HDFS all honor it; an object-store
    * deployment would swap in a catalog CAS). The write under the lock
    * is authoritative; a post-lock re-read only WARNS about writers
    * that bypass the lock (it must not retry — see body).
    *
    * The idempotency-key duplicate check is REPEATED here under the
    * lock: two racing commits with the same (stage, key) both pass the
    * optimistic pre-check in [[commit]], and with CAS merging both
    * would otherwise become visible — duplicating every row on read.
    * Returns the id that won (ours, or the earlier duplicate's — the
    * loser's data dir stays orphaned and invisible).
    *
    * Dead id-reservation markers (≤ the committed max id) are pruned
    * inside the same critical section, so `.ids/` stays proportional
    * to IN-FLIGHT writers instead of growing one file per commit ever
    * made. */
  private def commitManifest(root: String, snap: Snapshot): Long = {
    // The write under the exclusive lock is AUTHORITATIVE: the winner is
    // decided inside the critical section. A post-lock re-read must NOT
    // gate success — a concurrent compact may legitimately capture and
    // remove the just-committed snapshot between lock release and the
    // re-read, and a retry would re-insert it (doubling its rows in the
    // compacted union, and pointing at expired data dirs). The re-read
    // below is a clobber DIAGNOSTIC only, for non-conforming writers
    // that bypass the lock.
    val winner = withManifestLock(root) {
      val cur = snapshots(root)
      val dup = if (snap.key >= 0)
        cur.find(s => s.stage == snap.stage && s.key == snap.key && s.id != snap.id)
      else None
      dup match {
        case Some(d) => d.id
        case None =>
          writeManifest(root, (cur.filterNot(_.id == snap.id) :+ snap).sortBy(_.id),
            tmpSuffix = s"-${snap.id}")
          pruneReservations(root, snap.id)
          snap.id
      }
    }
    if (winner == snap.id) {
      val cur = scala.util.Try(snapshots(root)).getOrElse(Seq(snap))
      // Legitimate absence = a compact consumed it (its replacement is a
      // LATER snapshot of the same stage). Absent with no later
      // same-stage snapshot = a writer bypassed .manifest.lock.
      if (!cur.exists(_.id == snap.id) &&
          !cur.exists(s => s.stage == snap.stage && s.id > snap.id))
        System.err.println(s"[IcebergLite] WARNING: snapshot ${snap.id} not " +
          s"visible after locked commit at $root — a writer bypassing " +
          ".manifest.lock clobbered the manifest (commit is still authoritative)")
    }
    winner
  }

  /** The manifest critical section: per-root JVM monitor (threads)
    * nested inside the exclusive `.manifest.lock` file lock
    * (processes). The monitor key is the NORMALIZED absolute path —
    * two spellings of one directory ("/t/x" vs "/t/x/") must share the
    * JVM monitor, or the second thread's FileChannel.lock throws
    * OverlappingFileLockException (file locks are held per-JVM). */
  private def withManifestLock[A](root: String)(body: => A): A = {
    val monitor = rootMonitors.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(Paths.get(root))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(root, ".manifest.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }
  }

  /** Validated locked manifest transform (compaction's
    * add-one-remove-many swap): `transform` returns None to ABORT
    * (preconditions no longer hold — e.g. a concurrent compact already
    * removed the captured snapshots). Returns whether the swap landed —
    * decided inside the critical section; the locked write is
    * authoritative. */
  private def updateManifest(root: String, verifyId: Long,
                             transform: Seq[Snapshot] => Option[Seq[Snapshot]]): Boolean =
    // The locked write is AUTHORITATIVE — success is decided inside the
    // critical section (same rationale as [[commitManifest]]). A
    // post-lock re-read retry would be wrong twice over: a concurrent
    // LATER compact may legitimately consume `verifyId` before the
    // re-read, and (a) re-running the transform would see its captured
    // sources gone → abort → the caller deletes data dirs the later
    // compact's rewrite was built from (data loss), or (b) re-apply a
    // swap that already landed.
    withManifestLock(root) {
      transform(snapshots(root)) match {
        case Some(next) =>
          writeManifest(root, next, tmpSuffix = s"-$verifyId")
          pruneReservations(root, verifyId)
          true
        case None => false
      }
    }

  /** Drop `.ids/` markers at or below the just-committed id except the
    * ones above it (still possibly in flight). Best-effort; only called
    * under the manifest lock. */
  private def pruneReservations(root: String, upTo: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(root, ".ids")
    if (!Files.isDirectory(dir)) return
    try {
      val s = Files.list(dir)
      try s.iterator().asScala.toList.foreach { p =>
        scala.util.Try(p.getFileName.toString.stripPrefix("id-").toLong).toOption
          .filter(_ <= upTo).foreach(_ => scala.util.Try(Files.deleteIfExists(p)))
      } finally s.close()
    } catch { case _: java.io.IOException => }
  }

  /** Write `df` as a new snapshot of `stage`, recording rows per unit
    * key as its lineage. `unitKeyCol` is the resume granularity (e.g.
    * region id, tile id) and must be non-null. Returns the snapshot id.
    *
    * Concurrency contract: MULTI-WRITER SAFE. Snapshot ids are
    * reserved via exclusive marker-file creation (no two writers share
    * a data dir or lineage file), and the manifest swap is one
    * read-merge-rename under the manifest lock ([[commitManifest]]),
    * decided inside the critical section and never retried — so
    * concurrent commits are all visible afterwards. The reference's
    * cache is single-process (cache.py:46-91); this strengthens it. */
  def commit(spark: SparkSession, root: String, stage: String, df: DataFrame,
             unitKeyCol: String, idempotencyKey: Long = -1L): Long = {
    val t0 = System.nanoTime()
    val prev = snapshots(root)
    // idempotent re-commit (e.g. streaming micro-batch replay after a
    // crash between manifest rename and checkpoint write): the same
    // (stage, key) is already visible -> no-op
    if (idempotencyKey >= 0)
      prev.find(s => s.stage == stage && s.key == idempotencyKey)
        .foreach(s => return s.id)
    val snapId = reserveId(root)
    val snap = writeSnapshotFiles(spark, root, stage, snapId, df, unitKeyCol,
      t0, idempotencyKey)
    commitManifest(root, snap)
  }

  /** Data files + lineage file for one snapshot id (everything but the
    * manifest entry — shared by [[commit]] and [[compact]]). */
  private def writeSnapshotFiles(spark: SparkSession, root: String, stage: String,
                                 snapId: Long, df: DataFrame, unitKeyCol: String,
                                 t0: Long, idempotencyKey: Long): Snapshot = {
    import spark.implicits._
    val dir = dataDir(root, stage, snapId)
    df.write.mode("overwrite").parquet(dir)

    // one job tallies rows per key over the written files, so it sees
    // exactly what a reader will see; the given schema skips inference
    val perTask = spark.read.schema(StructType(Seq(df.schema(unitKeyCol)))).parquet(dir)
      .select(col(unitKeyCol).cast("long")).as[Long]
      .mapPartitions { keys =>
        val n = scala.collection.mutable.HashMap.empty[Long, Long]
        keys.foreach(k => n(k) = n.getOrElse(k, 0L) + 1L)
        Iterator.single(n.toMap)
      }.collect()
    val tally = perTask.flatten.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
    val lineageFile = lineagePath(root, stage, snapId)
    Files.createDirectories(lineageFile.getParent)
    Files.write(lineageFile, tally.map { case (k, n) => s"""{"unitKey":$k,"rowCount":$n}\n""" }
      .mkString.getBytes(StandardCharsets.UTF_8))
    // an empty snapshot keeps the sentinel (full-range) key stats
    val keys = tally.map(_._1)
    Snapshot(snapId, stage, tally.map(_._2).sum, (System.nanoTime() - t0) / 1000000,
      idempotencyKey, keys.headOption.getOrElse(Long.MinValue),
      keys.lastOption.getOrElse(Long.MaxValue))
  }

  private def lineagePath(root: String, stage: String, snapId: Long): Path =
    Paths.get(root, "lineage", stage, s"snap-$snapId.jsonl")

  /** Compact a stage's UNKEYED snapshots into ONE — the Iceberg
    * `rewrite_data_files` + `expire_snapshots` analogue: resume-heavy
    * tables accumulate a snapshot per work unit and every read unions
    * all their files. The union of the snapshot set captured at entry
    * is rewritten as a new snapshot, then a single LOCKED manifest
    * update atomically swaps the old entries for the new one — a
    * reader sees either the old set or the compacted snapshot, NEVER
    * both (the new entry and the removals land in one rename).
    *
    * Safety contracts:
    *  - Snapshots with an idempotency key are NOT compacted: the
    *    (stage, key) manifest record IS the streaming exactly-once
    *    replay guard — folding it away would let a crashed micro-batch
    *    re-commit its rows. Only `key == -1` snapshots participate.
    *  - Two concurrent compacts cannot double the data: the swap
    *    VALIDATES under the lock that every captured id is still
    *    present and ABORTS otherwise (the loser's rewritten files are
    *    removed, -1 returned).
    *  - Snapshots committed concurrently during the rewrite survive:
    *    only the captured ids are replaced.
    *  - Time travel at ids below the compaction is EXPIRED — readAsOf
    *    there returns None/partial history, exactly like Iceberg after
    *    expire_snapshots.
    *  - Old data dirs and lineage files are deleted only when
    *    `expireData = true` (default false): a LAZY DataFrame handle
    *    planned before the compaction still references the old paths,
    *    and deleting them breaks it mid-scan. Opt in when no readers
    *    hold pre-compaction plans; orphaned files are invisible to all
    *    new reads either way.
    *
    * Returns the new snapshot id, or -1 if there is nothing to compact
    * (0 or 1 unkeyed snapshots) or a concurrent compact won.
    * `targetFiles` bounds the rewritten snapshot's file count
    * (coalesce — narrow, no shuffle): small-file cleanup is the point;
    * size it to rows/128MB at scale. */
  def compact(spark: SparkSession, root: String, stage: String,
              unitKeyCol: String, targetFiles: Int = 1,
              expireData: Boolean = false): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val t0 = System.nanoTime()
    val oldIds = snapshots(root).filter(s => s.stage == stage && s.key < 0).map(_.id)
    if (oldIds.size < 2) return -1L
    val union = oldIds.map(id => readDirs(spark, Seq(dataDir(root, stage, id))))
      .reduce(_ unionByName _).coalesce(targetFiles)
    val snapId = reserveId(root)
    val snap = writeSnapshotFiles(spark, root, stage, snapId, union, unitKeyCol,
      t0, idempotencyKey = -1L)
    val swapped = updateManifest(root, snapId, cur =>
      if (oldIds.forall(id => cur.exists(_.id == id)))
        Some((cur.filterNot(s => oldIds.contains(s.id)).filterNot(_.id == snapId) :+ snap)
          .sortBy(_.id))
      else None) // a concurrent compact already replaced them — abort
    if (!swapped) {
      deleteSnapshotDirs(root, stage, Seq(snapId)) // our orphaned rewrite
      return -1L
    }
    if (expireData) deleteSnapshotDirs(root, stage, oldIds)
    snapId
  }

  /** Best-effort delete of snapshot data dirs and lineage files. */
  private def deleteSnapshotDirs(root: String, stage: String, ids: Seq[Long]): Unit =
    ids.foreach { id =>
      scala.util.Try {
        val dir = Paths.get(dataDir(root, stage, id))
        if (Files.isDirectory(dir)) {
          import scala.jdk.CollectionConverters._
          val walk = Files.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      }
      scala.util.Try(Files.deleteIfExists(lineagePath(root, stage, id)))
    }

  /** All live data of a stage (union of its committed snapshots). */
  def read(spark: SparkSession, root: String, stage: String): Option[DataFrame] =
    readAsOf(spark, root, stage, Long.MaxValue)

  /** Time travel: the stage's data as of snapshot `asOfId` (inclusive) —
    * the append model makes any historical state reconstructible as the
    * union of snapshots up to that id. History below a [[compact]]ion
    * is EXPIRED: those snapshot entries are gone, so an asOfId under
    * the compaction id sees only whatever keyed snapshots survived. */
  def readAsOf(spark: SparkSession, root: String, stage: String,
               asOfId: Long): Option[DataFrame] = {
    val snaps = snapshots(root).filter(s => s.stage == stage && s.id <= asOfId)
    readSnaps(spark, root, stage, snaps)
  }

  /** Union-read the data of a snapshot set (shared by readAsOf /
    * readRange — the path layout lives in one place). */
  private def readSnaps(spark: SparkSession, root: String,
                        stage: String, snaps: Seq[Snapshot]): Option[DataFrame] =
    if (snaps.isEmpty) None
    else Some(readDirs(spark, snaps.map(s => dataDir(root, stage, s.id))))

  private def dataDir(root: String, stage: String, snapId: Long): String =
    s"$root/data/$stage/snap-$snapId"

  /** Parquet read of snapshot data dirs with the schema given, so no
    * schema-inference job starts. The schema is the one Spark recorded
    * in the first data file's footer (`org.apache.spark.sql.parquet.row.metadata`),
    * read on the driver; with no such file Spark infers it as before. */
  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val first = dirs.iterator.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { d =>
      val ls = Files.list(d)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_"))
        .toSeq.sorted.headOption.map(d.resolve)
      finally ls.close()
    }.nextOption()
    val schema = first.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
    schema.fold(spark.read)(spark.read.schema(_)).parquet(dirs: _*)
  }

  /** Range read with SNAPSHOT skipping (Iceberg manifest-stats
    * pruning): only snapshots whose recorded [keyMin, keyMax] overlaps
    * [lo, hi] are read at all — their files are never listed — and the
    * residual unit-key filter lands on the parquet scan as a pushed
    * predicate for row-group pruning within the surviving snapshots.
    * Old manifests without stats read as full-range (never skipped). */
  def readRange(spark: SparkSession, root: String, stage: String,
                unitKeyCol: String, lo: Long, hi: Long): Option[DataFrame] = {
    // rowCount == 0 guard: an empty snapshot has sentinel (full-range)
    // stats — "no stats" must not read as "contains every key"
    val snaps = snapshots(root).filter(s =>
      s.stage == stage && s.rowCount > 0 && s.keyMax >= lo && s.keyMin <= hi)
    readSnaps(spark, root, stage, snaps)
      .map(_.filter(col(unitKeyCol) >= lo && col(unitKeyCol) <= hi))
  }

  /** Lineage of a stage's committed snapshots, as a local DataFrame of
    * (stage, snapshotId, unitKey, rowCount). */
  def lineage(spark: SparkSession, root: String, stage: String): Option[DataFrame] = {
    import spark.implicits._
    lineageRows(root, stage).map(_.toDF("stage", "snapshotId", "unitKey", "rowCount"))
  }

  /** Distinct committed work-unit keys of a stage, as a local DataFrame
    * (collecting it runs no Spark job) — what resume subtracts. */
  def committedKeys(spark: SparkSession, root: String, stage: String): Option[DataFrame] = {
    import spark.implicits._
    lineageRows(root, stage).map(_.map(_._3).distinct.toDF("unitKey"))
  }

  /** Read on the driver from the lineage files that manifest entries
    * name; None when the stage has no snapshot. A committed snapshot
    * without its file fails loudly: read as "no keys", it would make
    * resume redo that snapshot's units and duplicate their rows. */
  private def lineageRows(root: String, stage: String): Option[Seq[(String, Long, Long, Long)]] = {
    val snaps = snapshots(root).filter(_.stage == stage)
    val line = """\{"unitKey":(-?\d+),"rowCount":(\d+)\}""".r
    if (snaps.isEmpty) None
    else Some(snaps.flatMap { s =>
      val p = lineagePath(root, stage, s.id)
      if (!Files.isRegularFile(p))
        throw new IllegalStateException(s"snapshot ${s.id} of stage $stage at $root " +
          s"has no lineage file $p")
      line.findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .map(m => (stage, s.id, m.group(1).toLong, m.group(2).toLong))
    })
  }
}
