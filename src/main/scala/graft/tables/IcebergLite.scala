package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal Iceberg-style table layer over Parquet, implemented in-repo
  * (no Iceberg jar in this environment — SURVEY.md header): immutable
  * snapshot data files + a JSON manifest swapped by atomic rename.
  * Re-creates the reference's resumable, append-only JSONL cache
  * manifest (tcd `cache/cache.py:46-91`, `docs/cache.md:21-47`) with
  * table semantics:
  *
  *  - `commit` appends a snapshot (set of parquet files written by one
  *    stage run) plus a lineage file: rows per unit key, tallied from
  *    the written files;
  *  - `read` unions all snapshots of a stage (append model — the
  *    reference caches are append-only too);
  *  - readers never see a half-written snapshot: data lands under
  *    `data/<stage>/snap-<id>/`, and only the manifest rename makes it
  *    (and its lineage file) visible — a crash mid-write leaves the
  *    previous manifest intact (mirrors Spark's task-commit + the
  *    reference's "cache survives process death", scripts/predict.py:36-38);
  *  - `committedKeys` powers resume: the driver subtracts the keys
  *    recorded in lineage from the pending work units
  *    (replaces models/model.py:148-185 warm-start skip);
  *  - a manifest entry or lineage line that does not parse fails
  *    loudly: skipped, it would hide a snapshot or make resume redo
  *    its units.
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

  final case class Snapshot(id: Long, stage: String, rowCount: Long)

  /** Stage names a manifest entry and a directory name both carry as is. */
  private val StageName = "[A-Za-z0-9_]+"

  private def manifestPath(root: String): Path = Paths.get(root, "manifest.json")

  // tiny hand-rolled JSON (flat schema, no deps)
  private val ManifestHead = "{\"snapshots\":["
  private val ManifestTail = "]}"
  // earlier manifests also carry wallMs, key, kmin and kmax: read and ignored
  private val ManifestEntry =
    """\{"id":(\d+),"stage":"([^"]*)","rowCount":(\d+)(?:,"(?:wallMs|key|kmin|kmax)":-?\d+)*\}""".r
  private val LineageLine = """\{"unitKey":(-?\d+),"rowCount":(\d+)\}""".r

  private def renderManifest(snaps: Seq[Snapshot]): String =
    snaps.map(s => s"""{"id":${s.id},"stage":"${s.stage}","rowCount":${s.rowCount}}""")
      .mkString(ManifestHead, ",", ManifestTail)

  def snapshots(root: String): Seq[Snapshot] = {
    val p = manifestPath(root)
    if (!Files.exists(p)) return Seq.empty
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    if (!txt.startsWith(ManifestHead) || !txt.endsWith(ManifestTail))
      throw new IllegalStateException(s"manifest $p is not a snapshot list")
    val body = txt.substring(ManifestHead.length, txt.length - ManifestTail.length)
    if (body.isEmpty) Seq.empty
    else body.split("(?<=\\}),(?=\\{)").toSeq.map {
      case ManifestEntry(id, stage, rows) => Snapshot(id.toLong, stage, rows.toLong)
      case e => throw new IllegalStateException(s"manifest $p has an entry it cannot parse: $e")
    }
  }

  private def writeManifest(root: String, snaps: Seq[Snapshot], tmpSuffix: String): Unit = {
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
    * deployment would swap in a catalog CAS).
    *
    * Dead id-reservation markers (≤ the committed max id) are pruned
    * inside the same critical section, so `.ids/` stays proportional
    * to IN-FLIGHT writers instead of growing one file per commit ever
    * made. */
  private def commitManifest(root: String, snap: Snapshot): Unit = {
    withManifestLock(root) {
      writeManifest(root, (snapshots(root) :+ snap).sortBy(_.id), tmpSuffix = s"-${snap.id}")
      pruneReservations(root, snap.id)
    }
    // The write under the lock is authoritative and never retried; this
    // re-read is a clobber DIAGNOSTIC for writers that bypass the lock.
    if (!scala.util.Try(snapshots(root)).getOrElse(Seq(snap)).exists(_.id == snap.id))
      System.err.println(s"[IcebergLite] WARNING: snapshot ${snap.id} not " +
        s"visible after locked commit at $root — a writer bypassing " +
        ".manifest.lock clobbered the manifest (commit is still authoritative)")
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
    * key as its lineage. `stage` must match `[A-Za-z0-9_]+`: the
    * manifest stores it unescaped and it names the snapshot's data and
    * lineage directories. `unitKeyCol` is the resume granularity (e.g.
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
             unitKeyCol: String): Long = {
    import spark.implicits._
    require(stage.matches(StageName), s"stage name '$stage' must match $StageName")
    val snapId = reserveId(root)
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
    commitManifest(root, Snapshot(snapId, stage, tally.map(_._2).sum))
    snapId
  }

  private def lineagePath(root: String, stage: String, snapId: Long): Path =
    Paths.get(root, "lineage", stage, s"snap-$snapId.jsonl")

  /** All data of a stage (union of its committed snapshots). */
  def read(spark: SparkSession, root: String, stage: String): Option[DataFrame] = {
    val snaps = snapshots(root).filter(_.stage == stage)
    if (snaps.isEmpty) None
    else Some(readDirs(spark, snaps.map(s => dataDir(root, stage, s.id))))
  }

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
    * without its file, or a line that does not parse, fails loudly:
    * read as "no keys", it would make resume redo that snapshot's
    * units and duplicate their rows. */
  private def lineageRows(root: String, stage: String): Option[Seq[(String, Long, Long, Long)]] = {
    val snaps = snapshots(root).filter(_.stage == stage)
    if (snaps.isEmpty) None
    else Some(snaps.flatMap { s =>
      val p = lineagePath(root, stage, s.id)
      if (!Files.isRegularFile(p))
        throw new IllegalStateException(s"snapshot ${s.id} of stage $stage at $root " +
          s"has no lineage file $p")
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split('\n').toSeq
        .filter(_.nonEmpty).map {
          case LineageLine(k, n) => (stage, s.id, k.toLong, n.toLong)
          case l => throw new IllegalStateException(s"lineage file $p has a line it cannot parse: $l")
        }
    })
  }
}
