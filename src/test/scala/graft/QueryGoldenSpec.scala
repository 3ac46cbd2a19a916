package graft

import org.scalatest.funsuite.AnyFunSuite

/** Hard verification for the queries WITHOUT a DuckDB oracle: each one
  * is pinned to a committed xor-of-xxhash64-over-all-columns output
  * hash at the driver's verify scale (sf0.01) — the exact checksum
  * Bench computes per query ([[Bench.outputHash]]), so "benchmarked"
  * and "verified" are the same artifact. Together with the driver's
  * oracle rows this makes every `SparkEntry.queries` entry
  * hash-checked: SQL-expressible ones against DuckDB, the rest against
  * these goldens (whose semantics are themselves covered by kernel
  * goldens, recall tests, and the reference's 387-annotation fixture).
  *
  * The golden bootstraps on first run (then gets committed) — an
  * INTENTIONAL semantics change regenerates by deleting the file;
  * accidental drift fails with the per-query name.
  */
class QueryGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val sfDir = "/root/testdata/sf0.01"
  private val goldenPath = "src/test/resources/query_hashes.json"

  /** Queries with a DuckDB oracle are driver-verified; pin the rest. */
  private def rowsOnly: Seq[String] =
    (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted

  private def parseGolden(s: String): Map[String, Long] =
    """"([a-z0-9_]+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  test("every no-oracle query reproduces its committed sf0.01 output hash") {
    val computed = rowsOnly.map { name =>
      name -> Bench.outputHash(SparkEntry.queries(name)(spark, sfDir))
    }
    val goldenFile = java.nio.file.Paths.get(goldenPath)
    // the repo file is authoritative when present (it is what gets
    // committed and can be regenerated by deleting it); the CLASSPATH
    // copy is used when the working directory isn't the repo root — so
    // tests run from elsewhere still VERIFY (or fail loud when no
    // golden is reachable) instead of silently bootstrapping a fresh
    // golden into a foreign directory. The repo-root probe is THIS
    // spec's own source file — merely having a src/test/resources dir
    // (any sbt project) must not count as "our repo root".
    val atRepoRoot = java.nio.file.Files.exists(
      java.nio.file.Paths.get("src/test/scala/graft/QueryGoldenSpec.scala"))
    val goldenText: Option[String] =
      if (java.nio.file.Files.exists(goldenFile))
        Some(new String(java.nio.file.Files.readAllBytes(goldenFile), "UTF-8"))
      else if (atRepoRoot) None // deliberate delete-to-regenerate flow
      else Some(Option(getClass.getResourceAsStream("/query_hashes.json")).map { in =>
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }.getOrElse(fail(s"cannot verify: not at the repo root (no $goldenPath) " +
        "and no /query_hashes.json on the test classpath — refusing to " +
        "silently bootstrap a new golden")))
    if (goldenText.isEmpty) {
      val json = computed.map { case (k, v) => s"""  "$k": $v""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(goldenFile.getParent)
      java.nio.file.Files.write(goldenFile, json.getBytes("UTF-8"))
      cancel(s"golden bootstrapped at $goldenPath — commit it and rerun")
    }
    val want = parseGolden(goldenText.get)
    // name sets stay in sync both ways: a new no-oracle query must get
    // a golden (delete the file to regenerate), a renamed one must not
    // leave a stale entry behind
    assert(want.keySet === computed.map(_._1).toSet,
      "query set drifted vs committed golden — regenerate query_hashes.json")
    computed.foreach { case (name, h) =>
      assert(want(name) === h, s"$name: output hash drifted")
    }
  }

  test("scratchDir removes stale entries only inside graft-scratch under its root") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("scratch-root")
    val stale = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60 * 60 * 1000L)
    val foreign = Files.createDirectory(root.resolve("gtiff_q_foreign"))
    val own = Files.createDirectories(root.resolve("graft-scratch").resolve("gtiff_q_old"))
    Files.writeString(own.resolve("t.tif"), "x")
    Seq(foreign, own).foreach(Files.setLastModifiedTime(_, stale))
    try {
      val dir = java.nio.file.Paths.get(SparkEntry.scratchDir("gtiff_q", root))
      assert(Files.isDirectory(foreign), "an entry outside graft-scratch was deleted")
      assert(!Files.exists(own), "a stale graft-scratch entry survived")
      assert(dir.getParent === root.resolve("graft-scratch"))
    } finally {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.delete(p); () })
      finally walk.close()
    }
  }
}
