package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Measure`'s modes on the shared test session: each must print
  * the keys of the artifacts it produces and leave the session conf as
  * it found it. */
class MeasureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def keys(json: String): Set[String] =
    """"([a-z0-9_]+)":""".r.findAllMatchIn(json).map(_.group(1)).toSet

  private def field(json: String, key: String): String =
    s""""$key": *"?(-?[0-9.]+)""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"no $key in $json")).group(1)

  private def confUnchanged[A](body: => A): A = {
    val before = spark.conf.getAll
    val r = body
    assert(spark.conf.getAll === before)
    r
  }

  test("queries mode reports the pinned output hash of a rows-only query") {
    val golden = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/query_hashes.json")), "UTF-8")
    val out = confUnchanged(Measure.queries(
      spark, "/root/testdata/sf0.01", Seq("crowns_merged"), 1, None))
    assert(out.startsWith("""{"bench_extra":{"crowns_merged":{"samples":["""))
    assert(field(out, "hash") === field(golden, "crowns_merged"))
    assert(Set("sf", "cores", "loadavg_start", "loadavg_end", "steal_pct").subsetOf(keys(out)))
  }

  test("stress mode emits every STRESS_r08.json key with rows_big = factor × rows_small") {
    val stressKeys = Set("job", "rows_small", "sec_small", "rows_per_sec_small",
      "rows_big", "sec_big", "rows_per_sec_big", "rate_ratio_big_over_small",
      "peak_heap_mb_big", "runs", "cores", "xmx_mb", "loadavg_start",
      "loadavg_end", "steal_pct")
    val lines = ArrayBuffer[String]()
    confUnchanged(Measure.stress(spark, 20000, 5000, 2, 1, lines += _))
    assert(lines.map(l => """"job":"(\w+)"""".r.findFirstMatchIn(l).get.group(1)) ===
      Seq("tile_assign", "pipeline"))
    lines.foreach { l =>
      assert(keys(l) === stressKeys)
      assert(field(l, "rows_big").toLong === 2 * field(l, "rows_small").toLong)
      assert(field(l, "runs") === "1")
    }
  }

  test("cluster width is read from a local-cluster master string") {
    assert(Measure.clusterWidth("local-cluster[4,2,6144]") === Some(8))
    assert(Measure.clusterWidth("local-cluster[1,2,6144]") === Some(2))
    assert(Measure.clusterWidth("local[4]") === None)
  }

  test("an unknown or missing mode fails with the usage text") {
    for (args <- Seq(Seq("stages"), Seq.empty[String])) {
      val e = intercept[IllegalArgumentException](Measure.parse(args))
      assert(e.getMessage === Measure.usage)
    }
  }
}
