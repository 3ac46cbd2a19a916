package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic Common-Crawl-style pages table
  * (`BASELINE.json.input_hint`: url STRING, warc_ts TIMESTAMP,
  * html BINARY, text STRING, lang STRING) — generated from
  * `spark.range(n)` with codegen'd column expressions, so the whole
  * generator whole-stage-codegens and never materializes driver-side.
  * `url`, `lang` and `text` come from one static kernel
  * ([[graft.functions.PagesKernel]]) that writes each value once into a
  * byte array of exact size; the rest are built-in expressions.
  *
  * Every column is a closed-form function of the row index `i`, chosen
  * so ANSI SQL (DuckDB `generate_series`) reproduces each value
  * byte-identically — that is what lets the driver's oracle assert the
  * per-row invariant "byte-identical extracted text per url" end to
  * end (BASELINE.md target acceptance).
  *
  * Geocoding (x, y) is part of the generator contract too: an LCG hash
  * of `i` over the reference extent 2048×2048
  * (tests/unit/test_tiling.py geometry), with a deliberate ~2.4% hot
  * cluster (`i % 41 == 0` → a 13×11-px spot) to exercise skew salting
  * at scale (SURVEY.md §7.4 risk 4).
  */
object PagesGen {

  /** Reference image extent (2048² px at tile 1024 / overlap 256 → the
    * 9-tile golden grid). */
  val ExtentX = 2048.0
  val ExtentY = 2048.0

  /** Rows per scale factor: sf0.001 → 6k (mirrors lineitem sizing). */
  def rowsFor(sfDir: String): Long = {
    val sf = raw"sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.001)
    math.max(1L, (6000000 * sf).toLong)
  }

  /** Same logic as [[pages]], as a DuckDB SQL snippet over
    * generate_series — used by oracle queries to recompute the table
    * from scratch (keep the two in exact sync). */
  def duckdbSql(n: Long): String =
    s"""SELECT i, url, warc_ts, lang,
       |  'url=' || url || ' lang=' || lang || ' body=' ||
       |    repeat(substr(md5(url), 1, 8) || ' ', 1 + i % 7) || md5(url) AS text,
       |  CAST(CASE WHEN i % 41 = 0 THEN 640 + i % 13
       |            ELSE (i * 1103515245 + 12345) % 2048 END AS DOUBLE) AS x,
       |  CAST(CASE WHEN i % 41 = 0 THEN 832 + i % 11
       |            ELSE (i * 69069 + 1) % 2048 END AS DOUBLE) AS y
       |FROM (
       |  SELECT i,
       |    printf('https://host-%04d.example/page-%08d', i % 1000, i) AS url,
       |    to_timestamp(1609459200 + (i * 37) % 31536000) AS warc_ts,
       |    CASE WHEN i % 20 < 10 THEN 'en' WHEN i % 20 < 13 THEN 'de'
       |         WHEN i % 20 < 15 THEN 'fr' WHEN i % 20 < 16 THEN 'es'
       |         WHEN i % 20 < 17 THEN 'zh' WHEN i % 20 < 18 THEN 'ru'
       |         WHEN i % 20 < 19 THEN 'pt' ELSE 'ja' END AS lang
       |  FROM (SELECT unnest(generate_series(0, ${n - 1})) AS i))""".stripMargin

  /** The pages table with derived geocode columns:
    * (i, url, warc_ts, html, text, lang, x, y). Drop (i, x, y) for the
    * strict input_hint five-column shape; keeping them costs nothing
    * (they are recomputable projections). */
  def pages(spark: SparkSession, n: Long): DataFrame =
    projectColumns(spark.range(n).toDF("i"))

  /** The generator's column logic over any (i BIGINT) relation — shared
    * by the batch `range` path and the streaming ingest path. */
  def projectColumns(base: DataFrame): DataFrame = {
    import graft.functions.pages_column
    base
      .withColumn("url", pages_column(col("i"), "url"))
      .withColumn("warc_ts", timestamp_seconds(lit(1609459200L) + (col("i") * 37) % 31536000))
      .withColumn("lang", pages_column(col("i"), "lang"))
      .withColumn("text", pages_column(col("i"), "text"))
      .withColumn("html", encode(col("text"), "utf-8"))
      .withColumn("x",
        when(col("i") % 41 === 0, lit(640) + col("i") % 13)
          .otherwise((col("i") * 1103515245L + 12345L) % 2048).cast("double"))
      .withColumn("y",
        when(col("i") % 41 === 0, lit(832) + col("i") % 11)
          .otherwise((col("i") * 69069L + 1L) % 2048).cast("double"))
  }

  def pagesFor(spark: SparkSession, sfDir: String): DataFrame =
    pages(spark, rowsFor(sfDir))
}
