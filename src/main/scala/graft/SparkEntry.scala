package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.{CrownOps, Dedup, GeoOps, Multimodal, RasterOps, Similarity, TextOps}
import graft.tables.PagesGen

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one operator from SURVEY.md §2 (or a
  * training-data-pipeline operator); `oracleSql` holds the equivalent
  * DuckDB SQL over the same parquet tables (pages-based queries
  * regenerate the deterministic pages table inside the SQL via
  * `PagesGen.duckdbSql`, which is what makes the per-row
  * "byte-identical text per url" invariant oracle-checkable).
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Scratch dir for the file-round-trip queries (gtiff/shp) under
    * `<root>/graft-scratch`. The root prefers tmpfs: raster_geotiff_rt
    * showed a 1.5× quiet-run band (3.5-5.3 s, rounds 5-6) on unchanged
    * code because /tmp page-cache/writeback state varies between runs;
    * /dev/shm makes the IO leg deterministic (same precedent as the
    * Bench shuffle dir). The payload is ≤ 10 MB at sf0.1. Stale
    * siblings from earlier runs are removed first (> 30 min old — a
    * lazily-read DataFrame from the current process may still hold a
    * younger one), so repeated bench/verify runs can't accumulate in
    * tmpfs. Only `graft-scratch` is cleaned, never the shared root. */
  private[graft] def scratchDir(
      prefix: String,
      root: java.nio.file.Path = Bench.shmRoot.getOrElse(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))): String = {
    import java.nio.file.Files
    val parent = Files.createDirectories(root.resolve("graft-scratch"))
    val cutoff = System.currentTimeMillis() - 30 * 60 * 1000L
    val siblings = Files.list(parent)
    try {
      siblings.forEach { child =>
        val name = child.getFileName.toString
        if (name.startsWith(prefix) &&
            scala.util.Try(Files.getLastModifiedTime(child).toMillis < cutoff)
              .getOrElse(false)) {
          scala.util.Try {
            val walk = Files.walk(child)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { Files.deleteIfExists(p); () })
            finally walk.close()
          }
        }
      }
    } finally siblings.close()
    Files.createTempDirectory(parent, prefix).toString
  }

  /** The sf0.01 row count the driver's oracle runs at (TESTDATA.md). */
  private val OracleRows = 60000L

  /** Pages CTE for oracle SQL (always sf0.01 — the driver's verify sf). */
  private def pagesCte = s"WITH pages AS (${PagesGen.duckdbSql(OracleRows)})"

  /** DuckDB replica of `(a mod 2^64) * m mod 2^64` on UBIGINT column
    * `z`: DuckDB integer ops ERROR on overflow instead of wrapping, so
    * the product is assembled from 32-bit halves in HUGEINT —
    * `lo·mlo + 2^32·((lo·mhi + hi·mlo) mod 2^32) (mod 2^64)`. */
  private def mulMod64(mlo: Long, mhi: Long) =
    s"""CAST((
       |      (CAST(z % 4294967296 AS HUGEINT) * $mlo) % 18446744073709551616
       |    + ((CAST(z % 4294967296 AS HUGEINT) * $mhi
       |        + CAST(z >> 32 AS HUGEINT) * $mlo) % 4294967296) * 4294967296
       |    ) % 18446744073709551616 AS UBIGINT)""".stripMargin

  // --- DuckDB replicas of 32-bit JVM int arithmetic (wraparound mul,
  // rotate-left, logical shift-right) for reproducing
  // scala.util.hashing.MurmurHash3.stringHash bit-exactly: values live
  // in BIGINT restricted to [0, 2^32); products detour through HUGEINT
  // (DuckDB errors on integer overflow instead of wrapping). `//` on a
  // non-negative BIGINT is `>>>`.
  private def u32Mul(a: String, m: Long) =
    s"CAST((CAST($a AS HUGEINT) * $m) % 4294967296 AS BIGINT)"
  private def rotl32(x: String, r: Int) =
    s"((${u32Mul(x, 1L << r)}) | (($x) // ${1L << (32 - r)}))"
  private def murMixLast(h: String, k: String) =
    s"xor($h, ${u32Mul(rotl32(u32Mul(k, 0xcc9e2d51L), 15), 0x1b873593L)})"
  private def murMix(h: String, k: String) =
    s"CAST((CAST(${rotl32(murMixLast(h, k), 13)} AS HUGEINT) * 5 + ${0xe6546b64L}) % 4294967296 AS BIGINT)"

  // --- DuckDB replicas of 64-bit XXH64 arithmetic (the hash behind
  // Spark's `xxhash64` / XxHash64Function) for reproducing
  // Dedup.minhashSignatures bit-exactly: values live in UBIGINT;
  // wraparound multiplies detour through HUGEINT via 32-bit halves
  // (same staging as mulMod64); rotates split into disjoint shifted
  // halves joined by + (no bit overlap, so + is |). Only the < 32-byte
  // path of XXH64 is replicated — guarded FAIL-LOUD in SQL (xck CTE
  // errors on ≥ 32 bytes or non-ASCII) — which covers every 3-word
  // shingle the documents fixture can produce (max 26 bytes at the
  // sf0.01 oracle gate; the vocabulary is short ASCII words).
  private val XxP1 = "11400714785074694791" // 0x9E3779B185EBCA87
  private val XxP2 = "14029467366897019727" // 0xC2B2AE3D27D4EB4F
  private val XxP3 = "1609587929392839161" // 0x165667B19E3779F9
  private val XxP4 = "9650029242287828579" // 0x85EBCA77C2B2AE63
  private val XxP5 = "2870177450012600261" // 0x27D4EB2F165667C5
  private val M64 = "18446744073709551616"
  private def xHug(e: String) = s"CAST($e AS HUGEINT)"
  private def xUb(e: String) = s"CAST($e AS UBIGINT)"

  /** (e · c) mod 2^64 — e a non-negative integer expr < 2^64, c an
    * unsigned-decimal constant: lo(e)·c fits HUGEINT (< 2^96), the
    * hi(e)·lo(c) cross term only matters mod 2^32. */
  private def xMul(e: String, c: String): String = {
    val clo = java.lang.Long.parseUnsignedLong(c) & 0xFFFFFFFFL
    xUb(s"(((${xHug(s"($e) % 4294967296")}) * $c" +
      s" + (((${xHug(s"($e) >> 32")}) * $clo) % 4294967296) * 4294967296) % $M64)")
  }
  private def xRotl(e: String, r: Int) =
    xUb(s"(((${xHug(e)} * ${1L << r}) % $M64) + ${xHug(s"($e) >> ${64 - r}")})")
  private def xAdd(e: String, c: String) = xUb(s"((${xHug(e)} + $c) % $M64)")
  // the three XXH64 absorb steps: 8-byte word (w BIGINT < 2^63 — ASCII
  // top byte), 4-byte word (d < 2^32), tail byte (b ≤ 127)
  private def xWordMix(z: String, w: String) =
    xAdd(xMul(xRotl(s"xor($z, ${xMul(xRotl(xMul(w, XxP2), 31), XxP1)})", 27), XxP1), XxP4)
  private def xU32Mix(z: String, d: String) =
    xAdd(xMul(xRotl(s"xor($z, ${xUb(s"(${xHug(d)} * $XxP1) % $M64")})", 23), XxP2), XxP3)
  private def xByteMix(z: String, b: String) =
    xMul(xRotl(s"xor($z, ${xUb(s"(${xHug(b)} * $XxP5) % $M64")})", 11), XxP1)
  /** Little-endian word of `nBytes` from the 1-indexed byte list `bl`
    * at 0-based offset `off` (an expression). */
  private def xWord(off: String, nBytes: Int) =
    (0 until nBytes).map(k => s"bl[$off + ${k + 1}] * ${1L << (8 * k)}").mkString(" + ")

  /** XXH64(s, seed_i) for every DISTINCT `s` (VARCHAR column of CTE
    * `src`) × the `numHashes` minhash permutation seeds — emits CTE
    * `hh(s, si, h)` with h converted to SIGNED BIGINT because the
    * engine's signature is a signed-Long min (Long.MaxValue init).
    * Seeds are computed at SQL-build time by the exact function the
    * engine uses (XxHash64Function.hash(i, IntegerType, 42)), so the
    * two sides cannot drift. The staged-CTE chain was validated
    * bit-exact against the JVM on 7,904 random-ASCII (len 1-31) ×
    * 32-seed hashes and on the full sf0.01 shingle corpus. */
  private def xxh64HashCtes(src: String, numHashes: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.IntegerType
    val seeds = (0 until numHashes).map { i =>
      s"($i, ${xUb(java.lang.Long.toUnsignedString(XxHash64Function.hash(i, IntegerType, 42L)))})"
    }.mkString(", ")
    s"""xin AS (SELECT DISTINCT s FROM $src),
       |xby AS (SELECT s, len(s) AS L,
       |         list_transform(string_split(s, ''), c -> unicode(c)) AS bl FROM xin),
       |xck AS (SELECT s, CASE WHEN L >= 32 OR list_max(bl) > 127 OR list_min(bl) < 0
       |                  THEN error('xxh64 oracle: input outside the <32-byte ASCII domain')
       |                  ELSE L END AS L, bl FROM xby),
       |xwd AS (SELECT s, L,
       |         ${xWord("0", 8)} AS w1, ${xWord("8", 8)} AS w2, ${xWord("16", 8)} AS w3,
       |         ${xWord("(L // 8) * 8", 4)} AS d4,
       |         bl[L - (L % 4) + 1] AS tb1, bl[L - (L % 4) + 2] AS tb2, bl[L] AS tb3
       |        FROM xck),
       |xsd AS (SELECT * FROM (VALUES $seeds) AS t(si, sd)),
       |xh0 AS (SELECT s, L, w1, w2, w3, d4, tb1, tb2, tb3, si,
       |         ${xUb(s"(${xHug("sd")} + $XxP5 + L) % $M64")} AS z FROM xwd, xsd),
       |xh1 AS (SELECT s, L, w2, w3, d4, tb1, tb2, tb3, si,
       |         CASE WHEN L >= 8 THEN ${xWordMix("z", "w1")} ELSE z END AS z FROM xh0),
       |xh2 AS (SELECT s, L, w3, d4, tb1, tb2, tb3, si,
       |         CASE WHEN L >= 16 THEN ${xWordMix("z", "w2")} ELSE z END AS z FROM xh1),
       |xh3 AS (SELECT s, L, d4, tb1, tb2, tb3, si,
       |         CASE WHEN L >= 24 THEN ${xWordMix("z", "w3")} ELSE z END AS z FROM xh2),
       |xh4 AS (SELECT s, L, tb1, tb2, tb3, si,
       |         CASE WHEN L % 8 >= 4 THEN ${xU32Mix("z", "d4")} ELSE z END AS z FROM xh3),
       |xt1 AS (SELECT s, L, tb2, tb3, si,
       |         CASE WHEN L % 4 >= 1 THEN ${xByteMix("z", "tb1")} ELSE z END AS z FROM xh4),
       |xt2 AS (SELECT s, L, tb3, si,
       |         CASE WHEN L % 4 >= 2 THEN ${xByteMix("z", "tb2")} ELSE z END AS z FROM xt1),
       |xt3 AS (SELECT s, si,
       |         CASE WHEN L % 4 >= 3 THEN ${xByteMix("z", "tb3")} ELSE z END AS z FROM xt2),
       |xf1 AS (SELECT s, si, xor(z, z >> 33) AS z FROM xt3),
       |xf2 AS (SELECT s, si, ${xMul("z", XxP2)} AS z FROM xf1),
       |xf3 AS (SELECT s, si, xor(z, z >> 29) AS z FROM xf2),
       |xf4 AS (SELECT s, si, ${xMul("z", XxP3)} AS z FROM xf3),
       |xf5 AS (SELECT s, si, xor(z, z >> 32) AS z FROM xf4),
       |hh AS (SELECT s, si,
       |        CAST(${xHug("z")} - CASE WHEN z >= 9223372036854775808
       |                                 THEN $M64 ELSE 0 END AS BIGINT) AS h FROM xf5)""".stripMargin
  }

  /** DuckDB replica of [[operators.Dedup.minhashLshPairs]] (n = 3,
    * numHashes = 32, bands = 8 × 4 rows): word-3-gram shingles →
    * 32-way signed-min signature (via [[xxh64HashCtes]]) → candidate
    * pairs sharing a band SLICE → signature-agreement estimate ≥
    * `thrMilli`. The engine keys candidates on xxhash64(band,
    * slice-string) BUCKETS; equal slices always give equal buckets,
    * and the converse fails only on a 2^-64 bucket collision between
    * distinct slices — which the estimate filter cannot mask (a
    * colliding pair with est ≥ thr would ADD an output row).
    * OpsSpec's bucket-vs-slice candidate-set equality pins the
    * absence of such collisions on the fixture corpora, including the
    * sf0.01 documents table the driver's oracle gate runs on. Emits
    * `mpairs(a, b, est_milli)`; `docsSrc` must expose (doc_id, text).
    */
  private def minhashPairCtes(docsSrc: String, thrMilli: Int): String = {
    val est = s"(1000 * len(list_filter(range(32), i -> la.sig[i+1] = lb.sig[i+1]))) // 32"
    s"""mtk AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |              string_split(coalesce(text, ''), ' ') AS tk
       |       FROM $docsSrc WHERE text IS NOT NULL),
       |msh AS (SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
       |                i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS s
       |        FROM mtk WHERE len(tk) >= 3),
       |${xxh64HashCtes("msh", 32)},
       |msig AS (SELECT d.doc_id, h.si, min(h.h) AS sv
       |         FROM (SELECT DISTINCT doc_id, s FROM msh) d JOIN hh h USING (s)
       |         GROUP BY d.doc_id, h.si),
       |marr AS (SELECT doc_id, list(sv ORDER BY si) AS sig FROM msig GROUP BY doc_id),
       |mband AS (SELECT doc_id, bb, sig[4*bb + 1] AS s1, sig[4*bb + 2] AS s2,
       |                sig[4*bb + 3] AS s3, sig[4*bb + 4] AS s4
       |          FROM marr, (SELECT unnest(range(8)) AS bb)),
       |mcand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |          FROM mband l JOIN mband r
       |            ON l.bb = r.bb AND l.s1 = r.s1 AND l.s2 = r.s2
       |           AND l.s3 = r.s3 AND l.s4 = r.s4 AND l.doc_id < r.doc_id),
       |mpairs AS (SELECT c.a, c.b, $est AS est_milli
       |           FROM mcand c JOIN marr la ON la.doc_id = c.a
       |                        JOIN marr lb ON lb.doc_id = c.b
       |           WHERE $est >= $thrMilli)""".stripMargin
  }

  /** DuckDB replica of [[operators.Dedup.simhash]]'s whole hash chain —
    * `mix64(MurmurHash3.stringHash(token, 42).toLong)` per
    * space-separated token, then the 64-bit ±1 bit-vote fingerprint.
    * stringHash's char-pair loop (UTF-16 code units, 2 per mix step,
    * odd tail through mixLast, length-xor'd avalanche) runs as a
    * `list_reduce` over the pair list with the seed prepended —
    * documents text is ASCII-only so `unicode(char)` = the UTF-16 unit.
    * `.toLong`'s sign extension is the `+ 0xFFFFFFFF00000000` branch;
    * the splitmix64 finalizer reuses the same 32-bit-half mod-2^64
    * staging as [[crownsSynthSql]]. Emits CTE `sig(doc_id, sh)` with
    * one UBIGINT fingerprint per document (empty/whitespace-only docs
    * fall back to signature 0 like the engine's all-zero vote array). */
  private def simhashSigCtes: String =
    s"""tk AS (
       |  SELECT doc_id, tok, count(*) AS n FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(coalesce(text, ''), ' '),
       |                                      t -> len(t) > 0)) AS tok
       |    FROM documents) GROUP BY doc_id, tok),
       |cs AS (SELECT tok, list_transform(string_split(tok, ''), c -> unicode(c)) AS c,
       |              len(tok) AS L FROM (SELECT DISTINCT tok FROM tk)),
       |prs AS (SELECT tok, L, c,
       |  list_transform(range(L // 2), p -> c[2*p + 1] * 65536 + c[2*p + 2]) AS pr FROM cs),
       |body AS (SELECT tok, L, c,
       |  list_reduce(list_prepend(CAST(42 AS BIGINT), pr),
       |              (h, k) -> ${murMix("h", "k")}) AS hb
       |  FROM prs),
       |tl AS (SELECT tok, L,
       |  CASE WHEN L % 2 = 1 THEN ${murMixLast("hb", "c[L]")} ELSE hb END AS ht FROM body),
       |av1 AS (SELECT tok, ${u32Mul("xor(xor(ht, L), xor(ht, L) // 65536)", 0x85ebca6bL)} AS h FROM tl),
       |av2 AS (SELECT tok, ${u32Mul("xor(h, h // 8192)", 0xc2b2ae35L)} AS h FROM av1),
       |se AS (SELECT tok, CAST(CASE WHEN xor(h, h // 65536) >= 2147483648
       |         THEN CAST(xor(h, h // 65536) AS HUGEINT) + 18446744069414584320
       |         ELSE CAST(xor(h, h // 65536) AS HUGEINT) END AS UBIGINT) AS z FROM av2),
       |sm0 AS (SELECT tok, CAST((CAST(z AS HUGEINT) + 11400714819323198485)
       |        % 18446744073709551616 AS UBIGINT) AS z FROM se),
       |sx1 AS (SELECT tok, xor(z, z >> 30) AS z FROM sm0),
       |sm1 AS (SELECT tok, ${mulMod64(484763065L, 3210233709L)} AS z FROM sx1),
       |sx2 AS (SELECT tok, xor(z, z >> 27) AS z FROM sm1),
       |sm2 AS (SELECT tok, ${mulMod64(321982955L, 2496678331L)} AS z FROM sx2),
       |th AS (SELECT tok, xor(z, z >> 31) AS h64 FROM sm2),
       |votes AS (
       |  SELECT t.doc_id, b.b,
       |         sum(CASE WHEN (h.h64 >> b.b) & 1 = 1 THEN t.n ELSE -t.n END) AS v
       |  FROM tk t JOIN th h USING (tok),
       |       (SELECT unnest(generate_series(0, 63)) AS b) b
       |  GROUP BY t.doc_id, b.b),
       |-- power(2.0, b) is exact for b <= 63 (powers of two are exact doubles)
       |sig0 AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN v > 0 THEN CAST(power(2.0, b) AS HUGEINT)
       |                       ELSE 0 END) AS UBIGINT) AS sh
       |  FROM votes GROUP BY doc_id),
       |sig AS (SELECT d.doc_id, coalesce(s.sh, CAST(0 AS UBIGINT)) AS sh
       |        FROM documents d LEFT JOIN sig0 s USING (doc_id))""".stripMargin

  /** DuckDB replica of [[operators.Similarity.kmeansWithCentroids]]:
    * `iters` UNROLLED Lloyd iterations (init = first k vectors by
    * vec_id, squared-L2 argmin with lowest-cluster tie-break, per-pos
    * mean update, empty clusters keeping their previous centroid) plus
    * the final post-loop assignment — emits CTE `af(vec_id, v, cl)`
    * and leaves the final centroids in CTE `c{iters}`. Float→double
    * widening is exact on both sides and the per-vector distance sums
    * run in the same ascending index order; the only FP divergence is
    * the centroid mean's summation order (≤ ~1e-13 relative), measured
    * ≥ 3.7e-6 away from flipping any argmin on the fixture embeddings
    * (min relative best-vs-second margin across iterations, k = 10 and
    * 16; the IVF probe's 6th-vs-7th cluster boundary margin measures
    * 4.3e-5 the same way) — four-plus orders of magnitude of slack, so
    * the integer outputs are stable, not coincidental. */
  private def kmeansSqlCtes(k: Int, iters: Int, dim: Int = 64): String = {
    val dist = s"list_sum(list_transform(range($dim), i -> " +
      "(v[i+1] - cent[i+1]) * (v[i+1] - cent[i+1])))"
    val init =
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cent
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (1 to iters).map { j =>
      s"""d$j AS (SELECT e.vec_id, e.v, c.cl, $dist AS d FROM e, c${j - 1} c),
         |a$j AS (SELECT vec_id, v, cl FROM (SELECT *, row_number() OVER
         |          (PARTITION BY vec_id ORDER BY d, cl) AS rn FROM d$j) WHERE rn = 1),
         |u$j AS (SELECT cl, pos, avg(v[pos + 1]) AS m
         |        FROM a$j, (SELECT unnest(range($dim)) AS pos) GROUP BY cl, pos),
         |n$j AS (SELECT cl, list(m ORDER BY pos) AS cent FROM u$j GROUP BY cl),
         |c$j AS (SELECT p.cl, coalesce(n.cent, p.cent) AS cent
         |        FROM c${j - 1} p LEFT JOIN n$j n ON p.cl = n.cl)""".stripMargin
    }
    val fin =
      s"""df AS (SELECT e.vec_id, e.v, c.cl, $dist AS d FROM e, c$iters c),
         |af AS (SELECT vec_id, v, cl FROM (SELECT *, row_number() OVER
         |        (PARTITION BY vec_id ORDER BY d, cl) AS rn FROM df) WHERE rn = 1)""".stripMargin
    (init +: steps :+ fin).mkString(",\n")
  }

  /** DuckDB replica of the crown-synthesis chain (CrownOps.mix64 /
    * synthPoly / synthClass / synthScore / capPerTile inputs): the
    * splitmix64 hash runs in exact mod-2^64 UBIGINT/HUGEINT
    * arithmetic (verified bit-identical to the JVM for the whole id
    * range), polygon vertices come from the same closed-form
    * `x + r_k·cos/sin(phase + 2πk/nv)` per vertex k, and the bbox is
    * the min/max over vertices. Identity, class and score columns
    * reproduce BIT-exactly (pure integer/IEEE arithmetic); only the
    * bbox depends on libm cos/sin, which differ from the JVM's fdlibm
    * by ≤1 ulp on ~0.01% of angles — which is why the oracle-compared
    * bbox columns are micro-rounded (`floor(v·1e6 + 0.5)`) on BOTH
    * sides (verified collision-free over all 4×132,361 values at the
    * driver's sf0.01 gate scale). Emits one row per surviving
    * (page × tile) crown with the same edge-rejection filter. */
  private def crownsSynthSql(regionFilter: String = "") =
    s"""$pagesCte,
       |tiles AS (SELECT t AS tile_id, CAST((t % 3) * 512 AS DOUBLE) AS tmin_x,
       |                 CAST((t // 3) * 512 AS DOUBLE) AS tmin_y
       |          FROM (SELECT unnest(generate_series(0, 8)) AS t)),
       |asg AS (SELECT i, i // 6000 AS region, tile_id, x, y, tmin_x, tmin_y
       |        FROM pages JOIN tiles ON x >= tmin_x AND x < tmin_x + 1024
       |                             AND y >= tmin_y AND y < tmin_y + 1024
       |        $regionFilter),
       |s0 AS (SELECT i, x, y, CAST((CAST(i AS HUGEINT) + 11400714819323198485)
       |                            % 18446744073709551616 AS UBIGINT) AS z FROM pages),
       |x1 AS (SELECT i, x, y, xor(z, z >> 30) AS z FROM s0),
       |m1 AS (SELECT i, x, y, ${mulMod64(484763065L, 3210233709L)} AS z FROM x1),
       |x2 AS (SELECT i, x, y, xor(z, z >> 27) AS z FROM m1),
       |m2 AS (SELECT i, x, y, ${mulMod64(321982955L, 2496678331L)} AS z FROM x2),
       |hsh AS (SELECT i, x, y, xor(z, z >> 31) AS h FROM m2),
       |attrs AS (SELECT i, x, y, h,
       |  CAST(3 + ((h % 5) + 5 - CASE WHEN h >= 9223372036854775808
       |                               THEN 1 ELSE 0 END) % 5 AS INT) AS nv,
       |  CAST(8 + (h >> 8) % 24 AS DOUBLE) AS r,
       |  CAST((h >> 16) % 360 AS DOUBLE) * pi() / 180.0 AS phase,
       |  0.05 + 0.9 * (CAST((h >> 24) % 100000 AS DOUBLE) / 100000.0) AS s,
       |  CAST((h >> 40) % 2 AS INT) AS class_idx
       |  FROM hsh),
       |verts AS (SELECT i,
       |    x + r * (0.75 + 0.25 * (CAST((h >> (4 * k + 3)) % 16 AS DOUBLE) / 15.0))
       |      * cos(phase + 2 * pi() * k / nv) AS vx,
       |    y + r * (0.75 + 0.25 * (CAST((h >> (4 * k + 3)) % 16 AS DOUBLE) / 15.0))
       |      * sin(phase + 2 * pi() * k / nv) AS vy
       |  FROM attrs, LATERAL (SELECT unnest(generate_series(0, nv - 1)) AS k) ks),
       |bbox AS (SELECT i, min(vx) AS bminx, max(vx) AS bmaxx,
       |                 min(vy) AS bminy, max(vy) AS bmaxy
       |         FROM verts GROUP BY i),
       |crowns AS (
       |  SELECT asg.region, asg.i * 9 + asg.tile_id AS crown_id, asg.i AS page_id,
       |         asg.tile_id, a.class_idx,
       |         a.s + asg.tile_id * 1e-7 AS score,
       |         b.bminx AS min_x, b.bminy AS min_y, b.bmaxx AS max_x, b.bmaxy AS max_y
       |  FROM asg JOIN attrs a ON asg.i = a.i JOIN bbox b ON asg.i = b.i
       |  /* edge filter compares UNROUNDED trig-dependent bboxes against
       |     5/1019: accepted residual risk — a libm change could flip a
       |     row only if its bbox sits within ~1e-13 of the threshold
       |     (none does at the sf0.01 gate; environment's DuckDB pinned) */
       |  WHERE NOT (a.class_idx = 1 AND (
       |    b.bminx - asg.tmin_x < 5.0 OR b.bminy - asg.tmin_y < 5.0 OR
       |    b.bmaxx - asg.tmin_x > 1019.0 OR b.bmaxy - asg.tmin_y > 1019.0)))""".stripMargin

  /** Flagship: the `crowns_merged` query on sf0.001 — pages → geocode →
    * tile assign → crown synthesis (with edge rejection) → per-region
    * NMS → dissolve/split merge. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("crowns_merged")(spark, "sf0.001")

  /** The 40 deterministic PIP triangles (region-local coords, vertices
    * at .5 offsets so integer page coords never sit on an edge). */
  private def triangles(spark: SparkSession): DataFrame = {
    spark.range(40).toDF("tri_id")
      .withColumn("cx", (lit(100) + (col("tri_id") * 97) % 1848).cast("double"))
      .withColumn("cy", (lit(100) + (col("tri_id") * 53) % 1848).cast("double"))
      .withColumn("poly", array(
        col("cx"), col("cy") - 40.5,
        col("cx") - 45.5, col("cy") + 35.5,
        col("cx") + 50.5, col("cy") + 30.5))
      .withColumn("poly_min_x", col("cx") - 45.5)
      .withColumn("poly_max_x", col("cx") + 50.5)
      .withColumn("poly_min_y", col("cy") - 40.5)
      .withColumn("poly_max_y", col("cy") + 35.5)
      .select("tri_id", "poly", "poly_min_x", "poly_max_x", "poly_min_y", "poly_max_y")
  }

  /** Region-0 crowns at the dir's scale — bounded input for the raster
    * queries (one reference image worth). */
  private def region0Crowns(s: SparkSession, dir: String) = {
    val pages = GeoOps.withRegion(PagesGen.pagesFor(s, dir)).filter(col("region") === 0)
    CrownOps.synthesize(s, GeoOps.assignTiles(pages), GeoOps.TileGrid.Default)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational shells (A5-style aggregates, J-equi joins, W windows)
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          // quantities are whole-valued; integer sums keep the oracle
          // hash FP-order-independent (driver hashes typed values)
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"))
    }),
    "q_join_revenue" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders"))
      val customer = s.read.parquet(t(dir, "customer"))
      val nation = s.read.parquet(t(dir, "nation"))
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    }),
    "q_window_events" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      s.read.parquet(t(dir, "events"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("user_id"), col("rnk"), col("event_id"), col("value"))
    }),

    // --- exact percentile aggregate (W5)
    // sort-based exact percentiles (operators.Quantiles): bit-matches
    // the built-in `percentile`/DuckDB quantile_cont interpolation but
    // runs as one Tungsten window sort instead of buffering every
    // value in an aggregation map (~4× faster at sf0.1, and the shape
    // that survives high group cardinality)
    "q_percentile" -> ((s, dir) => {
      operators.Quantiles.exactPercentiles(
          s.read.parquet(t(dir, "lineitem")),
          "l_returnflag", round(col("l_extendedprice") * 100), Seq(0.5, 0.9))
        .select(col("l_returnflag"),
          floor(col("q0")).cast("long").as("median_cents"),
          floor(col("q1")).cast("long").as("p90_cents"))
    }),

    // --- overlapping bbox pair join (J2): deterministic per-page boxes
    // (pure i/x/y arithmetic → the same boxes are reconstructible in
    // the DuckDB oracle as a brute-force join; the crowns-path J2
    // parity vs brute force is covered in PlanSpec)
    "geo_bbox_pairs" -> ((s, dir) => {
      val boxes = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
        .select(col("region"), col("i").as("id"),
          (col("x") - (lit(4) + col("i") % 29)).as("min_x"),
          (col("y") - (lit(4) + col("i") % 23)).as("min_y"),
          (col("x") + (lit(4) + (col("i") * 7) % 29)).as("max_x"),
          (col("y") + (lit(4) + (col("i") * 7) % 23)).as("max_y"))
      GeoOps.overlappingPairs(boxes)
    }),

    // --- pages generator + per-row text invariant (input_hint contract)
    "pages_invariant" -> ((s, dir) => {
      PagesGen.pagesFor(s, dir)
        .select(col("i"), col("url"), col("lang"), col("text"),
          unix_timestamp(col("warc_ts")).as("warc_epoch"))
    }),

    // --- text extraction from the html BINARY column: the per-row
    // invariant ("byte-identical extracted text per url") exercised
    // through the binary payload itself, not just the text column.
    "pages_extract" -> ((s, dir) => {
      PagesGen.pagesFor(s, dir)
        .select(col("i"), col("url"),
          decode(col("html"), "utf-8").as("extracted"),
          (decode(col("html"), "utf-8") === col("text")).as("matches_text"))
    }),

    // --- geocode + cell index (P-family + CellEncode): per-cell page
    // counts at level 8 (8-px cells). The Spark side goes through the
    // Morton cell_encode expression and decodes (ix, iy) back out, so
    // the oracle cross-checks the codegen'd encode path end-to-end.
    "geo_cell_agg" -> ((s, dir) => {
      val pages = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
      pages
        .withColumn("cell", cell_encode(col("x"), col("y"), 8, 2048.0, 2048.0))
        .groupBy(col("region"),
          cell_ix(col("cell")).as("ix"), cell_iy(col("cell")).as("iy"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- salted two-phase aggregation over hot cells (skew handling):
    // must equal the plain per-cell counts — oracle-checked.
    "geo_cell_salted" -> ((s, dir) => {
      val pages = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
      GeoOps.saltedCellCounts(pages, level = 8, salt = 16)
        .select(cell_ix(col("cell")).as("ix"), cell_iy(col("cell")).as("iy"), col("cnt"))
    }),

    // --- tile assignment (T1/T5: the spatial join as arithmetic)
    "geo_tile_assign" -> ((s, dir) => {
      GeoOps.assignTiles(PagesGen.pagesFor(s, dir))
        .select(col("i"), col("region"), col("tile_id"))
    }),

    // --- point-in-polygon join (J3/J6)
    "geo_pip" -> ((s, dir) => {
      val pts = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
        .select(col("i"), col("region"), col("x"), col("y"))
      GeoOps.pipJoin(pts, triangles(s)).select(col("i"), col("region"), col("tri_id"))
    }),

    // --- exact kNN baseline (J8/W3)
    "geo_knn" -> ((s, dir) => {
      val pages = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
        .filter(col("region") === 0).select(col("i"), col("x"), col("y"))
      GeoOps.knnExact(pages, pages.filter(col("i") < 100), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // --- training-data ops over documents
    "dedup_exact" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))
    }),

    // --- STREAMING exact dedup under the oracle gate (ST2): the
    // documents table replayed as a 3-micro-batch MemoryStream through
    // flatMapGroupsWithState (first-seen-wins keyed state). Batches
    // are doc_id-ordered slices, so first-seen == min(doc_id) per
    // hash — which DuckDB recomputes as a plain GROUP BY, making the
    // streaming state machine itself oracle-checked.
    "stream_dedup" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val sink = s"stream_dedup_sink_${System.nanoTime}" // unique per invocation
      // checkpoint on tmpfs (same scratch policy as the round-trip
      // queries): without the option Spark places the offset/commit
      // log + state store under java.io.tmpdir — real disk writes
      // and fsyncs per micro-batch that are pure overhead for this
      // in-session query (guide §6 I/O placement; no result change).
      // An EXPLICIT location disables Spark's delete-on-stop, so the
      // dir is removed in the finally below — RAM-backed leftovers
      // must not outlive the invocation.
      val ckpt = scratchDir("ckpt_q")
      val q = streaming.StreamingIngest.streamingDedup(mem.toDF.toDF("doc_id", "text"))
        .toDF("h", "keeper")
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        // ceiling division: floor would spill a 4th one-row batch
        // whenever the count isn't divisible by 3
        docs.grouped(math.max(1, (docs.length + 2) / 3)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
      } finally {
        // stop() may itself throw (stopTimeout, failed query) — the
        // RAM-backed checkpoint must be deleted regardless, without
        // masking the original exception
        try q.stop()
        finally scala.util.Try {
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally walk.close()
        }
      }
      // materialize, then DROP the memory sink — it retains every
      // output row in driver memory for the session's lifetime
      val rows = s.table(sink).as[(String, Long)].collect().toSeq
      s.catalog.dropTempView(sink)
      s.createDataset(rows).toDF("h", "keeper")
    }),
    "text_stats" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          length(col("text")).cast("long").as("len"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
    }),

    // --- dedup suite over documents (SURVEY/training-data ops)
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(t(dir, "documents")),
        n = 3, thrMilli = 100)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(s.read.parquet(t(dir, "documents")),
        n = 3, numHashes = 32, bands = 8, thrMilli = 100)),
    // maxHamming = 3 → 4 × 16-bit pigeonhole chunks: candidate join
    // bounded at ~4n²/2¹⁶ (maxHamming = 8 gave 7-bit chunks → quadratic
    // candidates at corpus scale, so simhashPairs rejects it)
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(s.read.parquet(t(dir, "documents")), maxHamming = 3)),
    "dedup_cosine_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(s.read.parquet(t(dir, "embeddings")), thrMicro = 350000L)),

    // --- similarity search over embeddings
    "sim_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(s.read.parquet(t(dir, "embeddings")), nQueries = 20, k = 10)),
    "sim_cosine_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(t(dir, "embeddings")),
        nQueries = 20, topK = 10, k = 16, nProbe = 6)),
    "sim_kmeans" -> ((s, dir) =>
      Similarity.kmeansAssign(s.read.parquet(t(dir, "embeddings")), k = 10)
        .groupBy(col("cluster")).agg(count(lit(1)).as("cnt"))),
    "sim_cosine_topk_lsh" -> ((s, dir) =>
      Similarity.cosineTopKLsh(s.read.parquet(t(dir, "embeddings")), nQueries = 20, k = 10, nPlanes = 48, bandBits = 4)),

    // --- text analysis
    "text_quality" -> ((s, dir) => TextOps.qualityStats(s.read.parquet(t(dir, "documents")))),
    "text_token_bpe" -> ((s, dir) => TextOps.tokenCount(s.read.parquet(t(dir, "documents")))),
    "text_langid" -> ((s, dir) =>
      TextOps.langId(s.read.parquet(t(dir, "documents")))
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("cnt"))),
    "text_fingerprint" -> ((s, dir) => TextOps.fingerprint(s.read.parquet(t(dir, "documents")))),

    // --- composed corpus cleaner (quality → langid → dedup → near-dup)
    "corpus_clean" -> ((s, dir) =>
      operators.TrainingPipeline.cleanCorpus(
        s.read.parquet(t(dir, "documents")), minTokens = 5, nearDupThrMilli = 800)
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"))),

    // --- the cleaner's pre-LSH stages (annotate + exact dedup): plain
    // SQL end to end, so the composed pipeline gets a hard oracle up to
    // the LSH step (the LSH tail is recall-tested vs brute force)
    "corpus_keepers" -> ((s, dir) =>
      operators.TrainingPipeline.exactDeduped(
        operators.TrainingPipeline.annotate(s.read.parquet(t(dir, "documents")), minTokens = 5))
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("n_uniq_tokens"))),

    // --- multimodal feature/resize/frames over REAL mixed payloads
    // (MediaGen PNG/WAV/JPEG rows exercise the JDK codec hot path;
    // the html-text rows keep the stub fallback branch covered)
    "mm_features" -> ((s, dir) =>
      Multimodal.processMedia(s, graft.tables.MediaGen.mixed(s, 2000),
          idCol = "id", payloadCol = "payload").toDF()
        .select(col("id"), col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.format").as("format"), element_at(col("features"), 1).as("byte_len"))),
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeMedia(s, graft.tables.MediaGen.mixed(s, 2000), outW = 16, outH = 16,
          idCol = "id", payloadCol = "payload")
        .select(col("id"), xxhash64(col("resized")).as("resized_hash"),
          length(col("resized")).cast("long").as("n_bytes"))),
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s, graft.tables.MediaGen.mixed(s, 2000), frames = 4,
          idCol = "id", payloadCol = "payload")
        .select(col("id"), col("frame"), element_at(col("features"), 1).as("frame_len"))),

    // --- REAL multimodal decode (JDK codecs, zero external deps):
    // payloads are deterministic PNGs/WAVs synthesized in-memory
    // (MediaGen), decoded back with javax.imageio / javax.sound; the
    // oracle recomputes the closed-form channel/sample sums in pure
    // SQL, so the hash compare proves the full encode→decode round
    // trip — not just plumbing
    "mm_decode_png" -> ((s, dir) =>
      Multimodal.decodeImageSums(s, graft.tables.MediaGen.images(s, 2000))),
    "mm_decode_wav" -> ((s, dir) =>
      Multimodal.decodeWavSums(s, graft.tables.MediaGen.wavs(s, 2000))),
    // lossy codec branch: JPEG decode is deterministic given the
    // container JDK, so the channel sums pin to a committed hash
    // (QueryGoldenSpec) rather than a closed-form oracle
    "mm_decode_jpeg" -> ((s, dir) =>
      Multimodal.decodeImageSums(s, graft.tables.MediaGen.jpegs(s, 2000),
        payloadCol = "jpeg")),
    // real resize: decode → integer luma plane → the engine's own
    // bilinear kernel (deterministic; pinned by QueryGoldenSpec)
    "mm_resize_png" -> ((s, dir) =>
      Multimodal.resizeMedia(s, graft.tables.MediaGen.images(s, 2000),
          outW = 16, outH = 12, idCol = "id", payloadCol = "png")
        .select(col("id"), xxhash64(col("resized")).as("resized_hash"),
          length(col("resized")).cast("long").as("n_bytes"))),

    // --- lat/lon presentation formatting (F2, util.py:462-473):
    // pseudo lat/lon derived mod a prime (1999) so no value ever lands
    // on an exact .0005 rounding tie (Java HALF_UP vs C half-even
    // would diverge there; non-ties agree)
    "geo_latlon_fmt" -> ((s, dir) => {
      val lat = (col("i") % 1999) / 1999.0 * 180.0 - 90.0
      val lon = (col("i") * 37 % 1999) / 1999.0 * 360.0 - 180.0
      PagesGen.pagesFor(s, dir)
        .select(col("i"), format_lat(lat).as("lat_str"), format_lon(lon).as("lon_str"))
    }),

    // --- grid kNN (the 100-TB candidate-pruned path): the two-phase
    // adaptive-ring variant is provably exact, so it gets an oracle.
    "geo_knn_grid" -> ((s, dir) => {
      val pages = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
        .filter(col("region") === 0).select(col("i"), col("x"), col("y"))
      GeoOps.knnGridExact(pages, k = 5).withColumn("rank", col("rank").cast("long"))
    }),

    // --- per-tile detection cap (W4)
    "crowns_capped" -> ((s, dir) => {
      // sum_kept_ids / min_score_nano make the check order-SENSITIVE: a
      // divergence in capPerTile's (score DESC, crownId) window order
      // changes WHICH rows survive the cut and flips these aggregates,
      // whereas n_kept = min(256, group size) alone would still pass
      CrownOps.capPerTile(region0Crowns(s, dir), cap = 256).toDF()
        .groupBy(col("region"), col("tileId").as("tile_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("crownId")).as("sum_kept_ids"),
          min(floor(col("score") * lit(1e9) + lit(0.5)).cast("long")).as("min_score_nano"))
    }),

    // --- semantic raster path (rows-only: raster kernels)
    "raster_coverage" -> ((s, dir) => {
      val crowns = region0Crowns(s, dir)
      val tiles = RasterOps.confidenceTiles(s, crowns, GeoOps.TileGrid.Default)
      RasterOps.coverage(s, RasterOps.mosaic(s, tiles, GeoOps.TileGrid.Default), thr255 = 76)
    }),
    "raster_vectorize" -> ((s, dir) => {
      val crowns = region0Crowns(s, dir)
      val tiles = RasterOps.confidenceTiles(s, crowns, GeoOps.TileGrid.Default)
      RasterOps.vectorizeMosaic(s, RasterOps.mosaic(s, tiles, GeoOps.TileGrid.Default), thr255 = 76)
        .select(col("region"), col("cache_tile"), col("class_idx"),
          floor(col("area")).cast("long").as("area_floor"))
    }),
    // --- per-instance masked crop sink (S12, tcd-extract analogue):
    // bbox-window crop of the class-confidence mosaic with pixels
    // outside the crown polygon zeroed; hash stands in for the bytes
    "crowns_extract" -> ((s, dir) => {
      // kept feeds BOTH the mosaic and the crop join — without the
      // eager localCheckpoint the synthesize+NMS subtree runs twice
      // (Spark plans share no work across Dataset branches); blocks
      // are computed fresh per invocation and freed by the
      // ContextCleaner (the TrainingPipeline pattern)
      val kept = CrownOps.nms(s, region0Crowns(s, dir), iouThr = 0.7)
        .localCheckpoint()
      val tiles = RasterOps.mosaic(s,
        RasterOps.confidenceTiles(s, kept, GeoOps.TileGrid.Default), GeoOps.TileGrid.Default)
      RasterOps.extractCrops(s, kept, tiles, GeoOps.TileGrid.Default).toDF()
        .select(col("region"), col("crownId").as("crown_id"),
          col("classIdx").as("class_idx"), col("rows"), col("cols"),
          xxhash64(col("crop")).as("crop_hash"))
    }),
    "raster_metrics" -> ((s, dir) => {
      // `all` feeds the truth mosaic AND (through NMS) the pred
      // mosaic — checkpoint so crown synthesis runs once per
      // invocation (see crowns_extract)
      val all = region0Crowns(s, dir).localCheckpoint()
      val kept = CrownOps.nms(s, all, iouThr = 0.7)
      val pred = RasterOps.mosaic(s,
        RasterOps.confidenceTiles(s, kept, GeoOps.TileGrid.Default), GeoOps.TileGrid.Default)
      val truth = RasterOps.mosaic(s,
        RasterOps.confidenceTiles(s, all, GeoOps.TileGrid.Default), GeoOps.TileGrid.Default)
      RasterOps.confusionMetrics(s, pred, truth, thr255 = 76)
    }),

    // --- geometry pipeline (rows-only checks: not SQL-expressible)
    // Oracle-checked end to end (X1/S3): identity/class/score columns
    // reproduce BIT-exactly in DuckDB (splitmix64 in mod-2^64 SQL
    // arithmetic + pure IEEE score chain); the bbox columns are
    // micro-rounded on both sides because libm cos/sin differ from the
    // JVM's by ≤1 ulp on ~0.01% of angles (see crownsSynthSql).
    "crowns_synth" -> ((s, dir) => {
      val assigned = GeoOps.assignTiles(PagesGen.pagesFor(s, dir))
      CrownOps.synthesize(s, assigned, GeoOps.TileGrid.Default).toDF()
        .select(col("region"), col("crownId").as("crown_id"),
          col("pageId").as("page_id"), col("tileId").as("tile_id"),
          col("classIdx").as("class_idx"),
          floor(col("score") * 1e9 + 0.5).as("score_nano"),
          floor(col("minX") * 1e6 + 0.5).as("min_x_micro"),
          floor(col("minY") * 1e6 + 0.5).as("min_y_micro"),
          floor(col("maxX") * 1e6 + 0.5).as("max_x_micro"),
          floor(col("maxY") * 1e6 + 0.5).as("max_y_micro"))
    }),
    "crowns_merged" -> ((s, dir) => {
      val assigned = GeoOps.assignTiles(PagesGen.pagesFor(s, dir))
      val crowns = CrownOps.synthesize(s, assigned, GeoOps.TileGrid.Default)
      // emitGeom = false: this query reads counts/bboxes/area only, so
      // the dissolved-ring border trace (the dominant per-instance
      // cost) is skipped; fixture serialization keeps it on
      CrownOps.nmsMerge(s, crowns, nmsIou = 0.7, confThr = 0.3, mergeIou = 0.5,
          emitGeom = false).toDF()
        .select(col("region"), col("classIdx").as("class_idx"), col("score"),
          col("minX").as("min_x"), col("minY").as("min_y"),
          col("maxX").as("max_x"), col("maxY").as("max_y"), col("area"),
          size(col("memberIds")).as("n_members"))
    }),

    // --- crown-area histogram report aggregate (report.py:118-129):
    // matplotlib hist semantics (75 bins over [0.5 m², q90], range-
    // excluded tails, right-inclusive last bin) with a full DuckDB
    // oracle — areas in closed-form integer micro-m² so both engines
    // bin bit-identical values, q90 via interpolated percentile
    // (already proven bit-matching by q_percentile)
    "crown_area_hist" -> ((s, dir) => {
      val areas = GeoOps.withRegion(PagesGen.pagesFor(s, dir))
        .select(col("region"), (col("i") % 2).cast("long").as("class_idx"),
          (lit(500000L) + (col("i") * 2654435761L) % 100000000L).as("area_micro"))
      CrownOps.areaHistogram(areas)
    }),

    // --- GeoTIFF mosaic sink round trip (S7/S10): mosaic → one tiled
    // deflate GeoTIFF per ConfTile (Hadoop FS, foreachPartition) →
    // distributed binaryFile re-scan + parse. Output hash pins the
    // whole encode→decode loop (pinned via QueryGoldenSpec; no SQL
    // analogue of a TIFF codec).
    "raster_geotiff_rt" -> ((s, dir) => {
      import s.implicits._
      val spec = GeoOps.TileGrid.Default
      val crowns = CrownOps.synthesize(s, GeoOps.assignTiles(PagesGen.pagesFor(s, dir)), spec)
      val tiles = RasterOps.mosaic(s, RasterOps.confidenceTiles(s, crowns, spec), spec)
      val out = scratchDir("gtiff_q")
      graft.tables.GeoTiffIO.writeTable(tiles, out, deflate = true)
      graft.tables.GeoTiffIO.readTable(s, out)
        .map { t =>
          var s0 = 0L; var i = 0
          while (i < t.data.length) { s0 += (t.data(i) & 0xff); i += 1 }
          (t.region, t.classIdx, t.tileId, t.minX, t.minY, t.rows, t.cols, s0)
        }
        .toDF("region", "class_idx", "tile_id", "min_x", "min_y", "rows", "cols", "px_sum")
    }),

    // --- distributed raster warp (P8, util.py reproject_image): the
    // confidence mosaic warped by a world-coordinate affine (rotation
    // about the extent center — the affine shape of
    // calculate_default_transform), nearest resampling, nodata 0.
    // Deterministic → pinned hash.
    "raster_warp" -> ((s, dir) => {
      import s.implicits._
      val spec = GeoOps.TileGrid.Default
      val crowns = CrownOps.synthesize(s, GeoOps.assignTiles(PagesGen.pagesFor(s, dir)), spec)
      val tiles = RasterOps.mosaic(s, RasterOps.confidenceTiles(s, crowns, spec), spec)
      val (cx, cy) = (spec.width / 2.0, spec.height / 2.0)
      RasterOps.warpTiles(s, tiles, -1, 0, 2 * cx, 0, -1, 2 * cy)
        .map { t =>
          var s0 = 0L; var i = 0
          while (i < t.data.length) { s0 += (t.data(i) & 0xff); i += 1 }
          (t.region, t.classIdx, t.tileId, t.minX, t.minY, s0)
        }
        .toDF("region", "class_idx", "tile_id", "min_x", "min_y", "px_sum")
    }),

    // --- shapefile trio round trip (S5): top merged crowns → full
    // .shp/.shx/.dbf export with the reference merge.py property
    // schema → distributed re-scan surfacing the dbf attributes
    // (pinned; dbf cells are fixed-format strings).
    "shp_attrs_rt" -> ((s, dir) => {
      val spec = GeoOps.TileGrid.Default
      val crowns = CrownOps.synthesize(s, GeoOps.assignTiles(PagesGen.pagesFor(s, dir)), spec)
      // Top-k is selected on the CLUSTER (TakeOrderedAndProject — no full
      // driver collect); only the 500 exported records reach the driver,
      // where the single-file .shp write legitimately happens. The local
      // re-sort of 500 rows pins the exact record order regardless of
      // executor tie-breaking.
      val merged = CrownOps.nmsMerge(s, crowns, nmsIou = 0.7, confThr = 0.3,
          mergeIou = 0.5, emitGeom = true)
        .orderBy(desc("score"), asc("region"), asc("classIdx"),
          asc("minX"), asc("minY"))
        .limit(500)
        .collect()
        .sortBy(m => (-m.score, m.region, m.classIdx, m.minX, m.minY))
        .toSeq
      val out = scratchDir("shp_q")
      graft.tables.ShapefileIO.writeMergedCrowns(s"$out/merged.shp", merged)
      graft.tables.ShapefileIO.readTable(s, out)
        .select(col("record_num"), element_at(col("props"), "id").as("prop_id"),
          element_at(col("props"), "class").as("prop_class"),
          element_at(col("props"), "area").as("prop_area"),
          element_at(col("props"), "score").as("prop_score"),
          size(col("rings")).cast("long").as("n_rings"))
    }),

    // --- st_union_agg under the driver's oracle gate (X3): per-group
    // exact union AREA of closed-form integer axis-aligned boxes. The
    // overlay runs on integer vertices, so the signed-area sum (outer
    // rings +, hole rings −) is an exact integer that DuckDB recomputes
    // independently by counting distinct covered unit cells.
    "geo_union_area" -> ((s, dir) => {
      GraftExtensions.register(s)
      // EXPLICIT co-partitioning on the group key: the shuffled union
      // buffers are small in BYTES but the per-group overlay is
      // CPU-heavy, so AQE's size-based coalescing would squeeze the
      // reduce into 1-2 partitions and serialize the math (measured
      // 2.1× slower). A user-specified repartition is exempt from
      // coalescing; the group-by then reuses the partitioning (still
      // exactly one exchange — plan-asserted).
      PagesGen.pagesFor(s, dir)
        .select((col("i") % 500).as("g"),
          ((col("i") * 37) % 24).cast("double").as("x0"),
          ((col("i") * 91) % 24).cast("double").as("y0"),
          (lit(2) + col("i") % 7).cast("double").as("w"),
          (lit(2) + (col("i") * 3) % 5).cast("double").as("h"))
        .selectExpr("g", "array(x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h) AS poly")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("g"))
        .groupBy(col("g"))
        .agg(graft.functions.UnionAggApi.st_union_agg(col("poly")).as("u"))
        .selectExpr("g",
          "CAST(round(aggregate(transform(u, r -> st_signed_area(r)), 0D, (a, x) -> a + x)) AS BIGINT) AS union_area")
    }),
  )

  /** DuckDB replica of [[operators.TextOps.langId]], generated from the
    * same Profiles map so the two can never drift: (score-column SQL
    * over a `_tk` token-list column, argmax CASE with alphabetical tie
    * break — the CASE cascade in sorted-language order reproduces the
    * Spark struct sort's prio tiebreak). Java `[\s\p{Punct}]` and RE2
    * `[[:space:][:punct:]]` denote the same ASCII sets. */
  private def langIdDuck: (String, String) = {
    val langs = operators.TextOps.Profiles.toSeq.sortBy(_._1)
    val scoreCols = langs.map { case (l, ws) =>
      s"len(list_filter(_tk, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS _$l"
    }.mkString(", ")
    val g = langs.map("_" + _._1).mkString("greatest(", ", ", ")")
    val cases = langs.map { case (l, _) => s"WHEN _$l = $g THEN '$l'" }.mkString(" ")
    (scoreCols, s"CASE WHEN $g <= 0 THEN 'und' $cases END")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    // NOTE: DuckDB sum(BIGINT) is HUGEINT (int128) — the driver hashes
    // typed values, so every sum gets an outer CAST(... AS BIGINT).
    "crowns_synth" ->
      s"""${crownsSynthSql()}
         |SELECT region, crown_id, page_id, tile_id, class_idx,
         |  CAST(floor(score * 1e9 + 0.5) AS BIGINT) AS score_nano,
         |  CAST(floor(min_x * 1e6 + 0.5) AS BIGINT) AS min_x_micro,
         |  CAST(floor(min_y * 1e6 + 0.5) AS BIGINT) AS min_y_micro,
         |  CAST(floor(max_x * 1e6 + 0.5) AS BIGINT) AS max_x_micro,
         |  CAST(floor(max_y * 1e6 + 0.5) AS BIGINT) AS max_y_micro
         |FROM crowns""".stripMargin,
    // the W4 cap: scores are bit-identical between engine and replica
    // (no trig in the chain), so the (score DESC, crown_id) window
    // order matches; sum_kept_ids + min_score_nano verify the kept SET
    // itself (order-sensitive at the rn=256 cut), not just group counts
    "crowns_capped" ->
      s"""${crownsSynthSql("WHERE i < 6000")}
         |SELECT region, tile_id, count(*) AS n_kept,
         |  CAST(sum(crown_id) AS BIGINT) AS sum_kept_ids,
         |  min(CAST(floor(score * 1e9 + 0.5) AS BIGINT)) AS min_score_nano
         |FROM (
         |  SELECT region, tile_id, crown_id, score,
         |    row_number() OVER (PARTITION BY region, tile_id
         |      ORDER BY score DESC, crown_id) AS rn
         |  FROM crowns)
         |WHERE rn <= 256 GROUP BY region, tile_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_join_revenue" ->
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin,
    "q_window_events" ->
      """SELECT user_id, rnk, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        |  FROM events) WHERE rnk <= 3""".stripMargin,
    "pages_invariant" ->
      s"""$pagesCte
         |SELECT i, url, lang, text, CAST(epoch(warc_ts) AS BIGINT) AS warc_epoch
         |FROM pages""".stripMargin,
    "pages_extract" ->
      s"""$pagesCte
         |SELECT i, url, text AS extracted, true AS matches_text FROM pages""".stripMargin,
    "geo_cell_agg" ->
      s"""$pagesCte
         |SELECT i // 6000 AS region,
         |  CAST(floor(x / 8) AS BIGINT) AS ix, CAST(floor(y / 8) AS BIGINT) AS iy,
         |  count(*) AS cnt
         |FROM pages GROUP BY 1, 2, 3""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  CAST(floor(quantile_cont(round(l_extendedprice * 100), 0.5)) AS BIGINT) AS median_cents,
        |  CAST(floor(quantile_cont(round(l_extendedprice * 100), 0.9)) AS BIGINT) AS p90_cents
        |FROM lineitem GROUP BY 1""".stripMargin,
    "crown_area_hist" ->
      s"""$pagesCte,
         |areas AS (
         |  SELECT i // 6000 AS region, i % 2 AS class_idx,
         |    500000 + (i * 2654435761) % 100000000 AS area_micro
         |  FROM pages),
         |hi AS (
         |  SELECT region, class_idx, quantile_cont(area_micro, 0.9) AS hi
         |  FROM areas GROUP BY 1, 2)
         |SELECT a.region, a.class_idx,
         |  CAST(CASE WHEN h.hi > 500000.0
         |    THEN least(floor((a.area_micro - 500000) * 75.0 / (h.hi - 500000.0)), 74.0)
         |    ELSE 0.0 END AS BIGINT) AS bin,
         |  count(*) AS cnt
         |FROM areas a JOIN hi h USING (region, class_idx)
         |WHERE a.area_micro >= 500000 AND a.area_micro <= h.hi
         |GROUP BY 1, 2, 3""".stripMargin,
    "geo_cell_salted" ->
      s"""$pagesCte
         |SELECT CAST(floor(x / 8) AS BIGINT) AS ix,
         |  CAST(floor(y / 8) AS BIGINT) AS iy, count(*) AS cnt
         |FROM pages GROUP BY 1, 2""".stripMargin,
    "geo_union_area" ->
      s"""$pagesCte,
         |boxes AS (
         |  SELECT i % 500 AS g, (i * 37) % 24 AS x0, (i * 91) % 24 AS y0,
         |    2 + i % 7 AS w, 2 + (i * 3) % 5 AS h
         |  FROM pages),
         |cells AS (
         |  SELECT DISTINCT g, x0 + a AS px, y0 + b AS py
         |  FROM boxes, LATERAL (SELECT unnest(generate_series(0, w - 1)) AS a) ta,
         |              LATERAL (SELECT unnest(generate_series(0, h - 1)) AS b) tb)
         |SELECT g, count(*) AS union_area FROM cells GROUP BY g""".stripMargin,
    "geo_tile_assign" ->
      s"""$pagesCte, tiles AS (
         |  SELECT t AS tile_id, CAST((t % 3) * 512 AS DOUBLE) AS min_x,
         |         CAST((t // 3) * 512 AS DOUBLE) AS min_y
         |  FROM (SELECT unnest(generate_series(0, 8)) AS t))
         |SELECT i, i // 6000 AS region, tile_id
         |FROM pages JOIN tiles
         |  ON x >= min_x AND x < min_x + 1024 AND y >= min_y AND y < min_y + 1024""".stripMargin,
    "geo_pip" ->
      s"""$pagesCte, tris AS (
         |  SELECT t AS tri_id,
         |    CAST(100 + (t * 97) % 1848 AS DOUBLE) AS cx,
         |    CAST(100 + (t * 53) % 1848 AS DOUBLE) AS cy
         |  FROM (SELECT unnest(generate_series(0, 39)) AS t))
         |SELECT i, i // 6000 AS region, tri_id FROM pages JOIN tris ON
         |  ((cx - 45.5 - cx) * (y - (cy - 40.5)) - ((cy + 35.5) - (cy - 40.5)) * (x - cx) > 0
         |   AND ((cx + 50.5) - (cx - 45.5)) * (y - (cy + 35.5)) - ((cy + 30.5) - (cy + 35.5)) * (x - (cx - 45.5)) > 0
         |   AND (cx - (cx + 50.5)) * (y - (cy + 30.5)) - ((cy - 40.5) - (cy + 30.5)) * (x - (cx + 50.5)) > 0)
         |  OR
         |  ((cx - 45.5 - cx) * (y - (cy - 40.5)) - ((cy + 35.5) - (cy - 40.5)) * (x - cx) < 0
         |   AND ((cx + 50.5) - (cx - 45.5)) * (y - (cy + 35.5)) - ((cy + 30.5) - (cy + 35.5)) * (x - (cx - 45.5)) < 0
         |   AND (cx - (cx + 50.5)) * (y - (cy + 30.5)) - ((cy - 40.5) - (cy + 30.5)) * (x - (cx + 50.5)) < 0)""".stripMargin,
    "geo_knn" ->
      s"""$pagesCte, pts AS (SELECT i, x, y FROM pages WHERE i < 6000),
         |q AS (SELECT i AS query_id, x AS qx, y AS qy FROM pts WHERE i < 100)
         |SELECT query_id, rnk AS rank, nbr_id, dist2 FROM (
         |  SELECT query_id, pts.i AS nbr_id,
         |    (x - qx) * (x - qx) + (y - qy) * (y - qy) AS dist2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (x - qx) * (x - qx) + (y - qy) * (y - qy), pts.i) AS rnk
         |  FROM pts JOIN q ON pts.i <> query_id)
         |WHERE rnk <= 5""".stripMargin,
    "geo_knn_grid" ->
      s"""$pagesCte, pts AS (SELECT i, x, y FROM pages WHERE i < 6000)
         |SELECT query_id, rnk AS rank, nbr_id, dist2 FROM (
         |  SELECT q.i AS query_id, pts.i AS nbr_id,
         |    (pts.x - q.x) * (pts.x - q.x) + (pts.y - q.y) * (pts.y - q.y) AS dist2,
         |    row_number() OVER (PARTITION BY q.i
         |      ORDER BY (pts.x - q.x) * (pts.x - q.x) + (pts.y - q.y) * (pts.y - q.y), pts.i) AS rnk
         |  FROM pts JOIN pts q ON pts.i <> q.i)
         |WHERE rnk <= 5""".stripMargin,
    "dedup_exact" ->
      "SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keeper FROM documents GROUP BY 1",
    "stream_dedup" ->
      "SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keeper FROM documents GROUP BY 1",
    "dedup_ngram_jaccard" ->
      s"""WITH sh AS (
        |  SELECT DISTINCT doc_id, list_aggregate(toks[i:i+2], 'string_agg', ' ') AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |       -- 2000 >> max tokens in any documents fixture (n_chars <= 553)
        |       (SELECT unnest(generate_series(1, 2000)) AS i)
        |  WHERE i + 2 <= len(toks)),
        |sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1),
        |-- same hot-shingle cap as the engine (df > ${Dedup.MaxDf} dropped from
        |-- pair generation only; doc sizes keep every shingle)
        |cold AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= ${Dedup.MaxDf}) k
        |  USING (shingle)),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM cold l JOIN cold r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, common, la.s AS na, lb.s AS nb,
        |  CAST(floor(1000 * common / (la.s + lb.s - common)) AS BIGINT) AS jac_milli
        |FROM pairs JOIN sz la ON a = la.doc_id JOIN sz lb ON b = lb.doc_id
        |WHERE floor(1000 * common / (la.s + lb.s - common)) >= 100""".stripMargin,
    // brute-force all-pairs over the replicated fingerprints: the
    // engine's 4-chunk pigeonhole candidate join is EXHAUSTIVE for
    // hamming <= 3 (any such pair shares an untouched 16-bit chunk),
    // so the candidate structure drops out of the oracle
    "dedup_simhash" ->
      s"""WITH $simhashSigCtes
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |       CAST(bit_count(xor(l.sh, r.sh)) AS BIGINT) AS hamming
         |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.sh, r.sh)) <= 3""".stripMargin,
    // full MinHash+LSH replica: the xxhash64 permutation chain
    // recomputed in SQL (xxh64HashCtes), band collisions restated as
    // exact slice equality (see minhashPairCtes for why that is sound)
    "dedup_minhash_lsh" ->
      s"""WITH ${minhashPairCtes("documents", 100)}
         |SELECT a, b, est_milli FROM mpairs""".stripMargin,
    "sim_cosine_topk" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM base WHERE vec_id < 20)
        |SELECT query_id, rank, nbr_id, cos_micro FROM (
        |  SELECT query_id, base.vec_id AS nbr_id,
        |    CAST(floor(1e6 * list_dot_product(e, qe) / (nrm * qn)) AS BIGINT) AS cos_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY floor(1e6 * list_dot_product(e, qe) / (nrm * qn)) DESC, base.vec_id) AS rank
        |  FROM base JOIN q ON base.vec_id <> query_id)
        |WHERE rank <= 10""".stripMargin,
    // unrolled-Lloyd replica (see kmeansSqlCtes for the FP-margin
    // soundness argument); output is integer cluster counts
    "sim_kmeans" ->
      s"""WITH ${kmeansSqlCtes(10, 5)}
         |SELECT cl AS cluster, count(*) AS cnt FROM af GROUP BY cl""".stripMargin,
    // full IVF replica: k=16 quantizer, per-query top-6 probe by
    // centroid distance (restricted to NON-EMPTY clusters — the
    // engine's far-sentinel for empty clusters sorts strictly last, so
    // with ≥ nProbe non-empty clusters the probe sets coincide, and
    // sentinel probes contribute no candidates anyway), exact
    // cosine rank within probed clusters. Ranks compare FLOORED
    // micro-cosines (integers), so ordering is FP-safe given the
    // bit-identical ascending dot products (same as sim_cosine_topk).
    "sim_cosine_topk_ivf" ->
      s"""WITH ${kmeansSqlCtes(16, 5)},
         |nrm AS (SELECT vec_id, v, cl, sqrt(list_dot_product(v, v)) AS nm FROM af),
         |ne AS (SELECT DISTINCT cl FROM af),
         |pd AS (SELECT q.vec_id AS query_id, c.cl,
         |         list_sum(list_transform(range(64), i ->
         |           (q.v[i+1] - c.cent[i+1]) * (q.v[i+1] - c.cent[i+1]))) AS d
         |       FROM (SELECT * FROM nrm WHERE vec_id < 20) q,
         |            (SELECT c.cl, c.cent FROM c5 c JOIN ne USING (cl)) c),
         |probe AS (SELECT query_id, cl FROM (SELECT *, row_number() OVER
         |            (PARTITION BY query_id ORDER BY d, cl) AS rn FROM pd) WHERE rn <= 6),
         |cand AS (SELECT p.query_id, b.vec_id AS nbr_id,
         |           CAST(floor(1e6 * list_dot_product(b.v, q.v) / (b.nm * q.nm)) AS BIGINT) AS cos_micro
         |         FROM probe p JOIN nrm b ON b.cl = p.cl
         |              JOIN nrm q ON q.vec_id = p.query_id
         |         WHERE b.vec_id != p.query_id)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rank, nbr_id, cos_micro FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_micro DESC, nbr_id) AS rnk FROM cand) WHERE rnk <= 10""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT) AS total_token_chars,
        |  CAST(length(text) - length(regexp_replace(text, '[,.!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords
        |FROM documents""".stripMargin,
    "text_token_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS len,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    // REAL media decode oracles: the closed-form pixel/sample formulas
    // (MediaGen.red/green/blue/sample) recomputed in pure SQL — a hash
    // match proves javax.imageio / javax.sound recovered the payload
    // content exactly (PNG is lossless, WAV is PCM)
    "mm_decode_png" ->
      """SELECT i.range AS id, CAST(48 AS BIGINT) AS width,
        |  CAST(32 AS BIGINT) AS height, 'png' AS format,
        |  CAST(sum((i.range*31 + x.range*7 + y.range*13) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((i.range*17 + x.range*11 + y.range*5) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((i.range*13 + x.range*3 + y.range*29) % 256) AS BIGINT) AS sum_b
        |FROM range(0, 2000) i, range(0, 48) x, range(0, 32) y
        |GROUP BY 1""".stripMargin,
    "mm_decode_wav" ->
      """SELECT i.range AS id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(2048 AS BIGINT) AS n_samples,
        |  CAST(sum((i.range*31 + k.range*17) % 4096 - 2048) AS BIGINT) AS sum_samples
        |FROM range(0, 2000) i, range(0, 2048) k
        |GROUP BY 1""".stripMargin,
    "geo_latlon_fmt" ->
      s"""$pagesCte
         |SELECT i,
         |  printf('%.3f', abs((i % 1999) / 1999.0 * 180.0 - 90.0)) || '$$^\\circ$$' ||
         |    CASE WHEN (i % 1999) / 1999.0 * 180.0 - 90.0 < 0 THEN 'S' ELSE 'N' END AS lat_str,
         |  printf('%.3f', abs((i * 37 % 1999) / 1999.0 * 360.0 - 180.0)) || '$$^\\circ$$' ||
         |    CASE WHEN (i * 37 % 1999) / 1999.0 * 360.0 - 180.0 < 0 THEN 'W' ELSE 'E' END AS lon_str
         |FROM pages""".stripMargin,
    "geo_bbox_pairs" ->
      s"""$pagesCte, b AS (
         |  SELECT i // 6000 AS region, i AS id,
         |    x - (4 + i % 29) AS min_x, y - (4 + i % 23) AS min_y,
         |    x + (4 + (i * 7) % 29) AS max_x, y + (4 + (i * 7) % 23) AS max_y
         |  FROM pages)
         |SELECT l.region AS region, l.id AS a, r.id AS b
         |FROM b l JOIN b r ON l.region = r.region AND l.id < r.id
         |  AND l.min_x <= r.max_x AND r.min_x <= l.max_x
         |  AND l.min_y <= r.max_y AND r.min_y <= l.max_y""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,
    "text_langid" -> {
      val (scoreCols, caseExpr) = langIdDuck
      s"""WITH tk AS (SELECT string_split_regex(lower(text), '[[:space:][:punct:]]+') AS _tk
         |            FROM documents),
         |sc AS (SELECT $scoreCols FROM tk)
         |SELECT pred_lang, count(*) AS cnt
         |FROM (SELECT $caseExpr AS pred_lang FROM sc) GROUP BY 1""".stripMargin
    },
    "corpus_keepers" ->
      s"""WITH $keeperCtes
         |SELECT doc_id, pred_lang, n_tokens, n_uniq_tokens FROM keep""".stripMargin,
    // the FULL cleaner chain (annotate → exact dedup → MinHash-LSH
    // near-dup anti-join): the shared keeper stages extended by the
    // minhash pair replica at the cleaner's thrMilli = 800
    "corpus_clean" ->
      s"""WITH $keeperCtes,
         |${minhashPairCtes("keep", 800)}
         |SELECT doc_id, pred_lang, n_tokens FROM keep
         |WHERE doc_id NOT IN (SELECT DISTINCT b FROM mpairs)""".stripMargin,
  )

  /** The corpus cleaner's SQL-expressible pre-LSH stages (langid
    * annotate → quality filter → exact-dedup keeper pick) as shared
    * CTEs ending in `keep(doc_id, text, pred_lang, n_tokens,
    * n_uniq_tokens)` — ONE definition for the corpus_keepers and
    * corpus_clean oracles, so a fix to the keeper stages can never
    * silently desynchronize the two. */
  private def keeperCtes: String = {
    val (scoreCols, caseExpr) = langIdDuck
    s"""tk AS (SELECT doc_id, text,
       |    string_split_regex(lower(text), '[[:space:][:punct:]]+') AS _tk
       |  FROM documents),
       |sc AS (SELECT doc_id, text, $scoreCols FROM tk),
       |ann AS (SELECT doc_id, text, $caseExpr AS pred_lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens
       |  FROM sc),
       |f AS (SELECT * FROM ann WHERE n_tokens >= 5 AND n_uniq_tokens >= 2),
       |k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
       |keep AS (SELECT f.doc_id, f.text, f.pred_lang, f.n_tokens, f.n_uniq_tokens
       |         FROM f JOIN k USING (doc_id))""".stripMargin
  }
}
