package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over a text table
  * (doc_id BIGINT, text STRING). All are expressed as declarative
  * DataFrame plans (explode → equi-join → agg) so Catalyst handles
  * shuffle planning; the LSH variants bound the candidate set the same
  * way the cell index bounds spatial joins — band/bucket equi-joins
  * instead of all-pairs.
  */
object Dedup {

  /** Exact duplicate groups by content hash (md5). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))

  /** Tokenize exactly like the `split(col, " ")` column expression
    * (literal-space regex, limit -1) and visit every n-gram shingle in
    * order, repeats included. Returns false — visiting nothing — for
    * null text or docs with fewer than n tokens, matching the old
    * column formulation (`size(split(null, " ")) = -1` dropped the
    * row). ONE definition of tokenization, shared by every shingle
    * consumer, so sizes/signatures/pairs can never drift apart. */
  private def eachShingle(text: String, n: Int)(f: String => Unit): Boolean = {
    if (text == null) return false
    val toks = text.split(" ", -1)
    if (toks.length < n) return false
    var s = 0
    while (s <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(s + k))
        k += 1
      }
      f(sb.toString)
      s += 1
    }
    true
  }

  /** Distinct word-n-gram shingles per doc: (doc_id, shingle).
    * NARROW — "distinct per doc" is doc-local, so a per-row hash set
    * inside mapPartitions replaces the previous explode + global
    * `.distinct()` (which shuffled every (doc, shingle) row just to
    * dedupe within rows that were already colocated). Shingle strings
    * are byte-identical to the old `split(" ") → concat_ws(" ")`
    * column formulation — the dedup_ngram_jaccard DuckDB oracle is the
    * cross-check.
    *
    * PRECONDITION (this and every shingle consumer): `doc_id`
    * identifies ONE row — the documents-table contract. Rows sharing a
    * doc_id are shingled independently here, where the old global
    * distinct merged them. */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    shinglesWithSize(docs, n).select("doc_id", "shingle")

  /** (doc_id, sz, shingle) — the distinct-shingle emitter with the
    * doc's distinct-shingle COUNT riding on every row (so consumers
    * that need per-doc sizes, like [[ngramJaccardPairs]], get them
    * join-free). ONE emitter behind every shingle consumer — the
    * per-doc LinkedHashSet distinct/order logic exists exactly once. */
  private[operators] def shinglesWithSize(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val seen = new java.util.LinkedHashSet[String]()
          eachShingle(text, n)(sh => { seen.add(sh); () })
          val sz = seen.size.toLong
          val it = seen.iterator()
          new Iterator[(Long, Long, String)] {
            def hasNext: Boolean = it.hasNext
            def next(): (Long, Long, String) = (id, sz, it.next())
          }
        }
      }.toDF("doc_id", "sz", "shingle")
  }

  /** Document-frequency cap of [[ngramJaccardPairs]]: a shingle held
    * by more than `MaxDf` docs takes no part in pair generation, so no
    * posting list holds more than `MaxDf` entries. [[hotShingles]]
    * reports what the cap drops. */
  val MaxDf = 10000

  /** (shingle, df) for each shingle of `sh` held by more than [[MaxDf]]
    * rows — the groups [[ngramJaccardPairs]] drops and [[hotShingles]]
    * reports. */
  private def hotShingleDf(sh: DataFrame): DataFrame =
    sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxDf)

  /** All-pairs n-gram Jaccard similarity ≥ `thrMilli`/1000 via per-
    * shingle posting lists (pairs only materialize where a shingle is
    * shared). A shingle present in d documents materializes d² pairs —
    * quadratic in document frequency, which AQE cannot shrink (it only
    * splits partitions) — so shingles with df > [[MaxDf]] are dropped
    * from pair GENERATION (boilerplate shingles connect everything and
    * carry no similarity signal anyway). Doc sizes na/nb still count
    * every shingle, so jac_milli stays a true Jaccard lower bound for
    * surviving pairs; `common` undercounts only by dropped-hot shared
    * shingles. Pairs whose overlap is exclusively hot shingles are
    * missed — corpora like that belong on [[minhashLshPairs]]. Use
    * [[hotShingles]] to audit the dropped mass. Output (a, b, common,
    * na, nb, jac_milli) with a < b; jac_milli = floor(1000 * common /
    * (na+nb-common)) (integer → engine-exact for the oracle). */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, thrMilli: Int = 500): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (doc_id, sz, shingle): the doc's distinct-shingle count rides
    // with every shingle row, so the pair stage needs NO join back to
    // a sizes table. sz is a pure function of doc_id, so grouping
    // pairs by (a, na, b, nb) below groups exactly by (a, b).
    val sh = shinglesWithSize(docs, n)
    // the hot-shingle anti-join stays AHEAD of the posting-list build:
    // it enforces the cap with a constant-memory count, so no
    // collect_list buffer ever holds a hot shingle's full posting list
    val cold = sh.join(hotShingleDf(sh).select("shingle"), Seq("shingle"), "left_anti")
    // ONE exchange builds the ≤ MaxDf posting lists and pair generation
    // walks each sorted list directly: a pair is emitted once per
    // shared cold shingle, which the groupBy below counts as `common`
    cold.groupBy(col("shingle"))
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ids"))
      .select(col("ids")).as[Seq[(Long, Long)]]
      .mapPartitions { lists =>
        lists.flatMap { ids0 =>
          val ids = ids0.toArray.sortBy(_._1)
          new Iterator[(Long, Long, Long, Long)] {
            private var i = 0
            private var j = 1
            def hasNext: Boolean = i < ids.length - 1
            def next(): (Long, Long, Long, Long) = {
              val p = (ids(i)._1, ids(j)._1, ids(i)._2, ids(j)._2)
              j += 1
              if (j >= ids.length) { i += 1; j = i + 1 }
              p
            }
          }
        }
      }.toDF("a", "b", "na", "nb")
      // strict a < b: a degenerate input with repeated doc_ids must
      // not emit (x, x) pairs
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jac_milli",
        floor(lit(1000) * col("common") / (col("na") + col("nb") - col("common"))).cast("long"))
      .filter(col("jac_milli") >= thrMilli)
      .select("a", "b", "common", "na", "nb", "jac_milli")
  }

  /** The shingles [[ngramJaccardPairs]] drops at [[MaxDf]] — the
    * observability side-channel for the hot-shingle cap (run it before
    * a big job to log the dropped mass). Output (shingle, df). */
  def hotShingles(docs: DataFrame, n: Int): DataFrame =
    hotShingleDf(shingles(docs, n))

  /** MinHash signature: numHashes permutations h_i(s) = xxhash64(i, s),
    * signature element i = min over the doc's distinct shingles.
    * Returns (doc_id, sig ARRAY<BIGINT>).
    *
    * ZERO-shuffle formulation: one narrow mapPartitions pass keeps a
    * per-doc shingle hash-set and numHashes running minima — replacing
    * the previous explode → distinct → numHashes-way min aggregation,
    * which exchanged EVERY (doc, shingle) row through a shuffle (the
    * dominant cost of the LSH path; at 10⁹ docs that shuffle is ~100×
    * the corpus size). The hash chain calls Catalyst's
    * `XxHash64Function` with the exact seed chain of the
    * `xxhash64(lit(i), shingle)` column expression, so the output is
    * BIT-IDENTICAL to the aggregation form — proven by the pinned
    * dedup_minhash_lsh / corpus_clean output hashes, which did not
    * move when this swap landed. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 32): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val spark = docs.sparkSession
    import spark.implicits._
    // per-permutation seeds: xxhash64(lit(i), s) = hash(s, hash(i, 42))
    val seeds = Array.tabulate(numHashes)(i => XxHash64Function.hash(i, IntegerType, 42L))
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val seen = new java.util.HashSet[String]()
          val mins = Array.fill(numHashes)(Long.MaxValue)
          val any = eachShingle(text, n) { sh =>
            if (seen.add(sh)) {
              val utf8 = UTF8String.fromString(sh)
              var i = 0
              while (i < numHashes) {
                val h = XxHash64Function.hash(utf8, StringType, seeds(i))
                if (h < mins(i)) mins(i) = h
                i += 1
              }
            }
          }
          if (any) Iterator.single((id, mins.toSeq)) else Iterator.empty
        }
      }.toDF("doc_id", "sig")
  }

  /** (doc_id, sig, band, bucket) — one row per LSH band, bucket =
    * hash of the band's signature slice: the candidate-generation key
    * of [[minhashLshPairs]]. */
  def minhashBands(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                   bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    val sigs = minhashSignatures(docs, n, numHashes)
    sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(lit("band"), b, concat_ws(",",
            slice(col("sig"), b * lit(rows) + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * rows, bucket-join docs sharing any band hash, then verify with the
    * signature-level Jaccard estimate ≥ `thrMilli`/1000. The classic
    * shingle→minhash→band→bucket-join pipeline; candidate generation is
    * a pure equi-join on (band, bucket). A degenerate corpus (many
    * byte-identical docs) puts d docs in one bucket → d² candidates:
    * exact duplicates belong on [[exact]] — run it first, as
    * [[TrainingPipeline.cleanCorpus]] does. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, thrMilli: Int = 500): DataFrame = {
    val banded = minhashBands(docs, n, numHashes, bands)
    // est is a pure function of (a, b) — one signature per doc — so
    // computing it BEFORE the distinct (per band collision instead of
    // per pair) lets the threshold filter drop most candidates ahead
    // of the dedup exchange, which then ships (a, b, est) scalars
    // instead of two 32-element signature arrays per row. distinct on
    // (a, b, est) ≡ distinct on (a, b); output rows identical.
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        floor(lit(1000) * size(filter(zip_with(col("l.sig"), col("r.sig"),
          (x, y) => x === y), identity(_))) / numHashes).cast("long").as("est_milli"))
      .filter(col("est_milli") >= thrMilli)
      .distinct()
      .select("a", "b", "est_milli")
  }

  /** 64-bit SimHash from whitespace tokens: bit j of the hash votes
    * +1/-1 per token depending on bit j of the token hash; sign of the
    * vote sum gives the fingerprint bit. One imperative pass per row in
    * mapPartitions — the column-expression formulation needs 64
    * aggregate passes over the token array (measured 8.2s vs <1s at
    * sf0.1), so this is the sanctioned `mapPartitions` escape hatch. */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val votes = new Array[Int](64)
        rows.map { case (id, text0) =>
          val text = if (text0 == null) "" else text0 // null-safe like the ops suite
          java.util.Arrays.fill(votes, 0)
          var start = 0
          val n = text.length
          var i = 0
          while (i <= n) {
            if (i == n || text.charAt(i) == ' ') {
              if (i > start) {
                val h = CrownOps.mix64(
                  scala.util.hashing.MurmurHash3.stringHash(
                    text.substring(start, i), 42).toLong)
                var j = 0
                while (j < 64) {
                  if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
                  j += 1
                }
              }
              start = i + 1
            }
            i += 1
          }
          var sig = 0L
          var j = 0
          while (j < 64) {
            if (votes(j) > 0) sig |= (1L << j)
            j += 1
          }
          (id, sig)
        }
      }.toDF("doc_id", "simhash")
  }

  /** (doc_id, simhash, chunk, v) — one row per pigeonhole chunk of the
    * 64-bit simhash split into maxHamming+1 chunks. */
  private def simhashChunks(docs: DataFrame, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    val bounds = (0 to nChunks).map(c => 64 * c / nChunks)
    val sh = simhash(docs)
    sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nChunks).map { c =>
        val lo = bounds(c); val width = bounds(c + 1) - lo
        // width == 64 (maxHamming = 0): (1L << 64) wraps to 1 in Java;
        // full-width chunk mask is all-ones
        val mask = if (width >= 64) -1L else (1L << width) - 1
        shiftright(col("simhash"), lo).bitwiseAND(mask)
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "v")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * by the pigeonhole principle: split the 64 bits into maxHamming+1
    * chunks — any pair within distance ≤ maxHamming must agree exactly
    * on at least one chunk → candidate equi-join on (chunk index,
    * chunk value), verified by popcount.
    *
    * Scale bound: a chunk has 2^width distinct values (width =
    * ⌊64/(maxHamming+1)⌋), so for uniformly-spread simhashes the
    * candidate join materializes ≈ (maxHamming+1) · n² / 2^width pairs.
    * At maxHamming ≤ 3 width ≥ 16 → n²/2¹⁶-ish, fine. At maxHamming = 8
    * width is 7 → ≤128 values per chunk → quadratic in corpus size
    * REGARDLESS of similarity — a scale-killer. The single-level
    * pigeonhole is therefore restricted to 0 ≤ maxHamming ≤ 3. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming outside [0, 3]: a negative radius has no chunks, " +
        "and above 3 the chunks are too narrow to bound the candidate join")
    val chunked = simhashChunks(docs, maxHamming)
    // hamming is a pure function of (a, b): compute it per chunk
    // collision and filter BEFORE the dedup exchange (same move as
    // minhashLshPairs — distinct on (a, b, hamming) ≡ (a, b))
    chunked.as("l").join(chunked.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.v") === col("r.v") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("a", "b", "hamming")
  }
}
