package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextOps}

/** Training-data operators: dedup recall on planted near-duplicates,
  * ANN recall vs brute force, language-id on known-language samples,
  * multimodal batch shapes. */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** 60 base docs from a small vocab + 20 planted near-duplicates
    * (one word substituted) + 20 exact duplicates. */
  private lazy val docs = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def text(seed: Long, len: Int): String =
      (0 until len).map(k => vocab((graft.operators.CrownOps.mix64(seed * 100 + k) % 10).toInt.abs)).mkString(" ")
    val base = (0L until 60L).map(i => (i, text(i, 40)))
    val nearDups = (0L until 20L).map { i =>
      val t = text(i, 40).split(" ")
      t(17) = "substituted"
      (100L + i, t.mkString(" "))
    }
    val exactDups = (0L until 20L).map(i => (200L + i, text(i, 40)))
    spark.createDataset(base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exact dedup groups the planted exact duplicates") {
    val groups = Dedup.exact(docs).filter(col("cnt") > 1).collect()
    assert(groups.length === 20)
    assert(groups.forall(_.getLong(1) == 2L))
  }

  test("ngram jaccard finds every planted near-duplicate pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, thrMilli = 700)
      .select("a", "b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach { i =>
      assert(pairs.contains((i, 100L + i)) || pairs.contains((i, 200L + i)),
        s"missing near-dup pair for base doc $i")
    }
    // exact dups have jaccard 1000
    val exact = Dedup.ngramJaccardPairs(docs, 3, 1000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach(i => assert(exact.contains((i, 200L + i))))
  }

  /** Driver-side brute force of [[Dedup.ngramJaccardPairs]] on a corpus
    * with no shingle above the df cap: distinct word n-grams per doc,
    * every pair of docs, exact (a, b, common, na, nb, jac_milli). */
  private def ngramJaccardReference(rows: Seq[(Long, String)], n: Int,
                                    thrMilli: Int): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val sets = rows.map { case (id, text) =>
      val toks = text.split(" ", -1)
      id -> toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    }.sortBy(_._1)
    for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      common = (sa & sb).size.toLong
      if common > 0
      jac = 1000L * common / (sa.size + sb.size - common)
      if jac >= thrMilli
    } yield (a, b, common, sa.size.toLong, sb.size.toLong, jac)
  }

  private def ngramRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("a"), col("b"), col("common"), col("na"), col("nb"), col("jac_milli"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted

  test("ngram jaccard equals a driver-side brute force row for row") {
    val rows = docs.as[(Long, String)].collect().toSeq
    for (thr <- Seq(100, 700, 1000)) {
      val want = ngramJaccardReference(rows, 3, thr).sorted
      assert(want.nonEmpty, s"vacuous at thrMilli $thr")
      assert(ngramRows(Dedup.ngramJaccardPairs(docs, 3, thr)) === want, s"thrMilli $thr")
    }
  }

  test("ngram jaccard drops exactly the shingle above MaxDf; hotShingles reports it") {
    // MaxDf + 1 docs sharing ONLY the prefix shingle: every other
    // shingle of theirs is unique (df 1), so the hot shingle is the
    // only source of pairs among them — (MaxDf + 1)² / 2 of them
    val hotDocs = (0L to Dedup.MaxDf.toLong).map(i => (1000000L + i, s"hotA hotB hotC u$i"))
    val withHot = docs.union(spark.createDataset(hotDocs).toDF("doc_id", "text"))
    val got = ngramRows(Dedup.ngramJaccardPairs(withHot, 3, 100))
    // without the cap each hot pair would read common 1 of 3 → 333 ≥ 100
    assert(!got.exists(r => r._1 >= 1000000L || r._2 >= 1000000L))
    // the planted corpus keeps every pair, byte for byte
    assert(got === ngramJaccardReference(docs.as[(Long, String)].collect().toSeq, 3, 100).sorted)
    (0L until 20L).foreach(i => assert(got.exists(r => r._1 == i && r._2 == 200L + i)))
    assert(Dedup.hotShingles(withHot, 3).as[(String, Long)].collect().toSeq ===
      Seq(("hotA hotB hotC", Dedup.MaxDf + 1L)))
  }

  test("minhash LSH recalls planted exact + most near duplicates") {
    val pairs = Dedup.minhashLshPairs(docs, n = 3, numHashes = 32, bands = 8,
      thrMilli = 500).select("a", "b").as[(Long, Long)].collect().toSet
    // exact dups: identical signatures → always found
    (0L until 20L).foreach(i => assert(pairs.contains((i, 200L + i))))
    // near dups (true jaccard ~0.85): ≥80% recall expected from banding
    val found = (0L until 20L).count(i => pairs.contains((i, 100L + i)))
    assert(found >= 16, s"minhash near-dup recall too low: $found/20")
  }

  test("LSH bucket collision ≡ band-slice equality (minhash oracle soundness)") {
    // the DuckDB oracle for dedup_minhash_lsh / corpus_clean restates
    // the engine's xxhash64-bucket candidate join as EXACT slice
    // equality. Equal slices always collide (bucket is a function of
    // the slice); the converse can fail only on a 2^-64 bucket
    // collision between distinct slices — this pins its absence on
    // the planted fixture AND both real documents tables, including
    // sf0.01, the scale the driver's oracle gate actually compares at,
    // so the two candidate sets are interchangeable for these corpora.
    for (d <- Seq(docs,
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet"))) {
      val rows = Dedup.minhashBands(d, n = 3, numHashes = 32, bands = 8)
        .select(col("doc_id").cast("long"), col("band"), col("bucket"), col("sig"))
        .as[(Long, Int, Long, Seq[Long])].collect()
      def pairsBy[K](key: ((Long, Int, Long, Seq[Long])) => K): Set[(Long, Long)] =
        rows.groupBy(key).values.flatMap { grp =>
          val ids = grp.map(_._1).distinct.sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            yield (ids(i), ids(j))
        }.toSet
      val byBucket = pairsBy(r => (r._2, r._3))
      val bySlice = pairsBy(r => (r._2, r._4.slice(r._2 * 4, r._2 * 4 + 4)))
      assert(byBucket === bySlice)
      assert(byBucket.nonEmpty) // non-vacuous: the corpora do collide
    }
  }

  test("simhash: hamming 0 for exact dups, small for near dups") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    (0L until 20L).foreach { i =>
      assert(sh(i) === sh(200L + i))
      val hd = java.lang.Long.bitCount(sh(i) ^ sh(100L + i))
      assert(hd <= 16, s"near-dup simhash distance unexpectedly large: $hd")
    }
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach(i => assert(pairs.contains((i, 200L + i))))
  }

  test("JDK codecs: PNG decode recovers the exact pixel formula; JPEG/WAV decode work") {
    import graft.operators.Multimodal.JdkCodec
    import graft.tables.MediaGen
    // PNG: lossless — decoded pixels equal the closed-form formula
    val png = MediaGen.pngFor(7L)
    assert(JdkCodec.sniff(png) === "png")
    val img = JdkCodec.decodeImage(png).get
    assert(img.getWidth === MediaGen.ImgW && img.getHeight === MediaGen.ImgH)
    var ok = true
    for (y <- 0 until MediaGen.ImgH; x <- 0 until MediaGen.ImgW) {
      val p = img.getRGB(x, y)
      ok &&= ((p >> 16) & 0xff) == MediaGen.red(7L, x, y) &&
        ((p >> 8) & 0xff) == MediaGen.green(7L, x, y) &&
        (p & 0xff) == MediaGen.blue(7L, x, y)
    }
    assert(ok, "PNG decode did not recover the synthesis formula")
    // JPEG: lossy — decode works, dimensions exact (content approximate)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val jpeg = bos.toByteArray
    assert(JdkCodec.sniff(jpeg) === "jpeg")
    val jimg = JdkCodec.decodeImage(jpeg).get
    assert(jimg.getWidth === MediaGen.ImgW && jimg.getHeight === MediaGen.ImgH)
    // WAV: PCM — exact sample round trip
    val wav = MediaGen.wavFor(7L)
    assert(JdkCodec.sniff(wav) === "wav")
    val Some((rate, ch, samples)) = JdkCodec.decodeWav(wav)
    assert(rate === MediaGen.WavSampleRate && ch === 1 && samples.length === MediaGen.WavSamples)
    assert(samples.indices.forall(k => samples(k) === MediaGen.sample(7L, k)))
    // non-media bytes stay on the stub path
    assert(JdkCodec.sniff("plain html text, definitely not a codec".getBytes) === "unknown")
    // 8-bit PCM WAV: decode CONVERTS through the codec chain instead of
    // reinterpreting byte pairs as shorts — sample count is the true
    // count and values scale to 16-bit (8-bit unsigned 0..255 → signed)
    val dataLen8 = 100
    val b8 = java.nio.ByteBuffer.allocate(44 + dataLen8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b8.put("RIFF".getBytes); b8.putInt(36 + dataLen8); b8.put("WAVE".getBytes)
    b8.put("fmt ".getBytes); b8.putInt(16); b8.putShort(1); b8.putShort(1)
    b8.putInt(8000); b8.putInt(8000); b8.putShort(1); b8.putShort(8)
    b8.put("data".getBytes); b8.putInt(dataLen8)
    (0 until dataLen8).foreach(k => b8.put(((k * 37) % 256).toByte))
    val Some((r8, c8, s8)) = JdkCodec.decodeWav(b8.array())
    assert(r8 === 8000 && c8 === 1 && s8.length === dataLen8,
      s"8-bit WAV must convert, not reinterpret: got ${s8.length} samples")
  }

  test("codec robustness: decompression-bomb PNG rejected, false sniffs fall back to stub") {
    import graft.operators.Multimodal.{JdkCodec, StubCodec}
    // a valid PNG header DECLARING 50000x50000 (2.5 Gpx) with no data:
    // the dimension pre-check must reject it without allocating
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes); crc.update(data)
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length).put(typ.getBytes).put(data).putInt(crc.getValue.toInt)
      b.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(50000).putInt(50000).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val bomb = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr)
    assert(JdkCodec.sniff(bomb) === "png")
    assert(JdkCodec.decodeImage(bomb).isEmpty, "bomb dimensions must be rejected pre-decode")
    // a normal image still decodes through the dimension-checked path
    assert(JdkCodec.decodeImage(graft.tables.MediaGen.pngFor(1L)).isDefined)
    // text that HAPPENS to start with a magic prefix gets the full
    // stub row (deterministic meta), not a zeroed failure row
    val fakeGif = "GIF89a is mentioned in this plain text document somewhere".getBytes
    val spark2 = spark
    import spark2.implicits._
    val row = graft.operators.Multimodal.processMedia(spark,
      Seq((1L, fakeGif)).toDF("i", "html")).collect().head
    assert(row.meta === StubCodec.decodeMeta(fakeGif))
  }

  test("simhash rejects maxHamming outside [0, 3]") {
    // -1 has no pigeonhole chunks; 4 and up give chunks too narrow to
    // bound the candidate join
    for (h <- Seq(-1, 4, 8))
      intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = h))
    // the lower end still runs: one 64-bit chunk finds the exact dups
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach(i => assert(pairs.contains((i, 200L + i))))
  }

  test("embedding LSH near-dup pairs: 100 identical vectors give all 4950 pairs") {
    val emb = spark.createDataset((0L until 100L).map(i =>
      (i, Seq.fill(64)(0.5f)))).toDF("vec_id", "embedding")
    assert(Similarity.cosineNearDupPairs(emb, thrMicro = 900000L).count() === 4950L)
  }

  test("LSH cosine top-k: recall ≥ 0.5 vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.cosineTopK(emb, nQueries = 10, k = 10)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.cosineTopKLsh(emb, nQueries = 10, k = 10, nPlanes = 48, bandBits = 4)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall $recall")
    // approx results are a subset ranking of true candidates: every hit
    // that IS in the exact top-k must have the same cos_micro there
    val exactScores = Similarity.cosineTopK(emb, 10, 10)
      .select("query_id", "nbr_id", "cos_micro").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    Similarity.cosineTopKLsh(emb, 10, 10, nPlanes = 48, bandBits = 4)
      .select("query_id", "nbr_id", "cos_micro").as[(Long, Long, Long)]
      .collect().foreach { case (q, n, c) =>
        exactScores.get((q, n)).foreach(e => assert(e === c))
      }
  }

  test("IVF top-k: k-means buckets, recall vs brute force, exact scores") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clusters = Similarity.kmeansAssign(emb, k = 10)
    assert(clusters.count() === emb.count())
    assert(clusters.select("cluster").distinct().count() > 1)
    // determinism
    val again = Similarity.kmeansAssign(emb, k = 10)
    assert(clusters.collect().map(_.toString()).sorted
      .sameElements(again.collect().map(_.toString()).sorted))
    val exact = Similarity.cosineTopK(emb, 10, 10)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, 10, 10, k = 10, nProbe = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("cosine near-dup pairs are symmetric-free and above threshold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairs(emb, thrMicro = 300000L)
      .as[(Long, Long, Long)].collect()
    pairs.foreach { case (a, b, c) => assert(a < b && c >= 300000L) }
  }

  test("corpus cleaner: drops planted exact + near duplicates, keeps bases") {
    val cleaned = graft.operators.TrainingPipeline
      .cleanCorpus(docs, minTokens = 5, nearDupThrMilli = 700)
      .select("doc_id").as[Long].collect().toSet
    // all 60 base docs survive
    (0L until 60L).foreach(i => assert(cleaned.contains(i), s"base $i dropped"))
    // all 20 exact dups (200..219) removed (keeper = lower id)
    (200L until 220L).foreach(i => assert(!cleaned.contains(i), s"exact dup $i kept"))
    // most planted near-dups (100..119) removed by LSH
    val nearKept = (100L until 120L).count(cleaned.contains)
    assert(nearKept <= 4, s"too many near-dups kept: $nearKept")
  }

  test("language id classifies known-language samples") {
    val samples = Seq(
      (1L, "the cat and the dog ran to the house of a friend", "en"),
      (2L, "der hund und die katze ist nicht zu haus", "de"),
      (3L, "le chat et la maison est dans les bois", "fr"),
      (4L, "el perro y la casa de los amigos en un dia", "es"))
      .toDF("doc_id", "text", "expected")
    val out = TextOps.langId(samples).select("expected", "pred_lang")
      .as[(String, String)].collect()
    out.foreach { case (want, got) => assert(got === want) }
    // no profile hits → 'und'
    val und = TextOps.langId(Seq((9L, "xyzzy qwerty")).toDF("doc_id", "text"))
      .select("pred_lang").as[String].head()
    assert(und === "und")
  }

  test("fingerprint: deterministic, order-sensitive") {
    val a = Seq((1L, "hello world"), (2L, "world hello")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(a).as[(Long, Long)].collect().toMap
    assert(fp(1L) !== fp(2L))
    val again = TextOps.fingerprint(a).as[(Long, Long)].collect().toMap
    assert(fp === again)
  }

  test("multimodal: decode meta deterministic, features real byte stats") {
    val pages = graft.tables.PagesGen.pages(spark, 50)
    val out = Multimodal.processMedia(spark, pages).collect()
    assert(out.length === 50)
    out.foreach { r =>
      assert(r.meta.ok && r.meta.width >= 64 && r.meta.height >= 64)
      assert(r.features.length === 8)
      assert(r.features(0) > 0) // byte length
      // histogram buckets sum to ~1
      val histSum = r.features.slice(3, 8).sum
      assert(math.abs(histSum - 1.0f) < 1e-3)
    }
    val frames = Multimodal.sampleFrames(spark, pages, frames = 4)
    assert(frames.count() === 200)
    // resize: every output payload has exactly outW*outH bytes
    val resized = Multimodal.resizeMedia(spark, pages, outW = 16, outH = 16).collect()
    assert(resized.length === 50)
    resized.foreach(r => assert(r.getAs[Array[Byte]]("resized").length === 256))
  }

  test("Quantiles.exactPercentiles bit-matches the built-in percentile aggregate") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // groups of sizes 1, 2, 3, 7, 100, 1000 with duplicates and
    // negative values — every interpolation edge
    val rows: Seq[(String, java.lang.Double)] =
      Seq(1, 2, 3, 7, 100, 1000).zipWithIndex.flatMap { case (n, g) =>
        (0 until n).map(_ => (s"g$g", java.lang.Double.valueOf((rnd.nextInt(500) - 250).toDouble)))
      } ++
      // EQUAL bracketing values at fractional pos: without the
      // equal-value short-circuit, v·wl + v·wh ≠ v by 1 ulp
      Seq(("dup2", 3.0), ("dup2", 3.0), ("dup3", 7.0), ("dup3", 7.0), ("dup3", 7.0),
        // nulls: ignored within a group; an all-null group must still
        // emit (key, null) like the built-in
        ("mixed", 1.0), ("mixed", null), ("mixed", 2.0),
        ("allnull", null), ("allnull", null))
        .map { case (k, v) => (k, v.asInstanceOf[java.lang.Double]) }
    val df = rows.toDF("k", "v")
    for (qs <- Seq(Seq(0.5), Seq(0.0, 0.1, 0.25, 0.3, 0.5, 0.9, 0.99, 1.0))) {
      def collect(d: org.apache.spark.sql.DataFrame): Map[String, Seq[Option[Double]]] =
        d.collect().map(r => r.getString(0) ->
          qs.indices.map(i => if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1)))).toMap
      val ours = collect(graft.operators.Quantiles.exactPercentiles(df, "k", col("v"), qs))
      val builtin = collect(df.groupBy("k")
        .agg(qs.map(q => expr(s"percentile(v, $q)")).head,
          qs.map(q => expr(s"percentile(v, $q)")).tail: _*))
      assert(ours.keySet === builtin.keySet, "group sets must match (incl. all-null groups)")
      ours.keySet.foreach { k =>
        ours(k).zip(builtin(k)).foreach { case (a, b) =>
          assert(a === b, s"key $k qs=$qs: $a != $b") // BIT equality
        }
      }
    }
  }

  test("Quantiles.globalPercentiles bit-matches the window variant (and the built-in)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // sizes hitting every interpolation edge; duplicates force the
    // equal-bracketing short-circuit; fractional values force real
    // interpolation arithmetic in both variants
    for (n <- Seq(1, 2, 3, 7, 97, 1000)) {
      val vals: Seq[java.lang.Double] =
        (0 until n).map(_ => java.lang.Double.valueOf(
          (rnd.nextInt(200) - 100) + (if (rnd.nextBoolean()) 0.25 else 0.0))) ++
        (if (n > 2) Seq(null.asInstanceOf[java.lang.Double]) else Nil) // nulls excluded
      val df = vals.map(v => ("all", v)).toDF("k", "v")
      val qs = Seq(0.0, 0.1, 0.25, 0.3, 0.5, 0.9, 0.99, 1.0)
      val g = graft.operators.Quantiles.globalPercentiles(df, col("v"), qs).head()
      val w = graft.operators.Quantiles.exactPercentiles(df, "k", col("v"), qs).head()
      qs.indices.foreach { i =>
        assert(!g.isNullAt(i) && !w.isNullAt(i + 1), s"n=$n q=${qs(i)}")
        // BIT equality between the two variants
        assert(java.lang.Double.doubleToRawLongBits(g.getDouble(i)) ===
          java.lang.Double.doubleToRawLongBits(w.getDouble(i + 1)),
          s"n=$n q=${qs(i)}: global ${g.getDouble(i)} vs window ${w.getDouble(i + 1)}")
      }
    }
    // no non-null values → one row of NULLs (built-in behavior)
    val empty = Seq(("all", null.asInstanceOf[java.lang.Double])).toDF("k", "v")
    val ge = graft.operators.Quantiles.globalPercentiles(empty, col("v"), Seq(0.5)).head()
    assert(ge.isNullAt(0))

    // NaN: all three implementations sort NaN greatest (it counts
    // toward n and surfaces at high quantiles) — pin the agreement
    val nan = Seq(1.0, 2.0, Double.NaN, 3.0, 4.0)
      .map(v => ("k", java.lang.Double.valueOf(v))).toDF("k", "v")
    val nqs = Seq(0.25, 0.5, 0.9, 1.0)
    val nw = graft.operators.Quantiles.exactPercentiles(nan, "k", col("v"), nqs).head()
    val ng = graft.operators.Quantiles.globalPercentiles(nan, col("v"), nqs).head()
    val nb = nan.groupBy("k").agg(
      expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"),
      expr("percentile(v, 0.9)"), expr("percentile(v, 1.0)")).head()
    nqs.indices.foreach { i =>
      val (w0, g0, b0) = (nw.getDouble(i + 1), ng.getDouble(i), nb.getDouble(i + 1))
      assert(java.lang.Double.doubleToRawLongBits(w0) ===
        java.lang.Double.doubleToRawLongBits(g0), s"NaN case q=${nqs(i)}")
      assert(java.lang.Double.doubleToRawLongBits(w0) ===
        java.lang.Double.doubleToRawLongBits(b0), s"NaN case vs built-in q=${nqs(i)}")
    }
  }

  test("Quantiles.globalPercentiles plan: range-partitioned sort, no single-task window") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("all", i.toDouble)).toDF("k", "v")
    val plan = graft.operators.Quantiles.globalSorted(df, col("v"))
      .queryExecution.executedPlan.toString
    // the parallel shape: a RANGE exchange feeding per-partition sorts —
    // not the window variant's hash-exchange-to-one-task
    assert(plan.toLowerCase.contains("rangepartitioning"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("areaHistogram: matplotlib hist semantics (range tails, inclusive last bin, degenerate)") {
    import spark.implicits._
    // group (0,0): areas 1..100 m² in micro units → q90 interpolates
    // between 90 and 91; group (1,0): all equal (degenerate range)
    val rows =
      (1 to 100).map(a => (0L, 0L, a.toLong * 1000000)) ++
      Seq((1L, 0L, 500000L), (1L, 0L, 500000L), (1L, 0L, 500000L)) ++
      Seq((2L, 0L, 400000L)) // below lo: excluded entirely
    val df = rows.toDF("region", "class_idx", "area_micro")
    val hist = graft.operators.CrownOps.areaHistogram(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    // brute-force replica of plt.hist(areas, bins=75, range=(lo, q90))
    val areas = (1 to 100).map(_.toDouble * 1000000)
    val sorted = areas.sorted
    val pos = 0.9 * (sorted.size - 1)
    val q90 = sorted(pos.toInt) + (pos - pos.toInt) * (sorted(pos.toInt + 1) - sorted(pos.toInt))
    val lo = 500000.0
    val expect = areas.filter(a => a >= lo && a <= q90)
      .groupBy(a => math.min(math.floor((a - lo) * 75.0 / (q90 - lo)), 74.0).toLong)
      .view.mapValues(_.size.toLong).toMap
    val got00 = hist.collect { case ((0L, 0L, b), c) => b -> c }
    assert(got00 === expect)
    assert(got00.values.sum === areas.count(a => a >= lo && a <= q90).toLong)
    // degenerate range: everything in bin 0
    assert(hist.collect { case ((1L, 0L, b), c) => b -> c } === Map(0L -> 3L))
    // group entirely below lo is excluded (no rows at all)
    assert(!hist.keys.exists(_._1 == 2L))

    // the GLOBAL variant (range-partitioned-sort q90) equals the
    // grouped operator run with the keys collapsed to a constant —
    // the bit-match contract that lets report.py's single histogram
    // use the parallel path
    val global = graft.operators.CrownOps.areaHistogramGlobal(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = graft.operators.CrownOps.areaHistogram(
        df.select(lit(0L).as("region"), lit(0L).as("class_idx"), col("area_micro")))
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(global === collapsed)
    assert(global.values.sum === rows.count(_._3 >= 500000L).toLong -
      rows.count(r => r._3 > {
        val s = rows.map(_._3.toDouble).sorted
        val p = 0.9 * (s.size - 1)
        s(p.toInt) + (p - p.toInt) * (s(p.toInt + 1) - s(p.toInt))
      }).toLong)
  }
  test("DotProduct expression bit-matches the aggregate(zip_with) HOF formulation") {
    // the HOF formulation DotProduct replaced — one definition here as
    // the reference; compared on the REAL sf0.01 embeddings (the
    // driver's oracle-gate scale) plus edge shapes
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // float×float (self) and float×double (vs a literal plane) — the
    // two type combinations the ANN suite uses
    val plane = typedlit(Array.tabulate(64)(d => (d * 0.37) - 9.0))
    val cmp = emb.select(
      graft.functions.dot_product(col("embedding"), col("embedding")).as("n1"),
      hofDot(col("embedding"), col("embedding")).as("n2"),
      graft.functions.dot_product(col("embedding"), plane).as("p1"),
      hofDot(col("embedding"), plane).as("p2"))
    // bit-exact: compare raw IEEE bits, not ≈
    val bad = cmp.filter(
      expr("cast(n1 as string) != cast(n2 as string) or cast(p1 as string) != cast(p2 as string)"))
      .count()
    assert(bad === 0L)
    // null semantics: length mismatch and null element both yield NULL
    val edge = spark.sql(
      """SELECT cast(array(1.0, 2.0) as array<float>) a, cast(array(3.0) as array<float>) b
        |UNION ALL SELECT cast(array(1.0, null) as array<float>), cast(array(3.0, 4.0) as array<float>)
        |UNION ALL SELECT cast(array() as array<float>), cast(array() as array<float>)""".stripMargin)
    val e = edge.select(
      graft.functions.dot_product(col("a"), col("b")).as("d1"),
      hofDot(col("a"), col("b")).as("d2")).collect()
    e.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
  }

  test("LangIdPick bit-matches the 8-profile HOF formulation on the oracle-gate corpus") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val edge = Seq(
      (9001L, "the der"),          // en/de tie -> alphabetically first (de)
      (9002L, "le la y"),          // fr 2 vs es 2 ('la' + 'y'?) exercises overlap words
      (9003L, ""),                 // empty -> und
      (9004L, "...!!!   ,,,"),     // punct-only -> und
      (9005L, null.asInstanceOf[String]), // null text -> und
      (9006L, "o a de que e"),     // pt-heavy with es overlaps
      (9007L, "WORD the THE tHe")) // case folding
      .toDF("doc_id", "text")
    for (df <- Seq(real.select("doc_id", "text"), edge)) {
      val a = TextOps.langId(df).select("doc_id", "pred_lang")
      val b = TextOps.langIdHof(df).select("doc_id", "pred_lang")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "LangIdPick diverged from the HOF reference")
    }
  }
  test("PagesGen url/md5 rewrite is byte-identical to the format_string + built-in md5 form") {
    // the column formulation PagesKernel replaced, over an i range that
    // crosses the %08d 8-digit boundary (`Measure stress` reaches i>1e8);
    // once through whole-stage codegen (doGenCode) and once interpreted
    // (eval). The rows come from ranges, not a local relation, so no
    // optimizer rule folds the projection into its own interpreted
    // evaluation.
    val ranges = Seq((0L, 2000L), (99999998L, 100000001L), (240000000L, 240000001L),
      (987654321L, 987654322L))
    val base = ranges.map { case (a, b) => spark.range(a, b) }.reduce(_ union _).toDF("i")
    val urlRef = format_string("https://host-%04d.example/page-%08d", col("i") % 1000, col("i"))
    val langRef = expr(
      """CASE WHEN i % 20 < 10 THEN 'en' WHEN i % 20 < 13 THEN 'de'
        |     WHEN i % 20 < 15 THEN 'fr' WHEN i % 20 < 16 THEN 'es'
        |     WHEN i % 20 < 17 THEN 'zh' WHEN i % 20 < 18 THEN 'ru'
        |     WHEN i % 20 < 19 THEN 'pt' ELSE 'ja' END""".stripMargin)
    val textRef = concat(lit("url="), urlRef, lit(" lang="), langRef, lit(" body="),
      repeat(concat(substring(md5(urlRef), 1, 8), lit(" ")), (lit(1) + col("i") % 7).cast("int")),
      md5(urlRef))
    val ref = base.select(col("i"), urlRef.as("url_ref"), langRef.as("lang_ref"),
      textRef.as("text_ref"), encode(textRef, "utf-8").as("html_ref"))
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> conf.getOption(k))
    try for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> true, "NO_CODEGEN" -> false)) {
      conf.set("spark.sql.codegen.factoryMode", factory)
      conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val got = graft.tables.PagesGen.projectColumns(base)
        .select("i", "url", "lang", "text", "html")
      val plan = got.queryExecution.executedPlan
      assert(plan.toString.contains("pages_text"), s"$factory: kernel not in the plan:\n$plan")
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) === wholeStage, s"$factory:\n$plan")
      val joined = got.join(ref, Seq("i"))
      assert(joined.count() === ranges.map { case (a, b) => b - a }.sum, factory)
      val bad = joined.filter(col("url") =!= col("url_ref") || col("lang") =!= col("lang_ref") ||
        col("text") =!= col("text_ref") || col("html") =!= col("html_ref"))
      assert(bad.count() === 0L, s"$factory: ${bad.take(3).mkString("; ")}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
  test("rasterizeMaxInto is pixel-identical to rasterize + max blend on random polygons") {
    import graft.geom.Raster
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { trial =>
      val rows = 16 + rnd.nextInt(48); val cols = 16 + rnd.nextInt(48)
      val nv = 3 + rnd.nextInt(6)
      // random polygon, sometimes partially outside the mask window
      val cx = rnd.nextDouble() * cols; val cy = rnd.nextDouble() * rows
      val poly = Array.tabulate(2 * nv) { k =>
        val a = math.Pi * 2 * (k / 2) / nv
        val r = 1.0 + rnd.nextDouble() * 14
        if (k % 2 == 0) cx + r * math.cos(a) else cy + r * math.sin(a)
      }
      val v = (1 + rnd.nextInt(255)).toByte
      val pre = Array.fill[Byte](rows * cols)((rnd.nextInt(3) * 60).toByte)
      // reference: full-mask rasterize then explicit max blend
      val ref = pre.clone()
      val m = Raster.rasterize(poly, rows, cols)
      var i = 0
      while (i < m.length) {
        if (m(i) != 0 && (ref(i) & 0xff) < (v & 0xff)) ref(i) = v
        i += 1
      }
      val got = pre.clone()
      Raster.rasterizeMaxInto(poly, rows, cols, got, v)
      assert(java.util.Arrays.equals(ref, got), s"trial $trial diverged")
    }
  }
}
