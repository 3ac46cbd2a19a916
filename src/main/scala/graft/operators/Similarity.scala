package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.CrownOps.mix64

/** Approximate-nearest-neighbor search over an embedding column
  * (vec_id BIGINT, embedding ARRAY<FLOAT>). Brute-force cosine top-k is
  * the correctness baseline (broadcast query side — the scalable shape
  * for "few queries × huge corpus"); random-hyperplane LSH bucketing is
  * the scale path for all-pairs workloads (candidates via bucket
  * equi-join, exactly like the cell-index spatial joins).
  * Dot products run through the codegen'd [[graft.functions.DotProduct]]
  * expression (float/double arrays; bit-identical to the former
  * `aggregate`/`zip_with` HOF fold) — no UDF on the hot path.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. Was the
    * HOF formulation `aggregate(zip_with(a, b, (x, y) => x.castD *
    * y.castD), 0.0, _ + _)` — interpreted lambdas plus an intermediate
    * array per row per pair; the DotProduct expression runs the same
    * left-to-right double fold as one codegen'd static call
    * (bit-identical output, asserted by OpsSpec's HOF-parity test). */
  def dot(a: Column, b: Column): Column = graft.functions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries)
    * the k most similar other vectors. cos_micro = floor(1e6 * cosine)
    * keeps the oracle comparison integer-exact. */
  def cosineTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_micro",
        floor(lit(1e6) * dot(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("nbr_id"), col("cos_micro"))
  }

  /** Random-hyperplane signatures: `nPlanes` deterministic hyperplanes
    * (splitmix64-seeded), signature bit j = sign(v · plane_j). Returns
    * (vec_id, bucket) per band of `bandBits` planes. */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 16, bandBits: Int = 8): DataFrame = {
    val dim = 64
    // deterministic hyperplanes as literal arrays (tiny: nPlanes × dim)
    val planes: Array[Array[Double]] = Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        // uniform in [-1, 1) from splitmix64
        (Math.floorMod(mix64(p.toLong * 1000003L + d), 1000000L) / 500000.0) - 1.0
      }
    }
    val bits: Seq[Column] = (0 until nPlanes).map { p =>
      val pl = typedlit(planes(p))
      when(dot(col("embedding"), pl) > 0, shiftleft(lit(1L), p % bandBits)).otherwise(0L)
    }
    val nBands = nPlanes / bandBits
    val bandCols = (0 until nBands).map { b =>
      bits.slice(b * bandBits, (b + 1) * bandBits).reduce((x, y) => x.bitwiseOR(y))
        .as(s"band$b")
    }
    emb.select(col("vec_id") +: bandCols: _*)
      .select(col("vec_id"), posexplode(array((0 until nBands).map(b => col(s"band$b")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** LSH-accelerated cosine top-k: candidates share an LSH bucket in at
    * least one band; exact cosine re-rank of candidates only. Recall
    * depends on nPlanes/bandBits; ANN by construction (tested ≥0.6
    * recall@10 on the synthetic embeddings vs brute force). */
  def cosineTopKLsh(emb: DataFrame, nQueries: Int, k: Int,
                    nPlanes: Int = 16, bandBits: Int = 8): DataFrame = {
    val buckets = lshBuckets(emb, nPlanes, bandBits)
    val base = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val qb = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
    val cand = qb.join(buckets, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    cand.join(base, Seq("vec_id")).join(broadcast(q), Seq("query_id"))
      .withColumn("cos_micro",
        floor(lit(1e6) * dot(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("nbr_id"), col("cos_micro"))
  }

  /** Nearest-centroid pick (squared L2) — the k-means/IVF inner
    * kernel, over the primitive float array. Ties keep the lowest
    * cluster index (strict <). */
  private def nearestCentroid(e: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      val cent = cents(c)
      while (i < cent.length) {
        val diff = e(i) - cent(i); d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** (vec_id, embedding, cluster) via a typed mapPartitions over the
    * primitive float arrays. This replaced a Scala UDF: the UDF
    * converter materialized a boxed Seq[Float] per row per Lloyd
    * iteration, where the Array[Float] encoder stays primitive end to
    * end. Centroids ride in the closure (tiny: k × dim). */
  private def assignClusters(emb: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, e) => (id, e, nearestCentroid(e, cents)) })
      .toDF("vec_id", "embedding", "cluster")
  }

  /** Deterministic Lloyd k-means over the embedding column (the IVF
    * coarse quantizer): centroids init = the first k vectors (stable),
    * `iters` assign/update rounds. Centroids are tiny (k × dim) so the
    * update side collects to the driver and re-broadcasts — the
    * standard Spark k-means shape. Returns (vec_id, cluster). */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int = 5): DataFrame =
    kmeansWithCentroids(emb, k, iters)._1

  /** k-means returning both assignments and the final centroids (reused
    * by ivfTopK for probe selection — no recomputation). */
  def kmeansWithCentroids(emb: DataFrame, k: Int,
                          iters: Int = 5): (DataFrame, Array[Array[Double]]) = {
    // each Lloyd iteration scans the corpus once — persist for the
    // iteration loop, unpersist before returning (the returned
    // assignment plan then reads the source once, uncached)
    val e = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed from the first k rows BY ORDER (ids need not be 0-based or
    // contiguous)
    var centroids: Array[Array[Double]] = e
      .orderBy("vec_id").limit(k)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(centroids.nonEmpty, "kmeans needs a non-empty embedding table")
    val session = emb.sparkSession
    import session.implicits._
    val dim = centroids(0).length
    var it = 0
    while (it < iters) {
      // FUSED assign + partial-update in ONE narrow pass: the previous
      // shape ran assignClusters then posexplode → groupBy(cluster,
      // pos) → avg — a second full pass over the corpus plus a
      // rows×dim explode and an exchange per Lloyd iteration. Here
      // each partition accumulates (count, sum-vector) per cluster
      // while assigning, and only k×(dim+1) scalars per partition are
      // collected. Centroid means combine per-partition sums in
      // partition order — a different (and at least as deterministic)
      // summation order than the hash-agg merge, shifting means by
      // ≤ ~1e-13 relative: four orders below the measured 3.7e-6
      // argmin margin (see SparkEntry.kmeansSqlCtes), so assignments
      // and all integer outputs are unchanged (oracle-checked).
      val cents = centroids
      val partials = e.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions { rows =>
          val counts = new Array[Long](cents.length)
          val sums = Array.ofDim[Double](cents.length, dim)
          rows.foreach { case (_, emb) =>
            val c = nearestCentroid(emb, cents)
            counts(c) += 1
            val s = sums(c)
            var i = 0
            while (i < dim) { s(i) += emb(i); i += 1 }
          }
          Iterator.range(0, cents.length)
            .filter(counts(_) > 0)
            .map(c => (c, counts(c), sums(c)))
        }.collect()
      val totCount = new Array[Long](centroids.length)
      val totSum = Array.ofDim[Double](centroids.length, dim)
      partials.foreach { case (c, n, s) =>
        totCount(c) += n
        var i = 0
        while (i < dim) { totSum(c)(i) += s(i); i += 1 }
      }
      val next = centroids.map(_.clone())
      var c = 0
      while (c < next.length) {
        if (totCount(c) > 0) {
          var i = 0
          while (i < dim) { next(c)(i) = totSum(c)(i) / totCount(c); i += 1 }
        }
        c += 1
      }
      centroids = next
      it += 1
    }
    e.unpersist()
    (assignClusters(emb, centroids)
      .select(col("vec_id"), col("cluster")), centroids)
  }

  /** IVF top-k: k-means coarse quantizer; each query probes its
    * `nProbe` nearest clusters (by centroid distance) and exact-ranks
    * only those clusters' vectors — the inverted-file ANN scale path
    * (complement to the LSH variant). */
  def ivfTopK(emb: DataFrame, nQueries: Int, topK: Int,
              k: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame = {
    val (_, cents) = kmeansWithCentroids(emb, k, iters)
    // the IVF "index build": assign each corpus vector its cluster ONCE
    // and materialize (localCheckpoint — eager, freed on GC; a real
    // deployment commits this through IcebergLite instead). The
    // previous emb⨝assignment join re-ran the assignment UDF over the
    // corpus a second time.
    val withCluster = assignClusters(emb, cents)
      .localCheckpoint()
    // empty clusters keep a stale (seed) centroid near real data —
    // replace with an unreachable sentinel so probes never pick them
    val nonEmpty = withCluster.groupBy("cluster").count()
      .collect().map(_.getInt(0)).toSet
    val dim = cents(0).length
    val far = Array.fill(dim)(1e18)
    val centArr = Array.tabulate(cents.length)(c =>
      if (nonEmpty.contains(c)) cents(c) else far)
    val probeUdf = udf((e: Seq[Float]) => {
      centArr.indices.map { c =>
        var d = 0.0; var i = 0
        while (i < centArr(c).length) {
          val diff = e(i) - centArr(c)(i); d += diff * diff; i += 1
        }
        (d, c)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    val base = withCluster.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), col("cluster"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), explode(probeUdf(col("embedding"))).as("cluster"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    base.join(broadcast(q), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_micro",
        floor(lit(1e6) * dot(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("nbr_id"), col("cos_micro"))
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ thrMicro/1e6) via LSH
    * candidates — the embedding flavor of the dedup suite. */
  def cosineNearDupPairs(emb: DataFrame, thrMicro: Long = 950000L,
                         nPlanes: Int = 16, bandBits: Int = 8): DataFrame = {
    val buckets = lshBuckets(emb, nPlanes, bandBits)
    val base = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val cand = buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b")).distinct()
    cand
      .join(base.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na")), Seq("a"))
      .join(base.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cos_micro",
        floor(lit(1e6) * dot(col("ea"), col("eb")) / (col("na") * col("nb"))).cast("long"))
      .filter(col("cos_micro") >= thrMicro)
      .select("a", "b", "cos_micro")
  }
}
