package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.geom.{Geom, Overlay}

/** Exact vector overlay (U2): union/intersection/difference against
  * analytic results, degenerate cases (shared edges, containment,
  * disjoint), the float donut (hole formation with exact vertices),
  * validity-gated makeValid, and sampled properties (associativity,
  * inclusion-exclusion, membership agreement). */
class OverlaySpec extends AnyFunSuite {

  private def forSamples[A](gen: Gen[A], n: Int = 120)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(1234L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
    Array(x0, y0, x1, y0, x1, y1, x0, y1)

  test("union of two overlapping rectangles: exact area + exact crossing vertices") {
    // non-integer coords everywhere — nothing here survives a pixel grid
    val a = rect(0.25, 0.25, 10.75, 10.75)
    val b = rect(5.5, 5.5, 16.25, 16.25)
    val u = Overlay.union(Seq(a, b))
    assert(u.size === 1)
    val exp = Geom.area(a) + Geom.area(b) - (10.75 - 5.5) * (10.75 - 5.5)
    assert(math.abs(Overlay.areaOf(u) - exp) < 1e-9)
    // the two crossing vertices are the EXACT double intersections
    val pts = u.head.grouped(2).map(p => (p(0), p(1))).toSet
    assert(pts.contains((10.75, 5.5)) && pts.contains((5.5, 10.75)))
    // original corners pass through bit-identical
    assert(pts.contains((0.25, 0.25)) && pts.contains((16.25, 16.25)))
  }

  test("disjoint polygons: union returns both exactly; intersection empty") {
    val a = rect(0.1, 0.1, 5.3, 5.3)
    val b = rect(100.7, 100.7, 105.9, 105.9)
    val u = Overlay.union(Seq(a, b))
    assert(u.size === 2)
    assert(math.abs(Overlay.areaOf(u) - (Geom.area(a) + Geom.area(b))) < 1e-9)
    assert(Overlay.intersection(Seq(a), Seq(b)).isEmpty)
  }

  test("containment: union = outer, intersection = inner, difference forms a hole") {
    val outer = rect(0.5, 0.5, 20.5, 20.5)
    val inner = rect(5.25, 5.25, 10.75, 10.75)
    assert(math.abs(Overlay.areaOf(Overlay.union(Seq(outer, inner))) - Geom.area(outer)) < 1e-9)
    assert(math.abs(Overlay.areaOf(Overlay.intersection(Seq(outer), Seq(inner))) - Geom.area(inner)) < 1e-9)
    val diff = Overlay.difference(Seq(outer), Seq(inner))
    assert(diff.size === 2) // outer CCW ring + CW hole
    assert(math.abs(Overlay.areaOf(diff) - (Geom.area(outer) - Geom.area(inner))) < 1e-9)
    assert(diff.count(Geom.signedArea(_) > 0) === 1)
    assert(diff.count(Geom.signedArea(_) < 0) === 1)
  }

  test("float donut: U-shape + cap union forms a hole with exact vertices") {
    // U-shape: outer frame minus a notch open at the top; cap closes it.
    // All coords fractional. Union = frame with a rectangular hole.
    val u = Array( // CCW U (concave octagon)
      0.25, 0.25, 12.75, 0.25, 12.75, 12.25, 8.5, 12.25,
      8.5, 4.5, 4.5, 4.5, 4.5, 12.25, 0.25, 12.25)
    val cap = rect(0.25, 10.0, 12.75, 12.25) // closes the notch mouth
    val res = Overlay.unionOf(Seq(u), Seq(cap))
    assert(res.size === 2, s"expected outer + hole, got ${res.size}")
    val hole = res.find(Geom.signedArea(_) < 0).get
    // the hole is the unclosed part of the notch: x in (4.5, 8.5), y in (4.5, 10.0)
    assert(math.abs(-Geom.signedArea(hole) - (8.5 - 4.5) * (10.0 - 4.5)) < 1e-9)
    val holePts = hole.grouped(2).map(p => (p(0), p(1))).toSet
    assert(holePts === Set((4.5, 4.5), (8.5, 4.5), (8.5, 10.0), (4.5, 10.0)))
    // area via inclusion-exclusion with the exact intersection
    val inter = Overlay.intersection(Seq(u), Seq(cap))
    assert(math.abs(Overlay.areaOf(res) -
      (Geom.area(u) + Geom.area(cap) - Overlay.areaOf(inter))) < 1e-9)
  }

  test("identical polygons and shared edges (degenerate overlaps)") {
    val a = rect(1.5, 1.5, 9.5, 9.5)
    // identical union = the square itself
    val same = Overlay.union(Seq(a, a.clone()))
    assert(same.size === 1)
    assert(math.abs(Overlay.areaOf(same) - Geom.area(a)) < 1e-9)
    // edge-adjacent squares: union is the combined rectangle, shared
    // edge removed
    val b = rect(9.5, 1.5, 17.5, 9.5)
    val u = Overlay.union(Seq(a, b))
    assert(u.size === 1)
    assert(math.abs(Overlay.areaOf(u) - (Geom.area(a) + Geom.area(b))) < 1e-9)
    // no interior vertex at the removed shared edge's midpoint side
    assert(math.abs(Overlay.areaOf(u) - (17.5 - 1.5) * (9.5 - 1.5)) < 1e-9)
  }

  test("makeValid: valid ring passes through bit-identical (sub-pixel preserved)") {
    val tiny = Array(0.1, 0.1, 0.35, 0.12, 0.2, 0.4) // far below one pixel
    val out = Geom.makeValid(Seq(tiny))
    assert(out.size === 1 && (out.head sameElements tiny))
  }

  test("makeValid: bowtie resolves to its two lobes with EXACT crossing vertex") {
    // bowtie crossing at exactly (5.25, 5.25)
    val bowtie = Array(0.25, 0.25, 10.25, 10.25, 10.25, 0.25, 0.25, 10.25)
    assert(!Geom.isSimpleRing(bowtie))
    val fixed = Geom.makeValid(Seq(bowtie))
    assert(fixed.size === 2)
    val lobeArea = 0.5 * 10.0 * 5.0 // triangle: base 10 (vertical side), height 5
    assert(math.abs(Overlay.areaOf(fixed) - 2 * lobeArea) < 1e-9)
    fixed.foreach { lobe =>
      val pts = lobe.grouped(2).map(p => (p(0), p(1))).toSet
      assert(pts.contains((5.25, 5.25)), s"crossing vertex not exact: $pts")
    }
  }

  private val genConvex: Gen[Array[Double]] = for {
    n <- Gen.choose(3, 8)
    cx <- Gen.choose(30.0, 170.0)
    cy <- Gen.choose(30.0, 170.0)
    pts <- Gen.listOfN(2 * n, Gen.choose(-28.0, 28.0))
  } yield Geom.convexHull(pts.grouped(2).map { case List(dx, dy) =>
    List(cx + dx, cy + dy) }.flatten.toArray)

  test("property: union area matches Monte-Carlo membership on random polygon pairs") {
    val rnd = new scala.util.Random(7)
    forSamples(Gen.zip(genConvex, genConvex), n = 60) { case (a, b) =>
      if (a.length >= 6 && b.length >= 6) {
        val u = Overlay.union(Seq(a, b))
        // membership agreement on random probe points
        (0 until 40).foreach { _ =>
          val px = rnd.nextDouble() * 200; val py = rnd.nextDouble() * 200
          val inInput = Geom.containsPoint(a, px, py) || Geom.containsPoint(b, px, py)
          assert(Overlay.parityInside(u, px, py) === inInput,
            s"membership mismatch at ($px,$py)")
        }
        // inclusion-exclusion ties union to intersection exactly
        val inter = Overlay.intersection(Seq(a), Seq(b))
        assert(math.abs(Overlay.areaOf(u) -
          (Geom.area(a) + Geom.area(b) - Overlay.areaOf(inter))) < 1e-6,
          "inclusion-exclusion violated")
      }
    }
  }

  test("property: many-box integer union area equals exact cell counting") {
    // the geo_union_area workload shape at per-call scale (hundreds of
    // rings in one overlay) — drives the grid candidate pruning and
    // the bucketed parity index hard, against an independent exact
    // answer: integer boxes cover an exactly countable set of unit
    // cells, and the traced signed-area sum must equal that count
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { _ =>
      val boxes = (0 until 120).map { _ =>
        (rnd.nextInt(24), rnd.nextInt(24), 2 + rnd.nextInt(7), 2 + rnd.nextInt(5))
      }
      val cells = boxes.flatMap { case (x0, y0, w, h) =>
        for (a <- 0 until w; b <- 0 until h) yield (x0 + a, y0 + b)
      }.toSet
      val u = Overlay.union(boxes.map { case (x0, y0, w, h) =>
        rect(x0, y0, x0 + w, y0 + h) })
      assert(math.round(Overlay.areaOf(u)) === cells.size)
    }
  }

  test("domain-spanning sliver among short edges: grid outlier path stays exact") {
    // one 2000-unit-long edge next to ~unit-scale edges drives the
    // mean-extent cell size tiny relative to the sliver — the case
    // where naive grid insertion would allocate O(cells) entries for
    // that edge; the outlier path must keep the SAME candidate pairs,
    // checked here against exact integer cell counting (the second
    // sliver crosses the box field, so outlier↔short-edge
    // intersections are exercised, not just disjoint coexistence)
    val rnd = new scala.util.Random(9)
    val boxes = (0 until 150).map { _ =>
      (rnd.nextInt(24), rnd.nextInt(24), 2 + rnd.nextInt(7), 2 + rnd.nextInt(5))
    }
    val slivers = Seq((0, 100, 2000, 1), (-1000, 10, 2000, 1))
    val cells = (boxes ++ slivers).flatMap { case (x0, y0, w, h) =>
      for (a <- 0 until w; b <- 0 until h) yield (x0 + a, y0 + b)
    }.toSet
    val u = Overlay.union((boxes ++ slivers).map { case (x0, y0, w, h) =>
      rect(x0, y0, x0 + w, y0 + h) })
    assert(math.round(Overlay.areaOf(u)) === cells.size)
  }

  test("property: union is associative (area + membership) on random triples") {
    forSamples(Gen.zip(genConvex, genConvex, genConvex), n = 40) { case (a, b, c) =>
      if (a.length >= 6 && b.length >= 6 && c.length >= 6) {
        val left = Overlay.unionOf(Overlay.unionOf(Seq(a), Seq(b)), Seq(c))
        val right = Overlay.unionOf(Seq(a), Overlay.unionOf(Seq(b), Seq(c)))
        assert(math.abs(Overlay.areaOf(left) - Overlay.areaOf(right)) < 1e-6,
          "associativity violated (area)")
        val flat = Overlay.union(Seq(a, b, c))
        assert(math.abs(Overlay.areaOf(left) - Overlay.areaOf(flat)) < 1e-6,
          "n-ary union disagrees with folded binary unions")
      }
    }
  }

  test("property: difference + intersection partition the subject") {
    forSamples(Gen.zip(genConvex, genConvex), n = 60) { case (a, b) =>
      if (a.length >= 6 && b.length >= 6) {
        val d = Overlay.areaOf(Overlay.difference(Seq(a), Seq(b)))
        val i = Overlay.areaOf(Overlay.intersection(Seq(a), Seq(b)))
        assert(math.abs((d + i) - Geom.area(a)) < 1e-6,
          s"difference+intersection != subject: $d + $i vs ${Geom.area(a)}")
      }
    }
  }

  /** SHA-256 prefix over every output, ring and double, in order
    * (ring counts, ring lengths and raw double bits all feed it). */
  private def ringsHash(outs: Seq[Seq[Array[Double]]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def put(l: Long): Unit = { bb.clear(); bb.putLong(l); md.update(bb.array()) }
    outs.foreach { rs =>
      put(rs.length)
      rs.foreach { r => put(r.length); r.foreach(d => put(java.lang.Double.doubleToRawLongBits(d))) }
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** The spatial_join union input of one 256-px cell: integer boxes
    * 6-38 px a side around uniform page points, plus `hot` boxes around
    * the dense 13×11-px spot. */
  private def joinCell(rnd: scala.util.Random, n: Int, hot: Int): IndexedSeq[Array[Double]] =
    (0 until n + hot).map { k =>
      val (x, y) =
        if (k < n) (rnd.nextInt(256), rnd.nextInt(256))
        else (100 + k % 13, 120 + k % 11)
      rect(x - 3 - rnd.nextInt(17), y - 3 - rnd.nextInt(13),
        x + 3 + rnd.nextInt(17), y + 3 + rnd.nextInt(17))
    }

  /** A star-shaped ring with fractional vertices whose spikes can
    * cross (a self-intersecting input for resolve). */
  private def star(rnd: scala.util.Random, n: Int): Array[Double] =
    (0 until n).flatMap { k =>
      val a = 2 * math.Pi * (k + rnd.nextDouble() * 1.5) / n
      val r = 5 + rnd.nextDouble() * 45
      Seq(100 + r * math.cos(a), 100 + r * math.sin(a))
    }.toArray

  test("golden: exact overlay output is bit-pinned on seeded join and compaction shapes") {
    val got = (1 to 3).map { seed =>
      val rnd = new scala.util.Random(seed)
      val cell = joinCell(rnd, 110, 40)
      val single = Overlay.unionGroups(cell.map(Seq(_)))
      // compaction shape: one traced head group plus ~40 single boxes
      val head = Overlay.unionGroups(cell.take(80).map(Seq(_)))
      val compact = Overlay.unionGroups(head +: joinCell(rnd, 40, 0).map(Seq(_)))
      val a = Overlay.unionGroups(joinCell(rnd, 50, 10).map(Seq(_)))
      val b = Overlay.unionGroups(joinCell(rnd, 50, 0).map(Seq(_)))
      val stars = Seq(star(rnd, 9), star(rnd, 17))
      val c = genConvex(Gen.Parameters.default, org.scalacheck.rng.Seed(seed.toLong)).get
      val d = genConvex(Gen.Parameters.default, org.scalacheck.rng.Seed(seed + 100L)).get
      // near-coincident vertices: each coordinate moved by under a third
      // of the weld tolerance, so welding, not bit equality, merges the
      // corners and edges the boxes share
      val jittered = cell.map(_.map(v => v + (rnd.nextDouble() - 0.5) * 2e-7))
      ringsHash(Seq(single, compact, Overlay.unionGroups(jittered.map(Seq(_))),
        Overlay.unionOf(a, b), Overlay.intersection(a, b), Overlay.difference(a, b),
        Overlay.unionOf(Seq(c), Seq(d)), Overlay.intersection(Seq(c), Seq(d)),
        Overlay.difference(Seq(c), Seq(d)),
        Overlay.resolve(stars.take(1)), Overlay.resolve(stars), Overlay.resolve(compact)))
    }
    // recorded on the kernel before the pruned classification and
    // primitive-keyed welding went in; any drift is a behaviour change
    assert(got === Seq("61de458731502c87", "f01db04b2d801bdf", "011d2699fb08c942"))
  }

  /** Distance from (px, py) to segment (ax, ay)-(bx, by). */
  private def segDist(px: Double, py: Double, ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val l2 = dx * dx + dy * dy
    val t = if (l2 == 0) 0.0 else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / l2))
    math.hypot(px - ax - t * dx, py - ay - t * dy)
  }

  /** Seeded degenerate group sets around `base`, at a unit `u`:
    * grid-aligned boxes sharing edges, duplicate and collinear
    * vertices, a box with a hole, zero-area rings, empty groups, a
    * self-intersecting star and fractional boxes. */
  private def degenerateGroups(rnd: scala.util.Random, base: Double, u: Double): IndexedSeq[Seq[Array[Double]]] = {
    def p(k: Double) = base + k * u
    def box(x0: Double, y0: Double, x1: Double, y1: Double) = rect(p(x0), p(y0), p(x1), p(y1))
    val gx = rnd.nextInt(4); val gy = rnd.nextInt(4)
    val shared = (0 until 3).map(k => Seq(box(gx + 4 * k, gy, gx + 4 * k + 4, gy + 4)))
    val dupCollinear = Array(p(1), p(1), p(1), p(1), p(3), p(1), p(6), p(1),
      p(6), p(5), p(6), p(5), p(1), p(5), p(1), p(3))
    val holed = Seq(box(2, 2, 10, 9), box(4, 4, 7, 6))
    val flat = Array(p(0), p(7), p(5), p(7), p(11), p(7))    // zero area, horizontal
    val needle = Array(p(8), p(0), p(8), p(5), p(8), p(12))  // zero area, vertical
    val starRing = star(rnd, 7).map(c => base + (c - 100) / 10 * u)
    val frac = (0 until 4).map { _ =>
      val x = rnd.nextInt(10) + rnd.nextDouble(); val y = rnd.nextInt(10) + rnd.nextDouble()
      Seq(box(x, y, x + 1 + rnd.nextDouble() * 3, y + 1 + rnd.nextDouble() * 3))
    }
    rnd.shuffle(shared ++ frac ++ IndexedSeq(Seq(dupCollinear), holed, Seq(flat), Seq(needle),
      Seq(starRing), Seq.empty, Seq(Array(p(1), p(2))))).toIndexedSeq
  }

  test("fuzz: pruned coverage equals parityInside at and around every group bbox") {
    val rnd = new scala.util.Random(20261017)
    for (base <- Seq(0.0, 1e6, 1e9); _ <- 0 until 4) {
      val u = math.max(1.0, base * 1e-4)
      val groups = degenerateGroups(rnd, base, u)
      val eps = Overlay.weldEpsOf(groups)
      val cov = new Overlay.Coverage(groups, eps)
      def check(px: Double, py: Double): Unit = {
        val want = groups.map(Overlay.parityInside(_, px, py))
        cov.at(px, py)
        groups.indices.foreach(g => assert(cov(g) === want(g), s"group $g at ($px, $py), base $base"))
        assert(cov.any === want.contains(true), s"any at ($px, $py), base $base")
      }
      // every bbox edge, on it and within / just beyond eps of it
      val offsets = Seq(0.0, eps / 2, eps, 2 * eps, -eps / 2, -eps, -2 * eps)
      groups.foreach { g =>
        val vs = g.filter(_.length >= 6).flatMap(_.grouped(2).map(v => (v(0), v(1))))
        if (vs.nonEmpty) {
          val (x0, x1) = (vs.map(_._1).min, vs.map(_._1).max)
          val (y0, y1) = (vs.map(_._2).min, vs.map(_._2).max)
          val xs = Seq(x0, x1, (x0 + x1) / 2).flatMap(x => offsets.map(x + _)) ++
            Seq(math.nextDown(x0 - eps), math.nextUp(x1 + eps))
          val ys = Seq(y0, y1, (y0 + y1) / 2).flatMap(y => offsets.map(y + _)) ++
            Seq(math.nextDown(y0 - eps), math.nextUp(y1 + eps))
          for (x <- xs; y <- ys) check(x, y)
          vs.foreach { case (x, y) => offsets.foreach(o => check(x + o, y - o)) }
        }
      }
      (0 until 300).foreach(_ => check(base + (rnd.nextDouble() * 20 - 2) * u, base + (rnd.nextDouble() * 20 - 2) * u))
      // and the overlays built on it, at sampled points clear of every
      // input edge (within the weld tolerance the boundary may move)
      val edges = groups.flatten.filter(_.length >= 6).flatMap { r =>
        val n = r.length / 2
        (0 until n).map(i => (r(2 * i), r(2 * i + 1), r(2 * ((i + 1) % n)), r(2 * ((i + 1) % n) + 1)))
      }
      val union = Overlay.unionGroups(groups)
      val inter = Overlay.intersection(groups(0), groups(1))
      val diff = Overlay.difference(groups(0), groups(1))
      val res = Overlay.resolve(groups.flatten)
      (0 until 300).foreach { _ =>
        val px = base + (rnd.nextDouble() * 20 - 2) * u; val py = base + (rnd.nextDouble() * 20 - 2) * u
        if (edges.forall { case (ax, ay, bx, by) => segDist(px, py, ax, ay, bx, by) > 1e3 * eps }) {
          val in = groups.map(Overlay.parityInside(_, px, py))
          assert(Overlay.parityInside(union, px, py) === in.contains(true), s"union at ($px, $py)")
          assert(Overlay.parityInside(inter, px, py) === (in(0) && in(1)), s"intersection at ($px, $py)")
          assert(Overlay.parityInside(diff, px, py) === (in(0) && !in(1)), s"difference at ($px, $py)")
          assert(Overlay.parityInside(res, px, py) === Overlay.parityInside(groups.flatten, px, py),
            s"resolve at ($px, $py)")
        }
      }
    }
  }

  /** Rings as a comparable set: each rotated to start at its least
    * vertex; the multiset sorted. */
  private def canonical(rings: Seq[Array[Double]]): Seq[Seq[Double]] =
    rings.map { r =>
      val pts = r.grouped(2).map(v => (v(0), v(1))).toIndexedSeq
      val k = pts.indices.minBy(i => pts(i))
      (pts.drop(k) ++ pts.take(k)).flatMap { case (x, y) => Seq(x, y) }
    }.sortBy(_.mkString(","))

  private def aggRings(rows: Seq[Seq[Double]], partitions: Int): Seq[Array[Double]] = {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.createDataset(rows).toDF("poly").repartition(partitions)
      .agg(graft.functions.UnionAggApi.st_union_agg(col("poly")).as("u"))
      .head().getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toSeq
  }

  test("st_union_agg: merge-side and partial-side compaction give the local union's rings") {
    // the spatial_join shape: 150 integer boxes of one 256-px cell, plus
    // its dense hot spot
    val rows = joinCell(new scala.util.Random(77), 150, 50).map(_.toSeq)
    val local = canonical(Overlay.unionGroups(rows.map(r => Seq(r.toArray)).toIndexedSeq))
    // 10 round-robin partitions hold 20 rows each, under CompactAt (32):
    // every partial is uncompacted and all compaction happens in merge
    assert(canonical(aggRings(rows, 10)) === local)
    // 2 partitions hold 100 rows each: the partials compact while
    // reducing, and merge joins two traced heads
    assert(canonical(aggRings(rows, 2)) === local)
  }

  test("st_union_agg: true Aggregator union equals the local overlay, across partitions") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 40 overlapping squares per group → buffer compaction (CompactAt=32)
    // exercises the map-side-combine path; 8 partitions force merges
    val rows = for (g <- 0 until 3; i <- 0 until 40) yield {
      val x0 = 10.0 * g * 100 + i * 2.5; val y0 = i * 1.75
      (g, Seq(x0, y0, x0 + 6.5, y0, x0 + 6.5, y0 + 6.5, x0, y0 + 6.5))
    }
    val df = spark.createDataset(rows).toDF("g", "poly").repartition(8)
    val got = df.groupBy(col("g"))
      .agg(graft.functions.UnionAggApi.st_union_agg(col("poly")).as("u"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray)).toMap
    (0 until 3).foreach { g =>
      val local = Overlay.union(rows.filter(_._1 == g).map(_._2.toArray))
      assert(math.abs(Overlay.areaOf(got(g).toSeq) - Overlay.areaOf(local)) < 1e-6,
        s"group $g aggregate union drifted from local overlay")
    }
  }

  test("SQL surface: st_union / st_intersection / st_difference / st_make_valid") {
    val spark = SparkTestBase.spark
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  aggregate(transform(st_union(array(0.5D,0.5D,10.5D,0.5D,10.5D,10.5D,0.5D,10.5D),
        |                               array(5.5D,5.5D,15.5D,5.5D,15.5D,15.5D,5.5D,15.5D)),
        |            r -> st_area(r)), 0D, (acc, x) -> acc + x) AS union_area,
        |  size(st_make_valid(array(0D,0D,10D,10D,10D,0D,0D,10D))) AS n_lobes,
        |  size(st_intersection(array(0D,0D,4D,0D,4D,4D,0D,4D),
        |                       array(10D,10D,14D,10D,14D,14D,10D,14D))) AS empty_inter
        |""".stripMargin).head()
    // union area: 100 + 100 - 25 = 175 (st_area is unsigned; no holes here)
    assert(math.abs(row.getDouble(0) - 175.0) < 1e-9)
    assert(row.getInt(1) === 2 && row.getInt(2) === 0)
    // the union AGGREGATE from SQL: three overlapping unit-offset
    // squares in one group
    val agg = spark.sql(
      """SELECT aggregate(transform(st_union_agg(poly), r -> st_area(r)),
        |                 0D, (a, x) -> a + x) AS area
        |FROM VALUES (array(0D,0D,10D,0D,10D,10D,0D,10D)),
        |            (array(5D,0D,15D,0D,15D,10D,5D,10D)),
        |            (array(10D,0D,20D,0D,20D,10D,10D,10D)) AS t(poly)""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(agg - 200.0) < 1e-9)
  }
}
