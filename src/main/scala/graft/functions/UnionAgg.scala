package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, Encoder, Encoders, functions => F}

import graft.geom.Overlay

/** Exact polygon-union AGGREGATE (X3) as a true Catalyst `Aggregator`
  * — `unary_union` as a group-by aggregate with map-side partial
  * aggregation, built on the exact vector overlay.
  *
  * Buffer = ONE flat byte array encoding a list of even-odd ring
  * GROUPS (each group is one valid polygon-with-holes description):
  * `[nGroups][headWord][group…]`, group = `[nRings][ring…]`,
  * ring = `[nDoubles][doubles…]`, all little-endian. `headWord` is the
  * first (head) group's byte length, with its top bit set when that
  * group is a traced overlay result (a compaction's output). The
  * binary buffer is deliberate: Spark serializes aggregation buffers on every
  * partial-row update, and a nested `Seq[Seq[Seq[Double]]]` paid
  * Catalyst's recursive collection encoder per input row — measured at
  * sf0.1 that overhead exceeded the overlay math itself. BinaryType
  * passes through untouched, and reduce/merge are O(existing bytes)
  * array copies with no per-ring boxing.
  *
  * reduce appends the incoming ring as its own group; merge
  * concatenates; past `CompactAt` groups the buffer COMPACTS by
  * unioning into a single traced group — geometrically (only once the
  * uncompacted tail carries at least as many bytes as the traced
  * head), so each ring is re-traced O(log n) times. finish() returns
  * traced rings (outer CCW, holes CW): a buffer that is exactly one
  * traced group is already that, so its rings are returned as stored
  * (the flag travels in the bytes, through Spark's partial → final
  * exchange); any other buffer is unioned once more. Groups often end
  * that way: a cell whose rings all sat in one map partition compacts
  * there and reaches finish() as one traced group.
  *
  * Two usage shapes, both correct: `groupBy(key).agg(...)` gets
  * map-side partial aggregation — DENSE groups (many rings per group
  * per input partition) compact before the shuffle and ship small
  * buffers; with SPARSE groups the partials are singletons anyway,
  * and AQE's size-based coalescing can then squeeze the CPU-heavy
  * reduce into few partitions — there, `repartition(n, key)` first
  * (exempt from coalescing) keeps the overlay parallel at the cost of
  * shuffling raw rings (see geo_union_area, which measured 2.1×
  * faster that way at its sparse benchmark shape).
  *
  * Cost: without that repartition, a union whose partials are small
  * (many keys of ~100 rings each, e.g. integer boxes per 256-px cell)
  * shuffles so few bytes that AQE coalesces the whole reduce into ONE
  * task — every merge, compaction and finish() then runs on a single
  * core, and the overlay kernel's speed is the stage's wall time.
  * Code here cannot widen that reduce:
  *   - AQE's `CoalesceShufflePartitions` (with `parallelismFirst`)
  *     targets max(1 MB `minPartitionSize`, shuffle bytes / cores),
  *     judged from map-output bytes alone, session-wide;
  *   - neither an `Aggregator` nor a `TypedImperativeAggregate`
  *     chooses its own exchange; the only exchange exempt from
  *     coalescing is the caller's `repartition(n, key)`;
  *   - a planner rule needs no session extension (a Strategy or an
  *     optimizer rule installs at run time through the session's
  *     `experimental.extraStrategies` / `extraOptimizations`), but a
  *     function call that installs one changes session state for every
  *     later query, and the rule would shuffle raw rings instead of
  *     partials (ROADMAP direction 4 weighs this).
  * So the lever is the reduce's CPU. Two ways to move work were
  * measured and lost: tracing every ring once in finish() (no
  * compaction under 64 KB) lost 2 of 3 perfbench `spatial_join`
  * pairs, and tracing the map-side partials cut a replayed reduce by
  * only ~25% while adding map CPU. What is kept: finish() returns a
  * traced single group untouched, and each compaction hands
  * `Overlay.unionGroups` one large traced head group plus tens of
  * single-ring groups, whose classification asks only the groups
  * whose bbox is near each sample point (`Overlay.Coverage`) — a
  * compaction costs about one re-trace of the head, not head
  * fragments × groups.
  *
  * A traced overlay result is itself a valid even-odd group (holes are
  * CW rings whose parity cancels), which is what makes compaction
  * closed under merge.
  */
object UnionAgg extends Aggregator[Seq[Double], Array[Byte], Seq[Seq[Double]]] {

  private val CompactAt = 32
  private val Header = 8 // nGroups + headWord
  /** The head-word bit marking a traced head group. */
  private val TracedHead = Int.MinValue

  val empty: Array[Byte] = {
    val b = ByteBuffer.allocate(Header).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(0).putInt(0)
    b.array()
  }

  private def nGroups(b: Array[Byte]): Int =
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt(0)

  private def headWord(b: Array[Byte]): Int =
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt(4)

  private def headBytes(b: Array[Byte]): Int = headWord(b) & ~TracedHead

  /** Whether `b` is exactly one group, and that group is traced. */
  private[graft] def tracedOnly(b: Array[Byte]): Boolean =
    nGroups(b) == 1 && (headWord(b) & TracedHead) != 0

  /** One group holding one ring, as raw block bytes. */
  private def ringBlock(ring: Seq[Double]): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + 8 * ring.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(1).putInt(ring.length)
    ring.foreach(out.putDouble)
    out.array()
  }

  private def withAppended(b: Array[Byte], block: Array[Byte], addGroups: Int): Array[Byte] = {
    val out = java.util.Arrays.copyOf(b, b.length + block.length)
    System.arraycopy(block, 0, out, b.length, block.length)
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    val n0 = bb.getInt(0)
    bb.putInt(0, n0 + addGroups)
    if (n0 == 0) bb.putInt(4, block.length) // first group defines the head
    out
  }

  private def decode(b: Array[Byte]): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt(0)
    bb.position(Header)
    (0 until n).map { _ =>
      val nRings = bb.getInt()
      (0 until nRings).map { _ =>
        val len = bb.getInt()
        val ring = new Array[Double](len)
        var k = 0
        while (k < len) { ring(k) = bb.getDouble(); k += 1 }
        ring
      }
    }
  }

  /** A buffer of one traced group: an overlay result's rings. */
  private def encodeOne(group: Seq[Array[Double]]): Array[Byte] = {
    val bytes = 4 + group.iterator.map(r => 4 + 8 * r.length).sum
    val out = ByteBuffer.allocate(Header + bytes).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(1).putInt(bytes | TracedHead)
    out.putInt(group.size)
    group.foreach { r =>
      out.putInt(r.length)
      var k = 0
      while (k < r.length) { out.putDouble(r(k)); k += 1 }
    }
    out.array()
  }

  override def zero: Array[Byte] = empty

  override def reduce(b: Array[Byte], ring: Seq[Double]): Array[Byte] =
    if (ring == null || ring.length < 6) b
    else maybeCompact(withAppended(b, ringBlock(ring), addGroups = 1))

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    if (nGroups(b2) == 0) b1
    else if (nGroups(b1) == 0) b2
    else maybeCompact(withAppended(b1,
      java.util.Arrays.copyOfRange(b2, Header, b2.length), addGroups = nGroups(b2)))
  }

  /** Geometric compaction: past `CompactAt` groups, only re-trace once
    * the UNCOMPACTED tail carries at least as many bytes as the traced
    * head — the head at least doubles between compactions, so each
    * ring is re-traced O(log n) times; the buffer stays within ~2× the
    * traced result's size, keeping the map-side-combine benefit. */
  private def maybeCompact(b: Array[Byte]): Array[Byte] = {
    if (nGroups(b) <= CompactAt) b
    else {
      val head = headBytes(b)
      val tail = b.length - Header - head
      if (tail >= head) encodeOne(Overlay.unionGroups(decode(b)))
      else b
    }
  }

  /** Output rings are canonical (outer CCW, holes CW, exact vertices)
    * regardless of input orientation: a traced single group already
    * is, anything else (a raw ring included) is re-traced. */
  override def finish(b: Array[Byte]): Seq[Seq[Double]] =
    if (nGroups(b) == 0) Nil
    else if (tracedOnly(b)) decode(b).head.map(_.toSeq)
    else Overlay.unionGroups(decode(b)).map(_.toSeq)

  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  // built once: deriving it reflects over the type on every call
  override lazy val outputEncoder: Encoder[Seq[Seq[Double]]] = ExpressionEncoder()
}

object UnionAggApi {
  /** DataFrame-facing column: `df.groupBy(...).agg(st_union_agg($"poly"))`. */
  def st_union_agg(ring: Column): Column = F.udaf(UnionAgg).apply(ring)
}
