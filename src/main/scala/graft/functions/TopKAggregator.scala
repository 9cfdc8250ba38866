package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, expr, udaf}
import graft.Exact

/** One scored neighbor candidate flowing into the top-k aggregate.
  * (Top-level public case class: Janino-generated encoder code cannot access
  * nested/private classes.) */
case class Neighbor(c_id: Long, label: Int, score: Double)

/** Aggregation buffer/result wrapper — a product type so the buffer encoder
  * stays a columnar struct (array of structs), not opaque kryo bytes. */
case class TopKBuf(items: Seq[Neighbor])

/** Fused top-k accumulator as a typed `Aggregator`: keeps only the k best
  * (score DESC, c_id ASC) candidates per group, in both the partial (map-side)
  * and final aggregation stages.
  *
  * Why this exists (SURVEY.md §4.2 "fused top-k accumulator — performance"):
  * the window-function top-k (`row_number` over partitionBy(q_id)) must
  * shuffle and SORT every candidate row — O(N log N) per query key with all
  * N·Q pair rows crossing the wire. This aggregate keeps O(k) state per key,
  * shuffles exactly Q·k partial rows after map-side combine, and never
  * materializes a global sort — the shape that survives a 100× scale-up of
  * the candidate set.
  */
/** One (candidate id, distance) pair flowing into the min-k aggregate —
  * the DISTANCE-ordered sibling of Neighbor for ADC-style searches where
  * smaller is better and the label attaches after the k survivors. */
case class DistCand(c_id: Long, dist: Double)

/** Buffer/result wrapper for MinKByDistance (columnar struct encoder). */
case class MinKBuf(items: Seq[DistCand])

/** Fused min-k accumulator (dist ASC, c_id ASC tie-break): same O(k)-state /
  * Q·k-shuffle shape as TopKNeighbors but ordered for distances. Used by the
  * PQ/ADC search path (VERDICT r7 #3) where the window-sort alternative
  * would buffer every candidate row per query key. */
class MinKByDistance(k: Int) extends Aggregator[DistCand, MinKBuf, MinKBuf] {
  private val ord: Ordering[DistCand] =
    Ordering.by((n: DistCand) => (n.dist, n.c_id))

  override def zero: MinKBuf = MinKBuf(Vector.empty)

  override def reduce(b: MinKBuf, a: DistCand): MinKBuf =
    if (b.items.size < k) MinKBuf((b.items :+ a).sorted(ord))
    else if (ord.lt(a, b.items.last)) MinKBuf((b.items.init :+ a).sorted(ord))
    else b

  override def merge(x: MinKBuf, y: MinKBuf): MinKBuf =
    MinKBuf((x.items ++ y.items).sorted(ord).take(k))

  override def finish(r: MinKBuf): MinKBuf = r

  override def bufferEncoder: Encoder[MinKBuf] = Encoders.product[MinKBuf]
  override def outputEncoder: Encoder[MinKBuf] = Encoders.product[MinKBuf]
}

class TopKNeighbors(k: Int) extends Aggregator[Neighbor, TopKBuf, TopKBuf] {
  private val ord: Ordering[Neighbor] =
    Ordering.by((n: Neighbor) => (-n.score, n.c_id))

  override def zero: TopKBuf = TopKBuf(Vector.empty)

  override def reduce(b: TopKBuf, a: Neighbor): TopKBuf =
    if (b.items.size < k) TopKBuf((b.items :+ a).sorted(ord))
    else if (ord.lt(a, b.items.last)) TopKBuf((b.items.init :+ a).sorted(ord))
    else b

  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf =
    TopKBuf((x.items ++ y.items).sorted(ord).take(k))

  override def finish(r: TopKBuf): TopKBuf = r

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

/** One vector flowing into the fixed-point sum aggregate (top-level product
  * type for the same Janino-encoder reason as Neighbor). */
case class VecSample(vec: Seq[Float])

/** Buffer/result of FixedPointVecSum: per-dimension Σ floor(v·2²⁰) as longs
  * plus the member count — everything the Lloyd mean needs, in one struct. */
case class VecSumState(sums: Seq[Long], n: Long)

/** Elementwise FIXED-POINT VECTOR SUM for the Lloyd means recompute
  * (round 17, guide §2.3/§4): one compiled while-loop per row accumulating
  * Σ floor(v_i·2²⁰) per dimension, with map-side partial aggregation — the
  * shuffle carries k buffers of `dim` longs per partition. The shape it
  * replaces exploded every vector into `dim` (c_id, i, v) rows through a
  * groupBy(c_id, i) fixed-point mean and a second collect_list shuffle:
  * dim× the rows through the exchange machinery and one extra shuffle per
  * Lloyd iteration. Long addition is exact and order-independent, so the
  * sums — and the centroids derived as CAST(sums/n/2²⁰ AS FLOAT) by
  * [[FixedPointVecSum.centroids]], the identical IEEE division sequence —
  * are bit-identical to the exploded formula; the unrolled-CTE k-means
  * oracles are unchanged. The scale-in here and the scale-out in
  * `centroids` are the two halves of the `graft.Exact` grid rule.
  * Mutates its own buffer array in place (aggregator buffers are
  * single-owner between serialization points, the TypedImperative rule). */
class FixedPointVecSum extends Aggregator[VecSample, VecSumState, VecSumState] {
  override def zero: VecSumState = VecSumState(Vector.empty, 0L)

  private def intoArray(s: Seq[Long]): Array[Long] = s match {
    case w: scala.collection.immutable.ArraySeq.ofLong => w.unsafeArray
    case other => other.toArray
  }

  override def reduce(b: VecSumState, a: VecSample): VecSumState = {
    val v = a.vec
    if (b.n == 0L && b.sums.isEmpty) {
      val s = new Array[Long](v.length)
      var i = 0
      while (i < v.length) {
        s(i) = math.floor(v(i).toDouble * Exact.GridD).toLong; i += 1
      }
      VecSumState(scala.collection.immutable.ArraySeq.unsafeWrapArray(s), 1L)
    } else {
      require(b.sums.length == v.length,
        s"FixedPointVecSum: ragged vectors (${b.sums.length} vs ${v.length})")
      val s = intoArray(b.sums)
      var i = 0
      while (i < v.length) {
        s(i) += math.floor(v(i).toDouble * Exact.GridD).toLong; i += 1
      }
      VecSumState(scala.collection.immutable.ArraySeq.unsafeWrapArray(s), b.n + 1L)
    }
  }

  override def merge(x: VecSumState, y: VecSumState): VecSumState =
    if (x.n == 0L) y
    else if (y.n == 0L) x
    else {
      require(x.sums.length == y.sums.length,
        s"FixedPointVecSum: ragged buffers (${x.sums.length} vs ${y.sums.length})")
      val s = intoArray(x.sums)
      var i = 0
      while (i < s.length) { s(i) += y.sums(i); i += 1 }
      VecSumState(scala.collection.immutable.ArraySeq.unsafeWrapArray(s), x.n + y.n)
    }

  override def finish(r: VecSumState): VecSumState = r

  override def bufferEncoder: Encoder[VecSumState] = Encoders.product[VecSumState]
  override def outputEncoder: Encoder[VecSumState] = Encoders.product[VecSumState]
}

object FixedPointVecSum {
  private val vsum = udaf(new FixedPointVecSum, Encoders.product[VecSample])

  /** The fixed-point centroid of `vecCol` per `keys` group (one global
    * centroid when `keys` is empty): one [[FixedPointVecSum]] aggregate,
    * then each dimension's sum divided by the member count and by 2²⁰ in
    * DOUBLE and cast to FLOAT. Columns: `keys`, the member count as
    * `countCol` when given, and the centroid as `centroidCol`. */
  def centroids(rows: DataFrame, keys: Seq[String], vecCol: String,
      centroidCol: String = "centroid", countCol: Option[String] = None): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(vsum(col(vecCol)).as("__fs"))
      .select(keys.map(col) ++ countCol.map(col("__fs.n").as(_)) :+ expr(
        s"""transform(__fs.sums, s -> CAST(CAST(s AS DOUBLE)
           |  / CAST(__fs.n AS DOUBLE) / CAST(${Exact.Grid} AS DOUBLE) AS FLOAT))"""
          .stripMargin).as(centroidCol): _*)
}
