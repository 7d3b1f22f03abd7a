package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Encoder, Encoders}

/**
 * Polygon dissolve via shared-edge cancellation — the Spark-native form of the
 * reference's fast-path dissolve
 * (`/root/reference/src/dissolve/mapshaper-polygon-dissolve.mjs:5-219`): merged
 * geometry per group = the edges whose (undirected) occurrence count is odd
 * after concatenating all member rings; opposite shared arcs cancel pairwise.
 *
 * One kernel, two plans, chosen by the size rule of every driver path
 * ([[collectIfFits]]: the (group, ring) rows fit
 * `spark.sql.autoBroadcastJoinThreshold`; -1 disables it):
 *  - driver: one job collects the rows; the driver cancels each group's
 *    edges with [[EdgeCancel]]'s `reduce`/`finish`, reassembles the rings
 *    ([[RingAssembly.assemble]]) and returns a local relation with the
 *    shuffle plan's schema. Groups are keyed as `groupBy` keys them: null is
 *    one group, and -0.0 / NaN keys are normalized first;
 *  - shuffle, otherwise: [[EdgeCancel]] as a typed `Aggregator[edge-list,
 *    multiset, boundary]`. Map-side partial aggregation applies (each
 *    partition cancels locally before the shuffle), so only uncancelled
 *    boundary edges cross the wire: for dense groups that's a tiny fraction
 *    of the input, which is what makes this hold at 100 TB. Ring
 *    reassembly from boundary edges is a per-group kernel.
 *
 * Spark's size estimate counts a ring array as one 8-byte value, so it
 * rules the collect out only for inputs far over the threshold. Any other
 * input over it pays the collect job, stopped once the rows pass the
 * threshold, and then the shuffle plan computes the input again.
 *
 * A null ring counts in `n_rings_in` and adds no edge, on both paths.
 */
object Dissolve {

  /** One canonical undirected edge with an occurrence parity count. */
  type EdgeKey = (Double, Double, Double, Double)

  /**
   * Typed aggregator: input = one ring's flat coords [x0,y0,x1,y1,...,x0,y0];
   * buffer = map canonical-edge -> parity count; output = boundary edge list.
   */
  class EdgeCancel extends Aggregator[Array[Double], mutable.HashMap[EdgeKey, Int], Array[Double]] {
    def zero: mutable.HashMap[EdgeKey, Int] = mutable.HashMap.empty

    // plans print the aggregator; the default names its identity hash
    override def toString: String = "EdgeCancel"

    /** Adds the ring's edges; a null ring adds none. */
    def reduce(buf: mutable.HashMap[EdgeKey, Int], ring: Array[Double]): mutable.HashMap[EdgeKey, Int] = {
      var i = 0
      while (ring != null && i + 3 < ring.length) {
        addEdge(buf, ring(i), ring(i + 1), ring(i + 2), ring(i + 3))
        i += 2
      }
      buf
    }

    /** Buffers hold parity only, so an edge present in both cancels. */
    def merge(a: mutable.HashMap[EdgeKey, Int], b: mutable.HashMap[EdgeKey, Int]): mutable.HashMap[EdgeKey, Int] = {
      b.foreach { case (k, v) =>
        if ((a.getOrElse(k, 0) + v) % 2 == 0) a.remove(k) else a.update(k, 1)
      }
      a
    }

    /** Boundary = edges with odd parity, flattened to [x1,y1,x2,y2]* quads. */
    def finish(buf: mutable.HashMap[EdgeKey, Int]): Array[Double] = {
      val out = Array.newBuilder[Double]
      buf.iterator.filter(_._2 % 2 != 0).foreach { case ((x1, y1, x2, y2), _) =>
        out += x1; out += y1; out += x2; out += y2
      }
      out.result()
    }

    private def addEdge(buf: mutable.HashMap[EdgeKey, Int], x1: Double, y1: Double, x2: Double, y2: Double): Unit = {
      // canonical orientation: smaller endpoint first; degenerate edges dropped
      if (x1 == x2 && y1 == y2) return
      val key = if (x1 < x2 || (x1 == x2 && y1 < y2)) (x1, y1, x2, y2) else (x2, y2, x1, y1)
      val nv = buf.getOrElse(key, 0) + 1
      // parity-only storage keeps the buffer minimal: 2 == cancelled
      if (nv == 2) buf.remove(key) else buf.update(key, nv)
    }

    def bufferEncoder: Encoder[mutable.HashMap[EdgeKey, Int]] =
      Encoders.kryo[mutable.HashMap[EdgeKey, Int]]
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /**
   * Dissolve rings grouped by a key column.
   * Input DF: (groupCol, ring: Array[Double] — closed flat coords).
   * Output: (group, n_rings_in, n_boundary_edges, n_rings_out: reassembled
   * ring count). Solved on the driver when the rows fit one broadcast (see
   * the header).
   */
  def dissolve(spark: SparkSession, rings: DataFrame, groupCol: String, ringCol: String): DataFrame = {
    val agg = udaf(new EdgeCancel())
    val shuffled = rings
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rings_in"), agg(col(ringCol)).as("_boundary"))
      .withColumn("n_boundary_edges", (size(col("_boundary")) / 4).cast("long"))
      .withColumn("n_rings_out", RingAssembly.ringCountUdf(col("_boundary")))
      .drop("_boundary")
    val keyed = rings.select(col(groupCol).as("group"), col(ringCol).cast(ArrayType(DoubleType)))
    collectIfFits(keyed).fold(shuffled)(rows => GraftBridge.localRelation(spark, shuffled.schema,
      driverDissolve(rows, keyed.schema("group").dataType)))
  }

  /** The driver path over collected (group, ring) rows: one output row per
   * group, in order of first appearance. */
  private def driverDissolve(rows: Array[UnsafeRow], groupType: DataType): Seq[InternalRow] = {
    val key = GraftBridge.groupingKey(groupType)
    val edges = new EdgeCancel()
    final class Group(var rings: Long, val buf: mutable.HashMap[EdgeKey, Int])
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, Group]
    for (r <- rows) {
      val g = groups.getOrElseUpdate(key(r).copy(), new Group(0L, edges.zero))
      g.rings += 1
      if (!r.isNullAt(1)) edges.reduce(g.buf, r.getArray(1).toDoubleArray)
    }
    groups.iterator.map { case (k, g) =>
      val boundary = edges.finish(g.buf)
      InternalRow(k.get(0, groupType), g.rings, (boundary.length / 4).toLong,
        RingAssembly.ringCount(boundary))
    }.toSeq
  }
}

/** Reassemble closed rings from an unordered boundary-edge soup (per-group kernel). */
object RingAssembly {
  import org.apache.spark.sql.functions.udf

  /** Walk edges into rings; returns the rings as flat coord arrays.
   *
   * At vertices of degree >= 4 (two rings touching at a point) the
   * continuation edge is chosen by ANGULAR order — the sharpest consistent
   * turn relative to the incoming edge — so a bow-tie junction is traced as
   * two simple rings, never one self-intersecting figure-eight. This mirrors
   * the reference pathfinder's rightmost-turn rule
   * (`/root/reference/src/paths/mapshaper-pathfinder.mjs:141-181`,
   * `getAngle`-based candidate selection). */
  def assemble(edges: Array[Array[Double]]): Array[Array[Double]] = {
    // adjacency: point -> list of (edgeIdx)
    val adj = mutable.HashMap.empty[(Double, Double), mutable.ArrayBuffer[Int]]
    edges.indices.foreach { i =>
      val e = edges(i)
      adj.getOrElseUpdate((e(0), e(1)), mutable.ArrayBuffer.empty) += i
      adj.getOrElseUpdate((e(2), e(3)), mutable.ArrayBuffer.empty) += i
    }
    val used = new Array[Boolean](edges.length)
    val rings = mutable.ArrayBuffer.empty[Array[Double]]
    edges.indices.foreach { start =>
      if (!used(start)) {
        val e0 = edges(start)
        used(start) = true
        val coords = mutable.ArrayBuffer[Double](e0(0), e0(1), e0(2), e0(3))
        var prev = (e0(0), e0(1))
        var cur = (e0(2), e0(3))
        val origin = (e0(0), e0(1))
        var guard = 0
        while (cur != origin && guard <= edges.length) {
          guard += 1
          val nexts = adj.getOrElse(cur, mutable.ArrayBuffer.empty).filter(i => !used(i))
          if (nexts.isEmpty) {
            cur = origin // open chain: bail (dirty input) — close as-is
          } else {
            // candidate giving the smallest CCW angle from the reverse of the
            // incoming direction (ties: edge index — deterministic)
            val backAngle = math.atan2(prev._2 - cur._2, prev._1 - cur._1)
            var best = -1
            var bestDelta = Double.MaxValue
            nexts.foreach { i =>
              val e = edges(i)
              val other = if ((e(0), e(1)) == cur) (e(2), e(3)) else (e(0), e(1))
              val outAngle = math.atan2(other._2 - cur._2, other._1 - cur._1)
              var delta = outAngle - backAngle
              while (delta <= 1e-12) delta += 2 * math.Pi
              if (delta < bestDelta) { bestDelta = delta; best = i }
            }
            val i = best
            used(i) = true
            val e = edges(i)
            prev = cur
            cur = if ((e(0), e(1)) == cur) (e(2), e(3)) else (e(0), e(1))
            coords += cur._1
            coords += cur._2
          }
        }
        rings += coords.toArray
      }
    }
    rings.toArray
  }

  /** Rings reassembled from boundary edges flattened to [x1,y1,x2,y2]* quads. */
  def ringCount(flat: Array[Double]): Int = assemble(flat.grouped(4).toArray).length

  val ringCountUdf = udf((flat: Seq[Double]) => ringCount(flat.toArray))
}
