package graft.ops

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.{Encoder, Encoders}
import graft.core.TileMath

/** Typed aggregators that build tiles from finer-grained rows.
  *
  * These are the engine's UDAF spine: pixel→tile reassembly (reference
  * `groupByKey` + burn loop, TilePixelingExample.scala:97-107), rasterize
  * combine (RasterizeFeaturesRDD.scala:66-71), pyramid assembly
  * (GeotiffToPyramid.scala:58-69) and halo/pad assembly for focal ops
  * (bufferTiles, ConvolveLayerExample.scala:69).
  *
  * All of them keep the reference's *map-side combine*: the Aggregator
  * buffer is a mutable primitive array, partials merge cell-wise, so a
  * 65k-pixel tile never materializes as 65k grouped rows (the reference's
  * `groupByKey` anti-pattern we deliberately avoid — SURVEY §4.2).
  *
  * Aggregator *inputs* that are indexed per cell must declare their cells
  * `Array[Double]`, never `Seq[Double]`: the encoder decodes a `Seq` to a
  * linked `List`, so `cells(i)` walks the list and assembling one 256x256
  * tile becomes O(n^2); an `Array[Double]` decodes with one array copy.
  */
object TileAggregators {

  private[ops] implicit val bufEnc: Encoder[Array[Double]] = ExpressionEncoder()
  private[ops] val outEnc: Encoder[Seq[Double]] = ExpressionEncoder()

  case class PixelIn(x: Int, y: Int, v: Double)

  /** (x, y, v) pixels → row-major cols x rows tile; unset cells NaN. */
  class TileAssemble(cols: Int, rows: Int) extends Aggregator[PixelIn, Array[Double], Seq[Double]] {
    def zero: Array[Double] = TileMath.empty(cols, rows)
    def reduce(b: Array[Double], p: PixelIn): Array[Double] = {
      if (p.x >= 0 && p.x < cols && p.y >= 0 && p.y < rows && TileMath.isData(p.v))
        b(p.x + p.y * cols) = p.v
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { if (TileMath.isData(b(i))) a(i) = b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = bufEnc
    def outputEncoder: Encoder[Seq[Double]] = outEnc
  }

  case class NeighborIn(dcol: Int, drow: Int, cells: Array[Double])

  /** Halo exchange assembly: the target tile plus pad-wide margins of its
    * 8 neighbors → one padded (cols+2*pad) x (rows+2*pad) array. Input
    * rows carry the *offset of the contributing tile relative to the
    * target* (dcol, drow in -1..1) and ONLY the slice of the contributor
    * the target needs (TileMath.haloBounds — whole tile for self, strip /
    * corner for neighbors), so the shuffle carries ~1.1x the layer, not
    * 9x. Replaces GeoTrellis `bufferTiles`. */
  class PadAssemble(cols: Int, rows: Int, pad: Int) extends Aggregator[NeighborIn, Array[Double], Seq[Double]] {
    private val pc = cols + 2 * pad
    private val pr = rows + 2 * pad
    def zero: Array[Double] = TileMath.empty(pc, pr)
    def reduce(b: Array[Double], n: NeighborIn): Array[Double] = {
      // slice covers contributor-local [xlo,xhi)x[ylo,yhi); cell (xn, yn)
      // sits at target-local (dcol*cols + xn, drow*rows + yn)
      val (xlo, xhi, ylo, yhi) = TileMath.haloBounds(n.dcol, n.drow, cols, rows, pad)
      val w = xhi - xlo
      var yn = ylo
      while (yn < yhi) {
        val ty = n.drow * rows + yn + pad
        var xn = xlo
        while (xn < xhi) {
          val tx = n.dcol * cols + xn + pad
          b(tx + ty * pc) = n.cells((xn - xlo) + (yn - ylo) * w)
          xn += 1
        }
        yn += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { if (TileMath.isData(b(i))) a(i) = b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = bufEnc
    def outputEncoder: Encoder[Seq[Double]] = outEnc
  }

  case class QuadIn(qx: Int, qy: Int, cells: Array[Double])

  /** Pyramid assembly: four downsampled child quadrants (each
    * cols/2 x rows/2, quadrant position qx, qy in 0..1) → parent tile. */
  class QuadAssemble(cols: Int, rows: Int) extends Aggregator[QuadIn, Array[Double], Seq[Double]] {
    private val hc = cols / 2
    private val hr = rows / 2
    def zero: Array[Double] = TileMath.empty(cols, rows)
    def reduce(b: Array[Double], q: QuadIn): Array[Double] = {
      var y = 0
      while (y < hr) {
        var x = 0
        while (x < hc) {
          b((q.qx * hc + x) + (q.qy * hr + y) * cols) = q.cells(x + y * hc)
          x += 1
        }
        y += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { if (TileMath.isData(b(i))) a(i) = b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = bufEnc
    def outputEncoder: Encoder[Seq[Double]] = outEnc
  }

  case class RectIn(tileCol: Int, tileRow: Int, x0: Long, y0: Long, x1: Long, y1: Long,
                    value: Double, seq: Long)

  /** Rasterize combine: burn axis-aligned rectangles into a tile with
    * last-burn-wins resolved deterministically by `seq` (feature id) —
    * the reference burns features in RDD order with incoming-wins merge
    * (RasterizeFeaturesRDD.scala:55-71); ordering by seq makes that
    * reproducible under parallel merge. Buffer holds value and seq
    * planes so partial merges take the max-seq burn per cell. */
  class RectBurn(cols: Int, rows: Int) extends Aggregator[RectIn, Array[Double], Seq[Double]] {
    private val n = cols * rows
    def zero: Array[Double] = {
      val a = new Array[Double](2 * n)
      java.util.Arrays.fill(a, 0, n, Double.NaN)
      java.util.Arrays.fill(a, n, 2 * n, -1.0)
      a
    }
    def reduce(b: Array[Double], r: RectIn): Array[Double] = {
      val gx0 = r.tileCol.toLong * cols; val gy0 = r.tileRow.toLong * rows
      val lx0 = math.max(0L, r.x0 - gx0).toInt; val lx1 = math.min(cols.toLong, r.x1 - gx0).toInt
      val ly0 = math.max(0L, r.y0 - gy0).toInt; val ly1 = math.min(rows.toLong, r.y1 - gy0).toInt
      var y = ly0
      while (y < ly1) {
        var x = lx0
        while (x < lx1) {
          val i = x + y * cols
          if (r.seq.toDouble >= b(n + i)) { b(i) = r.value; b(n + i) = r.seq.toDouble }
          x += 1
        }
        y += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < n) { if (b(n + i) > a(n + i)) { a(i) = b(i); a(n + i) = b(n + i) }; i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.slice(0, n).toSeq
    def bufferEncoder: Encoder[Array[Double]] = bufEnc
    def outputEncoder: Encoder[Seq[Double]] = outEnc
  }
}
