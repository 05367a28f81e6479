package graft.ops

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** The size-gated driver-local path shared by the iterative operators
  * (connected components, k-core, BFS, SSSP, flow accumulation, basin
  * labels, and cost distance's tile choice).
  *
  * At small sizes a distributed iteration is pure orchestration: every
  * round is a handful of serialized 1-2-task jobs of 30-400 ms against
  * milliseconds of actual graph work. Below ONE limit,
  * `spark.graft.iter.localEdgeLimit` (rows of the gated input, default
  * 2^21), each operator runs its kernel on the driver over primitive
  * long chunks instead; past it the distributed loop runs unchanged.
  * This is AQE's adapt-from-actual-size contract applied to the
  * iteration driver. Setting the limit to 0 forces every operator onto
  * its distributed loop.
  *
  * Gate contract ([[gate]]): the input is checkpointed once (one job)
  * and, if every column is LONG, counted (one job). Within the limit it
  * is collected as flat long chunks (one job), the checkpoint is freed,
  * and the caller gets `Left(chunks)`; the local result then leaves
  * through [[frame]] (a parallelize, no job). Otherwise the caller gets
  * `Right((checkpoint, its RDDs))` and owns freeing them.
  *
  * Heap at the default limit: 16-24 bytes per input row of collected
  * longs (32-48 MB), plus the operator's index and kernel state — each
  * operator's scaladoc carries its own bound.
  */
object LocalGraph {

  private def limit(spark: SparkSession): Long =
    spark.conf.get("spark.graft.iter.localEdgeLimit", (1L << 21).toString).toLong

  /** Whether `n` gated rows may run on the driver. */
  def fits(spark: SparkSession, n: Long): Boolean = n <= limit(spark)

  /** Checkpoint `df` and either collect it (every column LONG and the
    * row count within the limit) as row-major long chunks, one per
    * partition, freeing the checkpoint — or hand back the checkpoint
    * and its backing RDDs for the distributed loop. */
  def gate(df: DataFrame): Either[Array[Array[Long]], (DataFrame, Seq[RDD[_]])] = {
    val (ck, rdds) = Materialize.checkpointFresh(df)
    if (ck.schema.fields.forall(_.dataType == LongType) && fits(ck.sparkSession, ck.count())) {
      val chunks = Materialize.collectLongs(ck, ck.schema.length)
      rdds.foreach(_.unpersist(blocking = false))
      Left(chunks)
    } else Right((ck, rdds))
  }

  /** Dense index over long node ids, in first-seen order: `ids(i)` is
    * the id of node i. */
  final class NodeIndex(sizeHint: Int = 16) {
    private val idx = new mutable.LongMap[Int](sizeHint * 2)
    val ids = new mutable.ArrayBuffer[Long](sizeHint)
    def apply(x: Long): Int = {
      val ex = idx.getOrElse(x, -1)
      if (ex >= 0) ex else { val i = ids.length; idx(x) = i; ids += x; i }
    }
    def size: Int = ids.length
  }

  /** Undirected adjacency over dense node indices: `nbr(u)` lists u's
    * neighbors, and `wt(u)` the matching weights when built weighted. */
  final class Adjacency(val nodes: NodeIndex,
                        val nbr: mutable.ArrayBuffer[mutable.ArrayBuffer[Int]],
                        val wt: mutable.ArrayBuffer[mutable.ArrayBuffer[Long]]) {
    def size: Int = nodes.size
  }

  /** Adjacency over (a, b) rows — (a, b, w) rows when `weighted` — of
    * gated chunks. Every row adds both directions, so a self-loop lists
    * its node twice, exactly as the distributed `e ∪ swap(e)`. */
  def adjacency(chunks: Array[Array[Long]], weighted: Boolean = false): Adjacency = {
    val width = if (weighted) 3 else 2
    val nodes = new NodeIndex()
    val nbr = new mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]()
    val wt = new mutable.ArrayBuffer[mutable.ArrayBuffer[Long]]()
    chunks.foreach { arr =>
      var r = 0
      while (r < arr.length) {
        val u = nodes(arr(r)); val v = nodes(arr(r + 1))
        while (nbr.length < nodes.size) {
          nbr += new mutable.ArrayBuffer[Int]()
          if (weighted) wt += new mutable.ArrayBuffer[Long]()
        }
        nbr(u) += v; nbr(v) += u
        if (weighted) { wt(u) += arr(r + 2); wt(v) += arr(r + 2) }
        r += width
      }
    }
    new Adjacency(nodes, nbr, wt)
  }

  /** A local result as a DataFrame of nullable `fields`, sliced one
    * partition per 64K rows (at most defaultParallelism). */
  def frame(spark: SparkSession, rows: collection.Seq[Row],
            fields: (String, DataType)*): DataFrame = {
    val schema = StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      rows.length / 65536 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, slices), schema)
  }
}
