package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Pins the scaffold's checkpoint lifecycle: a loop leaves behind only
  * the state it returns, however many rounds it ran — superseded
  * rounds are released explicitly, not left for GC-driven cleanup. */
class FixpointSpec extends SparkTestBase {

  /** Stored blocks of the RDDs persisted while `run` executed, read the
    * way `graft.Dev profile` reads its cache footprint (no GC is forced). The
    * result frame stays reachable until the count is taken. */
  private def blocksLeftBy(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    def info() = { Bridge.awaitListenerBus(sc); sc.getRDDStorageInfo }
    val before = info().map(_.id).toSet
    val result = run
    val blocks = info().filterNot(i => before(i.id)).map(_.numCachedPartitions).sum
    java.lang.ref.Reference.reachabilityFence(result)
    blocks
  }

  test("persisted blocks stay flat across rounds (sssp chain, 200-chain CC)") {
    import spark.implicits._
    val chain = (0L until 29L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("node", "nbr")
    val sssp2 = blocksLeftBy(GraphIterate.ssspFixpoint(chain, 0L, maxRounds = 2)._1)
    val sssp20 = blocksLeftBy(GraphIterate.ssspFixpoint(chain, 0L, maxRounds = 20)._1)
    assert(sssp2 > 0, "the returned state's own blocks must be visible")
    assert(sssp2 == sssp20, s"sssp: $sssp2 blocks after 2 rounds, $sssp20 after 20")

    val verts = (0L until 200L).toDF("id")
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc2 = blocksLeftBy(Dedup.connectedComponentsCounted(verts, edges, 2).labels)
    val cc = blocksLeftBy(Dedup.connectedComponentsCounted(verts, edges).labels)
    assert(cc2 == cc, s"cc: $cc2 blocks after 2 rounds, $cc after convergence")
  }
}
