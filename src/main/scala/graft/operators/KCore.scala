package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (B85): repeatedly remove
  * nodes of degree < k until none remain; the surviving subgraph is the
  * k-core. The result is UNIQUE regardless of peel order (removing any
  * sub-k node never raises another node's degree), so parallel whole-graph
  * peeling converges to the same core a sequential algorithm finds —
  * PropertySpec checks exactly that against a brute-force sequential peel.
  *
  * Scale shape (the D6 components discipline): each round is one degree
  * aggregate + two semi-joins on the directed edge list, checkpointed to
  * cut the growing lineage; rounds are bounded by `maxIter` (each round
  * removes ≥1 node or terminates, and real graphs peel in a handful of
  * rounds — the peel count equals the graph's "degeneracy depth", ~5-20
  * even on web graphs). At 100 TB the edge list shuffles by node id each
  * round; nothing is ever collected to the driver.
  */
object KCore {

  /** `edges` = unique undirected pairs (u, v). Returns the k-core nodes
    * with their WITHIN-CORE degree. `reliable` swaps localCheckpoint for
    * a fault-tolerant checkpoint (cluster deployments; see D6).
    *
    * Throws `IllegalStateException` if the peel has not converged after
    * `maxIter` rounds: the survivors would then be a SUPERSET of the
    * k-core (sub-k nodes still present), and a silently-wrong core is
    * worse than a loud failure. Callers on pathological graphs raise
    * maxIter (peel depth = degeneracy depth, ~5-20 even on web graphs).
    *
    * `deg0` optionally supplies the whole-graph degree table `(u, dg)`
    * (e.g. the staged codeg rollup the co-purchase family shares) so the
    * peel skips its own 2|E|-row aggregate; when absent it is computed
    * here. It MUST hold exactly the degree multiset of `edges`: one row
    * per endpoint node with its number of incident pairs. The peel trusts
    * it — a table over a different edge set yields a wrong core, not an
    * error (PropertySpec pins equality with the `deg0 = None` result). */
  def kcore(edges: DataFrame, k: Int, maxIter: Int = 30,
            reliable: Boolean = false,
            deg0: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    val und = edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    // r17 (§2.3/§2.4, §5): DEGREE-MAINTENANCE peel over node-dim state
    // ONLY. The r16 shape re-derived the full degree aggregate over the
    // surviving 2|E|-row edge list and re-materialized that list (two
    // semi-joins + localCheckpoint + count) EVERY round — at sf10 the
    // directed list is 240 M rows (a 20 GB deserialized checkpoint),
    // which OOM'd a 32 GB solo JVM before removing a single node; even
    // the first r17 cut (checkpoint it once) spent 73 + 60 s on that
    // materialization + degree scan. Invariant instead: deg(u) = degree
    // of u within the survivor-induced subgraph, maintained
    // incrementally. Per round: remove deg < k nodes; decrement each
    // survivor by its edges into the removed set — ONE pass over the
    // caller's undirected edge frame (both directions derived in-flight
    // by a Generate, nothing edge-scale ever checkpointed), semi-joined
    // against the node-dim removal set (AQE broadcasts it while it
    // fits), then node-dim bookkeeping. Rounds that remove nothing never
    // touch the edge frame at all — on dense graphs (sf10: min degree
    // ≥ k already) the whole peel is the degree read plus one empty
    // probe. Removing a sub-k node never raises another node's degree,
    // so the peel is order-independent and the maintained degrees equal
    // a from-scratch recount by induction (PropertySpec pins equality
    // with a sequential brute-force peel).
    var deg = deg0.map(_.select(col("u").cast("long").as("u"),
        col("dg").cast("long").as("dg")))
      .getOrElse {
        ckpt(und
          .select(explode(array(col("u"), col("v"))).as("u"))
          .groupBy("u").agg(count(lit(1)).as("dg")))
      }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val removed = ckpt(deg.filter(col("dg") < k).select("u"))
      if (removed.isEmpty) converged = true
      else {
        // directed instances derived in-flight; count every edge whose
        // TARGET is removed once for its surviving owner
        val inst = und.select(explode(array(
            struct(col("u").as("s"), col("v").as("t")),
            struct(col("v").as("s"), col("u").as("t")))).as("e"))
          .select(col("e.s").as("u"), col("e.t").as("v"))
        val lost = inst
          .join(removed.select(col("u").as("v")), Seq("v"), "left_semi")
          .groupBy("u").agg(count(lit(1)).as("dec"))
        deg = ckpt(deg.filter(col("dg") >= k)
          .join(lost, Seq("u"), "left")
          .select(col("u"),
            (col("dg") - coalesce(col("dec"), lit(0L))).as("dg")))
      }
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"k-core peel did not converge in $maxIter rounds (k=$k); " +
          "result would contain sub-k nodes — raise maxIter")
    deg.select(col("u").as("node"), col("dg").as("core_degree"))
  }
}
