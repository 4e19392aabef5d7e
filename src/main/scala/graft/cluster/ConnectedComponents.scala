package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage C — transitive clustering via iterative large-star/small-star
  * connected components on DataFrames (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14). Converges in
  * O(log n) rounds; every round is two shuffles (groupBy min +
  * self-join), checkpointed to truncate lineage.
  *
  * Replaces the reference's driver-side BFS
  * (reference: src/core/identity_graph.py:278-314, duplicated at
  * src/core/cross_device_linker.py:414-477), which cannot scale past a
  * single machine's memory. BFS remains the small-scale test oracle
  * (ConnectedComponentsSpec).
  *
  * Stable IDs: cluster_id = min member doc_id under the id column's
  * natural ordering (lexicographic for the fixed-width string ids,
  * numeric for the pipeline's dictionary-encoded longs) — deterministic
  * either way, so reruns are byte-identical (resume idempotency).
  */
object ConnectedComponents {

  /** large-star: connect every neighbor v > u to m(u) = min(Γ(u) ∪ u). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym
      .groupBy("src")
      .agg(min(col("dst")).as("mnd"))
      .select(col("src"), least(col("src"), col("mnd")).as("mn"))
    sym
      .join(m, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("mn").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star: direct edges large→small; connect all smaller
    * neighbors (and u itself) to m(u) = min neighbor. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val m = dir.groupBy("src").agg(min(col("dst")).as("mn"))
    dir
      .join(m, "src")
      .select(col("dst").as("src"), col("mn").as("dst"))
      .unionByName(m.select(col("src"), col("mn").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  final case class Result(assignments: DataFrame, iterations: Int)

  /** Run to convergence. `edges` needs columns (src, dst); `nodes` is a
    * single-column (doc_id) DataFrame supplying singleton membership.
    * Returns (doc_id, cluster_id) covering every node.
    *
    * Adaptive execution: at or below `maxLocalEdges` deduplicated edges
    * the component labels come from a driver union-find (one collect
    * of at most maxLocalEdges + 1 rows, which also decides the path,
    * and one in-memory pass) — each large/small-star iteration otherwise
    * costs ~4 latency-bound shuffle rounds that dominate wall time on
    * small-to-medium graphs (measured: 15 s of an 84 s bench e2e for a
    * 3.8 M-edge graph, ~4 s/iteration of pure round latency). Labels
    * are identical (min member) on both paths; the default cap bounds
    * the driver transient at ~1 GB (5 M edges, ≤10 M boxed nodes). The
    * distributed loop remains the route for planet-scale graphs.
    *
    * `persistIter` checkpoints each iteration's edge set — breaks the
    * growing lineage chain (a fixpoint loop otherwise builds an
    * exponentially replanned DAG) and is where an Iceberg table write
    * would slot in for cross-job restart.
    */
  def run(
      edges: DataFrame,
      nodes: DataFrame,
      maxIter: Int = 50,
      persistIter: DataFrame => DataFrame = _.localCheckpoint(true),
      maxLocalEdges: Long = 5000000L
  ): Result = {
    var cur = persistIter(
      edges
        .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    )

    // the bounded collect is the local path's edge list (none for a
    // negative cap); long ids (the pipeline's dictionary-encoded path)
    // come back as UnsafeRows for the primitive union-find — no
    // per-edge boxing on either the collect or the find/union path.
    // Labels are identical to the generic path (same union-by-min).
    val idType = edges.schema("src").dataType
    val bounded = cur.limit(math.min(math.max(maxLocalEdges, -1L), Int.MaxValue - 1L).toInt + 1)
    val local: Option[Seq[(Any, Any)]] =
      if (idType == org.apache.spark.sql.types.LongType) {
        val rows = bounded.queryExecution.executedPlan.executeCollect()
        Option.when(rows.length <= maxLocalEdges) {
          val src = new Array[Long](rows.length)
          val dst = new Array[Long](rows.length)
          for (i <- rows.indices) { src(i) = rows(i).getLong(0); dst(i) = rows(i).getLong(1) }
          val (ks, vs) = UnionFind.minLabelsLong(src, dst)
          ks.indices.map(j => (ks(j): Any, vs(j): Any))
        }
      } else Some(bounded.collect()).filter(_.length <= maxLocalEdges).map(UnionFind.minLabels)
    if (local.isDefined) {
      val mapping = UnionFind.labelFrame(edges.sparkSession, local.get, idType, "doc_id", "mapped")
      val assignments = nodes
        .select(col("doc_id"))
        .join(mapping, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("mapped"), col("doc_id")).as("cluster_id"))
      return Result(assignments, 0)
    }

    def checksum(df: DataFrame): (Long, Long) = {
      // bit_xor: order-insensitive and overflow-free under ANSI mode
      val r = df
        .agg(
          count(lit(1)).as("n"),
          coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")
        )
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var prev = checksum(cur)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = persistIter(smallStar(largeStar(cur)))
      val cs = checksum(next)
      converged = cs == prev
      prev = cs
      cur = next
      iter += 1
    }

    // At the fixpoint the graph is a union of stars rooted at each
    // component's min id: label(u) = min(u, min neighbor).
    val sym = cur.unionByName(cur.select(col("dst").as("src"), col("src").as("dst")))
    val labels = sym
      .groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("mnd"))
      .select(col("doc_id"), least(col("doc_id"), col("mnd")).as("cluster_id"))

    val assignments = nodes
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))

    Result(assignments, iter)
  }
}
