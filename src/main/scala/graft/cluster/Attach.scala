package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stage C2 — singleton attachment.
  *
  * After transitive clustering, docs left as singletons are usually
  * real members whose every *pairwise* score fell just short of the
  * edge gate (each pair shows only one shared phrase). Aggregating
  * evidence doc-vs-cluster recovers them without reopening the
  * contamination hole: attachment requires ≥ `minSpanBits` DISTINCT
  * spans of the singleton strongly matched across the cluster's
  * members (bit-OR of per-pair masks). A contaminated doc carries
  * exactly one borrowed span, so its mask popcount against the foreign
  * cluster is 1 — blocked — even though that one span matches many of
  * the cluster's docs.
  *
  * This is the doc↔cluster analog of the reference's softmax
  * session→person assignment after clustering
  * (reference: src/core/probabilistic_resolver.py:448-470,
  * household_inference.py:129-182): a second, aggregate-evidence pass
  * over entities the pairwise stage left unassigned.
  *
  * Cluster ids are re-canonicalized to min(member) afterwards so
  * resume stays byte-stable.
  */
object Attach {

  /** Default `attachFloor`. Exposed so callers that pre-filter the
    * evidence stream (Pipeline.runDelta pushes this bound into the
    * ancestor scored-pairs parquet scan) stay in lockstep with the
    * filter applied inside [[attachSingletons]]. */
  val DefaultAttachFloor: Double = 2.0

  /** @param clusters  (doc_id, cluster_id) from ConnectedComponents
    * @param scored    stage-S output incl. mask_a/mask_b
    * @param attachFloor minimum best pair score to consider at all
    * @param minSpanBits distinct own-span matches required */
  def attachSingletons(
      clusters: DataFrame,
      scored: DataFrame,
      attachFloor: Double = DefaultAttachFloor,
      minSpanBits: Int = 2
  ): DataFrame = {
    // join-strategy note (round 6): these small-side joins are left to
    // the planner DELIBERATELY — AQE upgrades them to broadcast at
    // runtime (sizes/singles/cluster maps are tiny relative to the
    // evidence stream), and an explicit SHUFFLE_HASH hint would BLOCK
    // that upgrade (measured: clustering stage CPU 130 → 220 core-s
    // with hints forced; reverted).
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cl_n"))
    val singles = clusters
      .join(sizes, "cluster_id")
      .where(col("cl_n") === 1)
      .select(col("doc_id").as("u"))

    // direct pairs from the singleton's perspective (both orientations).
    // ONE scan of the scored table (round 6): the two orientations come
    // out of a single explode instead of a 2-scan union — halves the
    // checkpoint decode; the attachFloor filter stays on the base
    // column BEFORE the explode so it still pushes into the parquet
    // scan (a post-explode filter would not). Rows identical.
    val pairs = scored
      .where(col("score") >= lit(attachFloor))
      .select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v"), col("mask_a").as("um"), col("score").as("score")),
        struct(col("doc_b").as("u"), col("doc_a").as("v"), col("mask_b").as("um"), col("score").as("score"))
      )).as("p"))
      .select("p.*")

    val clOfV = clusters.select(col("doc_id").as("v"), col("cluster_id").as("cl_v"))

    val evidence = pairs
      .join(singles, "u")
      .join(clOfV, "v")
      .where(col("cl_v") =!= col("u")) // not its own singleton cluster
      .groupBy("u", "cl_v")
      .agg(
        bit_count(bit_or(col("um"))).as("span_bits"),
        max(col("score")).as("best_score"),
        count(lit(1)).as("n_pairs")
      )
      .where(col("span_bits") >= minSpanBits)

    // deterministic best target per singleton
    val w = Window.partitionBy("u").orderBy(
      col("span_bits").desc, col("best_score").desc, col("n_pairs").desc, col("cl_v")
    )
    val chosen = evidence
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("u").as("doc_id"), col("cl_v").as("new_cluster"))

    // Mutual moves (u↔v) and chains (u→v→w) among singletons would
    // cancel out in the min-member relabel (the swapped ids restore two
    // separate singletons); resolve them with a mini connected
    // components over the move edges. Every mover has out-degree
    // exactly 1 and established clusters don't move, so a component
    // contains at most ONE pre-existing cluster — this cannot
    // transitively merge two established clusters. Move sets are tiny
    // relative to the corpus (one edge per attaching singleton), so CC
    // takes its driver union-find path on all but pathological
    // singleton floods; labels are the min member either way. The pin
    // keeps CC's edge and node reads off the evidence plan.
    val moveEdges = chosen
      .select(col("doc_id").as("src"), col("new_cluster").as("dst"))
      .localCheckpoint(true)
    val movers = moveEdges.select(col("src").as("doc_id"))
      .union(moveEdges.select(col("dst").as("doc_id")))
      .distinct()
    val mapping = ConnectedComponents.run(moveEdges, movers).assignments
      .select(col("doc_id").as("cluster_id"), col("cluster_id").as("merged_cluster"))

    val moved = clusters
      .join(mapping, Seq("cluster_id"), "left")
      .select(col("doc_id"), coalesce(col("merged_cluster"), col("cluster_id")).as("cluster_id"))

    // re-canonicalize: cluster_id = min member doc_id (resume stability)
    val relabel = moved.groupBy("cluster_id").agg(min("doc_id").as("canon"))
    moved
      .join(relabel, "cluster_id")
      .select(col("doc_id"), col("canon").as("cluster_id"))
  }
}
