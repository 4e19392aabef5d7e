package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Node/entity merge as an aggregation over the resolved component —
  * the reference merges entities by pointer surgery (transfer edges,
  * union id lists, session-count-weighted confidence,
  * reference: src/core/identity_graph.py:364-410,
  * src/models/identity_entity.py:128-188); on DataFrames the merged
  * entity record IS a group-by over cluster members, so merge cost is
  * one shuffle and never mutates shared state.
  */
object ClusterMerge {

  /** Merged entity records: one row per cluster with union'd member
    * ids, distinct media assets, span totals, size-weighted mean best
    * score (the reference's weighted-confidence merge), and a `to_json`
    * profile blob (the reference persists merged entities as JSON —
    * identity_graph.py:416-456). */
  def mergedEntities(clusters: DataFrame, docs: DataFrame, scored: DataFrame): DataFrame = {
    val spans = graft.schema.SpanView(docs)
      .select(col("doc_id"), size(col("texts")).as("n_text"), col("medias").as("media"))
    // per-doc best evidence score (either orientation)
    val bestA = scored.select(col("doc_a").as("doc_id"), col("score"))
    val bestB = scored.select(col("doc_b").as("doc_id"), col("score"))
    val best = bestA.unionByName(bestB).groupBy("doc_id").agg(max("score").as("best_score"))

    clusters
      .join(spans, "doc_id")
      .join(best, Seq("doc_id"), "left")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        sort_array(collect_list(col("doc_id"))).as("member_ids"),
        sum("n_text").as("total_text_spans"),
        sort_array(array_distinct(flatten(collect_list(col("media"))))).as("media_refs"),
        // size-weighted mean of member best scores (weights = 1 per doc,
        // i.e. session-count weighting at doc granularity)
        avg(coalesce(col("best_score"), lit(0.0))).as("mean_best_score")
      )
      .withColumn(
        "entity_json",
        to_json(struct(col("cluster_id"), col("n_members"), col("media_refs")))
      )
  }
}
