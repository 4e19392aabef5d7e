package graft.schema

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Core data model for the identity-resolution pipeline.
  *
  * The input row shape comes from the graft contract (BASELINE.json
  * `input_hint`): an interleaved text+media document. The reference's
  * analogous records are `StreamingEvent`/`Session`
  * (reference: src/models/streaming_event.py:14-96, :128-281); here one
  * `Doc` plays the role of one session-like observation of a latent
  * entity, and its `spans` are the ordered observations (events).
  */
final case class Span(
    kind: String,      // 'text' | 'media'
    text: String,      // non-null iff kind == 'text'
    media_ref: String, // non-null iff kind == 'media'
    offset: Int        // 0-based, strictly increasing within a doc
)

final case class Doc(doc_id: String, spans: Seq[Span])

/** The one decoder of the nested `spans` column: docs of the [[Doc]]
  * shape to one row per doc, (doc_id, texts, medias). `texts` are the
  * raw texts of the text spans in span order, nulls kept; `medias` are
  * the distinct media refs of the media spans in first-occurrence
  * order (`array_distinct`). The pipeline's input guard, blocking keys,
  * media statistics and stage-S rep, and the merged entity records, all
  * read this view; each normalizes the raw texts its own way. */
object SpanView {
  /** `guard`, if given, observes on the view's own job the input
    * guard's counts: rows (`docs`), non-null ids (`ids`), text spans
    * with a null text (`texts`) and media spans with a null media_ref
    * (`medias`, per span: taken before the refs are deduplicated). */
  def apply(docs: DataFrame, guard: Option[Observation] = None): DataFrame = {
    def fields(kind: String, field: String) =
      transform(filter(col("spans"), s => s.getField("kind") === lit(kind)), s => s.getField(field))
    def nulls(c: String) = coalesce(sum(size(filter(col(c), _.isNull))), lit(0L)).as(c)
    val raw = docs.select(col("doc_id"), fields("text", "text").as("texts"), fields("media", "media_ref").as("medias"))
    guard.fold(raw)(raw.observe(_, count(lit(1)).as("docs"), count(col("doc_id")).as("ids"), nulls("texts"),
      nulls("medias"))).withColumn("medias", array_distinct(col("medias")))
  }
}

/** Ground-truth companion row (generator-only knowledge); analog of the
  * reference's GroundTruth.session_to_person
  * (reference: src/validation/synthetic_households.py:58-92). */
final case class Label(doc_id: String, entity_id: String)

/** Stage-B output: one candidate pair per (pair, key) before dedup;
  * canonical doc_a < doc_b. key_kind ∈ {'lsh','media'}. */
final case class Candidate(
    doc_a: String,
    doc_b: String,
    key_kind: String,
    block_key: Long,
    salt: Int
)

/** Stage-S output. */
final case class ScoredPair(
    doc_a: String,
    doc_b: String,
    score: Double,
    jw_best: Double,
    lev_best: Double,
    media_jaccard: Double,
    strong_min: Long,
    mask_a: Long,   // bitmask of doc_a span indices strongly matched
    mask_b: Long,   // bitmask of doc_b span indices strongly matched
    is_match: Boolean
)

/** Stage-C output; cluster_id = min doc_id of the component (stable
  * across reruns — resume idempotency requirement). */
final case class ClusterAssignment(doc_id: String, cluster_id: String)

/** Lineage row, one per checkpoint write unit: partition_id is the
  * scoring chunk for `scored_pairs`, 0 for every other stage (see
  * graft.lineage.Lineage and SURVEY.md §7.3 item 6). */
final case class LineageRow(
    stage: String,
    run_id: String,
    partition_id: Int,
    output_rows: Long,
    content_hash: Long
)

/** Scalar metric row (band-size histogram buckets, dropped-block counts,
  * CC iteration count, wall-clock ms, ...). */
final case class MetricRow(stage: String, run_id: String, name: String, value: Double)
