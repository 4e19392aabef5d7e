package graft.schema

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
