package graft.scoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.JaroWinklerExpr.jaroWinkler
import graft.text.TextOps.normText

/** Stage S — pairwise Fellegi-Sunter-style probabilistic scoring.
  *
  * Generalizes the reference's multi-signal link probability — a
  * weighted mean of per-signal similarities squashed by a sigmoid
  * (reference: src/core/cross_device_linker.py:143-216) — into a
  * log-likelihood sum over field-agreement outcomes (Fellegi & Sunter
  * 1969). Two fields, each with leveled outcomes:
  *
  *  - text: number of *distinct span instances on the weaker side*
  *    that strongly match (Jaro-Winkler ≥ jwStrong or gated
  *    Levenshtein). Using min(strong_a, strong_b) makes a single
  *    borrowed span (the generator's cross-entity contamination, the
  *    reference's shared-device noise,
  *    src/validation/synthetic_households.py:47) contribute at most
  *    level 1 — never the ≥2 level.
  *  - media_ref: per-shared-asset log-likelihood with a document-
  *    frequency cutoff: a rare shared asset is strong evidence
  *    (u ∝ (df/N)²), an asset present in > maxDfFrac of docs (the
  *    deliberately hot key) carries almost none (m ≈ u). This is the
  *    unsupervised analog of per-value u-probabilities in FS.
  *
  * The decision gate requires ≈2 independent evidence units, so any
  * single contaminated span (text OR media) cannot create a false
  * edge — critical because stage C closes transitively and one false
  * edge merges two whole entities.
  *
  * One scoring path plus its overflow fallback. [[scoreWithRepsFused]]
  * computes the whole text field of a pair — best JW, the Levenshtein
  * rescue gated behind the JW pre-check, the strong-span masks — in one
  * codegen'd Catalyst expression over per-doc span-text id arrays,
  * reading the texts from a broadcast dictionary; the FS terms are
  * constant-folded literals, and the plan stays at one row per pair.
  * When that dictionary is over the pipeline's byte budget,
  * [[scoreWithRepsDirect]] scores the same pairs through the same two
  * rep joins with inline string kernels over exploded span pairs and
  * one hash aggregate, with no memory bound. The two are
  * value-identical on every column.
  */
object Scoring {

  final case class Weights(
      jwStrong: Double = 0.84,
      levStrong: Double = 0.80,
      // text field levels: log(m/u) for strong_min ≥2 / ==1 / ==0
      wText2: Double = 9.0,
      wText1: Double = 4.0,
      wText0: Double = -2.0,
      // media: per shared asset, by document frequency
      maxDfFrac: Double = 0.02,
      wMediaRare: Double = 4.5,
      wMediaCommon: Double = 0.3,
      // both sides have media but share none
      wMediaNone: Double = -1.0,
      threshold: Double = 6.5
  )

  /** Stage S0's per-doc rep, one row per doc: (doc_id, texts, medias),
    * from the docs' [[graft.schema.SpanView]] `view`.
    * `texts` are the normalized text spans, truncated to 64 entries:
    * the strong-span masks are 64-bit (`shiftleft(1L, ia)` wraps mod
    * 64), so untruncated span indexes would silently alias. The fixture
    * has ≤ ~9 spans; the cap only bites on pathological inputs.
    * `medias` are the doc's distinct media refs with their df fraction
    * from `dfFrac` (see [[dfFrac]]), empty for docs without media. The
    * rarity is an input, not derived from the docs at hand, so an
    * incremental run scoring only the touched slice of the corpus sees
    * the same rarity as a full run over the whole corpus. */
  def textRep(view: DataFrame, dfFrac: DataFrame): DataFrame = {
    val medias = view.select(col("doc_id"), explode(col("medias")).as("media_ref"))
      .join(dfFrac, "media_ref")
      .groupBy("doc_id")
      // sort_array: collect_list order is nondeterministic and the
      // rare/common double sum in mediaScore is order-sensitive at ulp
      // level — sorted arrays keep resumed checkpoints byte-stable
      .agg(sort_array(collect_list(struct(col("media_ref"), col("dffrac")))).as("medias"))
    view.select(col("doc_id"), slice(transform(col("texts"), t => normText(t)), 1, 64).as("texts"))
      .join(medias, Seq("doc_id"), "left")
      .select(col("doc_id"), col("texts"), coalesce(col("medias"), emptyMedias).as("medias"))
  }

  /** Raw media document-frequency COUNTS (media_ref, df) of the docs'
    * [[graft.schema.SpanView]] — the
    * mergeable corpus statistic behind [[dfFrac]]. An incremental run
    * adds its increment's counts to the persisted table and bumps
    * n_docs (Pipeline.runDelta); full-outer sum of counts over a
    * partition of the corpus equals the combined run's counts exactly,
    * which dffrac (a ratio of floats) does not. */
  def mediaDfCounts(view: DataFrame): DataFrame =
    view.select(explode(col("medias")).as("media_ref")).groupBy("media_ref").agg(count(lit(1)).as("df"))

  /** Media rarity (media_ref, dffrac) from df counts (media_ref, df)
    * and a one-row corpus size (n_docs): long df over double n_docs.
    * The one rarity formula — a full run and an incremental run over
    * merged counts both go through it, so their fractions are
    * bit-equal. The corpus size folds in as a 1-row cross join, not a
    * driver action. */
  def dfFrac(counts: DataFrame, nDocs: DataFrame): DataFrame =
    counts
      .crossJoin(nDocs.select(col("n_docs").cast("double").as("n_docs")))
      .select(col("media_ref"), (col("df") / col("n_docs")).as("dffrac"))

  /** [[dfFrac]] of the docs behind `view` (a [[graft.schema.SpanView]])
    * taken as the whole corpus. */
  def corpusDfFrac(view: DataFrame): DataFrame =
    dfFrac(mediaDfCounts(view), view.agg(count(lit(1)).as("n_docs")))

  private val emptyMedias = array().cast("array<struct<media_ref:string,dffrac:double>>")

  /** |medias_a ∩ medias_b| / |medias_a ∪ medias_b|, 0 when both are empty. */
  private val mediaJaccard: Column =
    when(
      size(array_union(col("medias_a"), col("medias_b"))) > 0,
      size(array_intersect(col("medias_a"), col("medias_b"))).cast("double") /
        size(array_union(col("medias_a"), col("medias_b")))
    ).otherwise(lit(0.0))

  private def mediaScore(w: Weights): Column = {
    val shared = array_intersect(col("medias_a"), col("medias_b"))
    val sumShared = aggregate(
      shared,
      lit(0.0),
      (acc, x) =>
        acc + when(x.getField("dffrac") <= lit(w.maxDfFrac), lit(w.wMediaRare))
          .otherwise(lit(w.wMediaCommon))
    )
    when(size(col("medias_a")) > 0 && size(col("medias_b")) > 0 && size(shared) === 0, lit(w.wMediaNone))
      .otherwise(sumShared)
  }

  /** Score candidate pairs. `candidates`: (doc_a, doc_b, ...);
    * `docs`: input-hint shape. Output: ScoredPair schema.
    *
    * Convenience wrapper that builds the doc representations inline and
    * delegates to [[scoreWithRepsFused]]: the whole per-pair text score
    * (best JW, rescue-Levenshtein, strong-span masks) is ONE codegen'd
    * expression over dict-id arrays — no Generate, no aggregate, one
    * row per pair end to end (see scoreWithRepsFused's doc for the
    * plan shape). The pipeline instead checkpoints the reps and calls
    * scoreWithRepsFused directly so resume-able chunks share them. */
  def score(candidates: DataFrame, docs: DataFrame, w: Weights = Weights()): DataFrame = {
    val view = graft.schema.SpanView(docs)
    val txt = textRep(view, corpusDfFrac(view)).localCheckpoint(true)
    val dict = textDictDense(txt).localCheckpoint(true)
    scoreWithRepsFused(candidates, textIdsRep(txt, dict), w, broadcastDict(dict))
  }

  /** Dense dictionary of the distinct normalized span texts:
    * (t, tid:int), ids assigned in text sort order (range-sort +
    * zipWithIndex — no single-partition global sort; the pipeline
    * checkpoints the result so the assignment is stable for the run). */
  def textDictDense(txt: DataFrame): DataFrame = {
    val spark = txt.sparkSession
    import spark.implicits._
    txt.select(explode(col("texts")).as("t")).where(col("t").isNotNull).distinct()
      .repartitionByRange(col("t"))
      .sortWithinPartitions("t")
      .rdd.zipWithIndex
      .map { case (r, i) => (r.getString(0), i.toInt) }
      .toDF("t", "tid")
  }

  /** Per-doc rep that every scoring chunk joins twice: (doc_id,
    * tids:array<int>, medias). `tids` are index-aligned with
    * [[textRep]]'s texts array (one shuffle join of the exploded rep
    * against the dictionary; empty-texts docs keep an empty array);
    * `medias` is carried through from the same rep. */
  def textIdsRep(txt: DataFrame, dict: DataFrame): DataFrame =
    txt.select(col("doc_id"), col("medias"), posexplode_outer(col("texts")).as(Seq("ia", "t")))
      // no join hint: shuffle_hash on the dictionary measured neutral
      // (benchmark full/sparse, 3 interleaved pairs each, 4 cores; median
      // task core-s hinted → unhinted 2.848 → 2.796 and 1.305 → 1.320),
      // and unhinted the planner may broadcast a small dictionary or
      // use a sort-merge join, which spills where a hash build cannot
      .join(dict, Seq("t"), "left")
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(col("ia").isNotNull, struct(col("ia"), col("tid")))))
          .as("ps"),
        // one value per doc: every exploded row of a doc carries its medias
        first(col("medias")).as("medias")
      )
      .select(col("doc_id"), transform(col("ps"), s => s.getField("tid")).as("tids"), col("medias"))

  /** Collect + broadcast the dictionary as a tid-indexed flat UTF-8
    * blob ([[graft.functions.PackedDict]]: one byte array + one offset
    * table). Two primitive arrays deserialize per executor instead of
    * millions of per-entry byte arrays — per-executor fixed cost and
    * GC-scan load drop with executor count held constant. */
  def broadcastDict(dict: DataFrame): org.apache.spark.broadcast.Broadcast[graft.functions.PackedDict] = {
    val rows = dict.select(col("tid"), col("t")).collect()
    val n = rows.length
    val bytes = new Array[Array[Byte]](n)
    var total = 0L
    rows.foreach { r =>
      val b = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      bytes(r.getInt(0)) = b
      total += b.length
    }
    require(total <= Int.MaxValue, s"span-text dictionary blob $total B exceeds a single array; raise dictMaxBytes gating")
    val flat = new Array[Byte](total.toInt)
    val offs = new Array[Int](n + 1)
    var i = 0
    var off = 0
    while (i < n) {
      val b = bytes(i)
      System.arraycopy(b, 0, flat, off, b.length)
      off += b.length
      offs(i + 1) = off
      i += 1
    }
    dict.sparkSession.sparkContext.broadcast(new graft.functions.PackedDict(flat, offs))
  }

  /** The pair stream joined to a per-doc rep on `doc_a`, then on
    * `doc_b`: rep column `c` arrives as `c_a` and `c_b`. Both scoring
    * paths use this one join chain; join strategy is the planner's. */
  private def joinReps(candidates: DataFrame, rep: DataFrame, cols: String*): DataFrame = {
    def side(s: String): DataFrame =
      rep.select(col("doc_id").as(s"doc_$s") +: cols.map(c => col(c).as(s"${c}_$s")): _*)
    candidates.select("doc_a", "doc_b").join(side("a"), "doc_a").join(side("b"), "doc_b")
  }

  /** Stage S: score against precomputed doc representations (the
    * pipeline checkpoints them once and reuses them across resume-able
    * scoring chunks). One row per candidate pair end to end: the pair
    * stream joins the per-doc rep on `doc_a` and on `doc_b`, and one
    * projection computes the whole score — the text kernel (best JW,
    * rescue-Levenshtein, strong-span bit masks) as a single codegen'd
    * expression over the two dict-id arrays
    * ([[graft.functions.FusedSpanKernel]]), the media terms over the two
    * media arrays, and the FS combination. No Generate, no aggregate.
    * `rep` from [[textIdsRep]], `bc` from [[broadcastDict]], both
    * derived from the same textRep. Value-identical to
    * [[scoreWithRepsDirect]] (ScoringDedupSpec).
    *
    * PRECONDITION: `candidates` must be distinct on (doc_a, doc_b): the
    * joins keep candidate-row grain, so a duplicate input pair yields
    * duplicate scored rows. Blocking.candidatesFromKeys guarantees it; a
    * dropDuplicates here would add a full shuffle of the candidate set
    * to every scoring chunk. */
  def scoreWithRepsFused(
      candidates: DataFrame,
      rep: DataFrame,
      w: Weights,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.PackedDict]
  ): DataFrame = {
    val joined = joinReps(candidates, rep, "tids", "medias")
      .select(
        col("doc_a"), col("doc_b"),
        graft.functions.FusedSpanScore.score(
          col("tids_a"), col("tids_b"), 0.75, w.jwStrong, w.levStrong, bc).as("r"),
        mediaScore(w).as("m_score"),
        mediaJaccard.as("media_jaccard")
      )
      .select(
        col("doc_a"), col("doc_b"), col("m_score"), col("media_jaccard"),
        col("r.jw_best").as("jw_best"),
        col("r.lev_best").as("lev_best"),
        col("r.mask_a").as("mask_a"),
        col("r.mask_b").as("mask_b")
      )
    finishScore(joined, w)
  }

  /** The FS combination and decision gate shared by both paths: strong-
    * span counts from the masks, the text-field level, the score and
    * the gate, over (doc_a, doc_b, m_score, media_jaccard, jw_best,
    * lev_best, mask_a, mask_b). */
  private def finishScore(df: DataFrame, w: Weights): DataFrame = {
    val textTerm = when(col("strong_min") >= 2, lit(w.wText2))
      .when(col("strong_min") === 1, lit(w.wText1))
      .otherwise(lit(w.wText0))
    df.withColumn("strong_a", bit_count(col("mask_a")).cast("long"))
      .withColumn("strong_b", bit_count(col("mask_b")).cast("long"))
      .withColumn("strong_min", least(col("strong_a"), col("strong_b")))
      .withColumn("score", textTerm + col("m_score"))
      .withColumn("is_match", col("score") >= lit(w.threshold))
      .select(
        "doc_a", "doc_b", "score", "jw_best", "lev_best", "media_jaccard",
        "strong_min", "mask_a", "mask_b", "is_match"
      )
  }

  /** Dictionary-free stage S: the same join chain as
    * [[scoreWithRepsFused]] over [[textRep]]'s rep, the media terms per
    * pair, the JW kernel inline over the exploded span-pair stream, then
    * one hash aggregate back to pair grain. The pipeline's fallback when
    * the span-text dictionary is over `Pipeline.Cfg.dictMaxBytes` (no
    * memory bound), and the value oracle [[scoreWithRepsFused]] is
    * tested against. */
  def scoreWithRepsDirect(candidates: DataFrame, rep: DataFrame, w: Weights = Weights()): DataFrame = {
    val paired = joinReps(candidates, rep, "texts", "medias")
      .select(
        col("doc_a"), col("doc_b"), col("texts_a"), col("texts_b"),
        mediaScore(w).as("m_score"),
        mediaJaccard.as("media_jaccard")
      )
    val exA = paired.select(
      col("doc_a"), col("doc_b"), col("m_score"), col("media_jaccard"), col("texts_b"),
      posexplode_outer(col("texts_a")).as(Seq("ia", "ta"))
    )
    val spanPairs = exA.select(
      col("doc_a"), col("doc_b"), col("m_score"), col("media_jaccard"), col("ia"), col("ta"),
      posexplode_outer(col("texts_b")).as(Seq("ib", "tb"))
    )

    // Thresholded JW kernel: exact when ≥ 0.75 (the rescue-band floor,
    // the lowest threshold scoring consults), 0.0 otherwise. The kernel
    // short-circuits on a length bound and aborts the match scan once
    // the remaining-characters bound falls below the cutoff — ~80% of
    // span pairs are dissimilar and exit early, allocation-free.
    val sims = spanPairs
      .withColumn("jw", graft.functions.JaroWinklerExpr.jaroWinklerGE(col("ta"), col("tb"), 0.75))
      .withColumn(
        "lev_sim",
        // Levenshtein is O(len²) and only matters as a RESCUE for the
        // band jw ∈ [0.75, jwStrong): below it can't reach levStrong,
        // at/above JW already decides. Profiling: unconditional lev at
        // jw ≥ 0.70 was ~25% of stage-S CPU.
        when(
          col("jw") >= lit(0.75) && col("jw") < lit(w.jwStrong),
          lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb")), lit(1))
        ).otherwise(lit(0.0))
      )
      .withColumn("strong", col("jw") >= lit(w.jwStrong) || col("lev_sim") >= lit(w.levStrong))

    // distinct-matched-span counts as bit_or masks over the span index
    // (na, nb ≤ 12 « 64): two count_distinct on different columns would
    // force an Expand ×3 over the exploded span-pair stream — the bit
    // masks keep this a single plain hash aggregate. The media terms
    // are per pair, so every span-pair row of a pair carries the same.
    val agg = sims
      .groupBy("doc_a", "doc_b")
      .agg(
        first(col("m_score")).as("m_score"),
        first(col("media_jaccard")).as("media_jaccard"),
        coalesce(max(col("jw")), lit(0.0)).as("jw_best"),
        coalesce(max(col("lev_sim")), lit(0.0)).as("lev_best"),
        coalesce(bit_or(when(col("strong"), expr("shiftleft(1L, ia)")).otherwise(0L)), lit(0L)).as("mask_a"),
        coalesce(bit_or(when(col("strong"), expr("shiftleft(1L, ib)")).otherwise(0L)), lit(0L)).as("mask_b")
      )
    finishScore(agg, w)
  }
}
