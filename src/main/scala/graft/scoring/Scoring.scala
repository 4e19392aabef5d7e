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
  * [[scoreWithRepsDirect]] scores the same pairs with inline string
  * kernels over exploded span pairs and one hash aggregate, with no
  * memory bound. The two are value-identical on every column.
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

  /** Per-doc normalized text spans, truncated to 64 entries: the
    * strong-span masks are 64-bit (`shiftleft(1L, ia)` wraps mod 64),
    * so untruncated span indexes would silently alias. The fixture has
    * ≤ ~9 spans; the cap only bites on pathological inputs. */
  def textRep(docs0: DataFrame): DataFrame = {
    val docs = graft.util.Parallelism.ensure(docs0)
    docs.select(
      col("doc_id"),
      slice(
        transform(
          filter(col("spans"), s => s.getField("kind") === lit("text")),
          s => normText(s.getField("text"))
        ),
        1, 64
      ).as("texts")
    )
  }

  /** Distinct media refs per doc annotated with their global document-
    * frequency fraction. Only docs WITH media appear (join left +
    * coalesce at the use site). The total doc count folds in as a
    * 1-row cross join — no separate driver action (a `docs.count()`
    * here would be a full extra input pass before scoring starts).
    * The media-df dictionary join is a shuffle join on media_ref (at
    * planet scale the dictionary is itself large); at test scale AQE
    * turns it into a broadcast join automatically. */
  def mediaRep(docs0: DataFrame): DataFrame = {
    val docs = graft.util.Parallelism.ensure(docs0)
    val medias = docMediaRefs(docs)
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val mediaDf = mediaDfCounts(docs)
      .crossJoin(total)
      .select(col("media_ref"), (col("df") / col("n_docs")).as("dffrac"))
    mediaRepWithDf(medias, mediaDf)
  }

  /** (doc_id, media_ref) — one row per distinct media ref per doc. */
  def docMediaRefs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      explode(
        array_distinct(
          transform(
            filter(col("spans"), s => s.getField("kind") === lit("media")),
            s => s.getField("media_ref")
          )
        )
      ).as("media_ref")
    )

  /** Raw media document-frequency COUNTS (media_ref, df) — the
    * mergeable corpus statistic behind [[mediaRep]]'s dffrac. An
    * incremental run adds its increment's counts to the persisted
    * table and bumps n_docs (Pipeline.runDelta); full-outer sum of
    * counts over a partition of the corpus equals the combined run's
    * counts exactly, which dffrac (a ratio of floats) does not. */
  def mediaDfCounts(docs: DataFrame): DataFrame =
    docMediaRefs(docs).groupBy("media_ref").agg(count(lit(1)).as("df"))

  /** Per-doc media arrays from an EXPLICIT df-fraction table
    * (media_ref, dffrac) — the statistics are an input, not derived
    * from the docs at hand, so an incremental run scoring only the
    * touched slice of the corpus sees the same rarity as a full run
    * over the whole corpus. `mediasOrDocs` accepts either the exploded
    * (doc_id, media_ref) frame or raw docs. */
  def mediaRepWithDf(mediasOrDocs: DataFrame, dfFrac: DataFrame): DataFrame = {
    val medias =
      if (mediasOrDocs.columns.contains("media_ref")) mediasOrDocs
      else docMediaRefs(graft.util.Parallelism.ensure(mediasOrDocs))
    medias
      .join(dfFrac, "media_ref")
      .groupBy("doc_id")
      // sort_array: collect_list order is nondeterministic and the
      // rare/common double sum in mediaScore is order-sensitive at ulp
      // level — sorted arrays keep resumed checkpoints byte-stable
      .agg(sort_array(collect_list(struct(col("media_ref"), col("dffrac")))).as("medias"))
  }

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
    val txt = textRep(docs).localCheckpoint(true)
    val dict = textDictDense(txt).localCheckpoint(true)
    scoreWithRepsFused(candidates, textIdsRep(txt, dict, mediaRep(docs)), w, broadcastDict(dict))
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
    * tids:array<int>, medias). `tids` are index-aligned with textRep's
    * texts array (one shuffle join of the exploded rep against the
    * dictionary; empty-texts docs keep an empty array); `medias` is the
    * doc's [[mediaRep]] array, empty for docs without media. */
  def textIdsRep(txt: DataFrame, dict: DataFrame, med: DataFrame): DataFrame =
    txt.select(col("doc_id"), posexplode_outer(col("texts")).as(Seq("ia", "t")))
      // no join hint: shuffle_hash on the dictionary measured neutral
      // (benchmark full/sparse, 3 interleaved pairs each, 4 cores; median
      // task core-s hinted → unhinted 2.848 → 2.796 and 1.305 → 1.320),
      // and unhinted the planner may broadcast a small dictionary or
      // use a sort-merge join, which spills where a hash build cannot
      .join(dict, Seq("t"), "left")
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(col("ia").isNotNull, struct(col("ia"), col("tid")))))
          .as("ps")
      )
      .join(med, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        transform(col("ps"), s => s.getField("tid")).as("tids"),
        coalesce(col("medias"), emptyMedias).as("medias")
      )

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
    // One join chain with both rep arrays on both joins. The earlier
    // shape kept each array on one sort-merge join (text and media
    // branches merged at pair grain: 5 joins, 10 exchanges per chunk)
    // because an exploded-span chain had lost at 32 threads; with the
    // score one per-row expression that no longer holds. On the
    // benchmark's `full` corpus (4 cores, traced seeds 1-3) AQE
    // broadcasts the rep, a call runs 102 jobs instead of 136 and stage
    // S shuffles 2.3 MB instead of 9.0 MB. Join strategy is the planner's.
    def side(s: String): DataFrame =
      rep.select(col("doc_id").as(s"doc_$s"), col("tids").as(s"tids_$s"), col("medias").as(s"medias_$s"))
    val joined = candidates.select("doc_a", "doc_b")
      .join(side("a"), "doc_a")
      .join(side("b"), "doc_b")
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
      .withColumn("strong_a", bit_count(col("mask_a")).cast("long"))
      .withColumn("strong_b", bit_count(col("mask_b")).cast("long"))
      .withColumn("strong_min", least(col("strong_a"), col("strong_b")))
    finishScore(joined, w)
  }

  /** Final FS combination + decision gate of [[scoreWithRepsFused]]. */
  private def finishScore(df: DataFrame, w: Weights): DataFrame = {
    val textTerm = when(col("strong_min") >= 2, lit(w.wText2))
      .when(col("strong_min") === 1, lit(w.wText1))
      .otherwise(lit(w.wText0))
    df.withColumn("score", textTerm + col("m_score"))
      .withColumn("is_match", col("score") >= lit(w.threshold))
      .select(
        "doc_a", "doc_b", "score", "jw_best", "lev_best", "media_jaccard",
        "strong_min", "mask_a", "mask_b", "is_match"
      )
  }

  /** Dictionary-free stage S: the JW kernel inline over the
    * text-carrying exploded span-pair stream, then one hash aggregate
    * back to pair grain. The pipeline's fallback when the span-text
    * dictionary is over `Pipeline.Cfg.dictMaxBytes` (no memory bound),
    * and the value oracle [[scoreWithRepsFused]] is tested against. */
  def scoreWithRepsDirect(candidates: DataFrame, txt: DataFrame, med: DataFrame, w: Weights = Weights()): DataFrame = {
    val pairs = candidates.select("doc_a", "doc_b")
    val medA = med.select(col("doc_id").as("doc_a"), col("medias").as("medias_a"))
    val medB = med.select(col("doc_id").as("doc_b"), col("medias").as("medias_b"))
    val mediaPair = pairs
      .join(medA, Seq("doc_a"), "left")
      .join(medB, Seq("doc_b"), "left")
      .withColumn("medias_a", coalesce(col("medias_a"), emptyMedias))
      .withColumn("medias_b", coalesce(col("medias_b"), emptyMedias))
      .select(
        col("doc_a"), col("doc_b"),
        mediaScore(w).as("m_score"),
        mediaJaccard.as("media_jaccard")
      )

    // --- text branch: slim exploded span pairs ---
    val txtA = txt.select(col("doc_id").as("doc_a"), col("texts").as("texts_a"))
    val txtB = txt.select(col("doc_id").as("doc_b"), col("texts").as("texts_b"))
    val paired = pairs.join(txtA, "doc_a").join(txtB, "doc_b")

    val exA = paired.select(
      col("doc_a"), col("doc_b"), col("texts_b"),
      posexplode_outer(col("texts_a")).as(Seq("ia", "ta"))
    )
    val spanPairs = exA.select(
      col("doc_a"), col("doc_b"), col("ia"), col("ta"),
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
    // masks keep this a single plain hash aggregate.
    val agg = sims
      .groupBy("doc_a", "doc_b")
      .agg(
        coalesce(max(col("jw")), lit(0.0)).as("jw_best"),
        coalesce(max(col("lev_sim")), lit(0.0)).as("lev_best"),
        coalesce(bit_or(when(col("strong"), expr("shiftleft(1L, ia)")).otherwise(0L)), lit(0L)).as("mask_a"),
        coalesce(bit_or(when(col("strong"), expr("shiftleft(1L, ib)")).otherwise(0L)), lit(0L)).as("mask_b")
      )
      .withColumn("strong_a", bit_count(col("mask_a")).cast("long"))
      .withColumn("strong_b", bit_count(col("mask_b")).cast("long"))
      .withColumn("strong_min", least(col("strong_a"), col("strong_b")))

    val textTerm = when(col("strong_min") >= 2, lit(w.wText2))
      .when(col("strong_min") === 1, lit(w.wText1))
      .otherwise(lit(w.wText0))

    agg
      .join(mediaPair, Seq("doc_a", "doc_b"))
      .withColumn("score", textTerm + col("m_score"))
      .withColumn("is_match", col("score") >= lit(w.threshold))
      .select(
        "doc_a", "doc_b", "score", "jw_best", "lev_best", "media_jaccard",
        "strong_min", "mask_a", "mask_b", "is_match"
      )
  }
}
