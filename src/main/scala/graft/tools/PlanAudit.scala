package graft.tools
import org.apache.spark.sql.SparkSession

/** Physical-plan audit for the 100 TB scan/shuffle paths: per plan it
  * reports every file-scan's pruned ReadSchema + PushedFilters, the
  * shuffle-exchange count, and the whole-stage-codegen span count.
  * Run with an output path to (re)generate PLANS.md:
  * `sbt "runMain graft.tools.PlanAudit PLANS.md"`. AQE is disabled so
  * the static plan (codegen ids included) is visible. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val out = new StringBuilder
    out ++= "# PLANS — physical-plan audit of the hot paths\n\n"
    out ++= "Generated by `graft.tools.PlanAudit` (AQE off so the static plan is\n"
    out ++= "visible). Per plan: file scans with their pruned `ReadSchema` and\n"
    out ++= "`PushedFilters`, shuffle-exchange count, and whole-stage-codegen span\n"
    out ++= "count. The things to check at 100 TB: a scan must read only the\n"
    out ++= "columns the query needs, filters must reach the scan, and the hot\n"
    out ++= "expressions must sit inside WholeStageCodegen spans.\n"

    def audit(name: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      val codegen = plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.size
      out ++= s"\n## $name\n\n$note\n\n"
      out ++= s"- shuffle exchanges: $shuffles; whole-stage-codegen spans: $codegen\n"
      plan.collectLeaves().foreach {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          val loc = s.metadata.getOrElse("Location", "").split("/").lastOption.getOrElse("").stripSuffix("]")
          out ++= s"- scan `$loc`\n"
          out ++= s"  - ReadSchema: `${s.requiredSchema.simpleString.take(220)}`\n"
          out ++= s"  - PushedFilters: `${s.metadata.getOrElse("PushedFilters", "")}`\n"
        case other =>
          out ++= s"- leaf: ${other.nodeName}\n"
      }
    }

    // --- pipeline stage plans on the t1 fixture ---
    val (docsPath, _) = graft.schema.Fixture.ensureWritten(spark, "t1")
    val docs = spark.read.parquet(docsPath)
      .withColumn("doc_id", org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("doc_id")))
    val view = graft.schema.SpanView(docs)
    val keys = graft.blocking.Blocking.docKeys(view, graft.blocking.Blocking.Cfg())
    audit("stage B — docKeys (fused MinHash kernel, default)",
      "One compiled pass per doc (MinHashBands expression): rolling shingle window + k affine minima + " +
        "band mixing in registers over the SpanView's texts and medias — NO shuffle, no k-min aggregate; scan reads only (doc_id, spans).",
      keys)
    val keysM = keys.localCheckpoint(true)
    audit("stage B — candidatesFromKeys (census + salted pair self-join)",
      "Census join + self-join + canonical dedup aggregate + range repartition over the materialized key table.",
      graft.blocking.Blocking.candidatesFromKeys(keysM, graft.blocking.Blocking.Cfg()))
    val cand = graft.blocking.Blocking.candidatesFromKeys(keysM, graft.blocking.Blocking.Cfg()).localCheckpoint(true)
    locally {
      val txt = graft.scoring.Scoring.textRep(view, graft.scoring.Scoring.corpusDfFrac(view)).localCheckpoint(true)
      val dict = graft.scoring.Scoring.textDictDense(txt).localCheckpoint(true)
      val rep = graft.scoring.Scoring.textIdsRep(txt, dict).localCheckpoint(true)
      audit("stage S — scoreWithRepsFused (default): one per-doc rep joined twice, no Generate/aggregate",
        "The pair stream joins the per-doc rep (span-text ids + media set) on doc_a, then on doc_b; one " +
          "projection computes the whole score — best JW, rescue-Levenshtein and strong-span masks as ONE " +
          "codegen'd expression over the two dict-id arrays (FusedSpanScore), the media terms, the FS " +
          "combination. Two joins per chunk, no branch merge.",
        graft.scoring.Scoring.scoreWithRepsFused(
          cand, rep, graft.scoring.Scoring.Weights(), graft.scoring.Scoring.broadcastDict(dict)))
      audit("stage S — scoreWithRepsDirect (text-carrying fallback)",
        "The same two joins against the text rep (span texts + media set), the media terms per pair, inline " +
          "string kernels over the exploded span-pair stream and one hash aggregate back to pair grain — the " +
          "unbounded-dictionary fallback; same value semantics (ScoringDedupSpec).",
        graft.scoring.Scoring.scoreWithRepsDirect(cand, txt))
    }

    // --- delta (incremental) pipeline paths: the increment is a 20%
    // hash slice of t1, the prior key table plays the persisted
    // stage-B1 checkpoint ---
    locally {
      import org.apache.spark.sql.functions.{pmod, xxhash64, col, lit}
      val isNew = pmod(xxhash64(col("doc_id")), lit(5)) === 4
      val priorKeys = graft.blocking.Blocking.docKeys(view.where(!isNew), graft.blocking.Blocking.Cfg())
        .localCheckpoint(true)
      val newKeys = graft.blocking.Blocking.docKeys(view.where(isNew), graft.blocking.Blocking.Cfg())
        .localCheckpoint(true)
      audit("delta blocking — deltaCandidates (new keys × persisted prior key table)",
        "The corpus-side input is the PRIOR RUN'S KEY CHECKPOINT, not the docs (no re-shingling): a " +
          "left-semi prune keeps only prior keys in blocks the increment touches, the census runs over " +
          "the pruned union (combined block sizes ⇒ cap semantics match a full run), and the pair join " +
          "emits only pairs with a new endpoint. Work scales with the increment (touched blocks), " +
          "not the corpus — the key-table scan is the only linear pass and it reads 3 narrow columns.",
        graft.blocking.Blocking.deltaCandidates(newKeys, priorKeys, graft.blocking.Blocking.Cfg()))
    }

    // --- analytics scan pruning over the driver tables ---
    audit("q17_transition_counts", "Path construction reads only (user_id, event_type, ts, event_id).",
      graft.queries.Analytics3.queries("q17_transition_counts")(spark, dir))
    audit("q25_person_profiles", "Single-scan grouping-sets persona pass + sessionization window.",
      graft.queries.Analytics4.queries("q25_person_profiles")(spark, dir))
    audit("q31_feedback_significance", "Two-level aggregate (user-day grain first) — no Expand ×4 of the event stream.",
      graft.queries.Analytics5.queries("q31_feedback_significance")(spark, dir))
    audit("q32_minhash_md5", "md5 MinHash bands: explode → k-min aggregate → band equi-join → Jaccard verify.",
      graft.queries.Analytics5.queries("q32_minhash_md5")(spark, dir))
    audit("q5_dedup_exact", "Exact dedup is a pure hash group-by on the normalized text hash.",
      graft.queries.Analytics.queries("q5_dedup_exact")(spark, dir))
    audit("op_ann_lsh (LSH cosine pairs)", "Bucket projection stays under janino's 64 KB cap (constant-folded " +
      "plane literals + fold) so the stage remains in whole-stage codegen.",
      graft.queries.OpsQueries.queries("op_ann_lsh")(spark, dir))
    audit("op IVF-flat ANN serving join (Ivf.topK)",
      "Quantizer centroids fold into ONE constant literal, so cell assignment and probe ranking are " +
        "narrow per-row expressions (zero shuffle before the join); the O(n²) cross join is replaced by " +
        "a single cell-id equi-join + per-query top-k window. Cell skew is AQE's skew-join case at scale.",
      graft.ops.Ivf.topK(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .selectExpr("vec_id as id", "embedding as vec"),
        nlist = 8, nprobe = 3, k = 5, iters = 2))
    audit("q43 n-gram Jaccard (rare-gram inverted index)",
      "Exact near-dup verifier: distinct grams explode once and localCheckpoint; the df census, the " +
        "rare-filter semi-join, per-doc counts and the gram self-join all hash-partition on gram or id — " +
        "no array payload crosses a join, and the df cap bounds per-gram fanout at C(dfCap,2) so no " +
        "stop-shingle goes quadratic at corpus scale.",
      graft.ops.Dedup.ngramJaccardPairs(
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("cast(doc_id as string) as id", "text")))
    audit("fused SimHash sketch (production path)",
      "One codegen'd expression per doc — token scan, XXH64 word hashes and 64 vote counters in " +
        "registers; NO shuffle, no 64-aggregate explode (bit-identical per SimHashFusedSpec).",
      graft.ops.Dedup.simhash(
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("cast(doc_id as string) as id", "text")))

    audit("q47 cluster agreement (Rand/ARI pair counting)",
      "One shuffle to the contingency cells; marginal sums re-aggregate FROM the cells (no second pass " +
        "over the assignments), then 1-row scalar crossJoins — input is scanned exactly once and only " +
        "(lang, text) is read.",
      graft.queries.Analytics6.queries("q47_cluster_agreement")(spark, dir))

    audit("q48 deterministic MC Shapley (md5 permutations)",
      "The 2^n v-table and the channel table both broadcast (no shuffled join); the only exchange " +
        "partitions the samples×channels fan-out by sample for the prefix-mask window — O(samples·n) " +
        "rows total, independent of corpus size (the corpus was already reduced by the distributed " +
        "coalition count).",
      graft.queries.Analytics6.queries("q48_shapley_mc")(spark, dir))
    audit("q49 hybrid Markov×Shapley blend (scaled integers)",
      "Both arms are BOUNDED driver reductions (≤ MaxChannels rows) over their distributed halves " +
        "(path window, coalition counts), each collected exactly once at call time — so the emitted " +
        "frame is a LocalTableScan, nothing recomputes per materialization, and the Long-overflow guard " +
        "covers the very integers emitted. At 100 TB checkpoint userPaths once and feed both arms.",
      graft.queries.Analytics7.queries("q49_shapley_hybrid")(spark, dir))
    audit("q50 deterministic Poisson bootstrap (removal-effect bands)",
      "Path construction is the q17 window+min-join (it re-scans events per sub-aggregate — checkpoint " +
        "userPaths at scale); the reps table broadcasts into the crossJoin, so the converters×64 fan-out " +
        "never shuffles raw events — the weight draws are per-row md5 expressions and the two aggregates " +
        "plus the rank window partition by replicate/channel over O(converters·reps) narrow rows.",
      graft.queries.Analytics7.queries("q50_bootstrap_removal")(spark, dir))
    audit("q53 attribution report (q49 blend ⋈ q50 bands)",
      "The report surface composes the two audited plans above and joins their per-channel outputs — " +
        "the hybrid arm ends in a driver-bounded toDF (≤ channels rows), so the join broadcasts it " +
        "against the band aggregate; no new wide exchange appears at any corpus size.",
      graft.queries.Analytics7.queries("q53_attribution_report")(spark, dir))
    audit("q54 media codec round trip (encode→parse per doc)",
      "Embarrassingly parallel: one scan of documents (doc_id only), md5 parameter derivation as row " +
        "expressions, then a mapPartitions encode+parse — zero shuffles, decode runs next to the data; " +
        "the identical shape carries real object-store payload columns at 100 TB.",
      graft.queries.OpsQueries.queries("q54_media_decode")(spark, dir))

    val target = args.headOption.getOrElse("PLANS.md")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(target), out.toString)
    println(s"wrote $target")
    spark.stop()
  }
}
