package graft.blocking

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps.normText

/** Stage B — salted multi-key candidate generation.
  *
  * Replaces the reference's O(n²) all-pairs nested-loop self-join
  * (reference: src/core/cross_device_linker.py:114-128) with key-based
  * blocking: normalized-text MinHash/LSH band keys ∪ exact `media_ref`
  * keys. Hot blocks (shared assets — reference's shared-device noise,
  * src/validation/synthetic_households.py:47) are capped at
  * `maxBlockSize` with dropped-pair accounting (standard LSH practice;
  * mirrors the reference's top-k degree bound,
  * cross_device_linker.py:385-412) — never silent.
  *
  * Scale notes (10^12 docs): one shuffle to group keys, one
  * shuffle-join to form pairs; AQE skew-join enabled by the session;
  * block cap bounds the worst single-key fan-out at
  * maxBlockSize²/2 pairs; candidate output is range-repartitioned by
  * (doc_a, salt) so downstream stage-S work is balanced even when one
  * doc appears in very many pairs.
  */
object Blocking {

  final case class Cfg(
      shingleN: Int = 4,
      minhashK: Int = 48,
      bands: Int = 12,
      maxBlockSize: Int = 1000,
      salts: Int = 16,
      seed: Long = 42L
  ) {
    def rows: Int = minhashK / bands
    require(minhashK % bands == 0, "minhashK must be divisible by bands")
  }

  /** Per-doc blocking keys: (doc_id, key_kind, block_key:long).
    * key_kind ∈ {'lsh','media'}. `view` is the docs'
    * [[graft.schema.SpanView]]: an lsh key hashes the normalized join of
    * a doc's texts, a media key each distinct media ref.
    *
    * MinHash shape: one compiled pass per doc (MinHashBands) — rolling
    * shingle window + k affine minima + band mixing in registers; the
    * per-doc output is `bands` longs, with no shingle rows and no
    * shuffle. */
  def docKeys(view: DataFrame, cfg: Cfg): DataFrame = {
    val lsh = view.select(
      col("doc_id"),
      explode(graft.functions.MinHashBands.bandKeys(
        normText(array_join(col("texts"), " ")), cfg.shingleN, cfg.minhashK, cfg.bands, cfg.seed)).as("block_key")
    ).select(col("doc_id"), lit("lsh").as("key_kind"), col("block_key"))

    val media = view
      .select(col("doc_id"), explode(col("medias")).as("media_ref"))
      .select(col("doc_id"), lit("media").as("key_kind"), xxhash64(lit("m"), col("media_ref")).as("block_key"))

    lsh.unionByName(media)
  }

  /** Block-size census used for the cap and for the metrics table. */
  def blockSizes(keys: DataFrame): DataFrame =
    keys.groupBy("key_kind", "block_key").agg(count("*").as("block_n"))

  /** Candidate pairs, canonical doc_a < doc_b, deduplicated across keys
    * with a deterministic witness key (min (key_kind, block_key)) so the
    * checkpointed table is byte-stable across reruns.
    *
    * The per-doc key table is pinned before it is read three
    * times (census + both self-join sides) — without it the whole
    * MinHash subtree executes 3×, measured as 81% of end-to-end wall
    * time at the bench scale. [[graft.pipeline.Pipeline.run]] builds
    * the same pairs from its own pinned (or checkpointed) key table. */
  def candidates(docs: DataFrame, cfg: Cfg): DataFrame =
    candidatesFromKeys(docKeys(graft.schema.SpanView(docs), cfg).localCheckpoint(true), cfg)

  /** The distinct key kinds of a key table, sorted by UTF-8 byte order
    * (= Spark's string comparison) — the witness dedup enumerates them
    * as per-kind conditional mins (see [[dedupWitness]]). One tiny
    * driver action: kinds are a schema-class property (2 in the
    * pipeline, ≤ bands in the md5 paths), and the scan is a pruned
    * single-column pass with map-side partial distinct. */
  private def distinctKinds(keys: DataFrame): Seq[String] =
    keys.select("key_kind").distinct().collect().map(_.getString(0)).toSeq
      .sortWith((x, y) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0)

  /** Canonical-witness dedup of the raw per-block pair stream: one row
    * per (doc_a, doc_b) carrying the MINIMUM (key_kind, block_key) of
    * the blocks that produced the pair, plus the salt.
    *
    * `min(struct(key_kind, block_key))` is the semantic, but a struct
    * min-buffer is not UnsafeRow-mutable, so Spark plans it as a
    * SortAggregate — at bench scale that SORTED the ~30M-row raw pair
    * stream twice (partial + final) and was the single largest CPU
    * block in stage B (guide §2.3/§4: prefer hash-aggregatable
    * built-ins in the hot path). With the kind set enumerated
    * (`kinds`, sorted ascending), the same lexicographic min is
    * expressible as per-kind conditional `min(long)` columns — plain
    * fixed-width HashAggregate with map-side partial aggregation:
    * witness kind = first kind with a non-null min, witness key = that
    * min. Falls back to the struct form for degenerate kind sets
    * (empty input, or an unbounded kind vocabulary that would bloat
    * the aggregate). Output rows are IDENTICAL either way
    * (BlockingWitnessSpec asserts exact equality). */
  private def dedupWitness(raw: DataFrame, kinds: Seq[String], salts: Int): DataFrame = {
    val salt =
      pmod(xxhash64(col("doc_a"), col("doc_b")), lit(salts)).cast("int").as("salt")
    if (kinds.isEmpty || kinds.size > 64) {
      raw
        .groupBy("doc_a", "doc_b")
        .agg(min(struct(col("key_kind"), col("block_key"))).as("w"))
        .select(
          col("doc_a"), col("doc_b"),
          col("w.key_kind").as("key_kind"),
          col("w.block_key").as("block_key"),
          salt
        )
    } else {
      val aggs = kinds.zipWithIndex.map { case (k, i) =>
        min(when(col("key_kind") === lit(k), col("block_key"))).as(s"wk_$i")
      }
      val kindExpr = kinds.zipWithIndex.foldRight(lit(null).cast("string")) {
        case ((k, i), e) => when(col(s"wk_$i").isNotNull, lit(k)).otherwise(e)
      }
      val keyExpr =
        if (kinds.size == 1) col("wk_0")
        else coalesce(kinds.indices.map(i => col(s"wk_$i")): _*)
      raw
        .groupBy("doc_a", "doc_b")
        .agg(aggs.head, aggs.tail: _*)
        .select(
          col("doc_a"), col("doc_b"),
          kindExpr.as("key_kind"),
          keyExpr.as("block_key"),
          salt
        )
    }
  }

  /** Pair generation from an already-materialized key table. `census0`
    * lets the caller share one materialized block census between pair
    * generation and [[dropMetrics]] (the pipeline pins it with a
    * localCheckpoint) instead of re-aggregating the key table per
    * consumer. */
  def candidatesFromKeys(keys: DataFrame, cfg: Cfg, census0: Option[DataFrame] = None): DataFrame = {
    // SHUFFLE_HASH on the census/build sides (guide §3.1): unhinted,
    // both the cap join and the pair self-join plan as SortMergeJoins
    // and sort the full key table (and the census) per side; the hash
    // build is a per-partition slice (distinct-blocks/partitions rows)
    // and needs no sort. Equi-joins — the row set is the same either way.
    val kept = keys
      .join(
        census0.getOrElse(blockSizes(keys)).where(col("block_n") <= cfg.maxBlockSize).hint("shuffle_hash"),
        Seq("key_kind", "block_key"))
      .select("key_kind", "block_key", "doc_id")

    val a = kept.select(col("key_kind"), col("block_key"), col("doc_id").as("doc_a"))
    val b = kept.select(col("key_kind"), col("block_key"), col("doc_id").as("doc_b"))
    val raw = a.join(b.hint("shuffle_hash"), Seq("key_kind", "block_key"))
      // salt over BOTH ids (applied inside dedupWitness): a hot doc_a's
      // pairs must spread across salt buckets (a doc_a-only salt is
      // constant per hot doc and cannot split its pair mass)
      .where(col("doc_a") < col("doc_b"))
    dedupWitness(raw, distinctKinds(keys), cfg.salts)
      .repartitionByRange(col("doc_a"), col("salt"))
  }

  /** Delta-mode pair generation: candidate pairs that involve at least
    * one NEW doc, against a prior run's persisted key table — the
    * blocking step of incremental resolution (add a day's docs without
    * re-pairing the corpus).
    *
    * Only blocks TOUCHED by a new key matter: a block with no new
    * member can produce no new pair (its old-old pairs were generated
    * by the prior run). Prior keys are therefore semi-join-pruned to
    * touched blocks before anything wide happens — the one full pass
    * over the prior key table is a pruned two-column scan, not a
    * re-shingle of the corpus.
    *
    * Cap semantics: the census counts the COMBINED membership
    * (prior + new) of each touched block, exactly what a full run over
    * old∪new would count, so new pairs are dropped iff the full run
    * would drop them. One documented asymmetry (standard for
    * incremental ER): a block pushed OVER the cap by new docs keeps
    * the old-old pairs the prior run already emitted — deltas add
    * evidence, they never revoke it. Witness dedup is identical to
    * [[candidatesFromKeys]]: every block shared by a pair is touched
    * (it contains the pair's new doc), so the min-(key_kind,block_key)
    * witness matches the full run's and the output is byte-stable.
    *
    * Pair-set contract (BlockingDeltaSpec): if no block's size crosses
    * `maxBlockSize` between the prior and combined runs,
    * `candidatesFromKeys(old ∪ new)` ≡
    * `candidatesFromKeys(old) ∪ deltaCandidates(new, old)` exactly. */
  def deltaCandidates(newKeys: DataFrame, priorKeys: DataFrame, cfg: Cfg): DataFrame = {
    val touched = newKeys.select("key_kind", "block_key").distinct()
    val oldInTouched = priorKeys
      .join(touched, Seq("key_kind", "block_key"), "left_semi")
      .select(col("key_kind"), col("block_key"), col("doc_id"), lit(false).as("is_new"))
    val u = newKeys
      .select(col("key_kind"), col("block_key"), col("doc_id"), lit(true).as("is_new"))
      .unionByName(oldInTouched)

    val kept = u
      .join(
        blockSizes(u.select("key_kind", "block_key", "doc_id")).where(col("block_n") <= cfg.maxBlockSize)
          .hint("shuffle_hash"),
        Seq("key_kind", "block_key"))
      .select("key_kind", "block_key", "doc_id", "is_new")

    val a = kept.select(col("key_kind"), col("block_key"), col("doc_id").as("doc_a"), col("is_new").as("new_a"))
    val b = kept.select(col("key_kind"), col("block_key"), col("doc_id").as("doc_b"), col("is_new").as("new_b"))
    val raw = a.join(b.hint("shuffle_hash"), Seq("key_kind", "block_key"))
      .where(col("doc_a") < col("doc_b") && (col("new_a") || col("new_b")))
    // kinds from the NEW keys only (delta-sized scan): every touched
    // block's (key_kind, block_key) appears among the new keys by the
    // definition of `touched`, so the kept rows cannot carry a kind the
    // increment lacks.
    dedupWitness(raw, distinctKinds(newKeys), cfg.salts)
      .repartitionByRange(col("doc_a"), col("salt"))
  }

  /** Metrics rows for dropped (over-cap) blocks: count and the estimated
    * pair mass dropped — Σ n·(n−1)/2 over dropped blocks. Pass the
    * pinned census from the candidates build as `census0` to avoid a
    * second aggregation pass over the key table. */
  def dropMetrics(keys: DataFrame, cfg: Cfg, census0: Option[DataFrame] = None): DataFrame = {
    val dropped = census0.getOrElse(blockSizes(keys)).where(col("block_n") > cfg.maxBlockSize)
    dropped.agg(
      count("*").cast("double").as("dropped_blocks"),
      coalesce(sum(col("block_n") * (col("block_n") - 1) / 2), lit(0.0)).as("dropped_pairs_est")
    )
  }
}
