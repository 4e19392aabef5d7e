package graft.schema

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic fixture generator for the `input_hint` doc/span schema.
  *
  * Scala re-expression of the reference's seeded synthetic-household
  * generator mapped onto interleaved text+media documents:
  *  - latent entities ≈ persons (reference:
  *    src/validation/synthetic_households.py:96-125 persona profiles)
  *  - docs per entity ∈ [30,100] (reference `sessions_per_person_range`,
  *    synthetic_households.py:37)
  *  - character-edit noise at rate 0.15 on text spans (reference
  *    `noise_level`, synthetic_households.py:46)
  *  - cross-entity contamination at rate 0.2 — a doc borrows one span
  *    (text or media) from another entity (reference
  *    `device_sharing_rate` shared-device noise,
  *    synthetic_households.py:47,209-223) — the hard negatives
  *  - one deliberately hot media_ref on ~5% of all docs (skew test)
  *
  * All draws are pure functions of (seed, entity, doc, span, char) via
  * [[Rng]], so output content is identical under any partitioning.
  * Generation itself is distributed (flatMap over the entity range) —
  * at 10^12-doc scale this is an embarrassingly parallel write job.
  */
object Fixture {

  final case class Cfg(
      entities: Int,
      seed: Long = 42L,
      docsPerEntityMin: Int = 30,
      docsPerEntityMax: Int = 100,
      phrasesPerEntityMin: Int = 8,
      phrasesPerEntityMax: Int = 12,
      noiseRate: Double = 0.15,
      contaminationRate: Double = 0.20,
      hotMediaRate: Double = 0.05
  )

  /** Test scales per FIXTURES.md §3. */
  val scales: Map[String, Cfg] = Map(
    "t1"    -> Cfg(entities = 50),
    "t2"    -> Cfg(entities = 500),
    "bench" -> Cfg(entities = 5000),
    // 10× the bench point (~3.2M docs): the round-6 scale-ladder
    // measurement point (needs ~38 GB of heap) — converts the 100 TB story's
    // "plan shape says it scales" into a measured docs/s + pair-growth
    // + memory point. Not reachable from the driver bench mapping
    // (Resolution.scaleFor), so the frozen bench contract is unchanged.
    "x10"   -> Cfg(entities = 50000)
  )

  private val syllables: Array[String] = Array(
    "ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du", "fa", "fe",
    "fi", "fo", "fu", "ga", "ge", "gi", "go", "gu", "ka", "ke", "ki", "ko",
    "ku", "la", "le", "li", "lo", "lu", "ma", "me", "mi", "mo", "mu", "na",
    "ne", "ni", "no", "nu", "pa", "pe", "pi", "po", "pu", "ra", "re", "ri",
    "ro", "ru", "sa", "se", "si", "so", "su", "ta", "te", "ti", "to", "tu",
    "va", "ve", "vi", "vo"
  )

  private val globalVocab = 4096

  /** Global word w ∈ [0, 4096): 2-4 syllables, deterministic. */
  private def word(seed: Long, w: Int): String = {
    val n = 2 + Rng.int(3, seed, 0x70001L, w.toLong)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb.append(syllables(Rng.int(syllables.length, seed, 0x70002L, w.toLong, i.toLong)))
      i += 1
    }
    sb.toString
  }

  /** Entity e's p-th base phrase: 4-8 global-vocab words. */
  private def phrase(seed: Long, e: Long, p: Int): String = {
    val n = 4 + Rng.int(5, seed, 0x80001L, e, p.toLong)
    (0 until n)
      .map(w => word(seed, Rng.int(globalVocab, seed, 0x80002L, e, p.toLong, w.toLong)))
      .mkString(" ")
  }

  private def phraseCount(cfg: Cfg, e: Long): Int =
    cfg.phrasesPerEntityMin +
      Rng.int(cfg.phrasesPerEntityMax - cfg.phrasesPerEntityMin + 1, cfg.seed, 0x80003L, e)

  private def assetCount(seed: Long, e: Long): Int = 1 + Rng.int(3, seed, 0x90001L, e)

  private def asset(e: Long, k: Int): String = s"as${e}_$k"

  val hotAsset = "asset_hot_0"

  /** Apply per-character edit noise (sub/del/ins, rate `cfg.noiseRate`)
    * to a base phrase; deterministic in the coordinate tuple. */
  private def noisy(cfg: Cfg, base: String, e: Long, d: Long, s: Int): String = {
    val sb = new StringBuilder(base.length + 4)
    var i = 0
    while (i < base.length) {
      val c = base.charAt(i)
      if (Rng.double(cfg.seed, 0xa0001L, e, d, s.toLong, i.toLong) < cfg.noiseRate) {
        Rng.int(3, cfg.seed, 0xa0002L, e, d, s.toLong, i.toLong) match {
          case 0 => // substitute
            sb.append(('a' + Rng.int(26, cfg.seed, 0xa0003L, e, d, s.toLong, i.toLong)).toChar)
          case 1 => // delete
          case _ => // insert after
            sb.append(c)
            sb.append(('a' + Rng.int(26, cfg.seed, 0xa0004L, e, d, s.toLong, i.toLong)).toChar)
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  def docsPerEntity(cfg: Cfg, e: Long): Int =
    cfg.docsPerEntityMin +
      Rng.int(cfg.docsPerEntityMax - cfg.docsPerEntityMin + 1, cfg.seed, 0xb0001L, e)

  def entityId(e: Long): String = f"ent$e%05d"
  def docId(e: Long, d: Int): String = f"ent$e%05d_d$d%04d"

  /** Generate one doc's spans (pure function of coordinates). */
  def genSpans(cfg: Cfg, e: Long, d: Int): Seq[Span] = {
    val seed = cfg.seed
    val nText = 2 + Rng.int(7, seed, 0xc0001L, e, d.toLong)
    val nMedia = Rng.int(4, seed, 0xc0002L, e, d.toLong)
    val nPhrases = phraseCount(cfg, e)
    val nAssets = assetCount(seed, e)

    var spans = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    var s = 0
    while (s < nText) {
      val p = Rng.int(nPhrases, seed, 0xc0003L, e, d.toLong, s.toLong)
      spans += (("text", noisy(cfg, phrase(seed, e, p), e, d.toLong, s), null))
      s += 1
    }
    var m = 0
    while (m < nMedia) {
      val k = Rng.int(nAssets, seed, 0xc0004L, e, d.toLong, m.toLong)
      spans += (("media", null, asset(e, k)))
      m += 1
    }
    // contamination: borrow one span from another entity
    if (cfg.entities > 1 &&
      Rng.double(seed, 0xc0005L, e, d.toLong) < cfg.contaminationRate) {
      val e2 = ((e + 1 + Rng.int(cfg.entities - 1, seed, 0xc0006L, e, d.toLong)) % cfg.entities).toLong
      if (Rng.int(2, seed, 0xc0007L, e, d.toLong) == 0) {
        val p2 = Rng.int(phraseCount(cfg, e2), seed, 0xc0008L, e, d.toLong)
        spans += (("text", noisy(cfg, phrase(seed, e2, p2), e, d.toLong, 9999), null))
      } else {
        val k2 = Rng.int(assetCount(seed, e2), seed, 0xc0009L, e, d.toLong)
        spans += (("media", null, asset(e2, k2)))
      }
    }
    // hot shared media_ref on ~5% of docs
    if (Rng.double(seed, 0xc000aL, e, d.toLong) < cfg.hotMediaRate)
      spans += (("media", null, hotAsset))

    // deterministic interleave: stable sort by a per-span hash
    val ordered = spans.zipWithIndex
      .sortBy { case (_, i) => (Rng.h(seed, 0xc000bL, e, d.toLong, i.toLong), i) }
    ordered.zipWithIndex.map { case (((kind, text, media), _), off) =>
      Span(kind, text, media, off)
    }.toSeq
  }

  // ---- enhanced-generator scenarios (reference:
  // src/validation/enhanced_synthetic.py:185-570 — co-viewing, device
  // handoffs, live-event spikes). Opt-in extra docs; the base fixture
  // is untouched so calibrated weights stay valid. ----

  /** Co-viewing docs: entity e's content carrying the media assets of
    * its household partner e2 = (e+1) mod entities — the reference's
    * same-household-different-person signal
    * (enhanced_synthetic.py:185-290). Ground truth: the HOST entity. */
  def coViewingDocs(cfg: Cfg, perEntity: Int = 2): (Seq[Doc], Seq[Label]) = {
    val pairs = for (e <- 0L until cfg.entities.toLong; d <- 0 until perEntity) yield {
      val e2 = (e + 1) % cfg.entities
      val id = f"cov${e}%05d_d$d%04d"
      val nText = 2 + Rng.int(3, cfg.seed, 0xd0001L, e, d.toLong)
      val text = (0 until nText).map { s =>
        val p = Rng.int(phraseCount(cfg, e), cfg.seed, 0xd0002L, e, d.toLong, s.toLong)
        ("text", noisy(cfg, phrase(cfg.seed, e, p), e, 5000L + d, s), null)
      }
      // ONE partner asset: co-viewing surfaces as sub-threshold shared-
      // media evidence (visible in media_jaccard / m_score) without
      // crossing the 2-independent-evidence match gate — a second
      // borrowed asset would legitimately merge the household's
      // entities (see Scoring's contamination analysis)
      val partnerMedia = Seq({
        val k = Rng.int(assetCount(cfg.seed, e2), cfg.seed, 0xd0003L, e, d.toLong)
        ("media", null, asset(e2, k))
      })
      val spans = (text ++ partnerMedia).zipWithIndex.map { case ((kind, t, mr), off) =>
        Span(kind, t, mr, off)
      }
      (Doc(id, spans), Label(id, entityId(e)))
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** Device-handoff docs: first half of the spans from e, second half
    * from e2 (a session handed between household members mid-stream,
    * enhanced_synthetic.py:292-360). Ground truth: the STARTING entity
    * (dominant-by-count, matching the reference's assignment). */
  def handoffDocs(cfg: Cfg, perEntity: Int = 1): (Seq[Doc], Seq[Label]) = {
    val pairs = for (e <- 0L until cfg.entities.toLong; d <- 0 until perEntity) yield {
      val e2 = (e + 1) % cfg.entities
      val id = f"hoff${e}%05d_d$d%04d"
      val own = (0 until 3).map { s =>
        val p = Rng.int(phraseCount(cfg, e), cfg.seed, 0xd0004L, e, d.toLong, s.toLong)
        ("text", noisy(cfg, phrase(cfg.seed, e, p), e, 6000L + d, s), null)
      }
      // ONE foreign span (brief handoff): stays below the match gate —
      // a longer handoff genuinely contains both persons and any
      // correct pairwise resolver would (rightly) link them
      val other = Seq({
        val p = Rng.int(phraseCount(cfg, e2), cfg.seed, 0xd0005L, e, d.toLong)
        ("text", noisy(cfg, phrase(cfg.seed, e2, p), e, 7000L + d, 0), null)
      })
      val spans = (own ++ other).zipWithIndex.map { case ((kind, t, mr), off) =>
        Span(kind, t, mr, off)
      }
      (Doc(id, spans), Label(id, entityId(e)))
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** Live-event spike docs (enhanced_synthetic.py:541-570 — the "WWE
    * Raw" synchronized-viewing scenario): one doc per entity, all
    * emitted in the same window, every one carrying (a) the SAME event
    * media asset — a guaranteed single hot exact-key block, the
    * worst-case blocking skew — and (b) a near-identical event text
    * span, plus 2-3 of the entity's own phrases that tie the doc to its
    * true owner. Ground truth: the EMITTING entity. Sub-threshold by
    * construction: a foreign live doc shares at most one strong text
    * span (the event phrase) and one very-common asset (df ≈ the whole
    * spike ≫ the rare cutoff), so the 2-independent-evidence gate
    * holds and the spike must NOT merge its viewers. */
  def liveEventDocs(cfg: Cfg, perEntity: Int = 1): (Seq[Doc], Seq[Label]) = {
    val eventText = "everyone is watching the big live event stream tonight"
    val pairs = for (e <- 0L until cfg.entities.toLong; d <- 0 until perEntity) yield {
      val id = f"live${e}%05d_d$d%04d"
      val nOwn = 2 + Rng.int(2, cfg.seed, 0xd0006L, e, d.toLong)
      val own = (0 until nOwn).map { s =>
        val p = Rng.int(phraseCount(cfg, e), cfg.seed, 0xd0007L, e, d.toLong, s.toLong)
        ("text", noisy(cfg, phrase(cfg.seed, e, p), e, 8000L + d, s), null)
      }
      val event = Seq(
        ("text", noisy(cfg, eventText, e, 9000L + d, 0), null),
        ("media", null, "live_event_0")
      )
      val spans = (own ++ event).zipWithIndex.map { case ((kind, t, mr), off) =>
        Span(kind, t, mr, off)
      }
      (Doc(id, spans), Label(id, entityId(e)))
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  def docs(spark: SparkSession, cfg: Cfg): Dataset[Doc] = {
    import spark.implicits._
    spark
      .range(0, cfg.entities.toLong, 1, math.min(cfg.entities, 64))
      .as[Long]
      .flatMap { e =>
        (0 until docsPerEntity(cfg, e)).map(d => Doc(docId(e, d), genSpans(cfg, e, d)))
      }
  }

  def labels(spark: SparkSession, cfg: Cfg): Dataset[Label] = {
    import spark.implicits._
    spark
      .range(0, cfg.entities.toLong, 1, math.min(cfg.entities, 64))
      .as[Long]
      .flatMap { e =>
        (0 until docsPerEntity(cfg, e)).map(d => Label(docId(e, d), entityId(e)))
      }
  }

  /** Write (once) the fixture parquet for `scale` under `baseDir`;
    * returns (docsPath, labelsPath). Idempotent: reuses an existing
    * successful write. In production these are Iceberg tables; parquet
    * stands in because the sandbox ships no Iceberg runtime. */
  def ensureWritten(
      spark: SparkSession,
      scale: String,
      baseDir: String = sys.env.getOrElse(
        "SPARK_GRAFT_FIXTURE_DIR",
        new java.io.File("data/fixtures").getAbsolutePath)
  ): (String, String) = {
    val cfg = scales(scale)
    val docsPath = s"$baseDir/$scale/docs"
    val labelsPath = s"$baseDir/$scale/labels"
    def ok(p: String) = new java.io.File(p + "/_SUCCESS").exists()
    if (!ok(docsPath)) docs(spark, cfg).write.mode("overwrite").parquet(docsPath)
    if (!ok(labelsPath)) labels(spark, cfg).write.mode("overwrite").parquet(labelsPath)
    (docsPath, labelsPath)
  }
}
