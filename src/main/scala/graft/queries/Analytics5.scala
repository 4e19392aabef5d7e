package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}
import graft.text.TextOps

/** Fifth batch — round-3 oracle conversions and the feedback-loop
  * significance test:
  *
  *  - q31: prediction-vs-outcome A/B trend with a two-proportion
  *    z-test per day (reference: src/core/feedback_loop.py:121-611 and
  *    the p-value machinery in
  *    src/validation/attribution_lift.py:396-417 — we use the standard
  *    unpooled two-proportion z instead of the reference's simplified
  *    single-n SE; both are closed-form and the z is what gates
  *    significance).
  *  - q32/q33: the MinHash near-dup and winnowing-fingerprint operators
  *    re-keyed on md5-derived hashes so DuckDB recomputes the IDENTICAL
  *    pipeline (the q28 cross-engine pattern) — these oracle the same
  *    machinery `op_minhash_neardup` / `op_fingerprint_overlap` run
  *    with xxhash64.
  */
object Analytics5 {

  /** Single config shared by the q32 query AND its oracle — the two sides
    * must band/verify with the same k/bands/threshold or the cross-engine
    * set equality silently depends on the corpus having no borderline
    * pairs. Uncapped buckets: the oracle reimplements the banding exactly
    * and a capped side would drop pairs on homogeneous corpora. */
  private[queries] val q32Cfg =
    Dedup.MinHashCfg(jaccardThreshold = 0.35, maxBucket = Int.MaxValue)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def docsStr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id").cast("string").as("id"), col("text"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- feedback loop: per-day conversion outcome per md5 A/B bucket,
    //      two-proportion z-test. Two-level aggregate (user-day grain
    //      first) instead of 4 countDistincts — avoids an Expand ×4 of
    //      the event stream ----
    "q31_feedback_significance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("bucket",
          pmod(conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long"), lit(2)))
        .withColumn("day", date_format(to_date(col("ts").cast("timestamp")), "yyyy-MM-dd"))
      val u = ev.groupBy("day", "bucket", "user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      val d = u.groupBy("day").agg(
        sum(when(col("bucket") === 0, 1).otherwise(0)).as("n0"),
        sum(when(col("bucket") === 0, col("conv")).otherwise(0)).as("c0"),
        sum(when(col("bucket") === 1, 1).otherwise(0)).as("n1"),
        sum(when(col("bucket") === 1, col("conv")).otherwise(0)).as("c1")
      // a day whose users all hash to one bucket has no comparison; under
      // ANSI mode the division would throw, so drop it (oracle mirrors)
      ).where(col("n0") > 0 && col("n1") > 0)
      val p0 = col("c0").cast("double") / col("n0")
      val p1 = col("c1").cast("double") / col("n1")
      val se = sqrt(p0 * (lit(1.0) - p0) / col("n0") + p1 * (lit(1.0) - p1) / col("n1"))
      d.select(
        col("day"), col("n0"), col("c0"), col("n1"), col("c1"),
        round(p0, 6).as("p0"),
        round(p1, 6).as("p1"),
        when(se > 0, round((p1 - p0) / se, 6)).otherwise(lit(0.0)).as("z_stat"),
        when(se > 0, abs((p1 - p0) / se) >= 1.96).otherwise(lit(false)).as("significant")
      )
    }),

    // ---- md5 MinHash near-dup pairs (cross-engine twin of
    //      op_minhash_neardup's machinery). Bucket cap deliberately
    //      uncapped: the oracle reimplements the banding exactly, and a
    //      capped side would silently drop pairs on homogeneous
    //      corpora (production path keeps the default cap) ----
    "q32_minhash_md5" -> ((s, dir) =>
      Dedup.nearDupPairsMd5(docsStr(s, dir), q32Cfg)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ---- md5 winnowing-fingerprint overlap pairs (cross-engine twin
    //      of op_fingerprint_overlap) ----
    "q33_fingerprint_md5" -> ((s, dir) => {
      val fp = TextAnalysis.fingerprintRowsMd5(docsStr(s, dir)).localCheckpoint(true)
      val rare = fp.groupBy("fp").agg(count(lit(1)).as("df")).where(col("df") <= 50)
      val kept = fp.join(rare.select("fp"), "fp")
      val a = kept.select(col("fp"), col("id").as("id_a"))
      val b = kept.select(col("fp"), col("id").as("id_b"))
      a.join(b, "fp").where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fp"))
        .where(col("shared_fp") >= 2)
    }),

    // ---- md5-plane random-hyperplane LSH ANN (cross-engine twin of
    //      op_ann_lsh: identical plan shape — sign-bit buckets, bucket
    //      equi-join, no cross join — with planes derived from md5 so
    //      DuckDB recomputes buckets + cosine bit-exactly; h/2⁶⁰ is a
    //      power-of-two division and both engines fold dot products
    //      left-to-right) ----
    "q34_ann_lsh_md5" -> ((s, dir) =>
      graft.ops.Similarity.lshCosinePairsMd5(
        t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.2, nPlanes = 8, dim = 64, tables = 2
      ).select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos6"))),

    // ---- connected components over the q34 similarity graph: the
    //      PRODUCTION large/small-star CC (cluster/ConnectedComponents,
    //      identical code to pipeline stage C; min-member-id labels)
    //      against a DuckDB recursive-CTE min-label propagation on the
    //      same md5-LSH edges — the cross-engine oracle for the one
    //      pipeline stage (C) whose operator had spec-only evidence ----
    "q37_cc_md5" -> ((s, dir) => {
      val pairs = graft.ops.Similarity.lshCosinePairsMd5(
        t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.2, nPlanes = 8, dim = 64, tables = 2
      ).select(col("id_a").cast("long"), col("id_b").cast("long"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      val nodes = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      graft.cluster.ConnectedComponents.run(edges, nodes)
        .assignments
        .select(col("doc_id").as("vid"), col("cluster_id").as("comp"))
    }),

    // ---- deterministic distributed Lloyd (cross-engine twin of the
    //      op_kmeans_* machinery: fixed k/iters, lowest-id init,
    //      order-fixed fp folds — DuckDB reproduces the assignments
    //      exactly; see KMeans.lloydDeterministic) ----
    "q35_kmeans_det" -> ((s, dir) =>
      graft.cluster.KMeans.lloydDeterministic(
        t(s, dir, "embeddings").select(
          col("label").as("group_id"),
          col("vec_id").as("item_id"),
          transform(col("embedding"), _.cast("double")).as("features")
        ),
        k = 3, iters = 3
      )),

    // ---- PRODUCTION blocking machinery (census → block cap → salted
    //      self-join → canonical witness dedup; Blocking
    //      .candidatesFromKeys, identical code to pipeline stage B) on
    //      md5-arith band keys — DuckDB recomputes the capped pair set
    //      AND the min-(key_kind, block_key) witness exactly. Cap 10
    //      engages on the fixture's duplicate clusters, so the
    //      dropped-block gate is exercised, not just plumbed ----
    "q38_blocking_md5" -> ((s, dir) => {
      val keys = graft.ops.Dedup.blockingKeysMd5(docsStr(s, dir), q32Cfg)
      graft.blocking.Blocking
        .candidatesFromKeys(keys, graft.blocking.Blocking.Cfg(maxBlockSize = q38Cap))
        .select(col("doc_a"), col("doc_b"), col("key_kind"), col("block_key"))
    }),

    // ---- PRODUCTION delta blocking (Blocking.deltaCandidates,
    //      identical code to Pipeline.runDelta's stage B) on md5-arith
    //      band keys: docs split 80/20 by id-md5 into prior corpus vs
    //      increment; DuckDB recomputes the touched-block prune, the
    //      COMBINED census + cap, the new-endpoint pair filter and the
    //      witness dedup exactly. Cap is q38's (engages on the fixture),
    //      so the semantics "combined growth drops new pairs like a
    //      full run" is exercised cross-engine, not just plumbed ----
    "q42_delta_blocking_md5" -> ((s, dir) => {
      val keys = graft.ops.Dedup.blockingKeysMd5(docsStr(s, dir), q32Cfg)
      val isNew =
        pmod(conv(substring(md5(col("doc_id")), 1, 15), 16, 10).cast("long"), lit(5)) === 0
      graft.blocking.Blocking
        .deltaCandidates(
          keys.where(isNew),
          keys.where(!isNew),
          graft.blocking.Blocking.Cfg(maxBlockSize = q38Cap))
        .select(col("doc_a"), col("doc_b"), col("key_kind"), col("block_key"))
    }),

    // ---- the Levenshtein rescue-band arithmetic vs DuckDB, on every
    //      pair of a deterministic md5 sample of normalized doc texts
    //      (1 − lev/maxlen, the exact stage-S rescue similarity).
    //      NOTE a Jaro-Winkler twin was ATTEMPTED AND REJECTED:
    //      DuckDB's jaro_winkler_similarity (RapidFuzz-derived)
    //      deviates from the published greedy definition — e.g.
    //      'row data hash ' vs 'column key has' scores 0.563492 there
    //      but 0.535714 under Winkler 1990's greedy matching (their
    //      flag assignment counts 2 transpositions where the greedy
    //      order yields 3; ~37% of fixture pairs differ). Our kernel
    //      matches the published definition (JaroWinklerSpec golden
    //      values + 200k-pair kernel differential), so conforming to
    //      DuckDB here would be wrong, not verification. ----
    "q39_lev_rescue" -> ((s, dir) => {
      val nt = docsStr(s, dir)
        .select(col("id"), TextOps.normText(col("text")).as("nt"))
        .where(length(col("nt")) > 0)
        .where(pmod(conv(substring(md5(col("id")), 1, 15), 16, 10).cast("long"), lit(29)) === 0)
      val a = nt.select(col("id").as("id_a"), col("nt").as("ta"))
      val b = nt.select(col("id").as("id_b"), col("nt").as("tb"))
      a.crossJoin(b)
        .where(col("id_a") < col("id_b"))
        .select(
          col("id_a"), col("id_b"),
          round(
            lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
              greatest(length(col("ta")), length(col("tb")), lit(1)),
            6
          ).as("lev6")
        )
    }),

    // ---- behavioral-segment engine (behavioral_profiling.py:157-360):
    //      template segments over per-user signals, share × efficacy
    //      attribution, rank + budget allocation ----
    "q36_behavior_segments" -> ((s, dir) =>
      graft.ops.Behavioral.segmentAttribution(t(s, dir, "events")))
  )

  // ---- oracle SQL ----

  private val P = TextOps.mersennePrime

  /** Shared CTE chain of the md5-plane LSH pipeline (q34/q37): planes →
    * sign-bit buckets → bucket-join candidates → exact cosine. RECURSIVE
    * because q37 appends a recursive min-label CTE; harmless for q34. */
  private def annLshMd5Ctes: String =
    """WITH RECURSIVE pl AS (
           SELECT t, i, list(w ORDER BY j) AS plane
           FROM (
             SELECT t, i, j,
               CAST(CAST(('0x' || substr(md5('pl:' || t || ':' || i || ':' || j), 1, 15)) AS BIGINT) AS DOUBLE)
                 / 1152921504606846976.0 * 2.0 - 1.0 AS w
             FROM (SELECT unnest(range(2)) t), (SELECT unnest(range(8)) i), (SELECT unnest(range(64)) j))
           GROUP BY t, i),
         v AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         buckets AS (
           SELECT v.id, pl.t,
             CAST(sum(CASE WHEN list_reduce(list_transform(list_zip(v.v, pl.plane), z -> z[1] * z[2]), (a,b) -> a + b) >= 0
                 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS bucket
           FROM v, pl GROUP BY v.id, pl.t),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
         sc AS (
           SELECT c.id_a, c.id_b,
             list_reduce(list_transform(list_zip(va.v, vb.v), z -> z[1] * z[2]), (a,b) -> a + b) /
               (sqrt(list_reduce(list_transform(va.v, x -> x * x), (a,b) -> a + b)) *
                sqrt(list_reduce(list_transform(vb.v, x -> x * x), (a,b) -> a + b))) AS cos
           FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b)"""

  /** normText + md5 shingle-hash list, shared by the q32/q33 oracles
    * (mirrors TextOps.normText/charShingles: shingles of n chars,
    * whole-string shingle when 0 < len < n, none when empty).
    * `distinct = true` mirrors shingleHashesMd5's set semantics (the
    * MinHash/Jaccard path); q33's winnowing keeps DOCUMENT ORDER with
    * duplicates — DuckDB's list_distinct does not preserve order, and
    * winnowing windows are order-sensitive. */
  private def md5ShingleCtes(n: Int, distinct: Boolean): String = {
    val wrap: String => String = e => if (distinct) s"list_distinct($e)" else e
    s"""WITH t AS (
       SELECT CAST(doc_id AS VARCHAR) AS id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS nt
       FROM documents),
     sh AS (
       SELECT id, ${wrap(s"""list_transform(
         CASE WHEN len(nt) = 0 THEN CAST([] AS VARCHAR[])
              WHEN len(nt) < $n THEN [nt]
              ELSE list_transform(range(0, len(nt) - ${n - 1}), i -> substr(nt, CAST(i + 1 AS INTEGER), $n)) END,
         s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))""")} AS hs
       FROM t)"""
  }

  /** md5-shingle MinHash signature + arithmetic band keys as CTEs up to
    * `banded(id, hs, band, bk)` — same affine constants and band-key
    * arithmetic as TextOps; shared by the q32 and q38 oracles. */
  private def md5BandedCtes(cfg: graft.ops.Dedup.MinHashCfg): String = {
    val ab = TextOps.affineConsts(cfg.k, cfg.seed)
    val mins = ab
      .map { case (a, b) => s"list_min(list_transform(hs, h -> ((h % $P) * $a + $b) % $P))" }
      .mkString("[\n         ", ",\n         ", "\n       ]")
    val bandKey = (0 until cfg.bands)
      .map(j => s"WHEN $j THEN mh[${2 * j + 1}] * $P + mh[${2 * j + 2}]")
      .mkString("CASE b.j ", " ", " END")
    md5ShingleCtes(cfg.shingleN, distinct = true) +
      s""",
     sig AS (SELECT id, hs, $mins AS mh FROM sh WHERE len(hs) > 0),
     banded AS (
       SELECT id, hs, b.j AS band, $bandKey AS bk
       FROM sig, (SELECT unnest(range(${cfg.bands})) AS j) b)"""
  }

  /** q32 oracle: the identical md5-shingle MinHash/band/verify pipeline
    * in DuckDB — same affine constants, same arithmetic band keys. */
  private def minhashOracle: String = {
    val cfg = q32Cfg // same shingleN/k/bands/threshold as the q32 query
    md5BandedCtes(cfg) +
      s""",
     cand AS (
       SELECT a.id AS id_a, b.id AS id_b, any_value(a.hs) AS ha, any_value(b.hs) AS hb
       FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
       GROUP BY 1, 2)
     SELECT id_a, id_b,
       round(CAST(len(list_intersect(ha, hb)) AS DOUBLE) / len(list_distinct(ha || hb)), 6) AS jaccard
     FROM cand
     WHERE CAST(len(list_intersect(ha, hb)) AS DOUBLE) / len(list_distinct(ha || hb)) >= ${cfg.jaccardThreshold}"""
  }

  /** q38's block-size cap: small enough to engage on the fixture's
    * duplicate clusters (both engines drop the same blocks exactly). */
  private val q38Cap = 10

  /** q38 oracle: census → cap → pair self-join → canonical witness
    * (first (key_kind, block_key) per pair — Spark's min(struct) and
    * this window-rank order identically: band strings are zero-padded
    * and keys are non-negative). */
  private def blockingOracle: String =
    md5BandedCtes(q32Cfg) +
      s""",
     census AS (SELECT band, bk, count(*) AS n FROM banded GROUP BY 1, 2),
     kept AS (
       SELECT b.id, b.band, b.bk FROM banded b
       JOIN census c ON b.band = c.band AND b.bk = c.bk
       WHERE c.n <= $q38Cap),
     pairs AS (
       SELECT a.id AS doc_a, b.id AS doc_b,
         'b' || lpad(CAST(a.band AS VARCHAR), 2, '0') AS key_kind, a.bk AS block_key
       FROM kept a JOIN kept b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id),
     w AS (
       SELECT doc_a, doc_b, key_kind, block_key,
         row_number() OVER (PARTITION BY doc_a, doc_b ORDER BY key_kind, block_key) AS rn
       FROM pairs)
     SELECT doc_a, doc_b, key_kind, block_key FROM w WHERE rn = 1"""

  /** q42 oracle: the delta-blocking decomposition in DuckDB — same
    * 80/20 id-md5 split as the query, touched-block prune (blocks with
    * a new-doc key), census over the pruned union (COMBINED sizes, the
    * full-run cap semantics), pairs restricted to a new endpoint,
    * identical witness dedup. */
  private def deltaBlockingOracle: String =
    md5BandedCtes(q32Cfg) +
      s""",
     flagged AS (
       SELECT id, band, bk,
         (CAST(('0x' || substr(md5(id), 1, 15)) AS BIGINT) % 5 = 0) AS is_new
       FROM banded),
     touched AS (SELECT DISTINCT band, bk FROM flagged WHERE is_new),
     u AS (SELECT f.* FROM flagged f JOIN touched t ON f.band = t.band AND f.bk = t.bk),
     census AS (SELECT band, bk, count(*) AS n FROM u GROUP BY 1, 2),
     kept AS (
       SELECT u.id, u.band, u.bk, u.is_new FROM u
       JOIN census c ON u.band = c.band AND u.bk = c.bk
       WHERE c.n <= $q38Cap),
     pairs AS (
       SELECT a.id AS doc_a, b.id AS doc_b,
         'b' || lpad(CAST(a.band AS VARCHAR), 2, '0') AS key_kind, a.bk AS block_key
       FROM kept a JOIN kept b
         ON a.band = b.band AND a.bk = b.bk AND a.id < b.id AND (a.is_new OR b.is_new)),
     w AS (
       SELECT doc_a, doc_b, key_kind, block_key,
         row_number() OVER (PARTITION BY doc_a, doc_b ORDER BY key_kind, block_key) AS rn
       FROM pairs)
     SELECT doc_a, doc_b, key_kind, block_key FROM w WHERE rn = 1"""

  /** q33 oracle: identical winnowing — window-of-8 minima over the
    * md5 shingle-hash list, distinct; complete windows only, short
    * docs keep their one global min. */
  private def fingerprintOracle: String =
    md5ShingleCtes(5, distinct = false) +
      s""",
     fps AS (
       SELECT id, unnest(
         CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
              WHEN len(hs) < 8 THEN [list_min(hs)]
              ELSE list_distinct(list_transform(range(0, len(hs) - 7), j ->
                 list_min(hs[CAST(j + 1 AS INTEGER):CAST(j + 8 AS INTEGER)]))) END) AS fp
       FROM sh),
     rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)
     SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fp
     FROM (SELECT f.id, f.fp FROM fps f JOIN rare USING (fp)) a
     JOIN (SELECT f.id, f.fp FROM fps f JOIN rare USING (fp)) b
       ON a.fp = b.fp AND a.id < b.id
     GROUP BY 1, 2
     HAVING count(*) >= 2"""

  /** q35 oracle: the identical deterministic Lloyd unrolled as chained
    * CTEs — c0 init (k lowest-item_id points), a_i assignment under
    * c_{i-1} (argmin with cluster tiebreak), c_i member-mean update
    * with the SAME order-fixed folds (item_id order per dimension, pos
    * order for the rebuilt centroid array, index order for distances).
    * The CTE chain lives in [[LloydSql]], shared with the op_kmeans_*
    * oracles (Analytics4). */
  private def kmeansOracle(k: Int, iters: Int, dim: Int): String =
    s"""WITH pts AS (
       SELECT label AS group_id, vec_id AS item_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings),
     ${LloydSql.chain(k, iters, dim)}
     SELECT group_id, item_id, cluster, round(d, 6) AS dist6 FROM a$iters"""

  val oracleSql: Map[String, String] = Map(
    "q31_feedback_significance" ->
      """WITH e AS (
         SELECT user_id, event_type,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS bucket,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
         FROM events),
       u AS (
         SELECT day, bucket, user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         FROM e GROUP BY 1, 2, 3),
       d AS (
         SELECT day,
           CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN bucket = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
           CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN bucket = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
         FROM u GROUP BY day),
       z AS (
         SELECT day, n0, c0, n1, c1,
           CAST(c0 AS DOUBLE)/n0 AS rp0, CAST(c1 AS DOUBLE)/n1 AS rp1,
           sqrt((CAST(c0 AS DOUBLE)/n0) * (1.0 - CAST(c0 AS DOUBLE)/n0) / n0
              + (CAST(c1 AS DOUBLE)/n1) * (1.0 - CAST(c1 AS DOUBLE)/n1) / n1) AS se
         FROM d WHERE n0 > 0 AND n1 > 0)
       SELECT day, n0, c0, n1, c1,
         round(rp0, 6) AS p0, round(rp1, 6) AS p1,
         CASE WHEN se > 0 THEN round((rp1 - rp0) / se, 6) ELSE 0.0 END AS z_stat,
         CASE WHEN se > 0 THEN abs((rp1 - rp0) / se) >= 1.96 ELSE false END AS significant
       FROM z""",
    "q32_minhash_md5" -> minhashOracle,
    "q33_fingerprint_md5" -> fingerprintOracle,
    "q34_ann_lsh_md5" ->
      (annLshMd5Ctes + "\n         SELECT id_a, id_b, round(cos, 6) AS cos6 FROM sc WHERE cos >= 0.2"),

    // connected components over the q34 edges: recursive min-label
    // propagation to fixpoint — min id reachable from each node IS the
    // component's min-member label the large/small-star loop emits
    "q37_cc_md5" ->
      (annLshMd5Ctes + """,
         e AS (SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM sc WHERE cos >= 0.2),
         n AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
         sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
         walk(id, lbl) AS (
           SELECT id, id FROM n
           UNION
           SELECT s.dst AS id, w.lbl FROM walk w JOIN sym s ON s.src = w.id
         )
         SELECT id AS vid, min(lbl) AS comp FROM walk GROUP BY id"""),
    "q35_kmeans_det" -> kmeansOracle(k = 3, iters = 3, dim = 64),
    "q38_blocking_md5" -> blockingOracle,
    "q42_delta_blocking_md5" -> deltaBlockingOracle,
    "q39_lev_rescue" ->
      """WITH t AS (
           SELECT CAST(doc_id AS VARCHAR) AS id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS nt
           FROM documents),
         smp AS (
           SELECT id, nt FROM t
           WHERE len(nt) > 0
             AND CAST(('0x' || substr(md5(id), 1, 15)) AS BIGINT) % 29 = 0)
         SELECT a.id AS id_a, b.id AS id_b,
           round(1.0 - CAST(levenshtein(a.nt, b.nt) AS DOUBLE) / greatest(len(a.nt), len(b.nt), 1), 6) AS lev6
         FROM smp a JOIN smp b ON a.id < b.id""",
    "q36_behavior_segments" -> {
      val tplRows = graft.ops.Behavioral.templates
        .map { case (s, c, e, r) => s"('$s', '$c', $e, $r)" }.mkString(",\n           ")
      s"""WITH banded AS (
           SELECT user_id, event_type, value,
             CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 6 AND 11 THEN 'a_morning'
                  WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 12 AND 17 THEN 'b_afternoon'
                  WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 18 AND 23 THEN 'c_evening'
                  ELSE 'd_night' END AS band
           FROM events),
         modal AS (
           SELECT user_id, band AS modal_band FROM (
             SELECT user_id, band,
               row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, band) AS rk
             FROM banded GROUP BY user_id, band)
           WHERE rk = 1),
         sig AS (
           SELECT b.user_id, count(*) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 10
                + sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 6
                + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 3 AS DOUBLE)
               / (count(*) * 10) AS intent,
             sum(value) / count(*) AS avg_value,
             any_value(m.modal_band) AS modal_band
           FROM banded b JOIN modal m ON b.user_id = m.user_id
           GROUP BY b.user_id),
         counts AS (
           SELECT count(*) AS total,
             CAST(sum(CASE WHEN intent >= 0.25 AND modal_band = 'c_evening' THEN 1 ELSE 0 END) AS BIGINT) AS n_high_intent_evening,
             CAST(sum(CASE WHEN intent <= 0.15 AND modal_band = 'd_night' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_intent_night,
             CAST(sum(CASE WHEN n >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_family_co_viewing,
             CAST(sum(CASE WHEN avg_value < 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_price_sensitive
           FROM sig),
         tpl(segment_id, channel, efficacy, roi_multiplier) AS (VALUES
           $tplRows),
         rows0 AS (
           SELECT t.segment_id, t.channel, t.roi_multiplier,
             CASE t.segment_id
               WHEN 'high_intent_evening' THEN c.n_high_intent_evening
               WHEN 'low_intent_night' THEN c.n_low_intent_night
               WHEN 'family_co_viewing' THEN c.n_family_co_viewing
               ELSE c.n_price_sensitive END AS n_users,
             CAST(CASE t.segment_id
               WHEN 'high_intent_evening' THEN c.n_high_intent_evening
               WHEN 'low_intent_night' THEN c.n_low_intent_night
               WHEN 'family_co_viewing' THEN c.n_family_co_viewing
               ELSE c.n_price_sensitive END AS DOUBLE) / c.total AS share,
             CAST(CASE t.segment_id
               WHEN 'high_intent_evening' THEN c.n_high_intent_evening
               WHEN 'low_intent_night' THEN c.n_low_intent_night
               WHEN 'family_co_viewing' THEN c.n_family_co_viewing
               ELSE c.n_price_sensitive END AS DOUBLE) / c.total * t.efficacy AS attribution
           FROM tpl t, counts c)
         SELECT segment_id, channel, n_users,
           round(share, 6) AS share6,
           round(attribution, 6) AS attribution6,
           CAST(row_number() OVER (PARTITION BY segment_id ORDER BY attribution DESC, channel) AS BIGINT) AS rnk,
           CASE WHEN attribution > 0
             THEN round(attribution / sum(attribution) OVER (PARTITION BY segment_id), 6)
             ELSE 0.0 END AS budget6,
           roi_multiplier
         FROM rows0"""
    }
  )
}
