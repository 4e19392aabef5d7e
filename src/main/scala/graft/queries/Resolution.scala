package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Fixture
import graft.pipeline.Pipeline
import graft.tools.Calibrate

/** Identity-resolution pipeline exposed as driver queries. These run on
  * the deterministic fixture (the driver testdata has no span-schema
  * table — FIXTURES.md §1), so they carry no DuckDB oracle; correctness
  * is enforced by the ScalaTest suite (pairwise F1 gate) and the
  * invariant/oracle specs.
  *
  * Every `pir_*` row reads one [[Pipeline.run]] per (JVM, scale): a
  * checkpointed run dir under the temp dir, cached so a sequential
  * query loop (`Verify`) computes each stage once, and deleted when the
  * JVM exits. The run uses string ids (`ids = "off"`), so each
  * cluster is labelled with its lexicographically smallest `doc_id`.
  * It is the production assembly with its limits: at the `bench` scale
  * it needs the heap `Pipeline.run` needs there (ROADMAP item 6).
  */
object Resolution {

  /** Map a testdata sf dir onto a fixture scale. */
  def scaleFor(sfDir: String): String =
    if (sfDir.contains("0.1")) "bench"
    else if (sfDir.contains("0.01")) "t2"
    else "t1"

  final case class Staged(
      docs: DataFrame,
      labels: DataFrame,
      candidates: DataFrame,
      scored: DataFrame,
      clusters: DataFrame,
      ccIterations: Int
  )

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Staged]

  /** Order-insensitive assignment digest shared by pir_cluster_sizes /
    * pir_quality / pir_delta: bit_xor(xxhash64(doc_id, cluster_id))
    * changes if ANY doc moves cluster (canonical labels are the
    * min-member doc_id, so stable across runs) — ONE definition so the
    * driver artifacts stay comparable across queries and rounds. */
  private def assignDigest(cl: DataFrame) =
    coalesce(bit_xor(xxhash64(col("doc_id"), col("cluster_id"))), lit(0L))

  def staged(spark: SparkSession, scale: String): Staged =
    cache.getOrElseUpdate(scale, {
      val (docsPath, labelsPath) = Fixture.ensureWritten(spark, scale)
      val docs = spark.read.parquet(docsPath)
      val r = Pipeline.run(spark, docs, scratchDir(s"pir_$scale"), Pipeline.Cfg(ids = "off"))
      Staged(docs, spark.read.parquet(labelsPath), r.candidates, r.scoredPairs, r.clusters, r.ccIterations)
    })

  /** A fresh run dir under the temp dir, deleted when the JVM exits:
    * the frames of a cached run read from it until then. */
  def scratchDir(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pir_candidates" -> ((s, dir) => staged(s, scaleFor(dir)).candidates),
    "pir_scored_pairs" -> ((s, dir) => staged(s, scaleFor(dir)).scored),
    "pir_clusters" -> ((s, dir) => staged(s, scaleFor(dir)).clusters),
    // histogram rows PLUS a deterministic assignment digest — the pir_*
    // family has no DuckDB oracle (driver testdata lacks a span-schema
    // table), so the digest gives the driver artifact a stable value to
    // diff across rounds (see assignDigest)
    "pir_cluster_sizes" -> ((s, dir) => {
      val cl = staged(s, scaleFor(dir)).clusters
      val digest = cl.agg(assignDigest(cl).as("assign_digest"))
      cl.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"))
        .groupBy("n_docs")
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(digest)
    }),
    // merged entity records (node-merge aggregates + JSON round-trip:
    // identity_graph.py:364-410 semantics as a group-by)
    "pir_entities" -> ((s, dir) => {
      val st = staged(s, scaleFor(dir))
      graft.cluster.ClusterMerge.mergedEntities(st.clusters, st.docs, st.scored)
        .select(
          col("cluster_id"), col("n_members"), col("total_text_spans"),
          size(col("media_refs")).as("n_media_refs"),
          // JSON round-trip invariant: parse back what we serialized
          get_json_object(col("entity_json"), "$.n_members").cast("long").as("n_members_rt")
        )
    }),
    // pairwise P/R/F1 vs generator ground truth, as a one-row DataFrame
    // (+ the same assignment digest as pir_cluster_sizes, so the
    // driver's quality row is hash-diffable round over round)
    "pir_quality" -> ((s, dir) => {
      import s.implicits._
      val st = staged(s, scaleFor(dir))
      val (p, r, f1, pos, fp) =
        Calibrate.pairwiseF1(Calibrate.clusterPairs(st.clusters, st.candidates), st.candidates, st.labels)
      val dg = st.clusters.agg(assignDigest(st.clusters)).head().getLong(0)
      Seq((p, r, f1, pos, fp, dg))
        .toDF("precision", "recall", "f1", "labeled_pos", "false_pos", "assign_digest")
    }),
    // incremental-resolution contract, surfaced in the driver artifact:
    // full run over A∪B vs run(A, persistForDelta) + runDelta(A, B),
    // compared by the same order-insensitive assignment digest as
    // pir_cluster_sizes. Runs at the fixed t1 scale regardless of sf
    // dir (it is an invariant check, not a throughput surface — the
    // sf-scaled pipeline already runs under pir_candidates/scored/
    // clusters); `full_eq_delta` must be true, and both digests are
    // deterministic for round-over-round diffing.
    "pir_delta" -> ((s, _) => deltaEquivalence(s))
  )

  private val deltaCache = new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  def deltaEquivalence(spark: SparkSession): DataFrame = {
    Option(deltaCache.get()).getOrElse {
      import spark.implicits._
      val (docsPath, _) = Fixture.ensureWritten(spark, "t1")
      val docs = spark.read.parquet(docsPath)
      val docsA = docs.where(pmod(xxhash64(col("doc_id")), lit(5)) < 3)
      val docsB = docs.where(pmod(xxhash64(col("doc_id")), lit(5)) === 3)
      val root = scratchDir("pir_delta")
      def tmp(tag: String) = s"$root/$tag"
      def digest(cl: DataFrame): Long =
        cl.agg(assignDigest(cl)).head().getLong(0)
      val full = Pipeline.run(spark, docsA.unionByName(docsB), tmp("full"))
      val priorDir = tmp("prior")
      Pipeline.run(spark, docsA, priorDir, Pipeline.Cfg(persistForDelta = true))
      val delta = Pipeline.runDelta(spark, docsA, docsB, priorDir, tmp("delta"))
      val (fd, dd) = (digest(full.clusters), digest(delta.clusters))
      val out = Seq((fd, dd, fd == dd, full.clusters.count(), delta.candidates.count()))
        .toDF("full_digest", "delta_digest", "full_eq_delta", "n_docs", "delta_pairs")
        .localCheckpoint(true)
      // everything the caller needs is in the localCheckpointed row —
      // drop the three full-pipeline run dirs now, not at JVM exit
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      deltaCache.set(out)
      out
    }
  }
}
