package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Fixture
import graft.pipeline.Pipeline

/** Dev harness: score-distribution + pairwise-F1 readout on a fixture
  * scale, used to calibrate FS m/u weights and the decision threshold
  * (SURVEY.md §7.3 item 3). `main` resolves the fixture with
  * [[Pipeline.run]] in a scratch run dir (string ids, with the
  * pre-attach `cc_assign` checkpoint kept) and reads every line from
  * its outputs. Run:
  *   sbt "runMain graft.tools.Calibrate t1"
  */
object Calibrate {

  /** Pairwise metrics per the reference's device-linking P/R/F1
    * (reference: src/validation/resolution_metrics.py:319-364): labeled
    * set = same-block pairs; positives = same latent entity. */
  def pairwiseF1(
      predictedPairs: DataFrame, // doc_a, doc_b (canonical a<b)
      candidates: DataFrame,     // labeled universe: same-block pairs
      labels: DataFrame          // doc_id, entity_id
  ): (Double, Double, Double, Long, Long) = {
    val la = labels.select(col("doc_id").as("doc_a"), col("entity_id").as("ent_a"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("entity_id").as("ent_b"))
    val universe = candidates
      .select("doc_a", "doc_b")
      .join(la, "doc_a")
      .join(lb, "doc_b")
      .withColumn("is_pos", col("ent_a") === col("ent_b"))
    val pred = predictedPairs.select("doc_a", "doc_b").withColumn("is_pred", lit(true))
    val j = universe.join(pred, Seq("doc_a", "doc_b"), "left")
      .select(col("is_pos"), coalesce(col("is_pred"), lit(false)).as("is_pred"))
    val r = j.agg(
      sum(when(col("is_pos") && col("is_pred"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("is_pos") && col("is_pred"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("is_pos") && !col("is_pred"), 1L).otherwise(0L)).as("fn")
    ).head()
    val (tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val rec = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 = if (p + rec == 0) 0.0 else 2 * p * rec / (p + rec)
    (p, rec, f1, tp + fn, fp)
  }

  /** Same-cluster pairs restricted to the labeled universe. */
  def clusterPairs(clusters: DataFrame, candidates: DataFrame): DataFrame = {
    val ca = clusters.select(col("doc_id").as("doc_a"), col("cluster_id").as("cl_a"))
    val cb = clusters.select(col("doc_id").as("doc_b"), col("cluster_id").as("cl_b"))
    candidates
      .select("doc_a", "doc_b")
      .join(ca, "doc_a")
      .join(cb, "doc_b")
      .where(col("cl_a") === col("cl_b"))
      .select("doc_a", "doc_b")
  }

  def main(args: Array[String]): Unit = {
    val scale = if (args.nonEmpty) args(0) else "t1"
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("calibrate")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Fixture.scales(scale)
    val docs = Fixture.docs(spark, cfg).toDF().cache()
    val labels = Fixture.labels(spark, cfg).toDF().cache()
    println(s"docs=${docs.count()} labels=${labels.count()}")

    val dir = graft.queries.Resolution.scratchDir("calibrate")
    val run = Pipeline.run(spark, docs, dir, Pipeline.Cfg(ids = "off", persistForDelta = true))
    val cand = run.candidates
    println(s"candidates=${cand.count()}")

    val scored = run.scoredPairs
    // score distribution by truth
    val la = labels.select(col("doc_id").as("doc_a"), col("entity_id").as("ent_a"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("entity_id").as("ent_b"))
    val st = scored.join(la, "doc_a").join(lb, "doc_b")
      .withColumn("is_pos", col("ent_a") === col("ent_b"))
    st.groupBy("is_pos")
      .agg(
        count(lit(1)).as("n"),
        min("score"), expr("percentile(score, array(0.01,0.05,0.5,0.95,0.99))").as("pcts"),
        max("score"), avg("jw_best"), avg("media_jaccard"), avg("strong_min")
      )
      .show(false)

    // sweep thresholds on the SCORED pairs (pre-clustering)
    for (thr <- Seq(3.0, 4.5, 5.5, 6.5, 7.5, 8.5, 10.0)) {
      val pred = scored.where(col("score") >= thr).select("doc_a", "doc_b")
      val (p, r, f1, pos, fp) = pairwiseF1(pred, cand, labels)
      println(f"scored thr=$thr%4.1f  P=$p%.4f R=$r%.4f F1=$f1%.4f pos=$pos fp=$fp")
    }

    // clustering at default threshold: the pre-attach assignments, then
    // the attached clusters
    val cc = spark.read.parquet(s"$dir/cc_assign")
    println(s"cc iterations=${run.ccIterations} clusters=${cc.select("cluster_id").distinct().count()}")
    val (p, r, f1, pos, fp) = pairwiseF1(clusterPairs(cc, cand), cand, labels)
    println(f"clustered P=$p%.4f R=$r%.4f F1=$f1%.4f pos=$pos fp=$fp")
    val att = run.clusters
    println(s"after attach: clusters=${att.select("cluster_id").distinct().count()}")
    val (p2, r2, f12, pos2, fp2) = pairwiseF1(clusterPairs(att, cand), cand, labels)
    println(f"attached  P=$p2%.4f R=$r2%.4f F1=$f12%.4f pos=$pos2 fp=$fp2")
    spark.stop()
  }
}
