package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Attribution-lift evaluation — the reference's headline "+19-22% lift
  * vs account-level attribution" metric re-expressed distributed
  * (reference: src/validation/attribution_lift.py:145-417 —
  * person-level resolved accuracy vs the naive account-level baseline
  * that attributes every session to the household's primary member,
  * `_calculate_account_level_accuracy`'s `household.members[0]`, plus
  * the two-proportion significance gate at :396-417).
  *
  * Person-level accuracy maps each resolved cluster to its MAJORITY
  * true entity (standard cluster-purity accuracy; the reference can
  * compare ids directly because its resolver emits ids from the truth
  * space — a majority map is the label-free equivalent). The
  * account-level baseline attributes every doc of an account to the
  * account's primary member (the member with the most docs — the
  * reference's "primary adult" heuristic). Accounts are the fixture's
  * household pairing (entities 2k and 2k+1 share an account; the
  * fixture has no observed account column, so the household structure
  * IS the account grain — documented analog, not observed data).
  *
  * Everything is a hash aggregate or an equi-join on cluster/account
  * ids — no windows over the doc stream, no driver-side loops; scales
  * as the corpus, not as accounts × members.
  */
object Lift {

  /** Majority true entity per cluster; ties break to the larger
    * entity id so the map is deterministic under any partitioning. */
  private def clusterMajority(assigned: DataFrame, labels: DataFrame): DataFrame =
    assigned.join(labels, "doc_id")
      .groupBy("cluster_id", "entity_id").agg(count(lit(1)).as("n"))
      .groupBy("cluster_id")
      .agg(max(struct(col("n"), col("entity_id"))).getField("entity_id").as("majority_entity"))

  /** One row: person_acc, account_acc, lift, z, significant, n.
    *
    * `assigned`: (doc_id, cluster_id) — the pipeline's resolved
    * assignment. `labels`: (doc_id, entity_id) ground truth.
    * `accountOfEntity`: expression mapping entity_id to account_id.
    */
  def compute(assigned: DataFrame, labels: DataFrame, accountOfEntity: Column): DataFrame = {
    val lab = labels.withColumn("account_id", accountOfEntity)

    // person-level: doc correct iff its cluster's majority entity is its truth
    val persons = assigned.join(lab, "doc_id")
      .join(clusterMajority(assigned, labels), "cluster_id")
      .agg(
        sum(when(col("entity_id") === col("majority_entity"), 1L).otherwise(0L)).as("p_correct"),
        count(lit(1)).as("n"))

    // account-level baseline: primary member = most docs in the account
    // (deterministic tie-break to the larger entity id)
    val primary = lab.groupBy("account_id", "entity_id").agg(count(lit(1)).as("n"))
      .groupBy("account_id")
      .agg(max(struct(col("n"), col("entity_id"))).getField("entity_id").as("primary_entity"))
    val accounts = lab.join(primary, "account_id")
      .agg(sum(when(col("entity_id") === col("primary_entity"), 1L).otherwise(0L)).as("a_correct"),
        count(lit(1)).as("n2"))

    // unpooled two-proportion z (q31's significance machinery): both
    // samples are the same n docs, so z reduces to the paired form on
    // independent-rate SEs — the reference's gate at attribution_lift
    // .py:396-417 (alpha 0.05 two-sided => |z| >= 1.96)
    persons.crossJoin(accounts)
      .select(
        (col("p_correct").cast("double") / col("n")).as("person_acc"),
        (col("a_correct").cast("double") / col("n2")).as("account_acc"),
        col("n").as("n_docs"))
      .withColumn("lift",
        when(col("account_acc") > 0, (col("person_acc") - col("account_acc")) / col("account_acc")))
      // SE = 0 (both accuracies exactly 0 or 1) would make z = 0/0 =
      // NaN, and Spark orders NaN above every double — so an equal-
      // proportions row would read "significant". Zero difference at
      // zero SE is z = 0 by the gate's intent.
      .withColumn("se2",
        col("person_acc") * (lit(1.0) - col("person_acc")) / col("n_docs") +
          col("account_acc") * (lit(1.0) - col("account_acc")) / col("n_docs"))
      .withColumn("z",
        when(col("n_docs") > 0 && col("se2") > 0,
          (col("person_acc") - col("account_acc")) / sqrt(col("se2")))
          .when(col("n_docs") > 0, lit(0.0)))
      .drop("se2")
      .withColumn("significant", coalesce(abs(col("z")) >= lit(1.96), lit(false)))
  }

  /** Fixture account grain: entities 2k and 2k+1 share an account. */
  def fixtureAccount: Column =
    concat(lit("acct"), floor(substring(col("entity_id"), 4, 5).cast("long") / 2))

  /** Fairness: per-group resolved accuracy + the disparate-impact
    * ratio (min group accuracy / max group accuracy; reference:
    * `calculate_fairness_metrics`, attribution_lift.py:438-508 — the
    * reference rates attribution SHARES, we rate assignment ACCURACY,
    * the resolver-side analog: does resolution quality hold across
    * cohorts, e.g. few-doc vs many-doc entities). Output: one row per
    * group (group_id, n_docs, group_acc) plus the ratio broadcast onto
    * every row as disparate_impact. */
  def fairness(assigned: DataFrame, labels: DataFrame, groupOfEntity: Column): DataFrame = {
    val perDoc = assigned.join(labels.withColumn("group_id", groupOfEntity), "doc_id")
      .join(clusterMajority(assigned, labels), "cluster_id")
      .withColumn("ok", (col("entity_id") === col("majority_entity")).cast("long"))
    // materialized once: the scalar crossJoin below would otherwise
    // re-run the whole perDoc join pipeline for the ratio aggregate
    val byGroup = perDoc.groupBy("group_id")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("ok")).cast("double") / count(lit(1))).as("group_acc"))
      .localCheckpoint(true)
    byGroup.crossJoin(
      byGroup.agg((min(col("group_acc")) / max(col("group_acc"))).as("disparate_impact")))
  }

  /** labels + a `cohort` column: per-entity doc-count volume tercile
    * ("low"/"mid"/"high") — few-doc entities are the hard cohort, the
    * fairness split that matters for a resolver. Cutoffs come from one
    * distributed percentile aggregate over the per-entity counts (no
    * single-partition window anywhere). */
  def cohortLabels(labels: DataFrame): DataFrame = {
    val counts = labels.groupBy("entity_id").agg(count(lit(1)).as("nd"))
    val cuts = counts.agg(
      expr("percentile_approx(nd, 1.0/3.0)").as("c1"),
      expr("percentile_approx(nd, 2.0/3.0)").as("c2"))
    // percentile_approx returns an ELEMENT (no interpolation), so the
    // upper cutoff must bound "mid" strictly — ties at the 2/3 element
    // land in "high" (matters for tiny/degenerate count distributions)
    val tagged = counts.crossJoin(cuts).withColumn("cohort",
      when(col("nd") <= col("c1"), "low")
        .when(col("nd") < col("c2"), "mid").otherwise("high"))
      .select("entity_id", "cohort")
    labels.join(tagged, "entity_id")
  }

  /** End-to-end readout on a fixture scale: resolve with
    * [[graft.pipeline.Pipeline.run]] in a scratch run dir (string ids,
    * as the `pir_*` queries use), then report the lift row. */
  def main(args: Array[String]): Unit = {
    val scale = if (args.nonEmpty) args(0) else "t1"
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("lift")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = graft.schema.Fixture.scales(scale)
    val docs = graft.schema.Fixture.docs(spark, cfg).toDF().cache()
    val labels = graft.schema.Fixture.labels(spark, cfg).toDF().cache()
    val att = graft.pipeline.Pipeline.run(spark, docs, graft.queries.Resolution.scratchDir("lift"),
      graft.pipeline.Pipeline.Cfg(ids = "off")).clusters

    val row = compute(att.select("doc_id", "cluster_id"), labels, fixtureAccount).head()
    // lift/z are nullable (degenerate baselines) — print, don't NPE
    def d(i: Int) = if (row.isNullAt(i)) "null" else f"${row.getDouble(i)}%.4f"
    println(f"[lift] person_acc=${row.getDouble(0)}%.4f account_acc=${row.getDouble(1)}%.4f " +
      s"n=${row.getLong(2)} lift=${d(3)} z=${d(4)} significant=${row.getBoolean(5)}")
    fairness(att.select("doc_id", "cluster_id"), cohortLabels(labels), col("cohort"))
      .orderBy("group_id").show(false)
    spark.stop()
  }
}
