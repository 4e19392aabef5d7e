package graft.util

import org.apache.spark.sql.DataFrame

object Parallelism {
  /** Ensure a DataFrame has at least the session's default parallelism
    * before a CPU-heavy narrow stage.
    *
    * Rationale: a small checkpoint/table (e.g. 200 MB in many tiny
    * files) gets packed by the file scan into one or two 128 MB input
    * splits, so everything fused onto the scan — normalization,
    * shingling, hashing — runs on 1-2 cores no matter how many the
    * session has (measured 5-10× on stage B). On a production table
    * with thousands of splits the condition is false and no shuffle is
    * added. */
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // df.rdd costs one extra planning pass per call (ms each; the
    // pipeline calls it once per input decode). Deliberately NOT replaced with
    // executedPlan.outputPartitioning.numPartitions: file scans report
    // UnknownPartitioning(0), which would turn this guard into an
    // unconditional repartition — a real shuffle added on production
    // tables with thousands of splits, the exact case the guard must
    // leave untouched.
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
