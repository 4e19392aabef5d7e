package graft.lineage

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{LineageRow, MetricRow}

/** Lineage + scalar metrics for every pipeline stage (north rule:
  * "checkpoint every stage ... with per-partition lineage + metrics
  * tables so any stage resumes idempotently").
  *
  * A checkpoint is committed in write units: one per stage, except
  * `scored_pairs`, whose units are its `chunk=i` dirs. A unit's lineage
  * is the fold (output_rows, content_hash) of what it wrote, with
  * content_hash the order-insensitive bit_xor of a per-row xxhash64
  * over all columns in read-back order. [[write]] observes that fold in
  * the write job itself, so no data is read back to hash it.
  *
  * Commit order of a unit: data (with the committer's `_SUCCESS`
  * suppressed), then its metadata side files `_lineage` and `_metrics`,
  * then `_SUCCESS` ([[commit]]). A committed unit therefore always
  * carries its own lineage and metrics, and a crash before `_SUCCESS`
  * leaves a unit that the resume's overwrite replaces whole, side files
  * included. The `_`-prefixed names are hidden from Spark's file index.
  *
  * The run dir's `lineage` and `metrics` tables are rebuilt from the
  * side files of its committed units ([[rebuild]]), so they are
  * complete and duplicate-free after every returned run, resumed or
  * not. Lineage rows: one per write unit, an empty one included (0
  * rows, hash 0), with partition_id = i for `scored_pairs/chunk=i` and
  * 0 for every other stage; runs are compared on the stage fold (sum of
  * output_rows, bit_xor of content_hash).
  *
  * The reference's closest analog is its audit/metrics logging
  * (reference: src/privacy/audit_logging.py:111-126 content hashing;
  * src/core/drift_detection.py metrics rows).
  */
object Lineage {

  /** Write `df` as parquet under `path` (overwrite, partitioned by
    * `partitionCols`) WITHOUT the committer's `_SUCCESS`, and return
    * the unit's (output_rows, content_hash) as observed by the write
    * job. Read-back order puts partition columns last, and the hash
    * follows it, so the fold equals one over `spark.read.parquet(path)`. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): (Long, Long) = {
    val cols = df.columns.filterNot(partitionCols.contains) ++ partitionCols
    val obs = Observation()
    val hash = coalesce(bit_xor(xxhash64(cols.toIndexedSeq.map(col): _*)), lit(0L))
    df.observe(obs, count(lit(1)).as("rows"), hash.as("hash"))
      .write
      .mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    // a partitioned write of no rows leaves no file to read a schema
    // from: add one empty file with the read-back columns
    if (rows == 0L && partitionCols.nonEmpty)
      df.select(cols.toIndexedSeq.map(col): _*).limit(0)
        .write
        .mode("append")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(path)
    (rows, m("hash").asInstanceOf[Long])
  }

  /** Commit a written unit: its lineage fold (if it is a lineage unit)
    * and metrics go into side files, and only then `_SUCCESS`. Doubles
    * are written with `Double.toString`, which round-trips exactly. */
  def commit(path: String, fold: Option[(Long, Long)], metrics: Seq[(String, Double)]): Unit = {
    fold.foreach { case (rows, hash) => Files.writeString(Paths.get(path, "_lineage"), s"$rows\t$hash\n") }
    if (metrics.nonEmpty)
      Files.write(Paths.get(path, "_metrics"),
        metrics.map { case (n, v) => s"$n\t${java.lang.Double.toString(v)}" }.asJava)
    new File(path, "_SUCCESS").createNewFile()
  }

  /** Overwrite `runDir/lineage` and `runDir/metrics` from the side files
    * of the run dir's committed units (dirs with `_SUCCESS`, and their
    * committed `chunk=i` dirs): two small write jobs. */
  def rebuild(spark: SparkSession, runDir: String, runId: String): Unit = {
    import spark.implicits._
    def committed(parent: File): Seq[File] =
      Option(parent.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && new File(d, "_SUCCESS").exists())
        .sortBy(_.getName)
    def fields(unit: File, side: String): Seq[Array[String]] = {
      val p = new File(unit, side).toPath
      if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.map(_.split('\t')) else Nil
    }
    val units = committed(new File(runDir)).flatMap { s =>
      (s.getName, s, 0) +: committed(s).collect {
        case c if c.getName.startsWith("chunk=") => (s.getName, c, c.getName.stripPrefix("chunk=").toInt)
      }
    }
    val lineage = units.flatMap { case (stage, u, part) =>
      fields(u, "_lineage").map(f => LineageRow(stage, runId, part, f(0).toLong, f(1).toLong))
    }
    val metrics = units.flatMap { case (stage, u, _) =>
      fields(u, "_metrics").map(f => MetricRow(stage, runId, f(0), f(1).toDouble))
    }
    lineage.toDF().coalesce(1).write.mode("overwrite").parquet(s"$runDir/lineage")
    metrics.toDF().coalesce(1).write.mode("overwrite").parquet(s"$runDir/metrics")
  }
}
