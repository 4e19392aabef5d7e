package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.schema.Fixture
import graft.pipeline.Pipeline

/** spark-submit-style entry: run the full B→S→C pipeline on a fixture
  * scale with stage checkpoints under a run dir.
  *   sbt "runMain graft.tools.RunPipeline t1 /tmp/graft_run"
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val scale = if (args.nonEmpty) args(0) else "t1"
    val runDir = if (args.length > 1) args(1) else s"/tmp/graft_run_$scale"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Fixture.docs(spark, Fixture.scales(scale)).toDF()
    val t0 = System.nanoTime()
    val res = Pipeline.run(spark, docs, runDir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"pipeline done in $sec%.1f s; ccIterations=${res.ccIterations}")
    println(s"clusters rows=${res.clusters.count()} distinct=${res.clusters.select("cluster_id").distinct().count()}")
    spark.read.parquet(s"$runDir/metrics").show(50, false)
    // the per-stage fold runs are compared on
    spark.read.parquet(s"$runDir/lineage").groupBy("stage")
      .agg(sum("output_rows").as("rows"), bit_xor(col("content_hash")).as("content_hash"))
      .orderBy("stage").show(50, false)
    spark.stop()
  }
}
