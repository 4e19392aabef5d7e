package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.blocking.Blocking
import graft.cluster.UnionFindProbe
import graft.functions.{FusedSpanKernel, JW, JwDict, MinHashKernel}
import graft.scoring.Scoring

/** Single-thread kernel probes on a finished run's own data: each
  * kernel is called in a tight loop in the benchmark's thread, outside
  * Spark, and reported as the median of five timed passes in ns per
  * operation. */
object Kernels {
  private val SampleDocs = 2000
  private val SamplePairs = 3000

  /** Median ns/op over five passes, each repeated until ≥ 100 ms. */
  private def nsPerOp(ops: Long)(pass: => Unit): Double = {
    pass // warm
    val per = (0 until 5).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 100000000L || n == 0) { pass; n += 1 }
      (System.nanoTime() - t0).toDouble / (n.toLong * math.max(1L, ops))
    }.sorted
    per(2)
  }

  def probe(spark: SparkSession, docs: DataFrame, runDir: String): Map[String, Double] = {
    val bcfg = Blocking.Cfg()
    val w = Scoring.Weights()

    // MinHash band keys over the docs' normalized text, as docKeys builds it
    val texts = docs.select(graft.text.TextOps.normText(array_join(transform(
      filter(col("spans"), s => s.getField("kind") === lit("text")),
      s => s.getField("text")), " "))).limit(SampleDocs).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val ab = graft.text.TextOps.affineConsts(bcfg.minhashK, bcfg.seed)
    val (as, bs) = (ab.map(_._1).toArray, ab.map(_._2).toArray)
    val minhash = nsPerOp(texts.length) {
      var i = 0
      while (i < texts.length) { MinHashKernel.bands(texts(i), bcfg.shingleN, bcfg.bands, as, bs); i += 1 }
    }

    // span-pair kernels over a sample of the run's candidate pairs
    val bc = Scoring.broadcastDict(spark.read.parquet(s"$runDir/text_dict"))
    val dict = JwDict.arr(bc)
    val ids = spark.read.parquet(s"$runDir/text_ids")
    val pairs = spark.read.parquet(s"$runDir/candidates").select("doc_a", "doc_b")
      .orderBy(xxhash64(col("doc_a"), col("doc_b"))).limit(SamplePairs)
      .join(ids.select(col("doc_id").as("doc_a"), col("tids").as("ta")), "doc_a")
      .join(ids.select(col("doc_id").as("doc_b"), col("tids").as("tb")), "doc_b")
      .select("ta", "tb").collect()
      .map(r => (r.getSeq[Int](0).toArray, r.getSeq[Int](1).toArray))
    val arrs = pairs.map { case (a, b) => (UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b)) }
    val spanPairs = pairs.iterator.map { case (a, b) => a.length.toLong * b.length }.sum
    val jw = nsPerOp(spanPairs) {
      pairs.foreach { case (a, b) =>
        var i = 0
        while (i < a.length) { var j = 0; while (j < b.length) { JW.jw(dict(a(i)), dict(b(j))); j += 1 }; i += 1 }
      }
    }
    val fused = nsPerOp(arrs.length) {
      arrs.foreach { case (a, b) => FusedSpanKernel.score(bc, a, b, 0.75, w.jwStrong, w.levStrong) }
    }
    bc.destroy()

    // union-find over the run's matched edges
    val edges = spark.read.parquet(s"$runDir/scored_pairs").where(col("is_match"))
      .select("doc_a", "doc_b").collect()
    val src = edges.map(_.getLong(0))
    val dst = edges.map(_.getLong(1))
    val uf = nsPerOp(src.length)(UnionFindProbe.minLabelsLong(src, dst))

    Map(
      "functions.minhash_ns_per_doc" -> minhash,
      "functions.jw_ns_per_pair" -> jw,
      "functions.fused_ns_per_pair" -> fused,
      "cluster.unionfind_ns_per_edge" -> uf
    )
  }
}
