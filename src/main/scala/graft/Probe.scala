package graft

import org.apache.spark.sql.functions._

/** Ad-hoc optimization diagnostics (round 17): small named probes that
  * print skew/fanout censuses the plans alone cannot show — e.g. the
  * banded bucket-size distribution behind a candidate-pair join, whose
  * Σ size² is the pair stage's true cost. Usage:
  * `sbt "runMain graft.Probe <probe> [sfDir]"`. Read-only: probes never
  * write anything and exist purely to steer optimization work. */
object Probe {

  private def bucketCensus(banded: org.apache.spark.sql.DataFrame,
                           keys: Seq[String]): Unit = {
    val census = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val stats = census.agg(
      count(lit(1)).as("buckets"),
      max("n").as("max"),
      expr("percentile(n, 0.99)").as("p99"),
      sum(col("n") * (col("n") - 1) / 2).as("sum_pairs"),
      sum(when(col("n") > 50, col("n") * (col("n") - 1) / 2)).as("pairs_over50"),
      sum(when(col("n") > 256, col("n") * (col("n") - 1) / 2)).as("pairs_over256"))
      .collect().head
    println(s"[probe] buckets=${stats.get(0)} max=${stats.get(1)} " +
      s"p99=${stats.get(2)} sum_pairs=${stats.get(3)} " +
      s"pairs_in_over50_buckets=${stats.get(4)} pairs_in_over256_buckets=${stats.get(5)}")
  }

  def main(args: Array[String]): Unit = {
    val probe = args.headOption.getOrElse("m6_buckets")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Util.localSession()
    spark.sparkContext.setLogLevel("WARN")
    probe match {
      case "m6_buckets" =>
        // m6's aHashPairs candidate stage joins on (quarter, qv): a
        // bucket of n hashes emits n(n-1)/2 pairs. Print the bucket
        // census so the Σ size² exposure is a number, not a guess.
        // The variant construction mirrors the m6 query verbatim.
        val bmpHdr = lit(ops.Multimodal.bmp24Header(8, 8))
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 10 === 5)
        val variants = base.select(explode(array(
            struct((col("doc_id") * 2).as("img_id"), col("text").as("t")),
            struct((col("doc_id") * 2 + 1).as("img_id"),
              concat(lit("Z"), substring(col("text"), 2, 191)).as("t")))).as("v"))
          .select(col("v.img_id").as("img_id"),
            concat(bmpHdr,
              substring(rpad(col("v.t"), 192, "x").cast("binary"), 1, 192)).as("payload"))
        val hashed = ops.Multimodal.withImageAHash(variants, "payload")
          .filter(col("ahash").isNotNull)
        val banded = hashed
          .select(col("img_id"), posexplode(col("ahash")))
          .withColumnRenamed("pos", "quarter").withColumnRenamed("col", "qv")
        bucketCensus(banded, Seq("quarter", "qv"))
      case "m7_buckets" =>
        // m7's audio-fingerprint pair stage — same quarter-banded join.
        val hdr = lit(ops.Multimodal.wavPcm16Header(dataBytes = 130))
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 10 === 0)
        val variants = base.select(explode(array(
            struct((col("doc_id") * 2).as("clip_id"), col("text").as("t")),
            struct((col("doc_id") * 2 + 1).as("clip_id"),
              concat(substring(col("text"), 1, 10), lit("Z"),
                substring(col("text"), 12, 1000)).as("t")))).as("v"))
          .select(col("v.clip_id").as("clip_id"),
            concat(hdr,
              substring(rpad(col("v.t"), 130, "x").cast("binary"), 1, 130)).as("payload"))
        val fp = ops.Multimodal.withAudioFingerprint(variants, "payload")
          .filter(col("afp").isNotNull)
        val banded = fp
          .select(col("clip_id"), posexplode(col("afp")))
          .withColumnRenamed("pos", "quarter").withColumnRenamed("col", "qv")
        bucketCensus(banded, Seq("quarter", "qv"))
      case other =>
        System.err.println(s"unknown probe: $other")
    }
    spark.stop()
  }
}
