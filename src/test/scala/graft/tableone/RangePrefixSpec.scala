package graft.tableone

import java.nio.file.Files

import graft.TestSpark
import graft.ops.{Drift, Evaluation, Quantiles, Sampling}
import graft.sources.Sinks
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Partition-count invariance of every caller of
  * [[RangePrefix.withRangePrefix]]: the same output with the range pass at
  * 1 shuffle partition and at 16 — more partitions than these inputs have
  * distinct range keys, so some range partitions are empty. Each caller
  * runs on an input from its own spec. Doubles compare to 1e-12 relative:
  * the callers' final aggregates add in partition order. */
class RangePrefixSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def atPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  // EvaluationSpec's DeLong input: 40 rows over 7 tied scores
  private def tiedScores = (0 until 40)
    .map(i => ((i % 7).toDouble, if ((i * 3) % 5 < 2) 1L else 0L)).toDF("score", "y")
  // DriftSpec's wasserstein1 pair: 10 distinct values
  private def base = Seq(1.0, 3.0, 7.0, 12.0, 20.0)
  private def shifted = base.map(_ + 2.5)

  private val callers: Seq[(String, () => Seq[Row])] = Seq(
    "TableOne.exactQuartiles" -> (() => TableOne.summarize(
      Seq(("A", 1.0, "x"), ("B", 2.0, "y"), ("A", 3.0, "x"), ("B", 4.0, "z"))
        .toDF("s", "num", "cat"),
      TableOneConfig(stratify = Some("s"), cols = Seq("num", "cat"), pValues = true,
        quartileSketchMaxRows = 0L)).collect().toSeq),
    "Quantiles.groupedQuantilesExact" -> (() => Quantiles.groupedQuantilesExact(
      Seq((Option("a"), Option(1.0)), (Option("a"), Option(3.0)), (Option("a"), None),
        (Option("dead"), None),
        (None: Option[String], Option(10.0)), (None: Option[String], Option(20.0)))
        .toDF("g", "v"),
      "g", "v", Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)).collect().toSeq),
    "Evaluation.rocAuc" -> (() => Evaluation.rocAuc(tiedScores, "score", "y").collect().toSeq),
    "Evaluation.aucDeLong" -> (() =>
      Evaluation.aucDeLong(tiedScores, "score", "y").collect().toSeq),
    "Evaluation.prAuc" -> (() => Evaluation.prAuc(
      Seq((0.9, 1L), (0.8, 0L), (0.7, 1L), (0.6, 0L)).toDF("s", "y"), "s", "y")
      .collect().toSeq),
    "Drift.wasserstein1" -> (() =>
      Drift.wasserstein1(base.toDF("x"), shifted.toDF("x"), "x").collect().toSeq),
    "Drift.ksStatistic" -> (() =>
      Drift.ksStatistic(base.toDF("x"), shifted.toDF("x"), "x").collect().toSeq),
    "Sampling.paddingEfficiency" -> (() => Sampling.paddingEfficiency(
      (1L to 6L).map(i => (i, if (i % 2 == 0) 10L else 1L)).toDF("doc_id", "n_tok"),
      "doc_id", "n_tok", batchSize = 2).collect().toSeq),
    "Sinks.withShards" -> (() => {
      val dir = Files.createTempDirectory("graft_rp")
      val path = dir.resolve("out").toString
      val docs = (1L to 12L).map(i => (i, "s", "a b c", 3L))
        .toDF("doc_id", "source", "text", "n_tok")
      val rep = Sinks.exportJsonlSharded(docs, path, "doc_id", "n_tok",
        manifestTable = dir.resolve("manifest").toString, tokensPerShard = 8L)
      val assigned = spark.read.schema("doc_id LONG").json(path)
        .select($"doc_id", $"shard".cast("long")).orderBy("doc_id").collect().toSeq
      Row(rep.tokensPerShard, rep.nShards, rep.nFiles, rep.manifestVersion) +: assigned
    }))

  private def sameRows(a: Seq[Row], b: Seq[Row]): Unit = {
    a.length shouldBe b.length
    a.zip(b).foreach { case (x, y) =>
      x.length shouldBe y.length
      (0 until x.length).foreach { i =>
        (x.get(i), y.get(i)) match {
          case (u: Double, v: Double) if !(u.isNaN && v.isNaN) =>
            u shouldBe v +- 1e-12 * math.max(1.0, math.abs(u))
          case (_: Double, _: Double) => ()
          case (u, v) => u shouldBe v
        }
      }
    }
  }

  callers.foreach { case (name, run) =>
    test(s"$name: same output at 1 and 16 shuffle partitions") {
      val one = atPartitions(1)(run())
      val many = atPartitions(16)(run())
      one should not be empty
      sameRows(one, many)
    }
  }
}
