package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.tableone.RangePrefix

/** Model-evaluation statistics at corpus scale — the scoring half of a
  * training pipeline (score a candidate filter/classifier over the full
  * corpus, gate on the metric) where a single-node sklearn pass stopped
  * being an option several orders of magnitude ago.
  *
  * Both operators keep every count in exact integer arithmetic until
  * one final division, so an external engine re-derives the metric
  * bit-for-bit — no sampling, no sketch, no approximate rank.
  */
object Evaluation {

  /** Exact ROC-AUC (the Mann–Whitney U statistic with the standard
    * tie correction): the probability a uniformly chosen positive
    * outranks a uniformly chosen negative, ties counting half.
    *
    * AUC = Σ_v nPos(v) · (negBelow(v) + nNeg(v)/2) / (P·N), summed over
    * DISTINCT scores v — computed here as the exact integer
    * `Σ nPos(v) · (2·negBelow(v) + nNeg(v))` over `2·P·N` (one double
    * division at the very end; the sum rides a 38-digit decimal so
    * 10^10-positive × 10^10-negative corpora cannot overflow it).
    *
    * Scale shape: the corpus reduces to one (score → nPos, nNeg) row
    * per DISTINCT score (map-side-combined aggregate); the strictly-
    * below negative counts are running sums of the shared range pass
    * ([[RangePrefix.withRangePrefix]]: within-partition window cumsums
    * stitched with ≤ #partitions driver prefix offsets), so no
    * single-partition global ranking window ever materializes. Returns
    * ONE row (auc, n_pos, n_neg). */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    withScoreCensus(df, scoreCol, labelCol) { pass =>
      val spark = df.sparkSession
      val (nPos, nNeg) = (pass.total("n_pos"), pass.total("n_neg"))
      require(nPos > 0 && nNeg > 0,
        s"rocAuc needs both classes present (pos=$nPos, neg=$nNeg)")
      val num = pass.parts
        .withColumn("neg_below", pass.runningSum("n_neg") - col("n_neg"))
        .agg(sum((col("neg_below") * 2L + col("n_neg")).cast(DecimalType(38, 0)) *
          col("n_pos").cast(DecimalType(38, 0))).as("num2"))
        .head().getDecimal(0)
      import spark.implicits._
      Seq((num.doubleValue() / (2.0 * nPos.toDouble * nNeg.toDouble), nPos, nNeg))
        .toDF("auc", "n_pos", "n_neg")
    }

  /** The corpus reduced to one (v, n_pos, n_neg) row per distinct score
    * (map-side-combined), run through [[RangePrefix.withRangePrefix]] on
    * v with both class counts as subtotals. */
  private def withScoreCensus[T](df: DataFrame, scoreCol: String, labelCol: String)
                                (use: RangePrefix.Ranged => T): T = {
    val counts = df
      .select(col(scoreCol).cast(DoubleType).as("v"),
        col(labelCol).cast("long").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .groupBy("v").agg(
        sum(when(col("y") =!= 0L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("n_neg"))
    RangePrefix.withRangePrefix(counts, Seq("v"))(
      sum("n_pos").as("n_pos"), sum("n_neg").as("n_neg"))(use)
  }

  /** ROC-AUC with its DeLong (1988) sampling variance and normal CI —
    * the answer to "is 0.71 vs 0.69 real or noise" that a point AUC
    * cannot give. Per distinct score v, the POSITIVE placement
    * V10(v) = (negBelow + nNeg(v)/2)/N (fraction of negatives a
    * positive at v outranks) and the NEGATIVE placement
    * V01(v) = (posAbove + nPos(v)/2)/P; then
    * var(AUC) = S10/P + S01/N with S10/S01 the count-weighted sample
    * variances of the placements, and CI = AUC ± 1.96·SE.
    *
    * Scale shape: the [[rocAuc]] construction exactly — one distinct-
    * score census, range-partitioned within-partition cumsums stitched
    * with driver prefix offsets (both class directions from the SAME
    * window pass), one census-sized moment aggregate, and the final
    * five-number algebra on driver scalars (the D1 contract: only
    * aggregates reach the driver). Returns ONE row (n_pos, n_neg, auc,
    * var_auc, se_auc, ci_lo, ci_hi); requires ≥ 2 of each class. */
  def aucDeLong(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    withScoreCensus(df, scoreCol, labelCol) { pass =>
      val spark = df.sparkSession
      val (nPos, nNeg) = (pass.total("n_pos"), pass.total("n_neg"))
      require(nPos >= 2 && nNeg >= 2,
        s"aucDeLong needs >= 2 of each class (pos=$nPos, neg=$nNeg)")
      val v10 = (col("neg_below").cast(DoubleType) +
        lit(0.5) * col("n_neg").cast(DoubleType)) / lit(nNeg.toDouble)
      val v01 = ((lit(nPos) - col("pos_below") - col("n_pos")).cast(DoubleType) +
        lit(0.5) * col("n_pos").cast(DoubleType)) / lit(nPos.toDouble)
      val m = pass.parts
        .withColumn("neg_below", pass.runningSum("n_neg") - col("n_neg"))
        .withColumn("pos_below", pass.runningSum("n_pos") - col("n_pos"))
        .withColumn("__v10", v10).withColumn("__v01", v01)
        .agg(
          sum(col("n_pos").cast(DoubleType) * col("__v10")).as("sw10"),
          sum(col("n_pos").cast(DoubleType) * col("__v10") * col("__v10")).as("sq10"),
          sum(col("n_neg").cast(DoubleType) * col("__v01")).as("sw01"),
          sum(col("n_neg").cast(DoubleType) * col("__v01") * col("__v01")).as("sq01"))
        .head()
      val (sw10, sq10, sw01, sq01) =
        (m.getDouble(0), m.getDouble(1), m.getDouble(2), m.getDouble(3))
      val (p, n) = (nPos.toDouble, nNeg.toDouble)
      val auc = sw10 / p
      val s10 = (sq10 - sw10 * sw10 / p) / (p - 1.0)
      val s01 = (sq01 - sw01 * sw01 / n) / (n - 1.0)
      val varAuc = s10 / p + s01 / n
      val se = math.sqrt(varAuc)
      import spark.implicits._
      Seq((nPos, nNeg, auc, varAuc, se, auc - 1.96 * se, auc + 1.96 * se))
        .toDF("n_pos", "n_neg", "auc", "var_auc", "se_auc", "ci_lo", "ci_hi")
    }

  /** Exact precision-recall AUC (trapezoidal) — the class-imbalance
    * companion to [[rocAuc]]: with 0.1% positives, a model can hold
    * ROC-AUC ≈ 0.99 while drowning every alert in false positives;
    * the PR curve shows that directly. Operating points are the
    * distinct score thresholds t (predict positive iff score ≥ t),
    * anchored at the conventional (R=0, P=1) start; between
    * consecutive thresholds the trapezoid (R−R_prev)·(P+P_prev)/2.
    *
    * Every point is a ratio of exact integers: at threshold v,
    * TP = P − posBelow(v), FP = N − negBelow(v), and the PREVIOUS
    * point is row-local too (TP − nPos(v), FP − nNeg(v)) because
    * posBelow(successor) = posBelow(v) + nPos(v) — so the whole curve
    * folds in one aggregate, no self-join of consecutive thresholds.
    *
    * Scale shape: the [[rocAuc]] construction with both class cumsums —
    * one (score → nPos, nNeg) census, range-partitioned within-partition
    * window cumsums stitched with ≤ #partitions driver prefix offsets,
    * one final 1-row aggregate. Returns ONE row
    * (pr_auc, baseline, n_pos, n_neg); baseline = P/(P+N) is the
    * no-skill precision the AUC should be read against. */
  def prAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    withScoreCensus(df, scoreCol, labelCol) { pass =>
      val spark = df.sparkSession
      val (nPos, nNeg) = (pass.total("n_pos"), pass.total("n_neg"))
      require(nPos > 0 && nNeg > 0,
        s"prAuc needs both classes present (pos=$nPos, neg=$nNeg)")
      val tp = (lit(nPos) - (pass.runningSum("n_pos") - col("n_pos"))).cast(DoubleType)
      val fp = (lit(nNeg) - (pass.runningSum("n_neg") - col("n_neg"))).cast(DoubleType)
      val tpPrev = tp - col("n_pos").cast(DoubleType)
      val fpPrev = fp - col("n_neg").cast(DoubleType)
      val prec = tp / (tp + fp)
      val precPrev = when(tpPrev + fpPrev > 0, tpPrev / (tpPrev + fpPrev))
        .otherwise(lit(1.0))
      val auc = pass.parts
        .withColumn("__term",
          col("n_pos").cast(DoubleType) / lit(nPos.toDouble) *
            (prec + precPrev) / lit(2.0))
        .agg(sum("__term").as("pr_auc"))
        .head().getDouble(0)
      import spark.implicits._
      Seq((auc, nPos.toDouble / (nPos + nNeg).toDouble, nPos, nNeg))
        .toDF("pr_auc", "baseline", "n_pos", "n_neg")
    }

  /** Decile lift / gains table — the campaign-targeting readout: cut
    * the population into k equal-frequency score bins (edges from the
    * distributed exact order-statistics pass, attached as literals —
    * the a30 construction), then per bin the response rate, its lift over
    * the base rate, and the cumulative capture/lift scanning from the
    * BEST bin down ("mail the top 2 deciles, capture 45% of
    * responders at 2.2× lift"). Heavy score ties can merge bins
    * (duplicate edges), same documented behavior as
    * [[graft.ops.Encoding.quantileBin]].
    *
    * Scale shape: one edge probe + ONE branch-free census aggregate
    * over the corpus; the rate/lift/cumulative algebra folds
    * driver-side over the ≤k-row AGGREGATE census (exact longs until
    * the final divisions — never raw rows, never an unpartitioned
    * window). Returns (bin, n, n_pos, rate, lift, cum_capture,
    * cum_lift) ordered best bin first. */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
                k: Int = 10): DataFrame = {
    require(k >= 2 && k <= 256, s"k must be in [2, 256], got $k")
    val src = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast(DoubleType).as("__s"),
        col(labelCol).cast("long").as("__y"))
    val ps = (1 until k).map(i => (s"__e$i", i.toDouble / k))
    // distributed order-stat path directly — one global group is the
    // sort-aggregate path's worst case (the quantileBin measurement)
    val edgeRow = Quantiles.groupedQuantilesExact(
      src.select(lit(1).as("__g"), col("__s")), "__g", "__s", ps).head()
    val es = (1 until k).map(i => edgeRow.getAs[Double](s"__e$i"))
    val bin = es.map(e => when(col("__s") >= lit(e), 1L).otherwise(0L))
      .reduce(_ + _)
    // the rate/lift/cumulative algebra folds driver-side over the ≤k-row
    // AGGREGATE bin census (the calibrationBins/D1 contract) — all exact
    // longs until the final divisions; the operator is already eager
    // (the edge probe head() above), so this adds no laziness loss
    val cells = src.withColumn("bin", bin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y") =!= 0L, 1L).otherwise(0L)).as("n_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    val tn = cells.iterator.map(_._2).sum
    val tp = cells.iterator.map(_._3).sum
    val baseRate = tp.toDouble / tn
    var (cn, cp) = (0L, 0L)
    val out = cells.map { case (b, n, nPos) =>
      cn += n; cp += nPos
      val rate = nPos.toDouble / n
      (b, n, nPos, rate,
        if (tp > 0) Some(rate / baseRate) else None,
        if (tp > 0) Some(cp.toDouble / tp) else None,
        if (tp > 0) Some((cp.toDouble / cn) / baseRate) else None)
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toSeq
      .toDF("bin", "n", "n_pos", "rate", "lift", "cum_capture", "cum_lift")
  }

  /** Exact NDCG@k per group (ranking quality of a retrieval/reranking
    * stage): DCG@k = Σ_{i=1..k} (2^rel_i − 1) / log2(i + 1) over items
    * ranked by `scoreCol` DESC (ties broken by `idCol` ASC, so the
    * metric is deterministic under score ties), normalized by the ideal
    * DCG@k from ranking the SAME items by relevance.
    *
    * Scale shape: ONE map-side-combined aggregate carrying two bounded
    * k-element buffers per (task, group) — [[graft.functions.TopKRel]]
    * on the model score and again on the relevance (for IDCG). No
    * per-group sort window ever materializes: O(n log k) total vs the
    * window formulation's O(n log n) per group, which at 100 TB is the
    * difference between a top-10 metric and a global sort. The gain and
    * discount arithmetic runs as array expressions over the ≤ k-element
    * buffers, in rank order, so an external engine replays it exactly.
    *
    * Returns one row per group: (group, n_items, dcg, idcg, ndcg);
    * ndcg is NULL when every candidate has zero relevance (idcg = 0). */
  def ndcgAtK(df: DataFrame, groupCol: String, scoreCol: String,
              relCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tk = udaf(new graft.functions.TopKRel(k),
      org.apache.spark.sql.Encoders.product[graft.functions.RelScored])
    val g = df.select(col(groupCol).as("g"),
        col(scoreCol).cast(DoubleType).as("score"),
        col(relCol).cast(DoubleType).as("rel"),
        col(idCol).cast("long").as("id"))
      .filter(col("score").isNotNull && col("rel").isNotNull && col("id").isNotNull)
    // position i (0-based) contributes gain(rel)/log2(i+2); buffers are
    // already rank-sorted, so the indexed transform IS the ranked walk
    def dcgOf(arr: org.apache.spark.sql.Column) = aggregate(
      transform(arr, (x, i) =>
        (pow(lit(2.0), x.getField("rel")) - lit(1.0)) /
          log2(i.cast(DoubleType) + lit(2.0))),
      lit(0.0), (acc, v) => acc + v)
    g.groupBy(col("g").as(groupCol))
      .agg(
        tk(col("score"), col("rel"), col("id")).as("by_score"),
        tk(col("rel"), col("rel"), col("id")).as("by_rel"),
        count(lit(1)).as("n_items"))
      .select(col(groupCol), col("n_items"),
        dcgOf(col("by_score")).as("dcg"),
        dcgOf(col("by_rel")).as("idcg"))
      .withColumn("ndcg", when(col("idcg") > 0.0, col("dcg") / col("idcg")))
  }

  /** MRR@k and precision@k per group from the SAME bounded top-k buffer
    * as [[ndcgAtK]] (one map-side-combined aggregate, no sort window):
    * an item is RELEVANT when its grade is > 0; mrr = 1/rank of the
    * first relevant item within the top k (0.0 when none — the
    * convention that keeps the group average meaningful), precision =
    * relevant-in-top-k / k. Exact rationals both, so external replay is
    * bit-for-bit. Returns (group, n_items, mrr, precision). */
  def rankingAtK(df: DataFrame, groupCol: String, scoreCol: String,
                 relCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tk = udaf(new graft.functions.TopKRel(k),
      org.apache.spark.sql.Encoders.product[graft.functions.RelScored])
    val g = df.select(col(groupCol).as("g"),
        col(scoreCol).cast(DoubleType).as("score"),
        col(relCol).cast(DoubleType).as("rel"),
        col(idCol).cast("long").as("id"))
      .filter(col("score").isNotNull && col("rel").isNotNull && col("id").isNotNull)
    val isRel = (x: org.apache.spark.sql.Column) => x.getField("rel") > 0.0
    g.groupBy(col("g").as(groupCol))
      .agg(tk(col("score"), col("rel"), col("id")).as("by_score"),
        count(lit(1)).as("n_items"))
      .select(col(groupCol), col("n_items"),
        array_position(transform(col("by_score"), isRel), lit(true)).as("__first"),
        size(filter(col("by_score"), isRel)).as("__n_rel"))
      .select(col(groupCol), col("n_items"),
        when(col("__first") > 0L, lit(1.0) / col("__first")).otherwise(0.0).as("mrr"),
        (col("__n_rel").cast(DoubleType) / lit(k)).as("precision"))
  }

  /** Reliability diagram + expected calibration error in one aggregate
    * pass: probabilities bucket into `nBins` equal-width bins (the last
    * bin closed, so p = 1.0 lands in bin nBins−1), each bin reports its
    * count, mean confidence (sum_p / n — explicit sums, so an external
    * engine re-derives it bit-for-bit), empirical accuracy, and the
    * signed gap; `ece` = Σ n_b/N · |acc_b − conf_b| folds driver-side
    * over the ≤ nBins-row AGGREGATE bin frame and attaches as a literal
    * (the corpus itself never re-shuffles and never reaches the
    * driver). Rows with a null probability or label are excluded. */
  def calibrationBins(df: DataFrame, probCol: String, labelCol: String,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val bins = df
      .select(col(probCol).cast(DoubleType).as("p"),
        when(col(labelCol).cast("long") =!= 0L, 1L).otherwise(0L).as("y"))
      .filter(col("p").isNotNull && col(labelCol).isNotNull)
      .groupBy(least(floor(col("p") * nBins).cast("long"), lit(nBins - 1L)).as("bin"))
      .agg(count(lit(1)).as("n"), sum("p").as("sum_p"), sum("y").as("sum_y"))
    // ECE folds driver-side over the ≤ nBins AGGREGATE rows (the
    // brierDecomposition/D1 contract) — the Window.partitionBy(lit(1))
    // it replaces was the v13-measured replanning hazard and a
    // single-task plan; nothing collected is proportional to corpus
    // size.
    val rows = bins.orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val out = rows.map { case (b, n, sp, sy) =>
      val conf = sp / n
      val acc = sy.toDouble / n
      (b, n, conf, acc, acc - conf)
    }
    val nTot = rows.iterator.map(_._2).sum
    val ece =
      if (nTot == 0L) 0.0
      else out.iterator.map { case (_, n, conf, acc, _) =>
        n * math.abs(acc - conf) }.sum / nTot
    val spark = df.sparkSession
    import spark.implicits._
    out.toSeq.toDF("bin", "n", "conf", "acc", "gap")
      .withColumn("ece", lit(ece))
      .select("bin", "n", "conf", "acc", "gap", "ece")
  }

  /** Cohen's kappa between two raters (chance-corrected agreement over
    * a label-pair confusion matrix): kappa = (p_o − p_e)/(1 − p_e) with
    * p_o = Σ diag / N and p_e = Σ_l rowN(l)·colN(l) / N². Every count
    * stays an exact long — p_e's numerator is the exact integer
    * Σ rowN·colN — so the two divisions at the end are the only float
    * ops. Scale shape: the corpus reduces to ≤ L² (rater1, rater2)
    * cells in one map-side-combined aggregate; the marginal products
    * ride two tiny self-aggregations of that cell frame. Returns ONE
    * row (n, p_o, p_e, kappa); kappa is NULL at p_e = 1 (both raters
    * constant and equal — agreement is undefined, not perfect). */
  def cohenKappa(df: DataFrame, rater1Col: String, rater2Col: String): DataFrame = {
    val cells = df
      .select(col(rater1Col).cast("string").as("r1"),
        col(rater2Col).cast("string").as("r2"))
      .filter(col("r1").isNotNull && col("r2").isNotNull)
      .groupBy("r1", "r2").agg(count(lit(1)).as("c"))
    val totals = cells.agg(sum("c").as("n"),
      sum(when(col("r1") === col("r2"), col("c")).otherwise(0L)).as("diag"))
    val rowM = cells.groupBy(col("r1").as("l")).agg(sum("c").as("rn"))
    val colM = cells.groupBy(col("r2").as("l")).agg(sum("c").as("cn"))
    // outer join: a label one rater never uses has marginal 0 and
    // contributes nothing, but must not drop the OTHER marginal's label
    val peNum = rowM.join(colM, Seq("l"), "full_outer")
      .agg(coalesce(sum(coalesce(col("rn"), lit(0L)) * coalesce(col("cn"), lit(0L))),
        lit(0L)).as("pe_num"))
    val one = totals.crossJoin(broadcast(peNum))
    one.select(col("n"),
      (col("diag").cast(DoubleType) / col("n")).as("p_o"),
      (col("pe_num").cast(DoubleType) / (col("n") * col("n"))).as("p_e"))
      .withColumn("kappa",
        when(col("p_e") =!= 1.0, (col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))))
  }

  /** Fleiss' kappa over long-format votes (item, label) with a CONSTANT
    * number of raters n per item (validated loudly — the statistic is
    * undefined otherwise): per-item agreement
    * P_i = (Σ_j n_ij² − n)/(n(n−1)), P̄ = mean over items, chance
    * agreement P_e = Σ_j p_j² with p_j the global label share. Both
    * numerators are kept as exact integers — Σ_i Σ_j n_ij² and Σ_j c_j²
    * (38-digit decimals, so 10^10 items × wide label sets cannot
    * overflow) — with the divisions deferred to the end.
    *
    * Scale shape: one aggregate to (item, label) cells, one to per-item
    * totals (the rater-count validation rides it), one to label column
    * sums bounded by L rows. No window, no join back to the corpus.
    * Returns ONE row (n_items, n_raters, p_bar, p_e, kappa); kappa is
    * NULL at p_e = 1 (all votes one label). */
  def fleissKappa(votes: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val cells = votes
      .select(col(itemCol).cast("long").as("item"),
        col(labelCol).cast("string").as("label"))
      .filter(col("item").isNotNull && col("label").isNotNull)
      .groupBy("item", "label").agg(count(lit(1)).as("c"))
    val perItem = cells.groupBy("item").agg(
      sum("c").as("n_votes"),
      sum(col("c") * col("c")).as("sq"))
    val top = perItem.agg(
      count(lit(1)).as("n_items"),
      min("n_votes").as("n_min"), max("n_votes").as("n_max"),
      sum(col("sq").cast(DecimalType(38, 0))).as("sq_sum"))
    val labelSq = cells.groupBy("label").agg(sum("c").as("cj"))
      .agg(sum((col("cj") * col("cj")).cast(DecimalType(38, 0))).as("cj_sq_sum"))
    val r = top.crossJoin(broadcast(labelSq)).head()
    val nItems = r.getAs[Long]("n_items")
    require(nItems > 0, "fleissKappa: no votes after null filtering")
    val n = r.getAs[Long]("n_min")
    require(n == r.getAs[Long]("n_max"),
      s"fleissKappa needs a constant rater count per item, got " +
        s"min=$n max=${r.getAs[Long]("n_max")}")
    val sqSum = r.getAs[java.math.BigDecimal]("sq_sum").doubleValue()
    val cjSqSum = r.getAs[java.math.BigDecimal]("cj_sq_sum").doubleValue()
    finishFleiss(votes.sparkSession, nItems, n, sqSum, cjSqSum)
  }

  /** [[fleissKappa]] for WIDE vote frames (one row per item, one column
    * per rater) — the shape annotation/labeling tables actually arrive
    * in, and the shape that makes the statistic SHUFFLE-FREE: each
    * item's Σ n_ij² is computed row-locally from the rater array (an
    * r²-work array expression, r = #raters), so the only aggregations
    * are a one-row global (count, Σ sq) and the label column sums —
    * a map-side-combined groupBy bounded by L distinct labels. The
    * long-format operator must shuffle n·r vote rows keyed by item
    * (measured 23.7 s vs ~1 s at the 100× bench scale on the same
    * votes); use it only when votes genuinely arrive unpivoted.
    * Rows with ANY null vote are excluded (the constant-rater-count
    * requirement, enforced by construction here). */
  def fleissKappaWide(df: DataFrame, raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2,
      s"fleissKappaWide needs >= 2 rater columns, got ${raterCols.size}")
    require(raterCols.distinct.size == raterCols.size, "duplicate rater column")
    val arr = array(raterCols.map(c => col(c).cast("string")): _*)
    val complete = df
      .filter(raterCols.map(col(_).isNotNull).reduce(_ && _))
      .select(arr.as("__votes"))
    val sq = aggregate(
      transform(array_distinct(col("__votes")),
        x => size(filter(col("__votes"), y => y === x))),
      lit(0L), (acc, c) => acc + c.cast("long") * c.cast("long"))
    val top = complete.agg(count(lit(1)).as("n_items"),
      coalesce(sum(sq.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))).as("sq_sum"))
    val labelSq = complete
      .select(explode(col("__votes")).as("label"))
      .groupBy("label").agg(count(lit(1)).as("cj"))
      .agg(coalesce(sum((col("cj") * col("cj")).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).as("cj_sq_sum"))
    val r = top.crossJoin(broadcast(labelSq)).head()
    val nItems = r.getAs[Long]("n_items")
    require(nItems > 0, "fleissKappaWide: no complete vote rows")
    finishFleiss(df.sparkSession, nItems, raterCols.size.toLong,
      r.getAs[java.math.BigDecimal]("sq_sum").doubleValue(),
      r.getAs[java.math.BigDecimal]("cj_sq_sum").doubleValue())
  }

  /** The shared Fleiss tail: exact-integer numerators in, the standard
    * algebra out — one definition so the long and wide paths cannot
    * drift. */
  private def finishFleiss(spark: org.apache.spark.sql.SparkSession,
                           nItems: Long, n: Long,
                           sqSum: Double, cjSqSum: Double): DataFrame = {
    require(n >= 2, s"fleissKappa needs >= 2 raters per item, got $n")
    val pBar = (sqSum - nItems.toDouble * n) / (nItems.toDouble * n * (n - 1))
    val pE = cjSqSum / (nItems.toDouble * n * nItems.toDouble * n)
    val kappa = if (pE == 1.0) None else Some((pBar - pE) / (1.0 - pE))
    import spark.implicits._
    Seq((nItems, n, pBar, pE, kappa)).toDF(
      "n_items", "n_raters", "p_bar", "p_e", "kappa")
  }

  /** Binary-classification confusion counts and the derived metrics, in
    * ONE map-side-combined aggregate pass: (tp, fp, fn, tn, precision,
    * recall, f1, accuracy) as a single row. Predictions and labels are
    * truthy longs (0 = negative, anything else = positive); rows with a
    * null on either side are excluded. The three ratios divide exact
    * longs (f1 as 2tp/(2tp+fp+fn) — one division, not a composition of
    * rounded intermediates). */
  def confusionStats(df: DataFrame, predCol: String, labelCol: String): DataFrame = {
    val p = col(predCol).cast("long") =!= 0L
    val y = col(labelCol).cast("long") =!= 0L
    val one = df.filter(col(predCol).isNotNull && col(labelCol).isNotNull)
      .agg(
        coalesce(sum(when(p && y, 1L).otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(p && !y, 1L).otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(!p && y, 1L).otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(!p && !y, 1L).otherwise(0L)), lit(0L)).as("tn"))
    // ANSI mode makes /0 throw; an absent denominator is a NULL metric
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den =!= 0L, num.cast(DoubleType) / den)
    one.select(col("tp"), col("fp"), col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(col("tp") * 2L, col("tp") * 2L + col("fp") + col("fn")).as("f1"),
      ratio(col("tp") + col("tn"),
        col("tp") + col("fp") + col("fn") + col("tn")).as("accuracy"))
  }

  /** Proper-scoring-rule metrics per group over a probabilistic
    * classifier's output: Brier score = mean (p − y)², log-loss =
    * mean −(y·ln p + (1−y)·ln(1−p)) with p clamped to [eps, 1−eps]
    * (so a hard 0/1 prediction costs ln(1/eps), not ∞), plus the
    * group's base rate. The two scores decompose the same question
    * ROC-AUC dodges: is the PROBABILITY itself right, not just the
    * ranking.
    *
    * Scale shape: ONE map-side-combinable aggregate — each score is a
    * plain mean of a per-row expression, so partials merge exactly and
    * the shuffle carries |groups| rows. Returns
    * (group, n, base_rate, brier, logloss). */
  def probMetrics(df: DataFrame, groupCol: String, probCol: String,
                  labelCol: String, eps: Double = 1e-15): DataFrame = {
    require(eps > 0 && eps < 0.5, s"eps must be in (0, 0.5), got $eps")
    val p = col(probCol).cast(DoubleType)
    val y = col(labelCol).cast("long")
    val pc = least(greatest(p, lit(eps)), lit(1.0 - eps))
    df.filter(col(groupCol).isNotNull && p.isNotNull && y.isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"),
        avg(y.cast(DoubleType)).as("base_rate"),
        avg((p - y) * (p - y)).as("brier"),
        avg(-(y * log(pc) + (lit(1L) - y) * log(lit(1.0) - pc))).as("logloss"))
      .select(col("__g").as(groupCol), col("n"),
        col("base_rate"), col("brier"), col("logloss"))
  }

  /** Murphy decomposition of the Brier score over the distinct forecast
    * values: reliability REL = Σ n_k(f_k − ȳ_k)²/N (calibration error,
    * lower better), resolution RES = Σ n_k(ȳ_k − base)²/N (how much the
    * forecast separates outcomes, higher better), uncertainty
    * UNC = base(1 − base) — with the EXACT identity
    * Brier = REL − RES + UNC when conditioning on distinct forecasts
    * (spec-pinned; binned variants only approximate it). The v8 Brier
    * number says "how wrong"; this says WHY — miscalibrated or
    * uninformative.
    *
    * Scale shape: the corpus reduces to a (forecast, n, Σy) census in
    * ONE map-side-combined aggregate (distinct forecasts are assumed
    * census-scale — scores from a model head are; raw floats may need
    * rounding upstream), the global base rate rides the same census,
    * and the decomposition is one aggregate over census rows. Returns
    * ONE row (n, n_forecasts, base_rate, reliability, resolution,
    * uncertainty, brier). */
  def brierDecomposition(df: DataFrame, probCol: String,
                         labelCol: String): DataFrame = {
    val p = col(probCol).cast(DoubleType)
    val y = when(col(labelCol).cast("long") =!= 0L, 1L).otherwise(0L)
    val cells = df.filter(p.isNotNull && col(labelCol).isNotNull)
      .groupBy(p.as("__p"))
      .agg(count(lit(1)).as("__n"), sum(y).as("__sy"))
    // totals literal-attached off ONE aggregate row (the D1 aggregates-
    // only contract), NOT a global window: a window over lit(1) was
    // re-planned per-row here, silently zeroing the (ybar - base)
    // terms — measured, not theoretical
    val spark = df.sparkSession
    import spark.implicits._
    val pre = cells.persist()
    try {
      val t = pre.agg(sum("__n"), sum("__sy")).head()
      require(!t.isNullAt(0) && t.getLong(0) > 0,
        s"brierDecomposition needs non-null ($probCol, $labelCol) rows")
      val bigN = t.getLong(0)
      val base = t.getLong(1).toDouble / bigN.toDouble
      val nd = lit(bigN.toDouble)
      val ybar = col("__sy").cast(DoubleType) / col("__n")
      val r = pre.agg(
        count(lit(1)).as("n_forecasts"),
        sum(col("__n") * (col("__p") - ybar) * (col("__p") - ybar) / nd)
          .as("reliability"),
        sum(col("__n") * (ybar - lit(base)) * (ybar - lit(base)) / nd)
          .as("resolution")).head()
      val (rel, res) = (r.getDouble(1), r.getDouble(2))
      val unc = base * (1.0 - base)
      Seq((bigN, r.getLong(0), base, rel, res, unc, rel - res + unc))
        .toDF("n", "n_forecasts", "base_rate", "reliability", "resolution",
          "uncertainty", "brier")
    } finally pre.unpersist()
  }

  /** Exact average precision per group (the area under the
    * precision-recall curve in its standard step form):
    * AP = (1/P) Σ_{ranks r with a positive} cumPos(r)/r, items ranked
    * by `scoreCol` DESC with ties broken by `idCol` ASC — the
    * deterministic-tie contract shared with [[ndcgAtK]].
    *
    * Scale shape: one shuffle keyed by the group serves the rank and
    * cumulative-positive windows (groups are assumed numerous-and-
    * moderate, the per-key regular shape every windowed operator here
    * uses); a |groups|-row census finishes the division. cumPos and
    * rank are exact integers, so the only float work is the final sum
    * of bounded rationals. Returns (group, n, n_pos, ap); ap NULL when
    * the group has no positives. */
  def averagePrecision(df: DataFrame, groupCol: String, scoreCol: String,
                       labelCol: String, idCol: String): DataFrame = {
    val byG = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    val ordered = byG.orderBy(col("__s").desc, col("__id"))
    val cum = ordered.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    df.filter(col(groupCol).isNotNull && col(scoreCol).isNotNull &&
        col(labelCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol).as("__g"), col(scoreCol).as("__s"),
        (col(labelCol).cast("long") =!= 0L).cast("long").as("__y"),
        col(idCol).as("__id"))
      .withColumn("__r", row_number().over(ordered))
      .withColumn("__cp", sum("__y").over(cum))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum("__y").as("n_pos"),
        sum(when(col("__y") === 1L,
          col("__cp").cast(DoubleType) / col("__r"))).as("__apsum"))
      .select(col("__g").as(groupCol), col("n"), col("n_pos"),
        when(col("n_pos") > 0L,
          col("__apsum") / col("n_pos")).as("ap"))
  }
}
