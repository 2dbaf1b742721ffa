package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic clinical cohort for the Table 1 workloads, built only
  * from Spark column expressions so generation runs inside the benchmark's
  * one JVM.
  *
  * Every random draw is a hash of (row id, seed, salt), not `rand()`, so a
  * row's values do not depend on how the id range is partitioned: the same
  * seed gives the same table at any core or file count.
  *
  * Columns: `arm` is the stratum (3 values plus ~2% nulls, which the engine
  * reports as the MISSING stratum). `sex`, `smoker` and `site` are
  * categorical. The continuous columns span the cardinalities the quartile
  * passes are sensitive to: `age` (73 values) and `sbp` (~150) are low,
  * `bmi` (~500) middling, `ldl` (4-decimal) and `crp` (unrounded) high.
  * Every column except `site` has nulls. `sbp` and `ldl` shift with `arm`,
  * so the stratified tests see a real effect.
  */
object Cohort {
  val Stratum = "arm"
  val Categorical: Seq[String] = Seq("sex", "smoker", "site")
  val Continuous: Seq[String] = Seq("age", "sbp", "bmi", "ldl", "crp")
  /** Analysis order of every summarize call: categorical, then continuous. */
  val Analyzed: Seq[String] = Categorical ++ Continuous

  private val Bits53 = (1L << 53) - 1

  /** Uniform double in [0, 1) drawn from (id, seed, salt). */
  private def u(seed: Long, salt: Int): Column =
    (xxhash64(col("id"), lit(seed), lit(salt)).bitwiseAND(lit(Bits53))).cast("double") /
      lit((1L << 53).toDouble)

  /** Standard normal via Box-Muller over two independent uniforms. */
  private def normal(seed: Long, salt: Int): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - u(seed, salt))) * cos(lit(2 * math.Pi) * u(seed, salt + 1))

  /** `c`, or null for a `frac` share of rows. */
  private def withNulls(seed: Long, salt: Int, frac: Double)(c: Column): Column =
    when(u(seed, salt) >= frac, c)

  /** Writes the cohort as `files` parquet files under `path`. */
  def write(spark: SparkSession, path: String, rows: Long, files: Int, seed: Long): Unit = {
    val armU = u(seed, 1)
    val arm = when(armU < 0.34, "placebo").when(armU < 0.67, "low_dose").otherwise("high_dose")
    val effect = when(arm === "placebo", 0.0).when(arm === "low_dose", -2.0).otherwise(-5.0)
    val smokerU = u(seed, 6)
    spark.range(0, rows, 1, files).select(
      withNulls(seed, 2, 0.02)(arm).as("arm"),
      withNulls(seed, 3, 0.01)(when(u(seed, 4) < 0.52, "female").otherwise("male")).as("sex"),
      withNulls(seed, 5, 0.03)(
        when(smokerU < 0.55, "never").when(smokerU < 0.82, "former").otherwise("current")).as("smoker"),
      format_string("site_%02d", floor(pow(u(seed, 7), lit(2.0)) * 40).cast("int")).as("site"),
      withNulls(seed, 8, 0.01)((lit(18) + floor(u(seed, 9) * 73)).cast("int")).as("age"),
      withNulls(seed, 10, 0.04)(round(lit(128.0) + effect + normal(seed, 11) * 17).cast("int")).as("sbp"),
      withNulls(seed, 13, 0.02)(round(lit(27.0) + normal(seed, 14) * 5, 1)).as("bmi"),
      withNulls(seed, 16, 0.05)(round(lit(3.2) + effect * 0.05 + normal(seed, 17) * 0.9, 4)).as("ldl"),
      withNulls(seed, 19, 0.08)(exp(lit(0.5) + normal(seed, 20) * 1.1)).as("crp"))
      .write.mode("overwrite").parquet(path)
  }

  /** The generated input's properties, recorded next to the results:
    * rows, files, strata, distinct values per continuous column and the
    * null fraction of every column. */
  def census(spark: SparkSession, path: String): Map[String, Any] = {
    val df = spark.read.parquet(path)
    val cols = Stratum +: Analyzed
    val row = df.agg(count(lit(1)).as("rows"),
      (countDistinct(col(Stratum)) + max(when(col(Stratum).isNull, 1).otherwise(0))).as("strata") +:
        (Continuous.map(c => countDistinct(col(c)).as(s"distinct_$c")) ++
          cols.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(s"nulls_$c"))): _*).head()
    val rows = row.getAs[Long]("rows")
    val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    Map(
      "rows" -> rows,
      "files" -> files,
      "strata" -> row.getAs[Number]("strata").longValue,
      "distinct" -> Continuous.map(c => c -> row.getAs[Long](s"distinct_$c")).toMap,
      "null_frac" -> cols.map(c => c -> row.getAs[Long](s"nulls_$c").toDouble / rows).toMap)
  }
}
