package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, PerfbenchBus, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

import graft.{SparkEntry, Util}
import graft.oracle.TableOneSql
import graft.tableone.{TableOne, TableOneConfig}

/** The benchmark's JVM: one closed-loop client thread calling the engine
  * through its public functions only — `TableOne.summarize` then consuming
  * the frame it returns, or `SparkEntry.queries(name)` then Bench's hash
  * consume. Writes every figure to `<out>/result.json` (and, traced, the
  * spans to `<out>/spans.json`); `run.py` compares the checked outputs
  * with DuckDB and prints the result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --cores C --out DIR --suite-data DIR --suite-queries FILE
  */
object Main {

  /** One call of a workload's round. `checked` is the consume of the one
    * checked call per run: it also writes the output for the DuckDB compare
    * under the given directory, and returns the output's hash, the oracle
    * SQL (None when the query has none) and the seconds the check added
    * to a plain consume. */
  final case class Call(name: String, family: String, build: () => DataFrame,
                        consume: DataFrame => Long,
                        checked: (DataFrame, String) => (Long, Option[String], Double))

  /** A workload: its round of calls (a fixed amount of work), the input
    * rows one round summarizes, the DuckDB views its oracles read, and the
    * warm-up policy: at least `minWarm` untimed rounds, stopping once a
    * round's time is within [[WarmTolerance]] of the previous one, at most
    * `maxWarm`. */
  final case class Workload(calls: Seq[Call], rowsPerRound: Long, views: Map[String, String],
                            minWarm: Int, maxWarm: Int)

  private val WarmTolerance = 0.05

  /** 1.5x TableOneConfig's 400 k quartileSketchMaxRows: the
    * order-statistics quartile path. */
  private val LargeRows = 600000L

  private val PValueCols = Seq("p_value", "test_value", "test_name")

  private def now: Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  // ---- Table 1 calls ---------------------------------------------------

  /** Hash of the collected, oracle-rounded Table 1 rows. */
  private def consumeTable(df: DataFrame): Long =
    MurmurHash3.seqHash(Util.roundDoubles(df).collect().toSeq).toLong

  /** The flagship call: stratified by arm, every cohort column, with
    * p-values. The checked call writes the output without the p-value
    * columns, which the DuckDB oracle cannot compute. */
  private def tableWorkload(spark: SparkSession, path: String, rows: Long): Workload = {
    val input = spark.read.parquet(path)
    val cfg = TableOneConfig(Some(Cohort.Stratum), Cohort.Analyzed, pValues = true)
    val call = Call("strat_pvalues", "tableone", () => TableOne.summarize(input, cfg), consumeTable,
      (out, dir) => {
        val h = consumeTable(out)
        val t = now
        Util.roundDoubles(out.drop(PValueCols: _*)).coalesce(1).write.parquet(dir)
        // strata in the engine's display order, read off the output's
        // (<stratum>, <stratum>_%) column pairs
        val names = out.columns.toSeq
        val strata = names.filter(n => n != "All_Patients" && names.contains(n + "_%"))
        val sql = TableOneSql.oracle("cohort", cfg.stratify, strata,
          cfg.cols.map(c => c -> Cohort.Continuous.contains(c)), cfg.beautify)
        (h, Some(sql), secs(t, now))
      })
    Workload(Seq(call), rows, Map("cohort" -> s"$path/*.parquet"), 2, 4)
  }

  // ---- registry calls --------------------------------------------------

  /** `graft.Bench`'s consume: hash every output column into one bit_xor,
    * so no projection can be pruned away. */
  private def consumeHash(df: DataFrame): Long = {
    val r = df.select(xxhash64(struct(df.columns.map(col).toSeq: _*)).as("__h"))
      .agg(expr("bit_xor(__h)")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def suiteWorkload(spark: SparkSession, dataDir: String, names: Seq[String], seed: Long): Workload = {
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"suite queries not registered: ${missing.mkString(", ")}")
    val order = new scala.util.Random(seed).shuffle(names)
    // The checked call writes the output (as graft.Verify does) in place
    // of the hash consume, then hashes what it wrote: one execution of the
    // query, not two. The write counts as the call's warm-up; the re-read
    // hash is the check's extra time. The first pass is cold (each query's
    // first execution in the JVM); the second still runs ~20% slower than
    // later ones.
    val calls = order.map { n =>
      val fn = registry(n)
      Call(n, n.takeWhile(_.isLetter), () => fn(spark, dataDir), consumeHash,
        (out, dir) => {
          out.coalesce(1).write.parquet(dir)
          val t = now
          val h = consumeHash(spark.read.parquet(dir))
          (h, oracles.get(n), secs(t, now))
        })
    }
    val tables = new java.io.File(dataDir).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    Workload(calls, 0L, tables.map(t => t.stripSuffix(".parquet") -> s"$dataDir/$t").toMap, 2, 5)
  }

  // ---- one call, timed and optionally traced ----------------------------

  final case class CallRecord(id: Int, name: String, family: String, warm: Boolean, traced: Boolean,
                              start: Long, buildEnd: Long, end: Long, gcMs: Long, jitMs: Long,
                              hash: Option[Long], error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out")).toAbsolutePath.toString

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val epochAtNano = System.currentTimeMillis().toDouble - now / 1e6
    def epochMs(n: Long): Double = epochAtNano + n / 1e6

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      // as graft.Bench: the suite's distinct plans must not evict each
      // other's generated classes between the warm-up and timed rounds
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = now
    val jvmToSession = (epochMs(sessionReady) - jvmStartMs) / 1000

    // ---- inputs: generation counts in setup_s ---------------------------
    val cohortPath = s"$out/input/cohort"
    var generateS = 0.0
    val workload = workloadName match {
      case "tableone_large" =>
        val t = now
        Cohort.write(spark, cohortPath, LargeRows, 8, seed)
        generateS = secs(t, now)
        tableWorkload(spark, cohortPath, LargeRows)
      case "suite_sample" =>
        val names = Files.readAllLines(Paths.get(opt("suite-queries"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
        suiteWorkload(spark, Paths.get(opt("suite-data")).toAbsolutePath.toString, names, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- calls --------------------------------------------------------
    val sc = spark.sparkContext
    val tracer = new Tracer
    val records = ArrayBuffer.empty[CallRecord]
    var nextId = 0
    val checks = ArrayBuffer.empty[Map[String, Any]]
    var checkSecs = 0.0
    val checkedHash = scala.collection.mutable.Map.empty[String, Long]

    def runCall(c: Call, warm: Boolean, traced: Boolean, check: Boolean = false): CallRecord = {
      val id = nextId; nextId += 1
      if (traced) tracer.current = id
      def phase(p: String): Unit = if (traced) sc.setLocalProperty(Tracer.Key, s"$id/$p")
      val gc0 = gcMs; val jit0 = jitMs
      val start = now
      var buildEnd = start
      val (hash, error) = try {
        phase("build")
        val df = c.build()
        buildEnd = now
        phase("consume")
        if (!check) (Some(c.consume(df)), None) else {
          val dir = s"$out/check/${c.name}"
          val (h, sql, extra) = c.checked(df, dir)
          checkedHash(c.name) = h
          checks += Map("name" -> c.name, "dir" -> dir, "oracle_sql" -> sql.orNull)
          checkSecs += extra
          (Some(h), None)
        }
      } catch {
        case e: Throwable => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      val end = now
      if (buildEnd == start) buildEnd = end
      if (traced) { sc.setLocalProperty(Tracer.Key, null); PerfbenchBus.drain(sc) }
      CallRecord(id, c.name, c.family, warm, traced, start, buildEnd, end, gcMs - gc0, jitMs - jit0, hash, error)
    }

    // ---- warm-up; its first round doubles as the output check ---------
    val warmRounds = ArrayBuffer.empty[Double]
    val warmRecords = ArrayBuffer.empty[CallRecord]
    def converged: Boolean = warmRounds.size >= workload.maxWarm ||
      (warmRounds.size >= workload.minWarm && warmRounds.size >= 2 &&
        math.abs(warmRounds.last - warmRounds(warmRounds.size - 2)) <= WarmTolerance * warmRounds(warmRounds.size - 2))
    while (warmRounds.isEmpty || !converged) {
      val first = warmRounds.isEmpty
      val rs = now
      warmRecords ++= workload.calls.map(c => runCall(c, warm = true, traced = false, check = first))
      // the check's extra work is not warm-up
      warmRounds += secs(rs, now) - (if (first) checkSecs else 0.0)
    }

    // ---- timed rounds: at least three, so one slow round cannot move the
    // median (traced: untraced and traced alternate, starting and ending
    // untraced, so a trend still left after warm-up cancels out of the
    // tracing overhead, and at least two traced rounds, so their counts
    // can be compared) -----------------------------------------------------
    val firstTimed = now
    val setupS = (epochMs(firstTimed) - jvmStartMs) / 1000 - checkSecs
    val rounds = ArrayBuffer.empty[(Boolean, Double)]
    def tracedRound = trace && rounds.size % 2 == 1
    def more = rounds.size < (if (trace) 5 else 3) || secs(firstTimed, now) < seconds || (trace && rounds.last._1)
    while (more) {
      val traced = tracedRound
      // drained first, so no event of an untraced call reaches the tracer
      if (traced) { PerfbenchBus.drain(sc); sc.addSparkListener(tracer) }
      val rs = now
      workload.calls.foreach(c => records += runCall(c, warm = false, traced))
      // a traced round's time includes the bus drains: tracing overhead
      rounds += traced -> secs(rs, now)
      if (traced) sc.removeSparkListener(tracer)
    }
    val peakRss = vmHwmMb
    val untraced = records.filterNot(_.traced)
    val callTimes = untraced.map(r => secs(r.start, r.end)).toSeq
    val roundTimes = rounds.collect { case (false, t) => t }.toSeq
    val wallS = median(roundTimes)
    // each query's median call, then their geometric mean: a median over
    // the calls of a mix of queries jumps between queries whose times sit
    // far apart. With one query (tableone_large) it is the median call.
    val callP50 = math.exp(untraced.groupBy(_.name).values
      .map(rs => math.log(median(rs.map(r => secs(r.start, r.end)).toSeq))).sum / workload.calls.size)
    // highest percentile with at least ten calls beyond it
    val tail: Option[(Int, Double)] = {
      val n = callTimes.size
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      if (n < 20 || pct < 50) None
      else Some(pct -> callTimes.sorted.apply(math.ceil(pct / 100.0 * n).toInt - 1))
    }

    val properties: Map[String, Any] = workloadName match {
      case "suite_sample" => Map("queries" -> workload.calls.map(_.name), "data" -> workload.views)
      case _ => Cohort.census(spark, cohortPath)
    }

    // ---- per-layer figures from the traced calls ------------------------
    val tracedCalls = records.filter(_.traced).toSeq
    def perCall(f: CallRecord => Double): Double =
      if (tracedCalls.isEmpty) 0.0 else tracedCalls.map(f).sum / tracedCalls.size
    def jobSpans(r: CallRecord) = tracer.jobsOf(r.id).map(j => (j.start.toDouble, j.end.toDouble))
    def cnt(r: CallRecord) = tracer.countersOf(r.id)
    def driverOnly(r: CallRecord) =
      (epochMs(r.end) - epochMs(r.start) - Tracer.covered(epochMs(r.start), epochMs(r.end), jobSpans(r))) / 1000
    // counts that must repeat exactly: a traced call whose counts differ
    // from its query's first traced call fails. Input rows are not among
    // them: on tableone_large they moved by 2 in 1.8 M between calls on
    // the same input, so they are reported per round with the bytes.
    def countsOf(r: CallRecord): Seq[Long] =
      Seq(tracer.jobsOf(r.id).size.toLong, cnt(r).stages, cnt(r).tasks, cnt(r).actions)
    val firstCounts = tracedCalls.groupBy(_.name).map { case (n, rs) => n -> countsOf(rs.head) }
    def countMismatch(r: CallRecord): Option[String] =
      if (r.traced && countsOf(r) != firstCounts(r.name))
        Some(s"${r.name}: jobs, stages, tasks, actions ${countsOf(r).mkString("/")} " +
          s"differ from its first traced call's ${firstCounts(r.name).mkString("/")}")
      else None

    // every call, warm-up included: an error, a hash other than the checked
    // call's, or counts that did not repeat
    val allCalls = (warmRecords ++ records).toSeq
    def failure(r: CallRecord): Option[String] =
      r.error.map(e => s"${r.name}: $e").orElse(
        if (r.hash != checkedHash.get(r.name))
          Some(s"${r.name}: ${if (r.warm) "warm-up" else "timed"} hash ${r.hash.getOrElse("")} differs from the checked call's")
        else countMismatch(r))
    val failures = allCalls.flatMap(failure)

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val inRows = perCall(cnt(_).inputRows.toDouble)
      val tracedMedian = median(rounds.collect { case (true, t) => t }.toSeq)
      Map(
        "api.build_s" -> perCall(r => secs(r.start, r.buildEnd)),
        "api.consume_s" -> perCall(r => secs(r.buildEnd, r.end)),
        "api.build_jobs" -> perCall(r => tracer.jobsOf(r.id).count(_.phase == "build").toDouble),
        "api.actions" -> perCall(cnt(_).actions.toDouble),
        "catalyst.analysis_s" -> perCall(cnt(_).analysisMs / 1000.0),
        "catalyst.optimization_s" -> perCall(cnt(_).optimizationMs / 1000.0),
        "catalyst.planning_s" -> perCall(cnt(_).planningMs / 1000.0),
        "scheduler.jobs" -> perCall(r => tracer.jobsOf(r.id).size.toDouble),
        "scheduler.stages" -> perCall(cnt(_).stages.toDouble),
        "scheduler.tasks" -> perCall(cnt(_).tasks.toDouble),
        "scheduler.driver_only_s" -> perCall(driverOnly),
        "executor.run_s" -> perCall(cnt(_).runMs / 1000.0),
        "executor.cpu_s" -> perCall(cnt(_).cpuNs / 1e9),
        "executor.gc_s" -> perCall(cnt(_).gcMs / 1000.0),
        "executor.busy_frac" -> perCall(r => cnt(r).runMs / 1000.0 / (secs(r.start, r.end) * cores)),
        "executor.task_skew" -> perCall(cnt(_).taskSkew),
        "scan.input_bytes" -> perCall(cnt(_).inputBytes.toDouble),
        "scan.input_rows" -> inRows,
        "shuffle.write_bytes" -> perCall(cnt(_).shuffleWriteBytes.toDouble),
        "shuffle.read_bytes" -> perCall(cnt(_).shuffleReadBytes.toDouble),
        "shuffle.records_per_input_row" ->
          (if (inRows > 0) perCall(cnt(_).shuffleWriteRecords.toDouble) / inRows else 0.0),
        "memory.spill_bytes" -> perCall(cnt(_).spillBytes.toDouble),
        "jvm.gc_s" -> perCall(_.gcMs / 1000.0),
        "jvm.jit_s" -> perCall(_.jitMs / 1000.0),
        "trace.overhead_frac" -> (tracedMedian / wallS - 1))
    }

    // spans: one per traced call, children for build, consume and each job
    val spans = ArrayBuffer.empty[Map[String, Any]]
    tracedCalls.foreach { r =>
      val (s, b, e) = (epochMs(r.start), epochMs(r.buildEnd), epochMs(r.end))
      val jobs = tracer.jobsOf(r.id)
      require(jobs.forall(_.end >= 0), s"call ${r.id}: a job never ended")
      def phaseJobs(p: String) = jobs.filter(_.phase == p).map(j => (j.start.toDouble, j.end.toDouble))
      spans += Map("span" -> s"call-${r.id}", "parent" -> null, "name" -> r.name, "start_ms" -> s, "end_ms" -> e,
        "self_ms" -> (e - s - Tracer.covered(s, e, Seq((s, b), (b, e)))))
      spans += Map("span" -> s"call-${r.id}/build", "parent" -> s"call-${r.id}", "name" -> "build",
        "start_ms" -> s, "end_ms" -> b, "self_ms" -> (b - s - Tracer.covered(s, b, phaseJobs("build"))))
      spans += Map("span" -> s"call-${r.id}/consume", "parent" -> s"call-${r.id}", "name" -> "consume",
        "start_ms" -> b, "end_ms" -> e, "self_ms" -> (e - b - Tracer.covered(b, e, phaseJobs("consume"))))
      jobs.foreach { j =>
        spans += Map("span" -> s"job-${j.id}", "parent" -> s"call-${r.id}/${j.phase}", "name" -> s"job ${j.id}",
          "start_ms" -> j.start, "end_ms" -> j.end, "self_ms" -> (j.end - j.start).toDouble)
      }
    }

    // counts over the traced calls (all but input rows must repeat exactly)
    val counts: Map[String, Any] = if (!trace) Map.empty else Map(
      "jobs" -> tracedCalls.map(r => tracer.jobsOf(r.id).size).sum,
      "stages" -> tracedCalls.map(cnt(_).stages).sum,
      "tasks" -> tracedCalls.map(cnt(_).tasks).sum,
      "input_rows" -> tracedCalls.map(cnt(_).inputRows).sum,
      "actions" -> tracedCalls.map(cnt(_).actions).sum,
      "calls" -> tracedCalls.size)
    // per traced round: input rows and bytes, whose spread is reported
    val tracedRounds = tracedCalls.grouped(workload.calls.size).map { rs =>
      Map("input_rows" -> rs.map(cnt(_).inputRows).sum,
        "input_bytes" -> rs.map(cnt(_).inputBytes).sum,
        "shuffle_write_bytes" -> rs.map(cnt(_).shuffleWriteBytes).sum,
        "shuffle_read_bytes" -> rs.map(cnt(_).shuffleReadBytes).sum)
    }.toSeq
    val families = if (workloadName != "suite_sample") Map.empty else tracedCalls.groupBy(_.family).map { case (f, rs) =>
      s"suite.${f}_s" -> rs.map(r => secs(r.start, r.end)).sum / math.max(1, rounds.count(_._1))
    }

    val result = Map(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "setup" -> Map("jvm_to_session_s" -> jvmToSession, "generate_s" -> generateS,
        "warmup_rounds_s" -> warmRounds.toSeq,
        "warmup_calls_s" -> warmRecords.map(r => Map("name" -> r.name, "s" -> secs(r.start, r.end))).toSeq,
        "check_s" -> checkSecs),
      "end_to_end" -> Map(
        "setup_s" -> setupS, "wall_s" -> wallS, "call_p50_s" -> callP50,
        "call_tail_s" -> tail.map(_._2), "call_tail_pct" -> tail.map(_._1),
        "calls" -> callTimes.size, "rounds" -> roundTimes.size,
        "rows_per_s" -> (if (workload.rowsPerRound > 0) workload.rowsPerRound / wallS else null),
        "peak_rss_mb" -> peakRss),
      "attempted" -> allCalls.size, "failures" -> failures,
      "calls_by_name" -> allCalls.groupBy(_.name).map { case (n, rs) => n -> rs.size },
      "failed_by_name" -> allCalls.groupBy(_.name).map { case (n, rs) => n -> rs.count(failure(_).isDefined) },
      "checks" -> checks.toSeq, "views" -> workload.views,
      "per_layer" -> perLayer, "families" -> families, "counts" -> counts,
      "traced_rounds" -> tracedRounds,
      "unattributed_jobs" -> tracer.unattributedJobs,
      "properties" -> properties,
      "call_times_s" -> callTimes)
    implicit val formats: org.json4s.Formats = Serialization.formats(NoTypeHints)
    Files.write(Paths.get(s"$out/result.json"), Serialization.write(result).getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(Paths.get(s"$out/spans.json"), Serialization.write(spans.toSeq).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
