package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark client: one JVM, one driver thread, a closed loop over a
  * frozen list of registry queries (`graft.SparkEntry.queries`).
  *
  * A run makes a cold pass (every query's first execution in the process),
  * then warm passes until the measured time reaches `--seconds` (at least
  * [[MinWarmPasses]]); every execution's result fingerprint is checked.
  * Each execution is timed as the module call that builds the DataFrame
  * (`build`) plus the noop write that materializes every row and column
  * (`action`). Query order in every pass is a permutation drawn from
  * `--seed`.
  *
  * With `--trace 1` the listeners of [[TraceRecorder]] are attached for the
  * cold pass and half of the warm passes; the untraced warm passes give
  * the tracing overhead.
  *
  * Modes: `run` (the benchmark; prints one `PERFBENCH_RESULT {json}` line)
  * and `record` (prints `name<TAB>fingerprint` for every query of the
  * workload, for `expected/fingerprints.tsv`). */
object Harness {
  val MinWarmPasses = 3
  val SetupRounds = 3
  val Modules: Seq[String] = Seq("analytics", "sql", "dedup", "similarity",
    "text", "ml", "multimodal", "streaming", "sinks")

  final case class Conf(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, bench: Path,
                        tmp: Path, cpus: Int) {
    def data: String = bench.resolve("data").toString
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String, dflt: String = null): String =
      kv.getOrElse(k, Option(dflt).getOrElse(sys.error(s"missing --$k")))
    val conf = Conf(arg("mode", "run"), arg("workload"), arg("seed", "0").toLong,
      arg("seconds", "10").toDouble, arg("trace", "0") == "1",
      Paths.get(arg("bench")).toAbsolutePath, Paths.get(arg("tmp")).toAbsolutePath,
      arg("cpus", Runtime.getRuntime.availableProcessors.toString).toInt)
    // fail before the session starts: a bad list must not cost a set-up
    val workload = Workloads.load(conf.bench, conf.workload)
    val (spark, setup) = startSession(conf)
    val firstSetupS = (Clock.nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    conf.mode match {
      case "record" => try record(spark, conf, workload) finally spark.stop()
      case "run" =>
        val (metrics, attempted, failed) = try run(spark, conf, workload) finally spark.stop()
        // Set-up is timed SetupRounds times: once from JVM start, then by
        // rebuilding the session after the measured passes, so the cold
        // pass still sees the state a single set-up leaves behind.
        val rounds = firstSetupS +: Seq.fill(SetupRounds - 1) {
          val (again, m) = startSession(conf)
          again.stop()
          m("session.start_s") + m("session.warmup_s")
        }
        emit(metrics ++ setup ++ Map("setup_s" -> Stats.median(rounds),
          "session.first_setup_s" -> firstSetupS), attempted, failed)
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** Session as the program's own mains build it, with every path the
    * session writes to moved under the run's temp root, then a generic
    * warm-up that touches no workload table. */
  def startSession(conf: Conf): (SparkSession, Map[String, Double]) = {
    val t0 = Clock.nowMs
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", conf.tmp.resolve("local").toString)
      .config("spark.sql.warehouse.dir", conf.tmp.resolve("warehouse").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.nowMs
    val r = spark.range(0L, 200000L, 1L, conf.cpus).selectExpr("id % 101 AS k", "id * 2 AS v")
    r.groupBy("k").sum("v").join(r.groupBy("k").count(), "k")
      .write.format("noop").mode("overwrite").save()
    val t2 = Clock.nowMs
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    (spark, Map(
      "session.jvm_s" -> (t0 - jvmStart) / 1000.0,
      "session.start_s" -> (t1 - t0) / 1000.0,
      "session.warmup_s" -> (t2 - t1) / 1000.0))
  }

  /** Prints `name<TAB>fingerprint` for each query after computing it twice
    * in this process; a query whose two fingerprints differ is reported
    * and left out, since no run could check it. */
  def record(spark: SparkSession, conf: Conf, workload: Seq[(String, String)]): Unit =
    for ((name, _) <- workload) {
      def once() = {
        val t0 = Clock.nowMs
        val fp = try Fingerprint.of(graft.SparkEntry.queries(name)(spark, conf.data))
                 catch { case e: Exception => s"error: ${e.getMessage}" }
        (fp, (Clock.nowMs - t0) / 1000.0)
      }
      val (a, first) = once()
      val (b, second) = once()
      System.err.println(f"[record] $name%-40s $first%8.3f s $second%8.3f s")
      if (a == b && !a.startsWith("error")) println(s"$name\t$a")
      else System.err.println(s"[record] $name not recorded: $a / $b")
      Console.out.flush()
    }

  /** One timed execution. The result's fingerprint is collected by the
    * timed write itself (an observed aggregate) and compared with
    * `expected` after the clock has stopped; a failure or a mismatch makes
    * the span's `ok` false. */
  def timed(spark: SparkSession, conf: Conf, name: String, module: String,
            expected: Option[String]): QuerySpan = {
    val t0 = Clock.nowMs
    var built = Double.NaN
    var t1 = Double.NaN
    val ok = try {
      val df: DataFrame = graft.SparkEntry.queries(name)(spark, conf.data)
      built = Clock.nowMs
      val (observed, fingerprint) = Fingerprint.observed(df)
      observed.write.format("noop").mode("overwrite").save()
      t1 = Clock.nowMs
      val got = fingerprint()
      if (!expected.contains(got))
        System.err.println(s"[perfbench] $name fingerprint $got, expected ${expected.getOrElse("none")}")
      expected.contains(got)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        false
    }
    if (t1.isNaN) t1 = Clock.nowMs
    QuerySpan(name, module, t0, if (built.isNaN) t1 else built, t1, ok)
  }

  final case class Pass(index: Int, traced: Boolean, queries: Seq[QuerySpan],
                        start: Double, end: Double, counters: Counters) {
    def wallS: Double = (end - start) / 1000.0
  }

  /** The measured passes; returns (metrics, attempted, failed). */
  def run(spark: SparkSession, conf: Conf,
          workload: Seq[(String, String)]): (Map[String, Double], Int, Int) = {
    val expected = Workloads.fingerprints(conf.bench)
    val recorder = if (conf.trace) Some(new TraceRecorder(conf.cpus)) else None
    var attached = false
    def traceOn(on: Boolean): Unit = recorder.foreach { r =>
      if (on && !attached) r.attach(spark)
      if (!on && attached) r.detach(spark)
      attached = on
    }
    def order(pass: Int): Seq[(String, String)] =
      new scala.util.Random(conf.seed * 1000003L + pass).shuffle(workload)
    def pass(index: Int, traced: Boolean): Pass = {
      traceOn(traced)
      val c0 = Counters.read()
      val t0 = Clock.nowMs
      val spans = order(index).map { case (n, m) => timed(spark, conf, n, m, expected.get(n)) }
      val t1 = Clock.nowMs
      val p = Pass(index, traced, spans, t0, t1, Counters.read() - c0)
      if (traced) recorder.foreach(_.quiesce())
      p
    }

    val cold = pass(0, traced = true)
    val warm = mutable.ArrayBuffer.empty[Pass]
    def measuredS = cold.wallS + warm.map(_.wallS).sum
    val minWarm = if (conf.trace) MinWarmPasses + 1 else MinWarmPasses
    while (warm.size < minWarm ||
           measuredS + Stats.median(warm.map(_.wallS).toSeq) <= conf.seconds) {
      // traced runs interleave traced and untraced warm passes in the order
      // T U U T, so a trend across passes (JIT warm-up) biases neither side
      warm += pass(warm.size + 1, traced = conf.trace && warm.size % 4 % 3 == 0)
    }
    traceOn(false)
    recorder.foreach(_.writeSpans(
      conf.bench.resolve(".traces").resolve(s"${conf.workload}.jsonl"), cold +: warm.toSeq))

    val executions = (cold +: warm.toSeq).flatMap(_.queries)
    val failedRuns = executions.count(!_.ok)
    val failedQueries = executions.filter(!_.ok).map(_.name).toSet.size
    val plain = warm.filter(!_.traced).toSeq
    val warmOk = plain.flatMap(_.queries).filter(_.ok)
    val warmQ = warmOk.map(_.wallS)
    val p50 = Stats.percentile(warmQ, 50)
    val p90 = Stats.percentile(warmQ, 90)
    // each query weighs the same, however long it runs
    val perQuery = warmOk.groupBy(_.name).values.map(qs => Stats.median(qs.map(_.wallS))).toSeq
    val geomean = math.exp(perQuery.map(math.log).sum / perQuery.size)
    val metrics = mutable.LinkedHashMap[String, Double](
      "cold_wall_s" -> cold.wallS,
      "warm_wall_s" -> Stats.median(plain.map(_.wallS)),
      "warm_query_geomean_s" -> geomean,
      "warm_query_p50_s" -> p50.value,
      "warm_query_p90_s" -> p90.value,
      "driver_retained_mb" -> retainedMb(),
      "error_frac" -> failedQueries.toDouble / workload.size,
      "warm_query.samples" -> p50.samples.toDouble,
      "warm.passes" -> plain.size.toDouble)
    println(f"[perfbench] ${conf.workload}: ${workload.size} queries, cold ${cold.wallS}%.3f s, " +
      f"${warm.size} warm passes, warm p50 ${p50.value}%.3f s and p90 ${p90.value}%.3f s " +
      s"over ${p50.samples} executions, $failedRuns failed or mismatched")

    recorder.foreach { r =>
      val traced = warm.filter(_.traced).toSeq
      def med(f: Pass => Double) = Stats.median(traced.map(f))
      val layer = TraceRecorder.layerNames.map(k => k -> med(p => r.summarize(p.queries)(k)))
      metrics ++= layer
      metrics ++= Seq(
        "codegen.compiles" -> med(_.counters.compiles.toDouble),
        "jvm.jit_s" -> med(_.counters.jitMs / 1000.0),
        "jvm.gc_s" -> med(_.counters.gcMs / 1000.0))
      val coldLayer = r.summarize(cold.queries)
      metrics ++= Seq("driver.plan_s", "driver.gap_s", "driver.gap_frac",
        "sources.meta_s", "build.s").map(k => s"cold.$k" -> coldLayer(k))
      metrics ++= Seq(
        "cold.codegen.compiles" -> cold.counters.compiles.toDouble,
        "cold.jvm.jit_s" -> cold.counters.jitMs / 1000.0,
        "cold.jvm.gc_s" -> cold.counters.gcMs / 1000.0)
      metrics ++= Seq(
        "materialize.unreleased_bytes" ->
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
        "trace.cold_wall_s" -> cold.wallS,
        "trace.warm_wall_traced_s" -> med(_.wallS),
        "trace.overhead_frac" -> (med(_.wallS) / Stats.median(plain.map(_.wallS)) - 1.0))
      for (m <- Modules) {
        def moduleS(p: Pass) = p.queries.filter(_.module == m).map(_.wallS).sum
        metrics(s"$m.cold_s") = moduleS(cold)
        metrics(s"$m.warm_s") = Stats.median(plain.map(moduleS))
      }
    }
    (metrics.toMap, executions.size, failedRuns)
  }

  /** Heap in use after full collections; blocks of RDDs the driver no
    * longer references are released by the context cleaner in between. */
  def retainedMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def emit(metrics: Map[String, Double], attempted: Int, failed: Int): Unit = {
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": $num"""
    }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    Console.out.flush()
  }
}

/** The frozen workload lists and recorded fingerprints, read from the
  * benchmark's own files so that queries added to the registry later
  * change nothing here. */
object Workloads {
  /** `(name, module)` pairs of `workloads/<workload>.txt`; fails loudly
    * when a listed name is not in the registry. */
  def load(bench: Path, workload: String): Seq[(String, String)] = {
    val file = bench.resolve("workloads").resolve(s"$workload.txt")
    require(Files.isRegularFile(file), s"unknown workload '$workload' (no $file)")
    val entries = lines(file).map(_.split("\\s+")).map {
      case Array(name, module) if Harness.Modules.contains(module) => name -> module
      case bad => sys.error(s"$file: bad line '${bad.mkString(" ")}'")
    }
    val missing = entries.map(_._1).filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"workload $workload lists names missing from SparkEntry.queries: ${missing.mkString(", ")}")
    require(entries.nonEmpty && entries.map(_._1).distinct.size == entries.size,
      s"workload $workload must list each query once")
    entries
  }

  def fingerprints(bench: Path): Map[String, String] =
    lines(bench.resolve("expected").resolve("fingerprints.tsv"))
      .map(_.split("\t")).collect { case Array(n, f) => n -> f }.toMap

  private def lines(file: Path): Seq[String] =
    Files.readAllLines(file).asScala.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
}
