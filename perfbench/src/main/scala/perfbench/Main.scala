package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM entry point; `run.py` builds the classpath and calls
  * it. Usage:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --expected DIR --work DIR --cores N
  *                --started-ns T [--commit C] [--source-digest D]
  * }}}
  *
  * Prints two JSON lines on stdout: the run's details (environment stamp,
  * failures by name, every metric the workload names, each pass) and, last,
  * the result with the keys `correct`, `attempted`, `failed`, `metrics`.
  * Untraced, `metrics` holds the end-to-end metrics; traced, the per-layer
  * ones.
  */
object Main {
  val Workloads = Seq("cdc_replicate", "olap_suite", "iterative_ops")

  /** The per-layer metrics every traced run reports, in this order. A
    * metric a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.heap_peak_mb" -> "MB",
    "engine.build_s" -> "s", "engine.build_jobs" -> "count", "engine.plan_s" -> "s",
    "engine.exec_s" -> "s", "engine.exec_jobs" -> "count", "engine.stages" -> "count",
    "engine.tasks" -> "count", "engine.input_bytes" -> "B",
    "engine.shuffle_read_bytes" -> "B", "engine.shuffle_write_bytes" -> "B",
    "engine.spill_bytes" -> "B",
    "operators.jobs_per_query" -> "count", "operators.build_share" -> "ratio",
    "operators.persisted_rdds" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "B", "streaming.state_commit_ms" -> "ms",
    "streaming.emit_ratio" -> "ratio", "streaming.snapshot_s" -> "s",
    "streaming.commit_p50_s" -> "s",
    "connectors.read_jobs" -> "count", "connectors.read_files" -> "count",
    "connectors.compacted_read_files" -> "count", "connectors.sink_files" -> "count",
    "connectors.sink_bytes" -> "B", "connectors.compact_bytes_written" -> "B",
    "connectors.final_read_s" -> "s", "connectors.compact_s" -> "s",
    "connectors.compacted_read_s" -> "s",
    "self.session_s" -> "s", "self.engine_s" -> "s", "self.operators_s" -> "s",
    "self.connectors_s" -> "s", "self.streaming_s" -> "s",
    "trace.overhead_s" -> "s")

  /** The named workload, reading its fixture under `--data` and its
    * expected digests under `--expected`, writing under `--work`. */
  def workload(name: String, a: Map[String, String], seed: Long): Workload = {
    def fixture(sf: String) = new File(a("data"), sf).getAbsolutePath
    def expected(sf: String) = ExpectedDigests.load(new File(a("expected"), s"$sf.tsv"))
    name match {
      case "cdc_replicate" =>
        val rounds = Workload.passes(a("seconds").toDouble, CdcWorkload.RoundSeconds, a("trace") == "1")
        new CdcWorkload(fixture(CdcWorkload.Fixture), new File(a("work")), seed, rounds)
      case "olap_suite" =>
        new QueryWorkload(Suites.olap, fixture(Suites.olapFixture), expected(Suites.olapFixture),
                          "engine", seed, Suites.olapWarmPasses, Suites.olapPassSeconds)
      case "iterative_ops" =>
        new QueryWorkload(Suites.iterative, fixture(Suites.iterativeFixture),
                          expected(Suites.iterativeFixture), "operators", seed,
                          Suites.iterativeWarmPasses, Suites.iterativePassSeconds)
    }
  }

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k")
      k.drop(2) -> v
    }.toMap
  }

  /** The product's session, local with `cores` threads, writing only under `work`. */
  def session(cores: Int, work: File): org.apache.spark.sql.SparkSession = {
    val spark = graft.GraftSession
      .builder("perfbench", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workloadName = a("workload")
    require(Workloads.contains(workloadName),
      s"unknown workload $workloadName; one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $t")
    }
    val cores = a("cores").toInt
    val work = new File(a("work"))

    val sessionStart = System.nanoTime()
    val spark = session(cores, work)
    val sessionEnd = System.nanoTime()
    try {
      val trace = new Trace(spark.sparkContext)
      val workload = Main.workload(workloadName, a, seed)
      val setupStart = System.nanoTime()
      workload.setup(spark, trace)
      val setupWorkS = (System.nanoTime() - setupStart) / 1e9
      val now = java.time.Instant.now()
      val setupS = (now.getEpochSecond * 1000000000L + now.getNano - a("started-ns").toLong) / 1e9
      val o = workload.measure(spark, trace, seconds, traced)

      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("suite_s", o.suiteS, "s"),
        Metric("op_p50_ms", o.opP50S * 1000, "ms"))
      val perLayer = if (!traced) Nil else {
        val spans = trace.allSpans
        val self = trace.selfSeconds(spans)
        // pass 0 is left out of the overhead: it still runs faster as the JIT warms
        val passes = o.passes.drop(1).groupBy(_._1)
          .map { case (t, ps) => t -> Stats.median(ps.map(_._2)) }
        val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
        val tracedPasses = o.passes.count(_._1).toDouble
        val sessionS = (sessionEnd - sessionStart) / 1e9
        val known = (o.layers ++ Seq(
          Metric("session.start_s", sessionS, "s"),
          Metric("session.heap_peak_mb", heapPeakMb, "MB"),
          Metric("trace.overhead_s", passes(true) - passes(false), "s"),
          Metric("self.session_s", sessionS, "s")) ++
          Seq("engine", "operators", "connectors", "streaming").map(l =>
            Metric(s"self.${l}_s", self.getOrElse(l, 0.0) / tracedPasses, "s")))
          .map(m => m.name -> m).toMap
        PerLayer.map { case (n, u) => known.getOrElse(n, Metric(n, 0.0, u)) }
      }
      if (traced) {
        val f = new File(work, s"trace-$workloadName-$seed.jsonl")
        java.nio.file.Files.write(f.toPath, trace.jsonLines.asJava)
      }

      val attempted = math.max(1, o.attempted)
      val failed = o.failures.length
      val conf = spark.conf
      val env = Seq(
        "cores" -> Json.num(cores.toDouble),
        "jvm_processors" -> Json.num(Runtime.getRuntime.availableProcessors.toDouble),
        "master" -> Json.str(spark.sparkContext.master),
        "default_parallelism" -> Json.num(spark.sparkContext.defaultParallelism.toDouble),
        "shuffle_partitions" -> Json.str(conf.get("spark.sql.shuffle.partitions")),
        "driver_heap_mb" -> Json.num((Runtime.getRuntime.maxMemory / 1048576).toDouble),
        "spark_version" -> Json.str(spark.version),
        "scala_version" -> Json.str(scala.util.Properties.versionNumberString),
        "java_version" -> Json.str(System.getProperty("java.version")),
        "seed" -> Json.num(seed.toDouble),
        "seconds" -> Json.num(seconds),
        "commit" -> a.get("commit").map(Json.str).getOrElse("null"),
        "source_digest" -> a.get("source-digest").map(Json.str).getOrElse("null"))
      val details = Json.obj(Seq(
        "workload" -> Json.str(workloadName),
        "traced" -> (if (traced) "true" else "false"),
        "env" -> Json.obj(env),
        "session_start_s" -> Json.num((sessionEnd - sessionStart) / 1e9),
        "gc_s" -> Json.num(ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3),
        "jit_s" -> Json.num(ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3),
        "setup_work_s" -> Json.num(setupWorkS),
        "error_rate" -> Json.num(failed.toDouble / attempted),
        "failures" -> o.failures.distinct.map(Json.str).mkString("[", ",", "]"),
        "workload_metrics" -> Json.metrics(o.named),
        "passes" -> o.passes.map { case (t, s) =>
          Json.obj(Seq("traced" -> t.toString, "seconds" -> Json.num(s))) }.mkString("[", ",", "]")))
      val result = Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(if (traced) perLayer else endToEnd)))
      println(details)
      println(result)
    } finally spark.stop()
  }
}

/** Expected digests of the query workloads' results on one of the
  * benchmark's fixtures, one `name<TAB>digest` line each. */
object ExpectedDigests {
  def load(f: File): Map[String, String] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(n, d) = l.split('\t'); n -> d }.toMap
}
