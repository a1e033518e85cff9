package perfbench

import org.apache.spark.sql.SparkSession

/** Declared queries run one after another, each timed from the call that
  * builds its DataFrame to the collected digest of its full result.
  *
  * An operation is split into three spans: `build` is the call
  * `SparkEntry.queries(name)(spark, dataDir)` (analysis, schema-inference
  * jobs and any jobs a driver-side operator loop launches — the operators
  * layer for the iterative queries), `plan` forces the executed plan of the
  * digest query, and `exec` collects it. The untraced run does the same
  * three steps, so both runs do the same work.
  *
  * A query fails when it throws or when its digest differs from the one
  * recorded for the fixture; a failed query is counted and named, and its
  * time is left out of every timing.
  */
final class QueryWorkload(names: Seq[String], dataDir: String,
                          expected: Map[String, String], buildLayer: String,
                          seed: Long, warmPasses: Int,
                          protected val nominalPassSeconds: Double)
    extends Workload {
  require(names.forall(expected.contains),
    s"no expected digest for ${names.filterNot(expected.contains).mkString(", ")}")
  import QueryWorkload.Run
  private val queries = graft.SparkEntry.queries
  private var op = 0

  private def runOne(spark: SparkSession, trace: Trace, name: String): Run = {
    op += 1
    val t0 = System.nanoTime()
    val failure =
      try trace.span("engine", s"query $name", op) {
        val df = trace.span(buildLayer, "build", op)(queries(name)(spark, dataDir))
        val digest = Digest.frame(df)
        trace.span("engine", "plan", op)(digest.queryExecution.executedPlan)
        val got = trace.span("engine", "exec", op)(Digest.render(digest.collect().head))
        if (got == expected(name)) None
        else Some(s"$name: digest $got, expected ${expected(name)}")
      } catch {
        case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    persistedPeak = math.max(persistedPeak, spark.sparkContext.getPersistentRDDs.size)
    Run(name, (System.nanoTime() - t0) / 1e9, failure)
  }
  private var persistedPeak = 0

  private def pass(spark: SparkSession, trace: Trace, i: Int): Seq[Run] =
    new scala.util.Random(seed * 1000003L + i).shuffle(names)
      .map(runOne(spark, trace, _))

  def setup(spark: SparkSession, trace: Trace): Unit = {
    // untimed: the first runs of a query pay class loading, JIT and codegen
    for (i <- 1 to warmPasses)
      pass(spark, trace, -i).flatMap(_.failure).foreach(f => System.err.println(s"[warm-up] $f"))
    persistedPeak = 0
  }

  def measure(spark: SparkSession, trace: Trace, seconds: Double, traced: Boolean): Outcome = {
    val firstOp = op + 1
    val passes = loop(spark, trace, seconds, traced)(pass(spark, trace, _))
    val timed = passes.filterNot(_._1).flatMap(_._2)
    val ok = timed.filter(_.failure.isEmpty)
    val byName = ok.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.seconds)) }
    val all = passes.flatMap(_._2)
    val failures = all.flatMap(_.failure).distinct
    Outcome(
      attempted = all.length,
      failures = all.flatMap(_.failure),
      // the median over queries of each query's median: a median pooled
      // over a few queries' samples falls between two queries and swings
      // with their extremes
      opP50S = if (byName.isEmpty) Double.NaN else Stats.median(byName.values.toSeq),
      suiteS = byName.values.sum,
      passes = passes.map { case (t, rs) => t -> rs.map(_.seconds).sum },
      named = Seq(Metric("suite_s", byName.values.sum, "s"),
                  Metric("queries", names.length.toDouble, "count"),
                  Metric("distinct_failures", failures.length.toDouble, "count")) ++
        byName.toSeq.sorted.map { case (n, v) => Metric(s"query_s.$n", v, "s") },
      layers = if (traced) layers(trace, passes.count(_._1), firstOp) else Nil)
  }

  private def layers(trace: Trace, traced: Int, firstOp: Int): Seq[Metric] = {
    val spans = trace.allSpans.filter(_.op >= firstOp)
    def named(n: String) = spans.filter(_.name == n)
    def sec(ss: Seq[Span]) = ss.map(_.seconds).sum / traced
    def work(ss: Seq[Span]) = ss.map(s => trace.workOf(s.id))
    val build = named("build")
    val queriesSpans = spans.filter(_.name.startsWith("query "))
    val allWork = work(spans)
    def per(f: Work => Double) = allWork.map(f).sum / traced
    val jobs = per(_.jobs)
    Seq(
      Metric("engine.build_s", sec(build), "s"),
      Metric("engine.build_jobs", work(build).map(_.jobs).sum.toDouble / traced, "count"),
      Metric("engine.plan_s", sec(named("plan")), "s"),
      Metric("engine.exec_s", sec(named("exec")), "s"),
      Metric("engine.exec_jobs", work(named("exec")).map(_.jobs).sum.toDouble / traced, "count"),
      Metric("engine.stages", per(_.stages), "count"),
      Metric("engine.tasks", per(_.tasks), "count"),
      Metric("engine.input_bytes", per(_.inputBytes.toDouble), "B"),
      Metric("engine.shuffle_read_bytes", per(_.shuffleReadBytes.toDouble), "B"),
      Metric("engine.shuffle_write_bytes", per(_.shuffleWriteBytes.toDouble), "B"),
      Metric("engine.spill_bytes", per(_.spillBytes.toDouble), "B"),
      Metric("operators.jobs_per_query", jobs / names.length, "count"),
      Metric("operators.build_share", sec(build) / sec(queriesSpans), "ratio"),
      Metric("operators.persisted_rdds", persistedPeak.toDouble, "count"))
  }
}

object QueryWorkload {
  private final case class Run(name: String, seconds: Double, failure: Option[String])
}
