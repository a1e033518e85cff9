package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed interval around a call into a layer. `layer` is the module
  * the call enters (session, engine, operators, connectors, streaming);
  * `op` numbers the timed operation the span belongs to. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: the jobs submitted while it was the
  * innermost open span on the submitting thread, and their stages and
  * tasks. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

object Trace {
  /** The pseudo-span a streaming query's own jobs are counted under: they
    * run on the query's thread, outside every span the benchmark opens. */
  val StreamingQuerySpan: Int = -1
}

/** The benchmark's tracer. Spans are recorded only while tracing is on and
  * are held in memory until the run ends. Jobs are tied to spans through a
  * local property set on the driver thread: Spark copies local properties
  * into every job a thread submits (and into the broadcast and subquery
  * threads SQL execution starts for it), so the attribution needs no
  * change to the program. Only public Spark APIs are used: a
  * `SparkListener`, a `StreamingQueryListener` and local properties.
  */
final class Trace(sc: SparkContext) {
  private val Key = "perfbench.span"
  /** The local property a streaming query sets on its micro-batch thread. */
  private val StreamingQueryKey = "sql.streaming.queryId"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  @volatile private var on = false

  private val work = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var drained = new java.util.concurrent.CountDownLatch(0)
  @volatile private var drainJobGroup = ""

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group == drainJobGroup) { drained.countDown(); return }
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
        .orElse(props.flatMap(p => Option(p.getProperty(StreamingQueryKey)))
          .map(_ => Trace.StreamingQuerySpan))
        .getOrElse(0)
      work.synchronized {
        work.getOrElseUpdate(span, new Work).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      work.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(s => work(s).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = work(s)
        w.tasks += 1
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
        w.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Turn tracing on or off; off removes both listeners, so untraced work
    * runs exactly as it would without the benchmark's instrumentation. */
  def set(enable: Boolean, spark: org.apache.spark.sql.SparkSession): Unit =
    if (enable != on) {
      on = enable
      if (enable) {
        sc.addSparkListener(jobs)
        spark.streams.addListener(streams)
      } else {
        sc.removeSparkListener(jobs)
        spark.streams.removeListener(streams)
      }
    }

  /** Time `body` as a span of `layer`; without tracing, just run it. */
  def span[T](layer: String, name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.toString).orNull)
        spans += Span(id, parent, op, layer, name, t0, t1)
      }
    }

  /** Block until the listener has seen every event posted so far: a marker
    * job is submitted and the tracer waits for its start event, which the
    * listener bus delivers after all earlier events of the queue. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    drained = new java.util.concurrent.CountDownLatch(1)
    drainJobGroup = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(drainJobGroup, "drain", interruptOnCancel = false)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "listener bus did not drain")
  }

  def allSpans: Seq[Span] = spans.toSeq
  def workOf(spanId: Int): Work = work.synchronized(work.getOrElse(spanId, new Work))
  def streamingProgress: Seq[StreamingQueryProgress] = progress.synchronized(progress.toSeq)

  /** Self time per layer: each span's duration minus what its child spans
    * cover, summed by the span's layer. */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val childCover = of.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    of.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childCover.getOrElse(s.id, 0.0)).sum }
  }

  /** Spans as JSON lines, for the trace file written at the end of a run. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val w = workOf(s.id)
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks}}"""
  }
}
