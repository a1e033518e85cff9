package perfbench

import java.io.File
import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.connectors.{CdcCollapse, SchemaReplicator, TableCdcEvent}

/** The paper's workload: a MySQL binlog replicated into per-table
  * ReplacingMergeTree-style replicas through `SchemaReplicator`.
  *
  * One replication query runs for the whole process. The set-up starts it
  * and commits the snapshot micro-batch. Then each pass is one round
  * against the growing replica: `RoundBatches` tail batches (each appended
  * to the `MemoryStream` and timed until its micro-batch has committed),
  * the `FINAL` read of every table, `compact`, and the same read again.
  * Every round therefore reads one compacted batch plus the round's own
  * batches, so rounds are repeats of one another on fresh log slices. An
  * untimed round of `WarmBatches` tail batches warms up first.
  *
  * The replica gate runs after each round: every table's
  * `materializedState` must equal `CdcCollapse.effectiveState` of the
  * events delivered so far for that table, before and after compaction, and
  * `committedPosition` must equal the last position delivered.
  */
final class CdcWorkload(dataDir: String, workDir: File, seed: Long, rounds: Int)
    extends Workload {
  import CdcWorkload._
  protected val nominalPassSeconds: Double = RoundSeconds

  private val out = new File(workDir, "cdc/replica").getPath
  private val checkpoint = new File(workDir, "cdc/checkpoint").getPath
  private var log: CdcLog = _
  private var input: MemoryStream[TableCdcEvent] = _
  private var query: StreamingQuery = _
  private var delivered = 0 // tail batches handed to the stream so far
  private var snapshotS = Double.NaN
  private var op = 0

  private def timed[T](trace: Trace, layer: String, name: String)(body: => T): (Double, T) = {
    op += 1
    val t0 = System.nanoTime()
    val r = trace.span(layer, name, op)(body)
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def commit(trace: Trace, name: String, batch: Seq[TableCdcEvent]): Double =
    timed(trace, "streaming", name) { input.addData(batch); query.processAllAvailable() }._1

  def setup(spark: SparkSession, trace: Trace): Unit = {
    implicit val s: SparkSession = spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    log = CdcLog.generate(seed, sourceRows(spark, dataDir),
                          WarmBatches + rounds * RoundBatches, BatchEvents)
    input = MemoryStream[TableCdcEvent]
    query = SchemaReplicator.start(input.toDS(), out, checkpoint)
    snapshotS = commit(trace, "snapshot", log.snapshot)
    // untimed: the first round pays class loading, JIT and code generation
    round(spark, trace, WarmBatches).failures.foreach(f => System.err.println(s"[warm-up] $f"))
  }

  private def round(spark: SparkSession, trace: Trace, batchCount: Int): Round = {
    implicit val s: SparkSession = spark
    val first = delivered
    val batches = log.tail.slice(first, first + batchCount)
    delivered = first + batches.length
    val attempted = batches.length + 3
    try {
      val commits = batches.map(commit(trace, "tail batch", _))
      val (sinkFiles, sinkBytes) = parquetFiles(new File(out))
      val (finalReadS, before) = timed(trace, "connectors", "final read")(read(spark, out, log.tables))
      val position = SchemaReplicator.committedPosition(out)
      val (compactS, _) = timed(trace, "connectors", "compact")(SchemaReplicator.compact(out))
      val (compactedReadS, after) =
        timed(trace, "connectors", "compacted read")(read(spark, out, log.tables))
      val events = log.through(delivered)
      val expected = expectedState(spark, events, log.tables)
      val last = events.iterator.map(_.position).max
      val failures = gate("before compact", before.digests, expected) ++
        (if (position == last) Nil
         else Seq(s"committedPosition $position, delivered log ends at $last")) ++
        gate("after compact", after.digests, expected)
      Round(commits, batches.map(_.length).sum, finalReadS, compactS, compactedReadS,
            attempted, failures, sinkFiles, sinkBytes, before.digests.values.map(Digest.rows).sum,
            before.files, after.files)
    } catch {
      case e: Exception =>
        // a round that throws counts every one of its operations as failed
        Round(Nil, 0, 0, 0, 0, attempted,
              Seq.fill(attempted)(s"round at tail batch $first: ${e.getClass.getSimpleName}: ${e.getMessage}"),
              0, 0, 0, 0, 0)
    }
  }

  def measure(spark: SparkSession, trace: Trace, seconds: Double, traced: Boolean): Outcome = {
    val firstOp = op + 1
    val all = try loop(spark, trace, seconds, traced)(_ => round(spark, trace, RoundBatches))
              finally query.stop()
    val timed = all.filterNot(_._1).map(_._2)
    val clean = timed.filter(_.failures.isEmpty)
    val commits = clean.flatMap(_.commits)
    def med(f: Round => Double) = if (clean.isEmpty) Double.NaN else Stats.median(clean.map(f))
    val tailPct = Stats.tail(commits)
    val r0 = all.map(_._2).find(_.failures.isEmpty).getOrElse(all.head._2)
    val named = Seq(
      Metric("snapshot_s", snapshotS, "s"),
      Metric("tail_events_per_s", clean.map(_.tailEvents).sum / commits.sum, "1/s"),
      Metric("commit_p50_s", if (commits.isEmpty) Double.NaN else Stats.median(commits), "s"),
      Metric("commit_tail_s", tailPct.map(_._2).getOrElse(Double.NaN), "s"),
      Metric("commit_tail_percentile", tailPct.map(_._1.toDouble).getOrElse(Double.NaN), "pct"),
      Metric("commit_samples", commits.length.toDouble, "count"),
      Metric("final_read_s", med(_.finalReadS), "s"),
      Metric("compact_s", med(_.compactS), "s"),
      Metric("compacted_read_s", med(_.compactedReadS), "s"),
      Metric("replica_bytes_per_row", r0.sinkBytes.toDouble / r0.liveRows, "B"),
      Metric("snapshot_events", log.snapshot.length.toDouble, "count"),
      Metric("tail_events_per_round", (RoundBatches * BatchEvents).toDouble, "count"),
      Metric("rounds", clean.length.toDouble, "count"))
    Outcome(
      attempted = all.map(_._2.attempted).sum,
      failures = all.flatMap(_._2.failures),
      opP50S = if (commits.isEmpty) Double.NaN else Stats.median(commits),
      suiteS = med(_.total),
      passes = all.map { case (t, r) => t -> r.total },
      named = named,
      layers = if (traced) layers(trace, all.filter(_._1).map(_._2), firstOp) else Nil)
  }

  private def layers(trace: Trace, traced: Seq[Round], firstOp: Int): Seq[Metric] = {
    val spans = trace.allSpans.filter(_.op >= firstOp)
    def named(n: String) = spans.filter(_.name == n)
    val n = traced.length.toDouble
    val progress = trace.streamingProgress.filter(_.numInputRows > 0)
    def dur(key: String) = {
      val xs = progress.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val state = progress.flatMap(_.stateOperators.headOption)
    val inputRows = progress.map(_.numInputRows).sum.toDouble
    val written = trace.workOf(Trace.StreamingQuerySpan).outputRecords.toDouble
    val commits = traced.flatMap(_.commits)
    def avg(f: Round => Double) = traced.map(f).sum / n
    Seq(
      Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
      Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      Metric("streaming.trigger_ms", dur("triggerExecution"), "ms"),
      Metric("streaming.state_rows", if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble, "count"),
      Metric("streaming.state_memory_bytes", if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max.toDouble, "B"),
      Metric("streaming.state_commit_ms", if (state.isEmpty) 0.0 else Stats.median(state.map(_.commitTimeMs.toDouble)), "ms"),
      Metric("streaming.emit_ratio", if (inputRows == 0) 0.0 else written / inputRows, "ratio"),
      Metric("streaming.snapshot_s", snapshotS, "s"),
      Metric("streaming.commit_p50_s", if (commits.isEmpty) 0.0 else Stats.median(commits), "s"),
      Metric("connectors.read_jobs", named("final read").map(s => trace.workOf(s.id).jobs).sum / n, "count"),
      Metric("connectors.read_files", avg(_.readFiles.toDouble), "count"),
      Metric("connectors.compacted_read_files", avg(_.compactedReadFiles.toDouble), "count"),
      Metric("connectors.sink_files", avg(_.sinkFiles), "count"),
      Metric("connectors.sink_bytes", avg(_.sinkBytes.toDouble), "B"),
      Metric("connectors.compact_bytes_written",
        named("compact").map(s => trace.workOf(s.id).outputBytes).sum / n, "B"),
      Metric("connectors.final_read_s", avg(_.finalReadS), "s"),
      Metric("connectors.compact_s", avg(_.compactS), "s"),
      Metric("connectors.compacted_read_s", avg(_.compactedReadS), "s"))
  }
}

object CdcWorkload {
  /** The replicated tables are the sf0.01 `orders` and `customer`. */
  val Fixture = "sf0.01"
  /** Tail batches per round and events per batch. */
  val RoundBatches = 4
  val BatchEvents = 1000
  /** Tail batches of the untimed warm-up round. */
  val WarmBatches = 1
  /** The share of `--seconds` one round counts for (see [[Workload.loop]]). */
  val RoundSeconds = 4.0

  private final case class Round(
      commits: Seq[Double], tailEvents: Int, finalReadS: Double, compactS: Double, compactedReadS: Double,
      attempted: Int, failures: Seq[String], sinkFiles: Int, sinkBytes: Long, liveRows: Long,
      readFiles: Long, compactedReadFiles: Long) {
    def total: Double = commits.sum + finalReadS + compactS + compactedReadS
  }

  /** Source rows of the replicated tables, as (primary key, payload). */
  def sourceRows(spark: SparkSession, dataDir: String): Seq[(String, IndexedSeq[(Long, String)])] =
    Seq("orders" -> "o_orderkey", "customer" -> "c_custkey").map { case (t, key) =>
      val df = graft.engine.Tables.table(spark, dataDir, t)
      val rows = df.select(F.col(key),
          F.concat_ws("|", df.columns.toIndexedSeq.filter(_ != key).map(c => F.col(c).cast("string")): _*))
        .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toIndexedSeq
      t -> rows
    }

  /** Digest of `CdcCollapse.effectiveState` of each table's events. */
  def expectedState(spark: SparkSession, events: Seq[TableCdcEvent],
                    tables: Seq[String]): Map[String, String] = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val ds = spark.createDataset(events)
    tables.map { t =>
      t -> Digest.of(CdcCollapse.effectiveState(ds.filter(_.table == t).map(_.untagged)).toDF())
    }.toMap
  }

  /** What one read of the replica saw: each table's digest, and the files
    * its scans read (after partition pruning). */
  final case class Read(digests: Map[String, String], files: Long)

  /** Read every table's replica through `materializedState`. */
  def read(spark: SparkSession, outDir: String, tables: Seq[String]): Read = {
    implicit val s: SparkSession = spark
    val perTable = tables.map { t =>
      val digest = Digest.frame(SchemaReplicator.materializedState(outDir, t).toDF())
      (t, Digest.render(digest.collect().head), scannedFiles(digest.queryExecution.executedPlan))
    }
    Read(perTable.map(r => r._1 -> r._2).toMap, perTable.map(_._3).sum)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Files read by the file scans of an executed plan (their `numFiles`
    * metric), through adaptive query stages and subqueries. */
  def scannedFiles(plan: SparkPlan): Long =
    Plans.collectWithSubqueries(plan) {
      case scan: FileSourceScanLike => scan.metrics.get("numFiles").fold(0L)(_.value)
    }.sum

  /** The replica gate: each table's replica digest against the log's. */
  def gate(when: String, got: Map[String, String], expected: Map[String, String]): Seq[String] =
    expected.toSeq.sortBy(_._1).collect {
      case (t, want) if !got.get(t).contains(want) =>
        s"replica $t $when: digest ${got.getOrElse(t, "missing")}, log replays to $want"
    }

  /** Number and total size of the parquet files under `dir`. */
  def parquetFiles(dir: File): (Int, Long) = {
    val files = walk(dir).filter(_.getName.endsWith(".parquet"))
    (files.length, files.map(_.length).sum)
  }
  private def walk(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
