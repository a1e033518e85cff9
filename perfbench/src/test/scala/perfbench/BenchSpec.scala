package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.connectors.{SchemaReplicator, TableCdcEvent}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.GraftSession
    .builder("perfbench-test", Some("local[2]"), Some(2))
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tempDir(): File = java.nio.file.Files.createTempDirectory("perfbench").toFile

  test("digest does not depend on row order or partitioning") {
    val sp = spark
    import sp.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.5))
    val a = rows.toDF("k", "s", "d")
    val b = scala.util.Random.shuffle(rows).toDF("k", "s", "d").repartition(7)
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.rows(Digest.of(a)) == 500)
  }

  test("digest changes when one value changes, and counts duplicate rows") {
    val sp = spark
    import sp.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.5))
    val base = Digest.of(rows.toDF("k", "s", "d"))
    val edited = rows.updated(250, (251L, "v251", 125.25))
    assert(Digest.of(edited.toDF("k", "s", "d")) != base)
    assert(Digest.of((rows :+ rows.head).toDF("k", "s", "d")) != base)
  }

  private val source = Seq(
    "orders" -> (0L until 300L).map(k => k -> s"c$k|O|$k.5"),
    "customer" -> (0L until 40L).map(k => k -> s"n$k|BUILDING"))

  test("the CDC generator is deterministic for a seed") {
    val a = CdcLog.generate(7, source, batches = 5, batchEvents = 200)
    val b = CdcLog.generate(7, source, batches = 5, batchEvents = 200)
    val c = CdcLog.generate(8, source, batches = 5, batchEvents = 200)
    assert(a == b)
    assert(a.tail != c.tail)
    assert(a.snapshot.length == 340 && a.tail.length == 5)
    val tail = a.tail.flatten
    assert(tail.map(_.op).toSet == Set("c", "u", "d"))
    assert(tail.map(_.table).toSet == Set("orders", "customer"))
    assert(tail.length > tail.distinct.length, "some events are delivered twice")
    assert(tail.map(_.position).sliding(2).exists(p => p(0) > p(1)), "some arrive late")
  }

  test("the replica gate accepts a faithful replica and rejects a corrupted one") {
    implicit val s: SparkSession = spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val log = CdcLog.generate(3, source, batches = 3, batchEvents = 100)
    val expected = CdcWorkload.expectedState(spark, log.events, log.tables)
    val dir = tempDir()
    val out = new File(dir, "replica").getPath
    val in = MemoryStream[TableCdcEvent]
    val q = SchemaReplicator.start(in.toDS(), out, new File(dir, "checkpoint").getPath)
    try {
      (log.snapshot +: log.tail).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    try {
      val faithful = CdcWorkload.read(spark, out, log.tables)
      assert(CdcWorkload.gate("ok", faithful.digests, expected).isEmpty)
      // each table's read scans its own partition of every batch: all files, once
      assert(faithful.files == CdcWorkload.parquetFiles(new File(out))._1)
      assert(SchemaReplicator.committedPosition(out) == log.lastPosition)
      // corrupt the replica: one tail batch of `orders` events is lost
      val lost = new File(out, "batch_2/table=orders")
      assert(lost.isDirectory)
      CdcWorkload.deleteRecursively(lost)
      val failures = CdcWorkload.gate("corrupt", CdcWorkload.read(spark, out, log.tables).digests, expected)
      assert(failures.length == 1 && failures.head.startsWith("replica orders corrupt"))
    } finally CdcWorkload.deleteRecursively(dir)
  }
}
