package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.connectors.AtomicDir

/** Table-maintenance operations for partitioned fact stores — the jobs a
  * 100 TB deployment runs nightly: targeted backfill and small-file
  * compaction. Both are layout transforms with correctness contracts
  * (untouched data provably untouched; bytes preserved), not queries.
  */
object Maintenance {

  /** Replace ONLY the partitions present in `df` inside a hive-partitioned
    * table — the backfill primitive. A late-arriving correction for
    * `day=2026-08-10` must rewrite that directory and NOTHING else;
    * `SaveMode.Overwrite` with the default STATIC overwrite mode would
    * truncate the whole table first (the classic destroyed-table
    * incident). Uses Spark's dynamic partition-overwrite mode — each
    * partition in the incoming frame is swapped whole, all other
    * directories are untouched (proven in MaintenanceSpec by checksumming
    * the untouched partitions' files before/after). */
  def backfillPartitions(df: DataFrame, path: String, partCol: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Compact a parquet directory's small files toward `targetBytes` per
    * file: size the output file count from the CURRENT bytes on disk
    * (compression-representative — row-count heuristics misjudge wide or
    * highly-compressed tables), rewrite, swap via rename. Returns
    * (filesBefore, filesAfter). Content equality is the caller-visible
    * contract (row-count audited before the swap; checksum pinned in the
    * spec).
    *
    * Hive-partitioned layouts are PRESERVED: key=value subdirectories
    * (possibly nested, e.g. `cv=3/cid=7` from StreamingIvf's per-batch
    * appends) are detected and the rewrite re-partitions by those columns —
    * a plain flat rewrite would silently demote the partition keys to data
    * columns and destroy the directory pruning that topKAcrossVersions and
    * backfillPartitions depend on. For partitioned input the rewrite
    * shuffles on the partition keys (one output file per live partition —
    * compaction's whole point for the many-small-batch-files case);
    * `targetBytes` sizes the flat-layout file count only.
    *
    * Crash window (documented, NOT atomic): the swap is two renames —
    * retire the live root, then promote the staging dir. A crash between
    * them leaves no live directory, with the data intact under
    * `.retired_<name>` (recover by renaming it back); a crash before the
    * first rename loses nothing (staging is invisible to readers). This
    * relies on [[AtomicDir.promote]]'s atomic rename — on an object store,
    * publish the compacted data into a versioned subdir with a pointer swap
    * instead of renaming the live root.
    *
    * The streaming-ingest connection: per-micro-batch appends produce one
    * small file per partition per batch (StreamingIvf, SchemaReplicator's
    * replica sink), and scan cost at scale is dominated by file-open
    * overhead once files ≪ the 128 MB split size — this job is how the
    * layout recovers. */
  def compactFiles(path: String, targetBytes: Long)
                  (implicit s: SparkSession): (Int, Int) = {
    // hive partition detection: walk first-child key=value directories down
    // the tree, collecting the partition-column chain
    @scala.annotation.tailrec
    def partitionChain(d: Path, acc: List[String]): List[String] = {
      val dirs = AtomicDir.list(d, "").filterNot(_.getName.startsWith("."))
      dirs.headOption.map(_.getName.split("=", 2)) match {
        case Some(Array(k, _)) if dirs.forall(_.getName.startsWith(s"$k=")) =>
          partitionChain(dirs.head, acc :+ k)
        case _ => acc
      }
    }
    val root = new Path(path)
    val df = s.read.parquet(path)
    // the scan's own file index: the data files (hidden `_`/`.` names
    // skipped) and their total bytes on disk
    val filesBefore = df.inputFiles.length
    val parts = partitionChain(root, Nil)
    val totalBytes = df.queryExecution.analyzed.stats.sizeInBytes
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val expectRows = df.count()
    val staging = new Path(root.getParent, s".compact_${root.getName}")
    if (parts.isEmpty)
      df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    else
      df.repartition(parts.map(col): _*).write.mode(SaveMode.Overwrite)
        .partitionBy(parts: _*).parquet(staging.toString)
    // audit the staged rewrite before any destructive step
    val gotRows = s.read.parquet(staging.toString).count()
    require(gotRows == expectRows,
      s"compaction row mismatch: staged $gotRows vs source $expectRows — aborted, source intact")
    val retired = new Path(root.getParent, s".retired_${root.getName}")
    AtomicDir.remove(retired)
    AtomicDir.promote(root, retired)
    AtomicDir.promote(staging, root)
    AtomicDir.remove(retired)
    (filesBefore, s.read.parquet(path).inputFiles.length)
  }
}
