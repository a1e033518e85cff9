package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.connectors.AtomicDir

/** Streaming IVF ingest: route each arriving vector to its nearest
  * centroid and land it in the cid-partitioned layout the batch probe
  * path prunes at the storage layer (Ivf.topKApprox/topKPqAdc over
  * `partitionBy(cid)` — proven in ScaleOpsSpec). This is the ANN INGEST
  * path: embeddings stream in, the inverted-file layout stays fresh, and
  * a probe never rescans history.
  *
  * The centroid set is a driver-side constant broadcast into the
  * per-batch assignment (K × dim doubles — the same shape
  * Ivf.kmeansCentroids holds between Lloyd rounds). Re-training is a
  * BATCH concern: swap the centroid set between streaming restarts;
  * in-flight micro-batches always use one consistent set, so a file's
  * partition is always consistent with the centroids that routed it.
  *
  * Assignment semantics are EXACTLY Ivf.assign's (max cosine, ties to the
  * lowest cid) — asserted value-identical in StreamingSpec over the
  * fixture, which anchors the streaming route to the k16-oracle-checked
  * batch assignment. */
object StreamingIvf {

  final case class VecIn(vec_id: Long, embedding: Array[Float])

  /** The per-batch routing frame: (vec_id, cid, cos). */
  def route(vectors: DataFrame, centroids: Seq[(Long, Seq[Double])])
           (implicit s: SparkSession): DataFrame = {
    import s.implicits._
    graft.operators.Ivf.assign(vectors, centroids.toDF("cid", "embedding"))
  }

  /** Wire a (streaming) vector Dataset into the cid-partitioned store:
    * each micro-batch appends `batch/cid=<c>/` files. Append-only — a
    * re-delivered vec_id lands twice and the probe-side dedups by vec_id
    * (max cos), the same at-least-once treatment as the parquet upsert
    * sink. */
  def start(vectors: Dataset[VecIn], centroids: Seq[(Long, Seq[Double])],
            outDir: String, checkpointDir: String)
           (implicit s: SparkSession): StreamingQuery = {
    vectors.toDF()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        route(batch.toDF(), centroids)(s)
          .join(batch.toDF(), "vec_id")
          .write.mode("append").partitionBy("cid").parquet(outDir)
      }
      .start()
  }

  // ── Centroid refresh across restarts ──────────────────────────────────
  //
  // Re-training centroids is a batch job; the streaming side must pick up
  // the new set WITHOUT breaking the invariant that a file's cid partition
  // is consistent with the centroids that routed it. The orchestration:
  //
  //   1. the batch trainer PUBLISHES centroid set version n+1
  //      (publishCentroids — staged write + atomic rename, so a crashed
  //      publish is invisible);
  //   2. the stream, on (re)start, pins the LATEST published version for
  //      its whole run and stamps every row's partition path with it
  //      (`cv=<n>/cid=<c>`) — in-flight micro-batches never mix sets;
  //   3. probes fan out PER VERSION: each version's nprobe cells are
  //      chosen against that version's own centroids, shortlists union,
  //      exact cosine ranks globally (topKAcrossVersions). Old data keeps
  //      serving under its old layout; a compaction that re-routes old
  //      versions onto the newest set is an optional batch job, never a
  //      correctness requirement.

  /** Publish a new centroid-set version: write staged, atomic-rename to
    * `v=<n+1>`. Returns the published version number. */
  def publishCentroids(centroids: Seq[(Long, Seq[Double])], dir: String)
                      (implicit s: SparkSession): Int = {
    import s.implicits._
    val next = latestCentroidVersion(dir).getOrElse(0) + 1
    val staging = new Path(dir, s".staging_v$next")
    centroids.toDF("cid", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    AtomicDir.promote(staging, new Path(dir, s"v=$next"))
    next
  }

  /** The published (committed) versions in `dir`. */
  private def centroidVersions(dir: String): Seq[Int] =
    AtomicDir.list(new Path(dir), "v=").filter(AtomicDir.committed)
      .map(_.getName.stripPrefix("v=").toInt)

  /** Highest published version in `dir`, if any. */
  def latestCentroidVersion(dir: String): Option[Int] = centroidVersions(dir).maxOption

  /** Load one published version as the driver-side constant [[route]] takes. */
  def loadCentroids(dir: String, version: Int)
                   (implicit s: SparkSession): Seq[(Long, Seq[Double])] =
    s.read.parquet(s"$dir/v=$version")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  /** [[start]] with centroid-set versioning: pins the latest published
    * version at (re)start and lands rows under `cv=<version>/cid=<c>`, so
    * the routing set of every file is recorded in its partition path. */
  def startVersioned(vectors: Dataset[VecIn], centroidsDir: String,
                     outDir: String, checkpointDir: String)
                    (implicit s: SparkSession): StreamingQuery = {
    val version = latestCentroidVersion(centroidsDir)
      .getOrElse(sys.error(s"no published centroid set under $centroidsDir"))
    val centroids = loadCentroids(centroidsDir, version)
    vectors.toDF()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        route(batch.toDF(), centroids)(s)
          .join(batch.toDF(), "vec_id")
          .withColumn("cv", lit(version))
          .write.mode("append").partitionBy("cv", "cid").parquet(outDir)
      }
      .start()
  }

  /** Exact top-k over a store spanning centroid versions: per version,
    * shortlist the `nprobe` cells nearest the probe UNDER THAT VERSION'S
    * centroids (partition pruning on (cv, cid) — versions × nprobe pairs,
    * a driver-side constant); exact cosine ranks the union. Equals the
    * single-version probe when only one version exists. */
  def topKAcrossVersions(store: DataFrame, centroidsDir: String,
                         probe: Seq[Double], k: Int = 10, nprobe: Int = 2)
                        (implicit s: SparkSession): DataFrame = {
    val pn = {
      val n = math.sqrt(probe.map(x => x * x).sum)
      if (n == 0) probe else probe.map(_ / n)
    }
    def cos(c: Seq[Double]): Double = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) 0.0 else c.zip(pn).map { case (a, b) => a * b }.sum / n
    }
    val versions = centroidVersions(centroidsDir)
    require(versions.nonEmpty, s"no centroid versions under $centroidsDir")
    val allowed = versions.flatMap { v =>
      loadCentroids(centroidsDir, v)
        .map { case (cid, c) => (cos(c), cid) }
        .sortBy { case (sc, cid) => (-sc, cid) }
        .take(nprobe)
        .map { case (_, cid) => s"$v:$cid" }
    }
    val probeCol = graft.api.Similarity.normalize(
      typedLit(pn.map(_.toFloat)).cast("array<float>"))
    store
      .filter(concat_ws(":", col("cv"), col("cid")).isin(allowed: _*))
      .select(col("vec_id"),
              round(graft.api.Similarity.dot(
                graft.api.Similarity.normalize(col("embedding")), probeCol), 6).as("cos"))
      .orderBy(desc_nulls_last("cos"), asc_nulls_last("vec_id"))
      .limit(k)
  }
}
