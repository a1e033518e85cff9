package perfbench

/** Records the expected digests of queries on a fixture directory, as the
  * `name<TAB>digest` lines `ExpectedDigests` reads, followed by the seconds
  * each of two runs took; both runs must give the same digest. Usage:
  * `perfbench.Record DATA_DIR query...`. */
object Record {
  def main(args: Array[String]): Unit = {
    val dataDir = new java.io.File(args(0)).getAbsolutePath
    val names = args.toSeq.tail
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder("perfbench-record", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try for (n <- names) {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val d = Digest.of(graft.SparkEntry.queries(n)(spark, dataDir))
        d -> (System.nanoTime() - t0) / 1e9
      }
      val ds = runs.map(_._1).distinct
      val digest = if (ds.length == 1) ds.head else s"UNSTABLE(${ds.mkString(",")})"
      println(s"$n\t$digest\t${runs.map(r => "%.3f".format(r._2)).mkString("\t")}")
    } finally spark.stop()
  }
}
