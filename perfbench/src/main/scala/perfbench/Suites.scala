package perfbench

/** The query lists of the two query workloads, and the fixture each runs on.
  *
  * A run has about half a minute of work in it on four cores, and the first
  * execution of each query in a JVM (the untimed warm-up) costs two to three
  * times a warm one, so both lists are small samples: one pass over the full
  * lists (237 short queries, eight iterative ones) takes minutes. The names
  * are pinned, so adding a declared query does not change a workload.
  */
object Suites {
  /** Two iterative operators, one of each kind ROADMAP item 3 would unify:
    * a loop that materializes its state every round (k23, connected
    * components) and a sweep over one shared, checkpointed frame (k67).
    * Their cost is the number of sequential jobs, not the data size, so they
    * run on the small fixture. */
  val iterative: Seq[String] = Seq("k23_dedup_clusters", "k67_dedup_threshold_sweep")
  val iterativeFixture = "sf0.01"
  val iterativePassSeconds = 4.0
  val iterativeWarmPasses = 1

  /** An evenly spread sample of the short analytic queries: every 60th of
    * the declared queries of blocks a-j and l (other than the iterative
    * d44_rank_corr_2pass), in name order, starting from the 31st. */
  val olap: Seq[String] = Seq(
    "c18_join_q10_returns", "d53_map_populate_series", "h07_array_ops",
    "i14_mv_outer_join_delta")
  val olapFixture = "sf0.1"
  val olapPassSeconds = 4.0
  /** The short queries still get faster through a second pass (the JIT is
    * still compiling), so they warm up twice. */
  val olapWarmPasses = 2
}
