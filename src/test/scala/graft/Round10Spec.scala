package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.DistributedRank

/** Pins for the round-10 surface: the 2-pass distributed midranks against
  * the window formulation (bit-identical integers), the d39 Spearman ρ
  * recomputed through the 2-pass path (same doubles out), ANOVA/pooled-t
  * against independent brute-force references, and the AUC rank identity
  * against a brute-force pair count. */
class Round10Spec extends SparkSpec {

  // ----------------------------------------------- DistributedRank

  test("2-pass midranks equal the window formulation bit-for-bit") {
    val src = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_linestatus").as("g"),
              (col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long").as("v"))
    val got = DistributedRank.midranks2(src, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // the d39 window formulation: dr2 = 2·RANK + tiecount − 1
    val wr = Window.partitionBy("g").orderBy(asc("v"))
    val wt = Window.partitionBy("g", "v")
    val want = src
      .withColumn("dr2", lit(2) * rank().over(wr) + count(lit(1)).over(wt) - 1)
      .withColumn("cnt", count(lit(1)).over(wt))
      .select("g", "v", "cnt", "dr2").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == want.size)
    assert(got == want)
    // rank-total identity: Σ cnt·dr2 = 2·Σrank = n(n+1) per group — the
    // d39 exact-centering precondition, directly on the operator output
    val n = got.toSeq.groupBy(_._1._1)
      .map { case (g, xs) => g -> xs.map(_._2._1).sum }
    got.toSeq.groupBy(_._1._1).foreach { case (g, xs) =>
      assert(xs.map { case (_, (c, d)) => c * d }.sum == n(g) * (n(g) + 1L),
             s"group $g rank total")
    }
  }

  test("2-pass Spearman equals the declared d39 window form (same doubles)") {
    val src = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_linestatus"), col("l_quantity").cast("long").as("q"),
              (col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long").as("p"))
    val got = DistributedRank
      .spearman(src, Seq("l_linestatus"), "q", "p")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val want = engine.Round9Ops.d39.fn(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // centered sums are exact int64 either way, so ρ must match to the BIT
    assert(got == want, s"2-pass $got vs window $want")
    // the broadcast-x-ranks variant (what d44 ships) changes ONLY the
    // join strategy — same integers, same bits
    val gotB = DistributedRank
      .spearman(src, Seq("l_linestatus"), "q", "p", broadcastXRanks = true)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(gotB == want, s"broadcast-x $gotB vs window $want")
  }

  test("bounded-domain midranks equal the 2-pass form bit-for-bit (quantity grid)") {
    val src = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_linestatus").as("g"),
              col("l_quantity").cast("long").as("v"))
    val got = DistributedRank.midranks2Bounded(src, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val want = DistributedRank.midranks2(src, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"bounded grid ranks diverge: $got vs $want")
  }

  test("2-pass midranks plan: range exchange, no single-partition sort") {
    val src = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_linestatus").as("g"),
              (col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long").as("v"))
    // The r19 structural-reuse checkpoint hides pass 1 behind a LogicalRDD
    // in the OUTPUT plan, so the range-exchange pin reads the exposed
    // pre-checkpoint frame (the exact subtree the checkpoint stores) …
    val pass1 = DistributedRank.midranks2Ranged(src, Seq("g"), "v", lit(1L))
      .queryExecution.executedPlan.toString
    assert(pass1.toLowerCase.contains("rangepartitioning"),
           "expected a range exchange (pass 1)")
    assert(!pass1.contains("SinglePartition"),
           s"no single-partition exchange allowed in pass 1:\n$pass1")
    // … and the output plan must (a) consume ONE stored pass-1 evaluation
    // — the structural reuse the checkpoint buys: every leaf is a scan of
    // the same checkpointed RDD (one leaf per consumer, two consumers) and
    // nothing re-scans the source — and (b) still never collapse to a
    // single partition anywhere in pass 2.
    val out = DistributedRank.midranks2(src, Seq("g"), "v")
    val plan = out.queryExecution.executedPlan.toString
    val leaves = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectLeaves(out.queryExecution.executedPlan)
    val stored = leaves.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd.id
    }
    assert(stored.size == leaves.size && stored.distinct.size == 1,
           s"pass 2 should read only the checkpointed pass-1 frame, one stored RDD; " +
           s"leaves ${leaves.map(_.nodeName)} over RDDs ${stored.distinct}:\n$plan")
    assert(!plan.contains("SinglePartition"),
           s"no single-partition exchange allowed:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
           s"the range exchange must not re-plan above the checkpoint:\n$plan")
  }

  // ----------------------------------------------- LongDistanceExpression

  test("graft_*_long distances: codegen compiles; values match the HOF forms") {
    // compile-proof with fallback disabled (the PackBytes discipline): a
    // janino failure must FAIL here, not silently degrade to interpreted
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = spark.range(50).selectExpr(
        "transform(sequence(0, 63), i -> (id * 37 + i * i * 11) % 9999991 - 4000000) AS a",
        "transform(sequence(0, 63), i -> (id * 91 + i * 13) % 9999991 - 4000000) AS b")
        .selectExpr(
          "graft_l1_long(a, b) AS l1", "graft_l2sq_long(a, b) AS l2",
          "graft_linf_long(a, b) AS li",
          "aggregate(zip_with(a, b, (x, y) -> abs(x - y)), 0L, (s, d) -> s + d) AS hl1",
          "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (s, d) -> s + d) AS hl2",
          "array_max(zip_with(a, b, (x, y) -> abs(x - y))) AS hli")
        .collect()
      assert(rows.length == 50)
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(3), "L1 native vs HOF")
        assert(r.getLong(1) == r.getLong(4), "L2sq native vs HOF")
        assert(r.getLong(2) == r.getLong(5), "Linf native vs HOF")
      }
      // edge shapes: empty arrays -> 0; null elements skipped (the
      // DotProduct posture); length mismatch folds the common prefix
      val edge = spark.sql(
        """SELECT
          |  graft_l1_long(CAST(array() AS ARRAY<BIGINT>),
          |                CAST(array() AS ARRAY<BIGINT>)) AS e0,
          |  graft_l2sq_long(array(1L, CAST(NULL AS BIGINT), 3L),
          |                  array(5L, 7L, CAST(NULL AS BIGINT))) AS en,
          |  graft_l1_long(array(1L, 2L, 3L), array(2L)) AS em,
          |  graft_linf_long(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS ei""".stripMargin)
        .collect().head
      assert(edge.getLong(0) == 0L)
      assert(edge.getLong(1) == 16L, "null elements skip: only (1-5)^2")
      assert(edge.getLong(2) == 1L, "length mismatch folds the common prefix")
      assert(edge.getLong(3) == 0L)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  // ----------------------------------------------- d40 / d41 references

  test("d41 ANOVA F equals a brute-force two-pass reference at sf0.001") {
    val r = engine.Round10Ops.d41.fn(spark, sf0001).collect().head
    val (gn, gssb, gssw, gf) =
      (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val rows = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(x => x.getString(0) -> x.getLong(1))
    val groups = rows.groupBy(_._1).view.mapValues(_.map(_._2.toDouble)).toMap
    val all = rows.map(_._2.toDouble)
    val grand = all.sum / all.length
    val ssb = groups.values.map { xs =>
      val m = xs.sum / xs.length
      xs.length * (m - grand) * (m - grand)
    }.sum
    val ssw = groups.values.map { xs =>
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum
    }.sum
    val f = (ssb / (groups.size - 1)) / (ssw / (all.length - groups.size))
    assert(gn == all.length.toLong)
    assert(math.abs(gssb - ssb) <= 1e-9 * ssb, s"SSB $gssb vs $ssb")
    assert(math.abs(gssw - ssw) <= 1e-9 * ssw, s"SSW $gssw vs $ssw")
    assert(math.abs(gf - f) <= 1e-9 * f, s"F $gf vs $f")
  }

  test("d40 pooled t equals a brute-force reference at sf0.001") {
    val r = engine.Round10Ops.d40.fn(spark, sf0001).collect().head
    val (gn1, gn2, gdof, gvp, gt) = (r.getLong(0), r.getLong(1), r.getLong(2),
                                     r.getDouble(3), r.getDouble(4))
    val rows = engine.Tables.events(spark, sf0001)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
              (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(x => x.getString(0) -> x.getLong(1).toDouble)
    val a = rows.filter(_._1 == "purchase").map(_._2)
    val b = rows.filter(_._1 == "click").map(_._2)
    def meanVar(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
    }
    val (ma, va) = meanVar(a); val (mb, vb) = meanVar(b)
    val vp = ((a.length - 1) * va + (b.length - 1) * vb) /
      (a.length + b.length - 2.0)
    val t = (ma - mb) / math.sqrt(vp * (1.0 / a.length + 1.0 / b.length))
    assert((gn1, gn2, gdof) == ((a.length.toLong, b.length.toLong,
                                 (a.length + b.length - 2).toLong)))
    assert(math.abs(gvp - vp) <= 1e-9 * vp, s"pooled var $gvp vs $vp")
    assert(math.abs(gt - t) <= 1e-9 * math.abs(t), s"t $gt vs $t")
  }

  // ----------------------------------------------- d42 AUC identity

  test("d42 AUC equals the brute-force concordant-pair count at sf0.001") {
    val r = engine.Round10Ops.d42.fn(spark, sf0001).collect().head
    val (gnp, gnn, gu2, gauc, ggini) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4))
    val rows = engine.Tables.events(spark, sf0001)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
              (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(x => (x.getString(0) == "purchase", x.getLong(1)))
    val pos = rows.filter(_._1).map(_._2)
    val neg = rows.filterNot(_._1).map(_._2)
    // doubled U = 2·(concordant pairs) + (tied pairs) — the definitional
    // pair count the rank identity must reproduce
    var u2 = 0L
    for (p <- pos; n <- neg) {
      if (p > n) u2 += 2L else if (p == n) u2 += 1L
    }
    assert((gnp, gnn) == ((pos.length.toLong, neg.length.toLong)))
    assert(gu2 == u2, s"doubled U $gu2 vs pair count $u2")
    val auc = u2.toDouble / (2L * pos.length * neg.length).toDouble
    assert(gauc == auc, "AUC must be the same single division")
    assert(math.abs(ggini - (2.0 * auc - 1.0)) <= 1e-15,
           s"gini $ggini vs ${2.0 * auc - 1.0}")
  }
}
