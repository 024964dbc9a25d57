package graft.search

import graft.SparkSpec
import graft.exprs._
import org.apache.spark.sql.functions._

class LrScorerSpec extends SparkSpec {

  private def planted = spark.range(2000).select(
    (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
    (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
    .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))

  test("reference 7-C grid is pinned") {
    // ComplexityDrivenFeatureConstruction.py:40-47: C in {1e-3..1e3}, reg = 1/C
    assert(LrScorer.DefaultGrid ==
      Seq(0.001, 0.01, 0.1, 1.0, 10.0, 100.0, 1000.0).map(1.0 / _))
  }

  test("LR CV: informative feature scores high AUC, noise scores ~0.5") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
      .withColumn("noise", pmod(xxhash64(col("x1") + 13), lit(1000)).cast("double") / 1000)
    // 2-point grid exercises the grid-search path (best-mean-AUC pick)
    val good = LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(1.0, 1000.0))
    val bad = LrScorer.score(df, Seq("noise"), "y", folds = 3)
    assert(good.auc > 0.95, s"good=${good.auc}")
    assert(math.abs(bad.auc - 0.5) < 0.1, s"bad=${bad.auc}")
    assert(good.rss < bad.rss)
    assert(good.n > 0)
  }

  test("AICc selection prefers the informative champion over weak lower-complexity ones") {
    val df = planted
    val res = new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"),
      CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
        unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax), groupByAggs = Seq.empty)).run()
    val (winner, perComplexity) = LrScorer.selectByAicc(df, res, "y", folds = 3)
    assert(perComplexity.size >= 2)
    assert(winner.key.contains("mul"), s"winner=${winner.key}, table=$perComplexity")
  }

  test("repeated CV is stable for a strong feature") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    val (mu, sd) = LrScorer.repeatedCv(df, Seq("prod"), "y", repeats = 3, folds = 3)
    assert(mu > 0.95 && sd < 0.05, s"mu=$mu sd=$sd")
  }

  test("per-fold metric suite (run_evaluation.py:83-138) is populated and coherent") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    // weak regularization: regParam=1.0 shrinks p toward the base rate and
    // the 0.5 hard threshold under-calls the positive class (AUC is immune,
    // accuracy/f1 are not — same in sklearn with C=1e-3)
    val s = LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(0.01), complexity = 3)
    // near-separable planted signal: hard-prediction metrics track the AUC
    assert(s.accuracy > 0.9, s"acc=${s.accuracy}")
    assert(s.f1 > 0.9, s"f1=${s.f1}")
    // continuous feature tuples are unique -> perfectly consistent
    assert(s.consistency == 1.0, s"cons=${s.consistency}")
    // AICc >= AIC always; BIC > AIC once ln(n) > 2; complexity-k > feature-k
    assert(s.aiccFeat >= s.aicFeat && s.aiccComp >= s.aicComp)
    assert(s.bicFeat > s.aicFeat)
    assert(s.aicComp > s.aicFeat) // k_comp = complexity + #features + 1 > k_feat
    assert(!s.aicFeat.isNaN && !s.bicComp.isNaN)
  }

  test("degenerate folds: single-class label scores as the constant predictor") {
    // every training fold of an all-ones label is single-class; spark.ml's
    // numClasses inference (maxLabel+1 = 2) cannot see that — the scorer
    // must detect it from the fold-label histogram and skip the fit
    val df = planted.withColumn("prod", col("x1") * col("x2"))
      .withColumn("y1", lit(1).cast("int"))
    val s = LrScorer.score(df, Seq("prod"), "y1", folds = 3)
    assert(s.auc == 0.5, s"auc=${s.auc}")      // constant predictor = coin
    assert(s.rss == 0.0 && s.accuracy == 1.0)  // p = 1.0 on all-ones labels
    assert(s.n > 0)
  }

  test("empty input scores vacuously instead of throwing") {
    val df = planted.withColumn("prod", col("x1") * col("x2")).filter(lit(false))
    val s = LrScorer.score(df, Seq("prod"), "y", folds = 3)
    assert(s.auc == 0.5 && s.n == 0L && s.rss == 0.0)
  }

  test("grid pick is stable across repeated runs (rounded AUC/rss channels)") {
    // separable candidate: every grid point ties at AUC ~1.0 up to ULP noise
    // from task-completion-ordered treeAggregate reduction; the rounded
    // compare must return the same (lowest-rss) grid point every run
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    val runs = (1 to 3).map(_ =>
      LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(1.0, 0.01)))
    assert(runs.map(s => math.rint(s.rss * 1e6)).distinct.size == 1,
      s"rss flickered across identical runs: ${runs.map(_.rss)}")
  }

  test("concurrent fits: folds-x-grid jobs overlap in distinct FAIR pools") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val pools = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val c = inFlight.incrementAndGet()
        maxInFlight.updateAndGet(m => math.max(m, c))
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
          .foreach(pools.add)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { inFlight.decrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = planted.withColumn("prod", col("x1") * col("x2"))
      LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(1.0, 100.0))
      org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val fitPools = pools.toArray.map(_.toString).filter(_.startsWith("lr-cv-"))
    assert(fitPools.length >= 2, s"expected distinct per-fit pools, saw ${pools}")
    assert(maxInFlight.get >= 2,
      s"expected overlapping fit jobs, max in flight = ${maxInFlight.get}")
  }

  // one partition: lbfgs's treeAggregate has a single partial to reduce, so
  // every fitted float is bit-stable from run to run and exact equality
  // between two separate CV runs is a meaningful check
  private def onePart = planted.withColumn("prod", col("x1") * col("x2")).coalesce(1)

  test("cvAuc is phase 1 of score: equal AUC on a 1-point and a 2-point grid") {
    val df = onePart
    for (grid <- Seq(Seq(1.0), Seq(1.0, 1000.0))) {
      val auc = LrScorer.cvAuc(df, Seq("x1", "x2"), "y", folds = 3, grid = grid)
      val s = LrScorer.score(df, Seq("x1", "x2"), "y", folds = 3, grid = grid)
      assert(auc == s.auc, s"grid=$grid: cvAuc=$auc score.auc=${s.auc}")
      assert(auc > 0.6 && auc < 1.0, s"grid=$grid: auc=$auc")
    }
  }

  test("tied grid points: score keeps the lowest-rss one") {
    // a single separable feature ranks rows the same under every regParam,
    // so both grid points tie on AUC and the rss tie-break decides
    val df = onePart
    val (grid, folds) = (Seq(1.0, 0.01), 3)
    val each = grid.map(r => LrScorer.score(df, Seq("prod"), "y", folds = folds, grid = Seq(r)))
    assert(each.map(e => math.rint(e.auc * 1e9)).distinct.size == 1, s"no tie: $each")
    val both = LrScorer.score(df, Seq("prod"), "y", folds = folds, grid = grid)
    val expected = each.maxBy(e => (math.rint(e.auc * 1e9), -math.rint(e.rss * 1e6)))
    assert(expected eq each(1), s"the tie-break should pick the weaker regularization: $each")
    assert(both == expected, s"both=$both expected=$expected")
  }

  test("cvAuc submits fewer Spark jobs than score: no metric suite runs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    def jobsOf(body: => Any): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
      }
      org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(listener)
      n.get
    }
    val cv = jobsOf(LrScorer.cvAuc(df, Seq("prod"), "y", folds = 3))
    val full = jobsOf(LrScorer.score(df, Seq("prod"), "y", folds = 3))
    assert(cv > 0 && cv < full, s"cvAuc jobs=$cv, score jobs=$full")
  }
}
