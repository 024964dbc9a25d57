package graft.search

import graft.exprs._
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact model-based scoring of search survivors — the reference's CV
  * grid-search LogisticRegression oracle (`run_evaluation.py:142-243`) and
  * the AICc final selection (`ComplexityDrivenFeatureConstruction.py:
  * 754-802`), applied to the FEW candidates that survive the cheap MI gate
  * (the reference fits LR for every candidate; fitting only survivors is
  * the Spark-shaped two-stage oracle announced in SURVEY §2.4).
  *
  * Folds are deterministic hash folds (`pmod(xxhash64(all columns, salt),
  * k)`) — never randomSplit, which is not reproducible under repartition.
  * Repeated-CV stability (`multiple_cv_scikit.py`) = the same scoring under
  * different fold salts.
  *
  * Parallelism: the folds-by-grid fits have no data dependency, so they are
  * submitted CONCURRENTLY from driver threads ([[FitPool]]) — the
  * reference's `n_jobs` model-fit parallelism knob. Results are combined in
  * task order, so WHICH fits feed each grid point is deterministic; the fit
  * floats themselves can wobble by ULPs run-to-run (lbfgs reduces its
  * treeAggregate partials in task-completion order, sequential or not), so
  * every decision over fit outputs is made on ROUNDED values (grid pick at
  * 1e-9 AUC / 1e-6 rss) and never on exact float equality.
  */
object LrScorer {

  /** CV summary for the best grid point, carrying the reference's full
    * additional-metric suite (`run_evaluation.py:83-138`, means over the
    * test folds of the winning grid config):
    *  - accuracy / f1: hard predictions at p > 0.5 (sklearn predict)
    *  - rss / n: out-of-fold squared probability residuals (`calculate_rss`)
    *  - consistency: fraction of test rows whose feature tuple maps to a
    *    single label (`calculate_consistency`)
    *  - AIC/AICc/BIC, two k conventions: `k = #features` (feature_number)
    *    and `k = complexity + #features + 1` (complexity) — per fold with
    *    that fold's (rss, n), then meaned, as the reference keeps them.
    */
  final case class LrScore(
      auc: Double,
      rss: Double,
      n: Long,
      accuracy: Double = Double.NaN,
      f1: Double = Double.NaN,
      consistency: Double = Double.NaN,
      aicFeat: Double = Double.NaN,
      aiccFeat: Double = Double.NaN,
      bicFeat: Double = Double.NaN,
      aicComp: Double = Double.NaN,
      aiccComp: Double = Double.NaN,
      bicComp: Double = Double.NaN)

  /** Reference default LR grid: 7 C values (`ComplexityDrivenFeature
    * Construction.py:40-47`), C = 1/regParam.
    */
  val DefaultGrid: Seq[Double] = Seq(0.001, 0.01, 0.1, 1.0, 10.0, 100.0, 1000.0).map(1.0 / _)

  def foldCol(salt: Int, k: Int): Column =
    pmod(xxhash64(struct(col("*")), lit(salt)), lit(k)).cast("int")

  /** Out-of-fold aggregates of one fold's predictions. */
  private final case class FoldAgg(rss: Double, n: Long, accuracy: Double, f1: Double)

  /** One (grid value, fold) cell after phase 1: the fold's AUC, plus the
    * out-of-fold metrics that only the rss tie-break and phase 2 read —
    * computed on first use, so a cell nobody asks about costs no job.
    *
    * @param scored the test fold and the predictions of the model fitted on
    *               the other folds, with p(1) as a column; None when the
    *               test fold is empty (nothing to score)
    */
  private final class FoldFit(val auc: Double, scored: Option[(DataFrame, DataFrame, Column)]) {

    /** rss / n / accuracy / f1 in ONE aggregation over the predictions. An
      * empty test fold takes the vacuous conventions: zero residual mass
      * (rss 0, n 0), accuracy 1 (no row is wrong), f1 0 (no positive found).
      */
    lazy val agg: FoldAgg = scored.fold(FoldAgg(0.0, 0L, 1.0, 0.0)) { case (_, pred, p1) =>
      val hard = (p1 > 0.5).cast("double")
      val m = pred
        .select(p1.as("p"), col("label"), hard.as("yh"))
        .agg(
          sum(pow(col("label") - col("p"), 2)).as("rss"),
          count(lit(1)).as("n"),
          avg((col("yh") === col("label")).cast("double")).as("acc"),
          sum(when(col("yh") === 1.0 && col("label") === 1.0, 1L).otherwise(0L)).as("tp"),
          sum(when(col("yh") === 1.0 && col("label") === 0.0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("yh") === 0.0 && col("label") === 1.0, 1L).otherwise(0L)).as("fn"))
        .head()
      val (tp, fp, fn) = (m.getAs[Long]("tp"), m.getAs[Long]("fp"), m.getAs[Long]("fn"))
      val f1 = if (2 * tp + fp + fn == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
      FoldAgg(m.getAs[Double]("rss"), m.getAs[Long]("n"), m.getAs[Double]("acc"), f1)
    }

    /** Fraction of test rows whose feature tuple maps to a single label, in
      * ONE aggregation (1 for an empty fold: no row is inconsistent).
      */
    def consistency(featureCols: Seq[String]): Double = scored.fold(1.0) { case (test, _, _) =>
      test
        .groupBy(featureCols.map(col): _*)
        .agg(count(lit(1)).as("__n"), countDistinct(col("label")).as("__d"))
        .agg((sum(when(col("__d") === 1, col("__n")).otherwise(0L)).cast("double") /
          sum(col("__n"))).as("c"))
        .head().getDouble(0)
    }
  }

  /** The cached fold matrix of one CV run and its per-fold label histogram. */
  private final case class Folds(
      df: DataFrame,
      k: Int,
      assembler: VectorAssembler,
      trainLabels: Map[Int, Seq[Double]],
      testRows: Map[Int, Long])

  /** Build the fold matrix, run `body` on it, and release its cache. */
  private def withFolds[A](
      dfIn: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      folds: Int,
      saltSeed: Int)(body: Folds => A): A = {
    val df = dfIn
      // fold hash over the FULL input row ([[foldCol]] — feature-only
      // hashes collapse low-cardinality features into single folds)
      .withColumn("fold", foldCol(saltSeed, folds))
      .select((featureCols.map(c => col(c).cast("double").as(c)) :+
        col(labelCol).cast("double").as("label") :+ col("fold")): _*)
      .na.drop()
      .cache()
    try {
      // one small job classifying every fold, which also materializes the
      // cache before the concurrent fits race to build it: per-(fold, label)
      // counts give each TRAINING fold's distinct labels (degenerate-fold
      // detection that spark.ml's maxLabel+1 numClasses inference cannot do)
      // and each test fold's row count (an empty fold has nothing to score)
      val foldLabel = df.groupBy(col("fold"), col("label")).count().collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      val trainLabels: Map[Int, Seq[Double]] = (0 until folds).map(f =>
        f -> foldLabel.iterator.filter(_._1 != f).map(_._2).toSeq.distinct.sorted).toMap
      val testRows: Map[Int, Long] = (0 until folds).map(f =>
        f -> foldLabel.iterator.filter(_._1 == f).map(_._3).sum).toMap
      val assembler = new VectorAssembler()
        .setInputCols(featureCols.toArray).setOutputCol("features")
      body(Folds(df, folds, assembler, trainLabels, testRows))
    } finally { df.unpersist(); () }
  }

  /** Phase 1 of one (grid value, fold) cell: the model fit and its AUC —
    * no metric aggregation runs here.
    */
  private def fitFold(fs: Folds, reg: Double, f: Int): FoldFit = {
    if (fs.testRows(f) == 0) return new FoldFit(0.5, None) // coin AUC
    val test = fs.assembler.transform(fs.df.filter(col("fold") === f))
    val trainLabels = fs.trainLabels(f)
    if (trainLabels.size < 2)
      // an empty or single-class training fold admits no separating model:
      // score the constant predictor it implies — p(1) = the lone label (or
      // the 0.5 coin when there is no training row at all), AUC = 0.5
      new FoldFit(0.5, Some((test, test, lit(trainLabels.headOption.getOrElse(0.5)))))
    else {
      val train = fs.assembler.transform(fs.df.filter(col("fold") =!= f))
      val model = new LogisticRegression()
        .setRegParam(reg).setMaxIter(50).setTol(1e-6)
        .fit(train)
      val pred = model.transform(test)
      val auc = new BinaryClassificationEvaluator()
        .setRawPredictionCol("probability").setMetricName("areaUnderROC")
        .evaluate(pred)
      new FoldFit(auc, Some((test, pred, vectorElement(col("probability"), 1))))
    }
  }

  /** Phase 1 of CV: every grid-by-fold fit and its AUC, all submitted
    * concurrently; returns the winning grid point's folds.
    *
    * Primary criterion: best mean CV AUC (the reference's). Tie-break:
    * LOWER out-of-fold rss — a separable candidate ties every grid point at
    * AUC 1.0, and the reference's first-in-grid-order pick would keep the
    * most-regularized (worst-calibrated) model, making the rss the
    * information criteria feed on degenerate; preferring the calibrated
    * model among AUC-equals is the deterministic, semantics-preserving fix.
    * The rss is aggregated only for the tied grid points, since no other
    * decision reads it. BOTH channels are rounded before comparison: lbfgs
    * reduces its treeAggregate partials in task-completion order, so a
    * fit's floats wobble by ULPs run-to-run (1.0 vs 1-ulp AUC on separable
    * data) and an exact-equality tie test would flip the winner
    * nondeterministically.
    */
  private def bestGrid(fs: Folds, grid: Seq[Double]): Seq[FoldFit] = {
    val tasks = for (reg <- grid; f <- 0 until fs.k) yield (reg, f)
    val fits = FitPool.map(fs.df.sparkSession, "lr-cv", tasks) { case (reg, f) =>
      fitFold(fs, reg, f)
    }
    val perGrid = grid.indices.map(gi => fits.slice(gi * fs.k, (gi + 1) * fs.k))
    // total order (NaN == NaN), as the tuple maxBy it replaces compared
    val aucKey = perGrid.map(per => math.rint(per.map(_.auc).sum / fs.k * 1e9))
    val top = aucKey.max(Ordering.Double.TotalOrdering)
    val tied = perGrid.indices
      .filter(i => java.lang.Double.compare(aucKey(i), top) == 0).map(perGrid)
    if (tied.size == 1) tied.head
    else {
      // concurrent like the fits (each lazy agg is one job)
      FitPool.map(fs.df.sparkSession, "lr-cv", tied.flatten)(_.agg)
      tied.maxBy(per => -math.rint(per.map(_.agg.rss).sum * 1e6))
    }
  }

  private def meanAuc(best: Seq[FoldFit]): Double = best.map(_.auc).sum / best.size

  /** Phase 1 alone: the k-fold CV AUC of the best grid point — the search's
    * gain oracle, which reads nothing else. Equals `score(...).auc`.
    */
  def cvAuc(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      folds: Int = 5,
      grid: Seq[Double] = Seq(1.0),
      saltSeed: Int = 42): Double =
    withFolds(df, featureCols, labelCol, folds, saltSeed)(fs => meanAuc(bestGrid(fs, grid)))

  /** CV-score one candidate set: phase 1 ([[cvAuc]]) picks the grid point;
    * phase 2 computes the full per-fold metric suite from that grid point's
    * out-of-fold predictions only (its folds concurrently).
    *
    * @param complexity representation complexity of the candidate set, used
    *                   by the `*_complexity` information criteria
    *                   (`k = complexity + #features + 1`)
    */
  def score(
      dfIn: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      folds: Int = 5,
      grid: Seq[Double] = Seq(1.0),
      saltSeed: Int = 42,
      complexity: Int = 0): LrScore =
    withFolds(dfIn, featureCols, labelCol, folds, saltSeed) { fs =>
      val best = bestGrid(fs, grid)
      val suite = FitPool.map(fs.df.sparkSession, "lr-cv", best)(ff =>
        (ff.agg, ff.consistency(featureCols)))
      val aggs = suite.map(_._1)

      def mean(xs: Seq[Double]): Double = xs.sum / folds
      val kF = featureCols.size.toDouble
      val kC = complexity + featureCols.size + 1.0
      def aicOf(s: FoldAgg, k: Double) =
        2 * k + s.n * math.log(math.max(s.rss, 1e-12) / s.n)
      def aiccOf(s: FoldAgg, k: Double) =
        aicOf(s, k) + (2 * k * (k + 1)) / math.max(s.n - k - 1, 1.0)
      def bicOf(s: FoldAgg, k: Double) =
        math.log(s.n.toDouble) * k + s.n * math.log(math.max(s.rss, 1e-12) / s.n)

      LrScore(
        auc = meanAuc(best),
        rss = aggs.map(_.rss).sum,
        n = aggs.map(_.n).sum,
        accuracy = mean(aggs.map(_.accuracy)),
        f1 = mean(aggs.map(_.f1)),
        consistency = mean(suite.map(_._2)),
        aicFeat = mean(aggs.map(aicOf(_, kF))), aiccFeat = mean(aggs.map(aiccOf(_, kF))),
        bicFeat = mean(aggs.map(bicOf(_, kF))),
        aicComp = mean(aggs.map(aicOf(_, kC))), aiccComp = mean(aggs.map(aiccOf(_, kC))),
        bicComp = mean(aggs.map(bicOf(_, kC))))
    }

  private def vectorElement(v: Column, i: Int): Column =
    element_at(org.apache.spark.ml.functions.vector_to_array(v), i + 1)

  /** Repeated CV with different fold salts (`multiple_cv_scikit.py:44-161`):
    * mean and stddev of the CV AUC across repeats (repeats run concurrently).
    */
  def repeatedCv(df: DataFrame, featureCols: Seq[String], labelCol: String,
      repeats: Int = 5, folds: Int = 5, grid: Seq[Double] = Seq(1.0)): (Double, Double) = {
    val scores = FitPool.map(df.sparkSession, "lr-rcv", 0 until repeats)(r =>
      cvAuc(df, featureCols, labelCol, folds, grid, saltSeed = 42 + r))
    val mu = scores.sum / repeats
    val sd = math.sqrt(scores.map(s => (s - mu) * (s - mu)).sum / repeats)
    (mu, sd)
  }

  /** AICc final selection over per-complexity champions
    * (`ComplexityDrivenFeatureConstruction.py:754-802`):
    * AICc = 2k + n*ln(rss/n) + 2k(k+1)/(n-k-1), k = complexity.
    * Returns (champion, aicc) per complexity and the global argmin.
    * Champions score concurrently (no dependency between them).
    */
  def selectByAicc(
      df: DataFrame,
      result: CdfcResult,
      labelCol: String,
      folds: Int = 5,
      grid: Seq[Double] = Seq(1.0)): (Scored, Seq[(Scored, Double)]) = {
    // per-complexity champion: when the search ran its LR stage, pick by
    // the AUC channel among LR-scored members (never compare an AUC against
    // an MI value); classes the LR stage did not touch fall back to MI
    val champions = result.survivors.filter(_.passed)
      .groupBy(_.complexity).toSeq.sortBy(_._1)
      .map { case (_, ss) =>
        val lrScored = ss.filter(s => result.lrAuc.contains(s.key))
        if (lrScored.nonEmpty) lrScored.maxBy(s => (result.lrAuc(s.key), s.key))
        else ss.maxBy(_.score)
      }
    val scored = FitPool.map(df.sparkSession, "lr-aicc", champions)(ch =>
      ch -> aiccOf(df, ch, result.fit, labelCol, folds, grid))
    (scored.minBy(_._2)._1, scored)
  }

  private def aiccOf(df: DataFrame, ch: Scored, fit: FitStats, labelCol: String,
      folds: Int, grid: Seq[Double]): Double = {
    // keep the full input row so the fold hash has row entropy even for
    // low-cardinality champions (one-hot, discretized)
    val mat = LayerBuilder.select(df, df.columns.toSeq, Seq("__lr_feat" -> ch.expr), fit)
    val s = score(mat, Seq("__lr_feat"), labelCol, folds, grid, complexity = ch.complexity)
    val k = ch.complexity.toDouble
    val n = s.n.toDouble
    2 * k + n * math.log(math.max(s.rss, 1e-12) / n) + (2 * k * (k + 1)) / math.max(n - k - 1, 1.0)
  }
}
