package cdfcbench

import graft.Bench
import graft.ScalingBench
import graft.exprs.{AggKind, Lower, UnaryOp}
import graft.search.{Cdfc, CdfcConfig, CdfcResult, FeatureConstructor, LayerBuilder}
import graft.transcripts.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File

/** The identity of an op's output, which a repeated op must reproduce
  * exactly: the `Bench.force` checksum, plus the search's champion key and
  * the ordered keys of its passed survivors.
  */
final case class Signature(checksum: Long, champion: String, features: Seq[String])

/** What one op produced, and the directories it left behind (deleted after
  * the op, outside the timed interval).
  */
final case class OpResult(signature: Signature, trash: Seq[File])

/** One closed-loop workload: seeded input generation plus the op the single
  * client repeats. Every call into the engine goes through its public entry
  * points, wrapped in a [[Spans]] span named after the layer it enters.
  */
sealed trait Workload {
  def name: String
  /** Rows of the generated transcripts table, the unit of `turns_per_s`. */
  def turns: Long
  def generate(spark: SparkSession, inputDir: File, seed: Long): Unit
  def op(spark: SparkSession, inputDir: File, scratch: File, spans: Spans): OpResult
}

object Workloads {

  lazy val all: Seq[Workload] = Seq(SearchLr, Features, FeaturesHot)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** Seeded synthetic transcripts written once per setup; the seed selects
    * every generated value, so a claim can be rechecked on an unseen seed.
    */
  private def writeTranscripts(spark: SparkSession, dir: File, seed: Long,
      turns: Long, convs: Int, zipf: Double): Unit =
    Transcripts.synthetic(spark, turns, convs, seed = seed, zipf = zipf)
      .write.parquet(dir.getPath)

  /** Bytes under a directory: the footprint a layer left on disk. */
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private val BaseCols = Seq("conv_id", "turn_idx", "text_len", "gap_secs",
    "roll5_mean_len", "run_mean_len", "turn_pos", "role", "prev_role", "label_next_tool")
  private val RawNumeric = Seq("text_len", "gap_secs", "turn_pos")
  private val RawCategorical = Seq("role")
  private val GroupKeys = Seq("conv_id")
  private val Label = "label_next_tool"

  // The search is job-latency bound (~130 Spark jobs per op), so a small
  // input keeps an op near ten seconds without changing its job shape.
  private final val SearchTurns = 10000L
  private final val SearchConvs = 200

  /** The snapshot span: base features over the raw transcripts, written
    * once as the parquet snapshot every search job then scans.
    */
  private def snapshotBase(spark: SparkSession, inputDir: File, spans: Spans): (DataFrame, File) =
    spans.span("snapshot") {
      val base = FeatureConstructor.snapshot(
        FeatureConstructor.baseFeatures(spark.read.parquet(inputDir.getPath))
          .select(BaseCols.map(col): _*))
      val dir = new File(new java.net.URI(base.inputFiles.head)).getParentFile
      spans.count("snapshot.bytes_written", dirBytes(dir).toDouble)
      (base, dir)
    }

  /** Counts taken from the search's public return value only. */
  private def countSearch(res: CdfcResult, spans: Spans): Unit = {
    val enumerated = res.layers.map(_.enumerated).sum.toDouble
    val survived = res.layers.map(_.survived).sum.toDouble
    // a survivor was LR-rescored when its recorded score IS its AUC (the
    // rest of lrAuc are gain parents scored only as baselines)
    val rescored = res.survivors.filter(s =>
      !s.inherited && res.lrAuc.get(s.key).contains(s.score))
    spans.count("search.enumerated", enumerated)
    spans.count("search.survived", survived)
    spans.count("search.dropped", res.layers.map(_.dropped).sum.toDouble)
    spans.count("search.survival_ratio", if (enumerated > 0) survived / enumerated else 0.0)
    spans.count("lr.rescored", rescored.size.toDouble)
    spans.count("lr.accept_ratio",
      if (rescored.nonEmpty) rescored.count(_.passed).toDouble / rescored.size else 0.0)
  }

  /** The two-stage MI -> CV-LR search over a fresh snapshot, committing a
    * checkpoint per layer, then the passed survivors materialized over the
    * base and forced: every search layer in one op. The lattice is cut to
    * two layers over three numeric and one categorical column so that a
    * run holds a few ops.
    */
  object SearchLr extends Workload {
    val name = "search_lr"
    val turns: Long = SearchTurns
    private val cfg = CdfcConfig(cMax = 2, maxLayerWidth = 16, batchSize = 16, lrTopK = 1,
      unaryOps = Seq(UnaryOp.Minus, UnaryOp.Log, UnaryOp.MinMax, UnaryOp.MDLP),
      groupByAggs = Seq(AggKind.Mean, AggKind.Max))

    def generate(spark: SparkSession, inputDir: File, seed: Long): Unit =
      writeTranscripts(spark, inputDir, seed, SearchTurns, SearchConvs, 0.8)

    def op(spark: SparkSession, inputDir: File, scratch: File, spans: Spans): OpResult = {
      val (base, snapDir) = snapshotBase(spark, inputDir, spans)
      val ckpt = new File(scratch, s"ckpt-${java.util.UUID.randomUUID}")
      val res = spans.span("fit") {
        new Cdfc(base, RawNumeric, RawCategorical, GroupKeys, col(Label), cfg,
          Some(ckpt.getPath)).run()
      }
      spans.count("checkpoint.bytes_written", dirBytes(ckpt).toDouble)
      countSearch(res, spans)
      val passed = res.survivors.filter(_.passed).map(s => s"feat_${Lower.alias(s.expr)}" -> s.expr)
      val chk = spans.span("transform") {
        Bench.force(LayerBuilder.select(base, base.columns.toSeq, passed, res.fit))
      }
      OpResult(Signature(chk, res.best.key, res.survivors.filter(_.passed).map(_.key)),
        Seq(snapDir, ckpt))
    }
  }

  /** The flagship point-in-time feature job over seeded transcripts. */
  sealed abstract class FlagshipWorkload(val name: String, val turns: Long,
      convs: Int, zipf: Double) extends Workload {
    def generate(spark: SparkSession, inputDir: File, seed: Long): Unit =
      writeTranscripts(spark, inputDir, seed, turns, convs, zipf)

    def op(spark: SparkSession, inputDir: File, scratch: File, spans: Spans): OpResult = {
      val chk = spans.span("features") {
        Bench.force(ScalingBench.flagshipPipeline(spark.read.parquet(inputDir.getPath)))
      }
      OpResult(Signature(chk, "", Seq.empty), Seq.empty)
    }
  }

  private final val FlagshipTurns = 300000L
  private final val FlagshipConvs = 1500

  object Features extends FlagshipWorkload("features", FlagshipTurns, FlagshipConvs, 0.8)

  /** Same job, one conversation holding ~60% of the turns: the generator
    * puts P(rank 0) = (1/convs)^(1/(1+zipf)), so 1+zipf = ln(convs)/-ln(0.6).
    */
  object FeaturesHot extends FlagshipWorkload("features_hot", FlagshipTurns, FlagshipConvs,
    math.log(FlagshipConvs.toDouble) / -math.log(0.6) - 1.0)
}
