package graft.checkpoint

import graft.SparkSpec
import graft.exprs._
import graft.profile.ColumnProfile
import graft.search.{Cdfc, CdfcConfig}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class CheckpointSpec extends SparkSpec {

  private def planted = spark.range(3000).select(
    (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
    (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
    .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))

  // lrTopK=0: checkpoint MECHANICS under test (resume under the LR stage,
  // whose AUC channel rides in the same state file, is covered by CdfcSpec
  // "resume under lrTopK")
  private val cfg = CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
    unaryOps = Seq(UnaryOp.Minus, UnaryOp.Log, UnaryOp.MinMax), groupByAggs = Seq.empty,
    lrTopK = 0)

  test("resume equals fresh: restart mid-search continues on the same path") {
    val dir = Files.createTempDirectory("ckpt").toString
    val df = planted
    val fresh = new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"), cfg).run()

    // partial run: stop after layer 2 (cMax=2), committing layers 1-2
    new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    assert(Files.exists(Paths.get(s"$dir/layer=2/manifest.json")))

    // resumed run to cMax=3 picks up from the checkpoint
    val resumed = new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg, Some(dir)).run()

    def canon(r: graft.search.CdfcResult) =
      r.survivors.map(s => (s.key, s.complexity, math.rint(s.score * 1e9), s.passed, s.inherited)).sortBy(_._1)
    assert(canon(resumed) == canon(fresh))
    assert(resumed.best.key == fresh.best.key)
    assert(math.abs(resumed.best.score - fresh.best.score) < 1e-12)
  }

  test("audit and lineage tables are appended per layer") {
    val dir = Files.createTempDirectory("ckpt2").toString
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    val audit = spark.read.parquet(s"$dir/audit.parquet")
    assert(audit.count() > 0)
    assert(audit.columns.toSet ==
      Set("layer", "expr", "score", "complexity", "passed", "inherited", "duration_ms"))
    val lineage = spark.read.parquet(s"$dir/lineage.parquet")
    assert(lineage.select("layer").distinct().count() == 2)
    assert(lineage.agg(sum("rows")).head().getLong(0) == 3000L * 2)
  }

  test("aborted layer (no manifest) is ignored on load") {
    val dir = Files.createTempDirectory("ckpt3").toString
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    // simulate a crash mid-commit of layer 3: parquet written, no manifest
    Files.createDirectories(Paths.get(s"$dir/layer=3"))
    val st = Checkpoint.load(spark, dir, 5)
    assert(st.exists(_.layer == 2))
  }

  test("state file round-trips every double bit-exactly, NaN and infinities included") {
    import Checkpoint.{SearchState, SurvivorRow}
    val nanPayload = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val odd = Seq(Double.NaN, nanPayload, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, Double.MinPositiveValue)
    val st = SearchState(
      layer = 4,
      seen = Set("x1", "mul(x1,x2)", "log(x2)"),
      fingerprints = Set(Long.MinValue, 0L, 42L),
      scores = Map("x1" -> 0.25, "log(x2)" -> Double.NaN),
      survivors = Seq(
        SurvivorRow(2, "mul(x1,x2)", Double.PositiveInfinity, 2, passed = true, inherited = false),
        SurvivorRow(1, "x1", 0.25, 1, passed = true, inherited = false),
        SurvivorRow(2, "minus(x1)", nanPayload, 2, passed = false, inherited = true)),
      fit = FitStats(Map("minmax(x1)" -> odd.toIndexedSeq, "empty" -> IndexedSeq.empty)),
      profiles = Map(
        "x1" -> ColumnProfile("x1", isNumeric = true, 3000L, 0L, 0.5, 1.49, hasZero = false, 100L),
        "log(x2)" -> ColumnProfile("log(x2)", isNumeric = true, 3000L, 7L,
          Double.NegativeInfinity, Double.NaN, hasZero = true, 99L)),
      lrAuc = Map("x1" -> 0.731, "mul(x1,x2)" -> 1.0))
    val dir = Files.createTempDirectory("ckpt4").toString
    Checkpoint.save(spark, dir, st)
    val back = Checkpoint.load(spark, dir, 9).get

    // the state with every double replaced by its raw IEEE-754 bits
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def raw(s: SearchState) = (s.layer, s.seen, s.fingerprints,
      s.scores.map { case (k, v) => k -> bits(v) },
      s.survivors.map(r => r.copy(score = 0.0) -> bits(r.score)),
      s.fit.m.map { case (k, v) => k -> v.map(bits) },
      s.profiles.map { case (k, p) => k -> (p.copy(min = 0.0, max = 0.0), bits(p.min), bits(p.max)) },
      s.lrAuc.map { case (k, v) => k -> bits(v) })
    assert(raw(back) == raw(st))
  }

  test("a leftover temp state file without a manifest is ignored on load") {
    val dir = Files.createTempDirectory("ckpt5").toString
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    // simulate a crash while layer 3 was writing its state: a partial temp
    // file is on disk, the rename and the manifest never happened
    Files.createDirectories(Paths.get(s"$dir/layer=3"))
    Files.write(Paths.get(s"$dir/layer=3/_state.bin.tmp"), Array[Byte](1, 2, 3))
    assert(Checkpoint.load(spark, dir, 5).map(_.layer).contains(2))
    // and a resumed run commits layer 3 over the leftover
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"), cfg, Some(dir)).run()
    assert(Checkpoint.load(spark, dir, 5).map(_.layer).contains(3))
  }
}
