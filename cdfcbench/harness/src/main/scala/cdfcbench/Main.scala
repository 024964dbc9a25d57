package cdfcbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: one workload, one closed-loop client at local[4].
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--expected <file>]
  *   Main --workload <name> --seed <lo-hi> --record 1 --work <dir>
  *
  * Set-up is session start and input generation, run `Setups` times from
  * scratch (the median counts), plus warm-up ops on the last session. The
  * client then repeats the op for `--seconds` (at least three ops),
  * checking every op's output against the first warm-up op and, when
  * `--expected` records this workload and seed, against the recorded value.
  * With `--trace 1` the run alternates untraced ops with ops traced by
  * [[LayerListener]], and reports per-layer metrics plus the tracing
  * overhead. The last stdout line is the result.
  */
object Main {

  val Cores = 4
  val Setups = 3
  /** Warm-up runs at least this many ops and this much op time. The first
    * op of a JVM is 2-3x a warm one and the second still ~20% slower, so
    * fewer warm-up ops leave the timed ops on a slope.
    */
  val WarmupOps = 2
  val WarmupS = 8.0

  final case class Opts(workload: String, seedSpec: String, seconds: Double, trace: Boolean,
      work: File, expected: Option[File], record: Boolean) {
    def seed: Long = seedSpec.toLong
    /** `--seed lo-hi` in record mode. */
    def seedRange: Seq[Long] = seedSpec.split("-", 2) match {
      case Array(lo, hi) => lo.toLong to hi.toLong
      case Array(one)    => Seq(one.toLong)
    }
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed"), m.getOrElse("seconds", "0").toDouble,
      m.get("trace").contains("1"), new File(need("work")), m.get("expected").map(new File(_)),
      m.get("record").contains("1"))
  }

  def session(local: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("cdfcbench")
      .config("spark.sql.shuffle.partitions", Cores * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples beyond). Under eleven samples, the maximum.
    */
  def tail(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = xs.toSeq.sorted
    if (s.size <= 10) (s.last, 100.0, 0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, 10)
  }

  private def json(m: Iterable[(String, Any)]): String = m.map {
    case (k, v: String) => "\"" + k + "\":\"" + v.replace("\"", "'") + "\""
    case (k, v: Double) => "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    case (k, v)         => "\"" + k + "\":" + v
  }.mkString("{", ",", "}")

  /** Record mode: one session, one op per seed of `--seed lo-hi`, each
    * printed as an `EXPECTED` line.
    */
  def record(wl: Workload, seeds: Seq[Long], work: File): Unit = {
    val spark = session(new File(work, "local"))
    seeds.foreach { seed =>
      val input = new File(work, s"input-$seed")
      wl.generate(spark, input, seed)
      val r = wl.op(spark, input, work, new Spans)
      r.trash.foreach(rm)
      rm(input)
      println(Expected.entry(wl.name, seed, r.signature))
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    o.work.mkdirs()
    if (o.record) return record(wl, o.seedRange, o.work)
    val local = new File(o.work, "local")
    val expected = o.expected.flatMap(Expected.lookup(_, wl.name, o.seed))

    var attempted = 0
    var failed = 0
    var reference: Option[Signature] = None
    val mismatches = mutable.ArrayBuffer.empty[String]
    /** Run one op with its check; deletes what it left behind afterwards.
      * An op that throws or differs from its reference is a failed op.
      */
    def runOp(spark: SparkSession, input: File): (Double, Spans, Option[OpResult]) = {
      val spans = new Spans
      val t0 = System.nanoTime()
      val r = try Some(wl.op(spark, input, o.work, spans)) catch {
        case NonFatal(e) => mismatches += s"op threw $e"; None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      r.foreach(_.trash.foreach(rm))
      attempted += 1
      val ok = r.exists { res =>
        val sig = res.signature
        if (reference.isEmpty) reference = Some(sig)
        val bad = Seq(
          reference.filter(_ != sig).map(x => s"op differs from first op: $sig vs $x"),
          expected.filter(_ != sig).map(x => s"op differs from recorded seed ${o.seed}: $sig vs $x"))
          .flatten
        mismatches ++= bad
        bad.isEmpty
      }
      if (!ok) failed += 1
      (dt, spans, r)
    }

    // ---- set-up: session start and input generation, from scratch each
    // time (the median is reported), then warm-up ops on the last session
    var spark: SparkSession = null
    var input: File = null
    val startS = (1 to Setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        rm(input)
        rm(local)
      }
      val t0 = System.nanoTime()
      spark = session(local)
      input = new File(o.work, s"input-$k")
      wl.generate(spark, input, o.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = {
      val t0 = System.nanoTime()
      var ops = 0
      while (ops < WarmupOps || System.nanoTime() - t0 < (WarmupS * 1e9).toLong) {
        runOp(spark, input)
        ops += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = median(startS) + warmS

    // zero-shuffle control job over the same input: moves only with host load
    def control(): Double = {
      val t0 = System.nanoTime()
      graft.Bench.force(spark.read.parquet(input.getPath))
      (System.nanoTime() - t0) / 1e9
    }
    val ctlBefore = (1 to 3).map(_ => control())

    def settle(lastEventMs: () => Long): Unit = {
      // the listener bus is asynchronous: wait until it has been quiet
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() - lastEventMs() < 300 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }

    val host = json(Seq(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> (if (o.trace) 1 else 0),
      "nproc" -> Runtime.getRuntime.availableProcessors(), "local_cores" -> Cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
      "input_turns" -> wl.turns, "expected_recorded" -> expected.isDefined))
    println(s"host $host")

    val metrics: Seq[(String, Double, String)] = if (!o.trace) {
      // the closed loop: the next op starts when the previous one ends
      val end = System.nanoTime() + (o.seconds * 1e9).toLong
      val times = mutable.ArrayBuffer.empty[Double]
      while (times.size < 3 || System.nanoTime() < end) times += runOp(spark, input)._1
      val p50 = median(times)
      // printed, not a metric: with ten ops or fewer it is the maximum,
      // whose run-to-run spread is wider than any bound BENCHMARK.json may set
      val (tv, tp, beyond) = tail(times)
      println(f"op_s.tail $tv%.6f s: p$tp%.1f of ${times.size} ops ($beyond beyond it)")
      println(s"op_s all: ${times.map(t => f"$t%.3f").mkString(" ")}")
      Seq(
        ("op_s.p50", p50, "s"),
        ("turns_per_s", wl.turns / p50, "turns/s"),
        ("setup_s", setupS, "s"),
        ("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
    } else {
      val heap = new HeapWatch
      val tracer = new LayerListener
      spark.sparkContext.addSparkListener(tracer)
      // untraced and traced ops alternate, so neither the JIT's warm-up
      // slope nor host drift biases trace.overhead_s
      val plain = mutable.ArrayBuffer.empty[(Double, Spans, Option[OpResult])]
      val traced = mutable.ArrayBuffer.empty[(Double, Spans, Option[OpResult])]
      val end = System.nanoTime() + (o.seconds * 1e9).toLong
      heap.armed = true
      while (traced.isEmpty || System.nanoTime() < end) {
        if (plain.size <= traced.size) plain += runOp(spark, input)
        else {
          tracer.on = true
          traced += runOp(spark, input)
          settle(() => tracer.lastEventMs)
          tracer.on = false
        }
      }
      heap.armed = false
      val perOp = traced.map { case (_, sp, _) => tracer.attribute(sp) ++ sp.counts }
      tracer.unattributedSites(traced.map(_._2).toSeq).take(8).foreach { case (site, n) =>
        println(s"unattributed x$n: $site") }
      val tracedP50 = median(traced.map(_._1))
      val layer = perOp.map(_ ++ Map(
        "heap_peak_mb" -> heap.peakBytes / 1048576.0,
        "trace.op_s.p50" -> tracedP50,
        "trace.overhead_s" -> (tracedP50 - median(plain.map(_._1)))))
      Layers.PerLayer.map(n => (n, median(layer.map(_.getOrElse(n, 0.0))), Units.of(n)))
    }
    val ctlAfter = (1 to 3).map(_ => control())
    val ctlSpread = (ctlBefore ++ ctlAfter).max / (ctlBefore ++ ctlAfter).min
    println(f"control job: before ${median(ctlBefore)}%.4f s, after ${median(ctlAfter)}%.4f s, " +
      f"spread $ctlSpread%.3fx")
    val reported = metrics.map {
      case ("host.control_spread", _, u) => ("host.control_spread", ctlSpread, u)
      case m                             => m
    }
    println(f"setup_s: session start + input ${startS.map(s => f"$s%.3f").mkString(", ")} s " +
      f"(median ${median(startS)}%.3f) + warm-up ops $warmS%.3f s")
    mismatches.distinct.take(5).foreach(m => println(s"MISMATCH $m"))
    reported.foreach { case (n, v, u) => println(f"$n%-28s $v%16.6f $u") }
    if (!o.trace) println(f"fail_ratio ${failed.toDouble / attempted}%.4f ($failed of $attempted ops)")
    spark.stop()

    val ms = reported.map { case (n, v, u) =>
      n -> json(Seq("value" -> v, "unit" -> u)) }
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
  }
}
