package cdfcbench

import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span the benchmark records around one public call of one op. Times are
  * wall-clock milliseconds, the clock Spark stamps its listener events with.
  */
final case class Span(name: String, startMs: Long, endMs: Long) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spans and counts of the op in progress; the harness starts a fresh one
  * per op and keeps every finished op's record in memory until the run ends.
  */
final class Spans {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body
    finally spans += Span(name, t0, System.currentTimeMillis())
  }

  def count(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v
}

/** Largest heap occupancy right after a collection, read from the JVM's
  * memory pools through GC notifications, while `armed`.
  */
final class HeapWatch extends NotificationListener {
  @volatile var armed = false
  @volatile var peakBytes = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _                       =>
  }

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (armed && n.getType == "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (after > peakBytes) peakBytes = after
    }
}

/** The traced run's view of Spark: every job, stage and task, kept in memory
  * and attributed to layers after the timed ops end. Registered from the
  * benchmark; the engine carries no hook for it.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** Records only while on; the harness switches it per op. */
  @volatile var on = false
  @volatile var lastEventMs = 0L

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val props = Option(e.properties)
    val pool = props.flatMap(p => Option(p.getProperty("spark.scheduler.pool"))).getOrElse("")
    // the newest stage is the job's result stage and carries its call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, Job(e.jobId, e.time, pool, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.putIfAbsent(e.stageInfo.stageId, t))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(Task(e.stageId, i.launchTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      i.failed || i.killed))
    touch()
  }

  /** Per-layer metrics of one op from its spans, jobs, stages and tasks. */
  def attribute(op: Spans): Map[String, Double] = {
    val from = op.spans.map(_.startMs).min
    val to = op.spans.map(_.endMs).max
    val opJobs = jobs.values.asScala.filter(j => j.startMs >= from && j.startMs <= to).toSeq
    val spanOf = opJobs.map(j => j.id -> op.spans.find(_.contains(j.startMs)).map(_.name)).toMap
    val layerOf: Map[Int, String] = opJobs.map { j =>
      j.id -> (spanOf(j.id) match {
        case Some("snapshot")  => "snapshot"
        case Some("features")  => "features"
        case Some("transform") => "materialize"
        case Some("fit")       => Layers.classify(j.pool, j.site)
        case _                 => "unattributed"
      })
    }.toMap
    val byStage = tasks.asScala.toSeq.filter(t => Option(stageJob.get(t.stage)).exists(layerOf.contains))
      .groupBy(_.stage)
    def stageLayer(stage: Int) = layerOf(stageJob.get(stage))
    def wait(ts: Seq[Task]) = ts.map { t =>
      math.max(0L, t.launchMs - stageSubmitMs.getOrDefault(t.stage, t.launchMs))
    }.sum / 1000.0
    def taskS(ts: Seq[Task]) = ts.map(_.runMs).sum / 1000.0
    def failed(ts: Seq[Task]) = ts.count(_.failed).toDouble
    def jobsOf(layer: String) = opJobs.filter(j => layerOf(j.id) == layer)
    def tasksOfLayer(layer: String) =
      byStage.toSeq.filter { case (s, _) => stageLayer(s) == layer }.flatMap(_._2)
    // window-core stages: in the snapshot and features spans, a stage that
    // reads input is scan, a stage that reads a shuffle is windows
    val core = byStage.toSeq.filter { case (s, _) =>
      Set("snapshot", "features")(stageLayer(s)) }
    val scan = core.filter(_._2.exists(_.inputBytes > 0)).flatMap(_._2)
    val winStages = core.filter { case (_, ts) =>
      !ts.exists(_.inputBytes > 0) && ts.exists(_.shuffleRead > 0) }
    val win = winStages.flatMap(_._2)
    val skew = winStages.map { case (_, ts) =>
      val d = ts.map(_.runMs.toDouble).sorted
      if (d.size < 2) 1.0 else d.last / math.max(1.0, d((d.size - 1) / 2))
    }.maxOption.getOrElse(0.0)
    val out = mutable.LinkedHashMap[String, Double](
      "scan.task_s" -> taskS(scan),
      "scan.input_bytes" -> scan.map(_.inputBytes).sum.toDouble,
      "scan.shuffle_write_bytes" -> scan.map(_.shuffleWrite).sum.toDouble,
      "scan.failed_tasks" -> failed(scan),
      "windows.task_s" -> taskS(win),
      "windows.wait_s" -> wait(win),
      "windows.shuffle_read_bytes" -> win.map(_.shuffleRead).sum.toDouble,
      "windows.spill_bytes" -> win.map(_.spill).sum.toDouble,
      "windows.task_skew" -> skew,
      "windows.failed_tasks" -> failed(win),
      "snapshot.wall_s" -> op.spans.filter(_.name == "snapshot").map(_.wallS).sum,
      "snapshot.failed_tasks" -> failed(tasksOfLayer("snapshot")))
    for (layer <- Seq("score", "lr", "checkpoint")) {
      val ts = tasksOfLayer(layer)
      out(s"$layer.jobs") = jobsOf(layer).size.toDouble
      out(s"$layer.job_s") = Layers.unionS(jobsOf(layer).map(j => (j.startMs, j.endMs)))
      out(s"$layer.task_s") = taskS(ts)
      out(s"$layer.wait_s") = wait(ts)
      out(s"$layer.failed_tasks") = failed(ts)
    }
    val mat = tasksOfLayer("materialize")
    out("materialize.wall_s") = op.spans.filter(_.name == "transform").map(_.wallS).sum
    out("materialize.jobs") = jobsOf("materialize").size.toDouble
    out("materialize.shuffle_bytes") = mat.map(_.shuffleWrite).sum.toDouble
    out("materialize.failed_tasks") = failed(mat)
    // search driver time: the fit span's wall not covered by any job
    out("search.driver_s") = op.spans.filter(_.name == "fit").map { s =>
      val inFit = opJobs.filter(j => s.contains(j.startMs)).map(j =>
        (j.startMs, math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      s.wallS - Layers.unionS(inFit)
    }.sum
    out("cpu_s") = byStage.values.flatten.map(_.cpuNs).sum / 1e9
    out("spark.jobs") = opJobs.size.toDouble
    out("spark.tasks") = byStage.values.map(_.size).sum.toDouble
    out("unattributed.jobs") = jobsOf("unattributed").size.toDouble
    out("unattributed.job_s") = Layers.unionS(jobsOf("unattributed").map(j => (j.startMs, j.endMs)))
    out.toMap
  }

  /** Call sites of the unattributed jobs of `ops`, most frequent first. */
  def unattributedSites(ops: Seq[Spans]): Seq[(String, Int)] =
    jobs.values.asScala.toSeq
      .filter(j => ops.exists(_.spans.exists(s => s.name == "fit" && s.contains(j.startMs))))
      .filter(j => Layers.classify(j.pool, j.site) == "unattributed")
      .map(j => s"pool=${j.pool} " + j.site.linesIterator.take(4).map(_.trim).mkString(" <- "))
      .groupBy(identity).map { case (k, v) => k -> v.size }.toSeq.sortBy(-_._2)
}

object LayerListener {
  final case class Job(id: Int, startMs: Long, pool: String, site: String) {
    @volatile var endMs: Long = -1L
  }
  final case class Task(stage: Int, launchMs: Long, runMs: Long, cpuNs: Long,
      inputBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
}

object Layers {

  /** Every metric a traced run reports, zero where a workload leaves a
    * layer idle. BENCHMARK.json's `per_layer` lists the same names.
    */
  val PerLayer: Seq[String] = Seq(
    "scan.task_s", "scan.input_bytes", "scan.shuffle_write_bytes", "scan.failed_tasks",
    "windows.task_s", "windows.wait_s", "windows.shuffle_read_bytes", "windows.spill_bytes",
    "windows.task_skew", "windows.failed_tasks",
    "snapshot.wall_s", "snapshot.bytes_written", "snapshot.failed_tasks",
    "search.driver_s", "search.enumerated", "search.survived", "search.dropped",
    "search.survival_ratio",
    "score.jobs", "score.job_s", "score.task_s", "score.wait_s", "score.failed_tasks",
    "lr.jobs", "lr.job_s", "lr.task_s", "lr.wait_s", "lr.failed_tasks", "lr.rescored",
    "lr.accept_ratio",
    "materialize.wall_s", "materialize.jobs", "materialize.shuffle_bytes",
    "materialize.failed_tasks",
    "checkpoint.jobs", "checkpoint.job_s", "checkpoint.task_s", "checkpoint.wait_s",
    "checkpoint.bytes_written", "checkpoint.failed_tasks",
    "spark.jobs", "spark.tasks", "unattributed.jobs", "unattributed.job_s",
    "cpu_s", "heap_peak_mb",
    "trace.op_s.p50", "trace.overhead_s", "host.control_spread")

  /** Layer of a job issued inside the search, from the two signals the
    * engine already emits: the FAIR pool its fit threads name, then the
    * innermost `graft.` frame of its call site. Anything else is not guessed.
    */
  def classify(pool: String, site: String): String = {
    val byPool = PoolLayers.collectFirst { case (p, l) if pool.startsWith(p) => l }
    byPool.getOrElse {
      site.linesIterator.map(_.trim.stripPrefix("at "))
        .flatMap(f => FrameLayers.collectFirst { case (p, l) if f.startsWith(p) => l })
        .nextOption().getOrElse("unattributed")
    }
  }

  /** FAIR pools the engine's fit threads run in, by name prefix. */
  private val PoolLayers = Seq(
    "cdfc-lr-" -> "lr", "lr-cv-" -> "lr", "lr-rcv-" -> "lr",
    "miscore-" -> "score", "fitter-" -> "score", "ckpt-" -> "checkpoint")

  /** Call-site frames of each layer's modules; the innermost match wins. */
  private val FrameLayers = Seq(
    "graft.checkpoint." -> "checkpoint",
    "graft.search.LrScorer" -> "lr", "graft.search.FitPool" -> "unattributed",
    "graft.search.Cdfc.lrAucBatch" -> "lr",
    "graft.search.MIScorer" -> "score", "graft.profile.Profiler" -> "score",
    "graft.exprs.Fitter" -> "score",
    "graft.search.LayerBuilder" -> "materialize", "graft.exprs.Lower" -> "materialize")

  /** Length in seconds of the union of [start, end] millisecond intervals. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}

/** Units of the per-layer metrics, from their names. */
object Units {
  def of(name: String): String =
    if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s") || name.endsWith("_s.p50")) "s"
    else if (Seq("ratio", "skew", "spread").exists(name.endsWith)) "ratio"
    else "count"
}
