package graft.checkpoint

import graft.exprs.FitStats
import graft.profile.ColumnProfile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.nio.charset.StandardCharsets.UTF_8

/** Snapshot checkpointing for the layered search — the Iceberg-snapshot
  * analog (SURVEY §4.3): each completed layer commits
  *
  *   dir/layer=N/{state.bin, manifest.json}
  *
  * with manifest.json written LAST as the commit marker (a layer directory
  * without a manifest is an aborted write and is ignored). Resume loads the
  * newest committed layer's full search state, so a restarted job skips
  * every completed layer and — because all fitted statistics are restored
  * bit-exactly — continues on the exact float path of the original run
  * (resume == fresh, property-tested).
  *
  * Every commit is driver-side file I/O through the Hadoop `FileSystem` of
  * `dir`, with no Spark job: the state is a collection the driver already
  * holds, so a Spark write would only add job and commit-protocol latency.
  *
  * The audit table (dir/audit.parquet, appended per layer) carries
  * per-candidate metrics; dir/lineage.parquet carries per-partition input
  * lineage (partition id -> row count) per layer. Both stay plain parquet
  * tables that Spark queries.
  */
object Checkpoint {

  final case class SurvivorRow(
      layer: Int, expr: String, score: Double, complexity: Int,
      passed: Boolean, inherited: Boolean)

  final case class SearchState(
      layer: Int,
      seen: Set[String],
      fingerprints: Set[Long],
      scores: Map[String, Double],
      survivors: Seq[SurvivorRow],
      fit: FitStats,
      profiles: Map[String, ColumnProfile],
      /** CV-LR AUC channel of the two-stage oracle (empty when LR is off);
        * persisted so a resumed search selects champions from the same
        * LR-scored pool as the fresh run. */
      lrAuc: Map[String, Double] = Map.empty)

  def layerDir(dir: String, layer: Int) = s"$dir/layer=$layer"

  private val StateFile = "state.bin"
  private val Manifest = "manifest.json"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def save(spark: SparkSession, dir: String, st: SearchState): Unit = {
    val d = new Path(layerDir(dir, st.layer))
    val fs = fsOf(spark, d)
    val (state, tmp, manifest) =
      (new Path(d, StateFile), new Path(d, s"_$StateFile.tmp"), new Path(d, Manifest))
    // uncommit first: a crash below must not leave an old manifest
    // vouching for a half-replaced state
    fs.delete(manifest, false)
    val out = new DataOutputStream(fs.create(tmp, true))
    try StateCodec.write(out, st) finally out.close()
    fs.delete(state, false)
    if (!fs.rename(tmp, state)) throw new IOException(s"cannot rename $tmp to $state")
    // commit marker last
    val m = fs.create(manifest, true)
    try m.write(
      s"""{"layer": ${st.layer}, "survivors": ${st.survivors.size}, "seen": ${st.seen.size}, "complete": true}"""
        .getBytes(UTF_8))
    finally m.close()
  }

  /** Newest committed layer <= maxLayer, if any. */
  def load(spark: SparkSession, dir: String, maxLayer: Int): Option[SearchState] = {
    val fs = fsOf(spark, new Path(dir))
    (1 to maxLayer).reverse
      .find(l => fs.exists(new Path(layerDir(dir, l), Manifest)))
      .map { l =>
        val in = new DataInputStream(fs.open(new Path(layerDir(dir, l), StateFile)))
        try StateCodec.read(in) finally in.close()
      }
  }

  /** Append per-candidate metrics for a layer to the audit table. */
  def appendAudit(spark: SparkSession, dir: String, rows: Seq[SurvivorRow],
      durationMs: Long): Unit =
    appendParquet(spark, s"$dir/audit.parquet",
      """message audit {
        |  required int32 layer; optional binary expr (STRING); required double score;
        |  required int32 complexity; required boolean passed; required boolean inherited;
        |  required int64 duration_ms;
        |}""".stripMargin, rows) { (g, r) =>
      g.append("layer", r.layer).append("expr", r.expr).append("score", r.score)
        .append("complexity", r.complexity).append("passed", r.passed)
        .append("inherited", r.inherited).append("duration_ms", durationMs)
    }

  /** Per-partition row counts of the search input (partition id -> rows,
    * empty partitions omitted): ONE job, run once per search because the
    * input does not change between layers.
    */
  def partitionRows(input: DataFrame): Seq[(Int, Long)] = {
    import input.sparkSession.implicits._
    input.select(lit(1)).mapPartitions { rows =>
      Iterator(TaskContext.getPartitionId() -> rows.foldLeft(0L)((n, _) => n + 1))
    }.collect().toSeq.filter(_._2 > 0)
  }

  /** Append a layer's input lineage ([[partitionRows]]) to the lineage table. */
  def appendLineage(spark: SparkSession, dir: String, layer: Int,
      partitions: Seq[(Int, Long)]): Unit =
    appendParquet(spark, s"$dir/lineage.parquet",
      """message lineage {
        |  required int32 partition_id; required int64 rows; required int32 layer;
        |}""".stripMargin, partitions) { case (g, (p, n)) =>
      g.append("partition_id", p).append("rows", n).append("layer", layer)
    }

  /** Append `rows` to the parquet table directory `table` as one new part
    * file written from the driver. It is written under a hidden name
    * (Spark skips `_`-prefixed files) and renamed into place, so a reader
    * never sees a partial file.
    */
  private def appendParquet[A](spark: SparkSession, table: String, schema: String,
      rows: Seq[A])(fill: (Group, A) => Group): Unit = if (rows.nonEmpty) {
    val conf = spark.sparkContext.hadoopConfiguration
    val name = s"part-${java.util.UUID.randomUUID}.parquet"
    val (tmp, part) = (new Path(table, s"_$name.tmp"), new Path(table, name))
    val fs = fsOf(spark, tmp)
    val tpe = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(tpe)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withType(tpe).withConf(conf).build()
    try rows.foreach(r => w.write(fill(groups.newGroup(), r))) finally w.close()
    if (!fs.rename(tmp, part)) throw new IOException(s"cannot rename $tmp to $part")
  }

  /** Binary encoding of a [[SearchState]]. Doubles are stored as their raw
    * IEEE-754 bits, so every value — NaN payloads and ±Inf included —
    * reads back bit-identical, and the survivor list keeps its order.
    */
  private object StateCodec {
    private val Magic = 0x43444643 // "CDFC"
    private val Version = 1

    def write(out: DataOutputStream, st: SearchState): Unit = {
      def str(s: String): Unit = { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
      def dbl(d: Double): Unit = out.writeLong(java.lang.Double.doubleToRawLongBits(d))
      def all[A](xs: Iterable[A])(f: A => Unit): Unit = { out.writeInt(xs.size); xs.foreach(f) }
      out.writeInt(Magic); out.writeInt(Version)
      out.writeInt(st.layer)
      all(st.seen)(str)
      all(st.fingerprints)(out.writeLong(_))
      all(st.scores) { case (k, v) => str(k); dbl(v) }
      all(st.survivors) { r =>
        out.writeInt(r.layer); str(r.expr); dbl(r.score); out.writeInt(r.complexity)
        out.writeBoolean(r.passed); out.writeBoolean(r.inherited)
      }
      all(st.fit.m) { case (k, v) => str(k); all(v)(dbl) }
      all(st.profiles) { case (k, p) =>
        str(k); str(p.name); out.writeBoolean(p.isNumeric); out.writeLong(p.count)
        out.writeLong(p.missing); dbl(p.min); dbl(p.max); out.writeBoolean(p.hasZero)
        out.writeLong(p.distinct)
      }
      all(st.lrAuc) { case (k, v) => str(k); dbl(v) }
    }

    def read(in: DataInputStream): SearchState = {
      def str(): String = { val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, UTF_8) }
      def dbl(): Double = java.lang.Double.longBitsToDouble(in.readLong())
      def all[A](f: => A): Seq[A] = Seq.fill(in.readInt())(f)
      if (in.readInt() != Magic || in.readInt() != Version)
        throw new IOException("not a search-state file of this version")
      SearchState(
        layer = in.readInt(),
        seen = all(str()).toSet,
        fingerprints = all(in.readLong()).toSet,
        scores = all(str() -> dbl()).toMap,
        survivors = all(SurvivorRow(in.readInt(), str(), dbl(), in.readInt(),
          in.readBoolean(), in.readBoolean())),
        fit = FitStats(all(str() -> all(dbl()).toIndexedSeq).toMap),
        profiles = all(str() -> ColumnProfile(str(), in.readBoolean(), in.readLong(),
          in.readLong(), dbl(), dbl(), in.readBoolean(), in.readLong())).toMap,
        lrAuc = all(str() -> dbl()).toMap)
    }
  }
}
