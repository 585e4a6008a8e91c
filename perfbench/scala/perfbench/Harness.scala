package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, count, lit}

import graft.{Ckpt, GraftSession, SparkEntry}
import graft.operators.{Analytics, BenchOps, Curation, Dedup, Similarity, TextOps}
import graft.sources.{FooterMeta, ParquetKnobs, WideTableGen}
import graft.streaming.EventStreams

/** Runs one workload in one JVM and writes every operation, span and
  * counter it saw to a JSON file. All arithmetic on those records
  * (medians, percentiles, layer sums) is done by `perfbench/run.py`.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <cpus> <work dir> <out.json> [<data dir> <panel.json>]
  *
  * Load shape: one driver thread issues operations in a closed loop
  * (the next starts when the previous one returns). Pass 0 runs every
  * operation kind once in a fixed order (the cold pass), settling passes
  * follow, then whole warm passes run them in seeded orders for about
  * `seconds`.
  */
object Harness {
  /** Output facts of one operation, read outside the timed call. */
  final case class Outcome(error: Option[String], extra: Map[String, Double] = Map.empty)
  final case class OpRecord(
      id: Int, kind: String, pass: Int, startMs: Long,
      wallS: Double, buildS: Double, error: Option[String],
      counters: Map[String, Double], extra: Map[String, Double])

  // Fixture shapes. perfbench/WORKLOADS.md explains the choices.
  val WideCols = 5000; val WideRows = 200L
  val DeepCols = 500; val DeepRows = 10000L; val DeepFiles = 4
  val SubsetShare = 10
  // Settling time before the warm passes; perfbench/WORKLOADS.md gives
  // the pass-time curves they come from. `registry` settles for one pass.
  val WideReadSettleS = 15.0
  val WideWriteSettleS = 8.0
  val WriteCols = 250; val WriteRows = 8000L; val WriteTasks = 4

  private val threads = ManagementFactory.getThreadMXBean
  private def codegenNs: Long = CodeGenerator.compileTime + WholeStageCodegenExec.codeGenTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, cpus, workDir, outFile) = args.take(7)
    val extraArgs = args.drop(7)
    val seed = seedArg.toLong
    val h = new Harness(workload, seed, secondsArg.toDouble, traceArg == "1", cpus.toInt, workDir)
    val result =
      try h.run(extraArgs)
      finally h.spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(outFile), result ++ Map("peak_rss_kb" -> vmHwmKb()))
  }

  /** Bytes this process has read through read syscalls (/proc/self/io
    * `rchar`), page-cache hits included. Spark's own input metrics miss
    * reads that Hadoop's vectored IO runs on other threads.
    */
  def readChars(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Registry key → module, for the per-module totals. */
  def moduleOf(key: String): String = {
    val mods = Seq(
      "analytics" -> Analytics.registry, "benchops" -> BenchOps.registry,
      "dedup" -> Dedup.registry, "similarity" -> Similarity.registry,
      "textops" -> TextOps.registry, "curation" -> Curation.registry,
      "streaming" -> EventStreams.registry)
    mods.collectFirst { case (m, reg) if reg.contains(key) => m }.getOrElse("other")
  }

  /** Reads a footer straight through parquet-mr, independent of the
    * engine code under test.
    */
  def footer(conf: Configuration, file: String): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getFooter finally r.close()
  }

  def partFiles(dir: String): Seq[String] =
    new File(dir).listFiles().toSeq.map(_.getPath).filter(_.endsWith(".parquet")).sorted
}

final class Harness(workload: String, seed: Long, seconds: Double, trace: Boolean, cpus: Int, workDir: String) {
  import Harness._

  val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus.toString)
    .config("graft.work.dir", s"$workDir/graft")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sc = spark.sparkContext
  private val conf = sc.hadoopConfiguration
  private val tracer = new Tracer(trace)
  private val counters = new Counters
  sc.addSparkListener(counters)
  spark.streams.addListener(counters.streams)
  spark.listenerManager.register(counters.plans)

  private val ops = ArrayBuffer.empty[OpRecord]
  private val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0
  private val rng = new Random(seed)

  private def phase(p: String): Unit = sc.setLocalProperty(Counters.PhaseProp, p)

  /** Times `build` and then `exec` on a fresh operation id; `check`
    * runs afterwards, untimed, on what they returned. Set-up writes are
    * operations too, with pass -1.
    */
  private def runOp[B, R](kind: String, pass: Int)(build: => B)(exec: B => R)(check: (B, R) => Outcome): Unit = {
    nextOp += 1
    val id = nextOp
    tracer.op = id
    counters.currentOp = id
    sc.setLocalProperty(Counters.OpProp, id.toString)
    val io0 = readChars()
    val cg0 = codegenNs
    val drv0 = threads.getCurrentThreadCpuTime
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tb = t0
    var outcome: Either[String, (B, R)] = Left("not run")
    tracer(kind) {
      outcome =
        try {
          phase("build")
          val b = tracer("build")(build)
          tb = System.nanoTime()
          phase("exec")
          Right((b, tracer("exec")(exec(b))))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }
    val t1 = System.nanoTime()
    val drv1 = threads.getCurrentThreadCpuTime
    val cg1 = codegenNs
    val io1 = readChars()
    phase("check")
    PerfbenchBus.drain(sc)
    val checked = outcome match {
      case Left(err) => Outcome(Some(err))
      case Right((b, r)) =>
        try check(b, r)
        catch { case e: Throwable => Outcome(Some(s"check: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))) }
    }
    PerfbenchBus.drain(sc)
    val built = outcome.toOption.map(_._1).collect {
      case d: Dataset[_] => d.queryExecution
      case (d: Dataset[_], _) => d.queryExecution
    }
    val qes = (built.toSeq ++ counters.queries.asScala.filter(_._1 == id).map(_._2)).distinct
    counters.queries.removeIf(_._1 <= id)
    val planMs = Seq("analysis", "optimization", "planning").map { p =>
      val spans = qes.flatMap(_.tracker.phases.get(p))
      spans.foreach(s => tracer.attach(s"plan.$p",
        s.startTimeMs * 1000000L - epochOffsetNs, s.endTimeMs * 1000000L - epochOffsetNs))
      s"plan.${p}_ms" -> spans.map(_.durationMs.toDouble).sum
    }.toMap
    ops += OpRecord(id, kind, pass, startMs, (t1 - t0) / 1e9, (tb - t0) / 1e9, checked.error,
      counters.of(id) ++ planMs ++ Map(
        "exec.codegen_ms" -> (cg1 - cg0) / 1e6,
        "driver.cpu_ns" -> (drv1 - drv0).toDouble,
        "read_chars" -> (io1 - io0).toDouble),
      checked.extra)
    tracer.op = 0
    counters.currentOp = 0
  }

  private def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  private def rowsOf(obs: Observation): Long = obs.get("rows").asInstanceOf[Long]

  private def fail(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)

  private object plans extends AdaptiveSparkPlanHelper

  /** The read schema of every file scan the current operation executed,
    * from the physical plans its actions ran, so a projection that does
    * not reach the Parquet reader fails the check.
    */
  private def scannedColumns(): Seq[Seq[String]] =
    counters.queries.asScala.toSeq.filter(_._1 == nextOp).flatMap { case (_, qe) =>
      plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
    }

  /** Rows of each of `tasks` partitions of `spark.range(0, rows, 1, tasks)`. */
  private def shares(rows: Long, tasks: Int): Seq[Long] =
    (0 until tasks).map(i => (i + 1) * rows / tasks - i * rows / tasks)

  /** Footer facts of a written table, checked against its requested shape. */
  private def checkWritten(dir: String, cols: Int, rows: Long, tasks: Int, codec: String): Outcome = {
    val files = partFiles(dir)
    val feet = files.map(footer(conf, _))
    val codecs = feet.flatMap(_.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)))
    val fileCols = feet.map(_.getFileMetaData.getSchema.getColumns.size)
    val fileRows = feet.map(_.getBlocks.asScala.map(_.getRowCount).sum)
    val err = fail(files.size == tasks, s"${files.size} files, wanted $tasks")
      .orElse(fail(fileCols.forall(_ == cols), s"column counts $fileCols, wanted $cols"))
      .orElse(fail(fileRows.sorted == shares(rows, tasks).sorted,
        s"rows per file $fileRows, wanted ${shares(rows, tasks)}"))
      .orElse(fail(codecs.forall(_.equalsIgnoreCase(codec)), s"codecs ${codecs.distinct}, wanted $codec"))
    Outcome(err, Map(
      "files" -> files.size.toDouble,
      "row_groups" -> feet.map(_.getBlocks.size).sum.toDouble,
      "bytes" -> files.map(f => new File(f).length).sum.toDouble,
      "user_bytes" -> rows.toDouble * cols * 4))
  }

  /** In traced runs only: the generator of the write just timed, alone,
    * to the noop sink, charged to that write, so the trace can split it
    * into generation and encoding.
    */
  private def genProbe(cols: Int, rows: Long, tasks: Int, tableSeed: Long): Unit = if (trace) {
    tracer.op = nextOp
    sc.setLocalProperty(Counters.OpProp, tracer.op.toString)
    phase("probe")
    tracer("gen_probe")(noopWrite(WideTableGen.wide(spark, cols, rows, tableSeed, numPartitions = tasks)))
    PerfbenchBus.drain(sc)
    counters.queries.clear()
    tracer.op = 0
  }

  private def fixtureOp(name: String, dir: String, cols: Int, rows: Long, tasks: Int, tableSeed: Long): Unit = {
    runOp(name, -1)(WideTableGen.wide(spark, cols, rows, tableSeed, numPartitions = tasks)) { df =>
      ParquetKnobs.write(df, dir, ParquetKnobs.WriteConfig())
    } { (_, _) => checkWritten(dir, cols, rows, tasks, "snappy") }
    genProbe(cols, rows, tasks, tableSeed)
  }

  /** Runs the cold pass (pass 0) in `kinds` order, then settling passes
    * in seeded orders for `settleS` seconds, at least one (all numbered 1
    * and kept out of the warm statistics), then whole warm passes in
    * seeded orders, so every kind gets the same number of warm samples.
    * Warm passes stop when the next one, as long as the last, would end
    * more than `seconds` after the first began; at least one runs.
    */
  private def loop(kinds: Seq[String], settleS: Double = 0)(op: (String, Int) => Unit): Unit = {
    kinds.foreach(op(_, 0))
    val settled = System.nanoTime() + (settleS * 1e9).toLong
    while ({ rng.shuffle(kinds).foreach(op(_, 1)); System.nanoTime() < settled }) ()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 2
    var last = 0L
    while (pass == 2 || System.nanoTime() + last <= deadline) {
      val t0 = System.nanoTime()
      rng.shuffle(kinds).foreach(op(_, pass))
      last = System.nanoTime() - t0
      pass += 1
    }
  }

  def run(extraArgs: Array[String]): Map[String, Any] = {
    workload match {
      case "wide_read" => wideRead()
      case "wide_write" => wideWrite()
      case "registry" => registry(extraArgs(0), extraArgs(1))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "facts" -> facts.toMap,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb),
      "ops" -> ops.toSeq.map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "pass" -> o.pass, "start_ms" -> o.startMs,
        "wall_s" -> o.wallS, "build_s" -> o.buildS,
        "error" -> o.error.orNull, "counters" -> o.counters, "extra" -> o.extra)),
      "spans" -> tracer.spans.toSeq.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)))
  }

  private def wideRead(): Unit = {
    val wSeed = rng.nextInt(1 << 20).toLong
    val dSeed = rng.nextInt(1 << 20).toLong
    val dir = s"$workDir/fixtures"
    tracer("setup") {
      fixtureOp("fixture.W", s"$dir/W", WideCols, WideRows, 1, wSeed)
      fixtureOp("fixture.D", s"$dir/D", DeepCols, DeepRows, DeepFiles, dSeed)
    }
    val w = partFiles(s"$dir/W").head
    val wFoot = footer(conf, w)
    val wGroups = wFoot.getBlocks.size
    val chunkBytes: Map[String, Long] = wFoot.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .groupMapReduce(_.getPath.toDotString)(_.getTotalSize)(_ + _)
    val dFiles = partFiles(s"$dir/D")
    val dBytes = dFiles.map(f => footer(conf, f).getBlocks.asScala.map(_.getCompressedSize).sum).sum
    facts ++= Map("W" -> s"$WideCols cols x $WideRows rows, 1 file, $wGroups row groups",
      "D" -> s"$DeepCols cols x $DeepRows rows, ${dFiles.size} files, snappy")

    // Every `subset` reads a fresh column draw, so new code is generated and
    // compiled all along: a pass keeps getting faster, by about a third,
    // for its first 15 s or so, in JIT steps whose timing varies by run.
    loop(Seq("footer", "stats", "subset", "scan"), settleS = WideReadSettleS) {
      case ("footer", pass) =>
        runOp("footer", pass)(FooterMeta.fileMeta(spark, Seq(w)))(_.collect()) { (_, rows) =>
          val m = rows.head
          Outcome(
            fail(rows.length == 1 && m.num_columns == WideCols && m.num_rows == WideRows &&
              m.num_row_groups == wGroups, s"footer facts ${rows.mkString}"),
            Map("thrift_decode_ms" -> m.footer_decode_us / 1e3, "schema_build_ms" -> m.schema_build_us / 1e3))
        }
      case ("stats", pass) =>
        runOp("stats", pass)(FooterMeta.chunkStats(spark, Seq(w)))(_.count()) { (_, n) =>
          Outcome(fail(n == WideCols.toLong * wGroups, s"$n chunks, wanted ${WideCols * wGroups}"),
            Map("chunks" -> n.toDouble))
        }
      case ("subset", pass) =>
        val cols = rng.shuffle((0 until WideCols).toVector).take(WideCols / SubsetShare).map(c => s"col_$c")
        runOp("subset", pass)(observed(spark.read.parquet(w).select(cols.map(col): _*))) {
          case (df, _) => noopWrite(df)
        } { case ((_, obs), _) =>
          val read = scannedColumns()
          Outcome(
            fail(read.map(_.toSet) == Seq(cols.toSet) && rowsOf(obs) == WideRows,
              s"scans read ${read.map(_.size)} cols, ${rowsOf(obs)} rows; wanted ${cols.size} x $WideRows"),
            Map("projected_bytes" -> cols.map(chunkBytes).sum.toDouble))
        }
      case ("scan", pass) =>
        runOp("scan", pass)(observed(spark.read.parquet(s"$dir/D"))) { case (df, _) => noopWrite(df) } {
          case ((_, obs), _) =>
            val read = scannedColumns()
            Outcome(
              fail(read.map(_.size) == Seq(DeepCols) && rowsOf(obs) == DeepRows,
                s"scans read ${read.map(_.size)} cols, ${rowsOf(obs)} rows; wanted $DeepCols x $DeepRows"),
              Map("projected_bytes" -> dBytes.toDouble))
        }
      case (k, _) => throw new IllegalStateException(k)
    }
  }

  private def wideWrite(): Unit = {
    facts ++= Map("table" -> s"$WriteCols cols x $WriteRows rows, $WriteTasks tasks",
      "codecs" -> ParquetKnobs.codecs)
    loop(ParquetKnobs.codecs, settleS = WideWriteSettleS) { (codec, pass) =>
      val tableSeed = rng.nextInt(1 << 20).toLong
      val dir = s"$workDir/writes/${nextOp + 1}"
      runOp(codec, pass)(WideTableGen.wide(spark, WriteCols, WriteRows, tableSeed, numPartitions = WriteTasks)) {
        df => ParquetKnobs.write(df, dir, ParquetKnobs.WriteConfig(codec = codec))
      } { (_, _) => checkWritten(dir, WriteCols, WriteRows, WriteTasks, codec) }
      genProbe(WriteCols, WriteRows, WriteTasks, tableSeed)
      deleteTree(new File(dir))
    }
  }

  private def registry(dataDir: String, panelFile: String): Unit = {
    val expected: Map[String, Option[Long]] = new ObjectMapper().readTree(new File(panelFile))
      .properties().asScala.map(e => e.getKey -> Option.when(!e.getValue.isNull)(e.getValue.asLong)).toMap
    val keys = expected.keys.toSeq.sorted
    val missing = keys.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"panel keys not in SparkEntry.queries: $missing")
    facts ++= Map("data" -> new File(dataDir).getName, "queries" -> keys.size,
      "modules" -> keys.map(k => k -> moduleOf(k)).toMap)
    loop(keys) { (key, pass) =>
      runOp(key, pass)(observed(SparkEntry.queries(key)(spark, dataDir))) { case (df, _) => noopWrite(df) } {
        case ((_, obs), _) =>
          val rows = rowsOf(obs)
          Outcome(expected(key) match {
            case Some(want) => fail(rows == want, s"$rows rows, oracle has $want")
            case None => fail(rows > 0, "no rows")
          }, Map("rows" -> rows.toDouble, "ckpt_pinned" -> Ckpt.pinnedCount.toDouble))
      }
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
