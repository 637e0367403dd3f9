package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM side of the benchmark: one fresh session, one cold pass over
  * the workload's operations, a fixed number of settling passes, then the
  * measured warm passes. It calls the program only through public functions
  * (`Registry.queries`, `GdeltPipeline.run`) and observes it through
  * Spark's listener APIs, the JVM's management beans and the artifact
  * root on disk. Results go to `<out>/result.json`; run.py turns them
  * into the printed metrics.
  *
  * Arguments are `key=value`:
  *   spawn_ms=<epoch ms the launcher started the JVM>  out=<dir>  trace=0|1
  *   seconds=<n>  settle=<passes>  passes=<measured passes, at least>
  *   data=<dir> queries=<q,q,...>  or  gkg=<jsonl> gkg_bad=<jsonl>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spawnMs = opt("spawn_ms").toLong
    val out = opt("out")
    val cores = Runtime.getRuntime.availableProcessors
    val mainMs = System.currentTimeMillis()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.io.Tables.NANOS_AS_LONG, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val readyMs = System.currentTimeMillis()
    // setup phases: launch to main(), main() to session, warm-up query
    val res = mutable.LinkedHashMap[String, Any]("setup_s" -> (readyMs - spawnMs) / 1000.0,
      "setup_phases_s" -> Seq(mainMs - spawnMs, sessionMs - mainMs, readyMs - sessionMs).map(_ / 1000.0))
    try {
      new Run(spark, opt, cores, res).all()
    } finally {
      res("peak_rss_mb") = peakRssMb()
      Json.write(Paths.get(out, "result.json"), res)
      spark.stop()
    }
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One operation of a workload. `run` returns the rows to check; an
  * operation that writes files instead names their directory in `outputs`. */
final case class Op(name: String, expectFailure: Boolean, outputs: Option[String],
    run: Timer => Option[(Array[Row], org.apache.spark.sql.types.StructType)])

/** Splits an operation's wall time into the part spent obtaining the
  * DataFrame from the program and the part spent in its action. */
final class Timer {
  var buildNs = 0L
  var actionNs = 0L
  def build[T](f: => T): T = { val t = System.nanoTime(); try f finally buildNs += System.nanoTime() - t }
  def action[T](f: => T): T = { val t = System.nanoTime(); try f finally actionNs += System.nanoTime() - t }
}

final class Run(spark: SparkSession, opt: Map[String, String], cores: Int,
    res: mutable.LinkedHashMap[String, Any]) {
  private val out = opt("out")
  private val seconds = opt("seconds").toDouble
  private val traced = opt("trace") == "1"
  private val artifactRoot = graft.exec.ArtifactStore.root
  private val tracer = new Tracer(spark, cores, opt.contains("gkg"))
  private val records = mutable.ArrayBuffer[Map[String, Any]]()
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0

  private val ops: Seq[Op] = opt.get("queries") match {
    case Some(qs) => qs.split(",").toSeq.map(queryOp)
    case None => Seq(gdeltOp("gdelt_pipeline", opt("gkg"), s"$out/gdelt", false),
      gdeltOp("gdelt_out_of_window", opt("gkg_bad"), s"$out/gdelt_bad", true))
  }

  private def queryOp(name: String): Op = {
    val fn = graft.queries.Registry.queries(name)
    Op(name, expectFailure = false, outputs = None, t => {
      val df = t.build(fn(spark, opt("data")))
      val rows = t.action(df.collect())
      Some((rows, df.schema))
    })
  }

  private def gdeltOp(name: String, raw: String, dir: String, bad: Boolean): Op =
    Op(name, bad, Some(dir), t => {
      t.action(graft.gdelt.GdeltPipeline.run(spark,
        graft.io.Tables.jsonLines(spark, raw), dir))
      None
    })

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of the JVM's Java threads: the driver, Spark's task threads
    * and its service threads, but not the JIT compiler or GC threads. */
  private def javaThreadsCpuNs(): Long =
    threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum

  /** Runs one pass; returns the wall time and the Java threads' CPU time
    * of each operation that was expected to succeed and did. */
  private def pass(label: String, check: Boolean, trace: Boolean): Seq[(Double, Double)] = {
    if (trace) tracer.on()
    val times = ops.map { op =>
      attempted += 1
      val before = if (trace) Some(Artifacts.scan(artifactRoot)) else None
      val t = new Timer
      val cpu0 = javaThreadsCpuNs()
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val outcome = try Right(op.run(t)) catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (javaThreadsCpuNs() - cpu0) / 1e9
      val endMs = System.currentTimeMillis()
      spark.catalog.clearCache()
      val ok = outcome.isRight
      if (trace) {
        val layers = tracer.cut(startMs, endMs, counted = ok && !op.expectFailure)
        val after = Artifacts.scan(artifactRoot)
        records += Map("op" -> op.name, "pass" -> label, "ok" -> ok,
          "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
          "build_s" -> t.buildNs / 1e9, "action_s" -> t.actionNs / 1e9,
          "artifacts_published" -> after.markers.keySet.diff(before.get.markers.keySet).size,
          "artifacts_republished" -> after.markers.count { case (p, ino) =>
            before.get.markers.get(p).exists(_ != ino) },
          "artifacts_bytes_added" -> (after.bytes - before.get.bytes),
          "layers" -> layers)
      }
      outcome match {
        case Left(e) =>
          failed += 1
          if (!op.expectFailure) errors += s"$label ${op.name}: ${e.getClass.getName}: ${e.getMessage}"
        case Right(_) if op.expectFailure =>
          System.err.println(s"[perfbench] ${op.name} was expected to fail and did not")
        case Right(result) if check =>
          result.foreach { case (rows, schema) =>
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.parquet(s"$out/results/$label/${op.name}")
          }
          // a later run overwrites the outputs: keep this one's for the check
          op.outputs.foreach(d => org.apache.commons.io.FileUtils.copyDirectory(
            new File(d), new File(s"$out/results/$label/${op.name}")))
        case _ =>
      }
      // the checks' own Spark jobs belong to no operation
      if (trace) tracer.cut(0L, 0L, counted = false)
      if (ok && !op.expectFailure) Some((wall, cpu)) else None
    }
    if (trace) tracer.off()
    times.flatten
  }

  def all(): Unit = {
    val mx = Jvm.snapshot()
    Jvm.resetHeapPeaks()
    val cold = pass("cold", check = true, trace = traced)
    val afterCold = Jvm.snapshot()
    // what the program still holds after one call of each operation; the
    // least of three collections, as objects still in flight on Spark's
    // listener and cleaner threads can survive any one of them
    res("live_heap_mb") = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val coldDisk = Artifacts.scan(artifactRoot).bytes +
      ops.filterNot(_.expectFailure).flatMap(_.outputs).map(Artifacts.dirBytes).sum
    // settling passes, a fixed number, so that the measured passes start
    // from the same JIT state in every run; the first writes the warm
    // output check
    for (k <- 0 until opt("settle").toInt)
      pass(if (k == 0) "warm" else s"settle$k", check = k == 0, trace = false)
    // measured passes: a fixed number, chosen to outlast the measuring
    // time, and more only if it is not used up yet. The JIT keeps settling
    // through them, so a count that varied with host speed would move the
    // median. In the traced run they alternate untraced and traced, so
    // their difference is the trace overhead.
    val warm = mutable.ArrayBuffer[(Seq[(Double, Double)], Boolean)]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = math.max(opt("passes").toInt, if (traced) 2 else 1)
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      val tr = traced && i % 2 == 1
      warm += ((pass(s"measured$i", check = false, trace = tr), tr))
      i += 1
    }
    val end = Jvm.snapshot()
    val untraced = warm.filterNot(_._2).map(_._1)
    res ++= Seq("cold_s" -> cold.map(_._1).sum, "cold_cpu_s" -> cold.map(_._2).sum,
      "warm_op_s" -> untraced.map(_.map(_._1)), "warm_op_cpu_s" -> untraced.map(_.map(_._2)),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "disk_mb" -> coldDisk / 1048576.0, "ops" -> ops.map(_.name),
      "cores" -> cores, "artifact_root" -> artifactRoot)
    if (traced) {
      res("traced_warm_op_s") = warm.filter(_._2).map(_._1.map(_._1))
      res("records") = records.toSeq
      res("jvm") = Map(
        "cold_jit_s" -> (afterCold.jitMs - mx.jitMs) / 1000.0,
        "cold_codegen_compiles" -> (afterCold.compiles - mx.compiles),
        "cold_codegen_compile_s" -> (afterCold.compileNs - mx.compileNs) / 1e9,
        "gc_s" -> (end.gcMs - mx.gcMs) / 1000.0,
        "heap_peak_mb" -> Jvm.heapPeakMb())
    }
    val oracles = graft.queries.Registry.oracles
    Json.write(Paths.get(out, "oracle_sql.json"),
      ops.flatMap(op => oracles.get(op.name).map(op.name -> _)).toMap)
  }
}

/** JVM-wide counters read before and after a region. */
final case class JvmSnap(jitMs: Long, gcMs: Long, compiles: Long, compileNs: Long)

object Jvm {
  def snapshot(): JvmSnap = JvmSnap(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** The artifact root as seen on disk: publish markers (with their inode,
  * so a republish shows as a changed inode) and total bytes. */
final case class ArtifactScan(markers: Map[String, Long], bytes: Long)

object Artifacts {
  def scan(root: String): ArtifactScan = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return ArtifactScan(Map.empty, 0L)
    val files = walk(r)
    ArtifactScan(
      files.filter(_.getFileName.toString == "_GRAFT_OK")
        .map(p => p.toString -> Files.getAttribute(p, "unix:ino").asInstanceOf[Long]).toMap,
      files.map(Files.size).sum)
  }
  def dirBytes(dir: String): Long = {
    val r = Paths.get(dir)
    if (Files.isDirectory(r)) walk(r).map(Files.size).sum else 0L
  }
  private def walk(r: Path): Seq[Path] = {
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }
}

/** Per-operation layer counters from Spark's listener APIs. Listeners are
  * attached only during traced passes; after each operation the listener
  * bus is drained and the counters are cut into that operation's record. */
final class Tracer(spark: SparkSession, cores: Int, gdelt: Boolean) {
  private var acc = mutable.LinkedHashMap[String, Double]()
  private val jobs = mutable.ArrayBuffer[(Long, Long, String)]()
  private val jobStart = mutable.Map[Int, (Long, String)]()

  private def add(k: String, v: Double): Unit = synchronized { acc(k) = acc.getOrElse(k, 0.0) + v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time, gdeltLayer(e.stageInfos.map(_.details)))
      add("spark.jobs", 1)
      add("spark.stages", e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, layer) => jobs += ((s, e.time, layer)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      add("spark.tasks", 1)
      add("spark.task_s", m.executorRunTime / 1000.0)
      add("spark.cpu_s", m.executorCpuTime / 1e9)
      add("spark.task_gc_s", m.jvmGCTime / 1000.0)
      add("spark.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("spark.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("spark.result_mb", m.resultSize / 1048576.0)
      add("spark.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
    private def plan(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
      add("catalyst.plans", 1)
      add("catalyst.analysis_s", ms("analysis"))
      add("catalyst.optimizer_s", ms("optimization"))
      add("catalyst.planning_s", ms("planning"))
    }
  }

  /** Jobs of the GDELT pipeline grouped by the innermost graft source file
    * in their call site: ETL (JSON scan, core and feature writes), ML
    * (LR and CountVectorizer fits, whose deep call sites may show only
    * Spark ML frames) or analysis (reports and graphs). */
  private def gdeltLayer(details: Seq[String]): String = {
    val text = details.mkString("\n")
    "graft\\.[\\w.$]+\\(([A-Za-z]+)\\.scala".r.findFirstMatchIn(text).map(_.group(1)) match {
      case _ if !gdelt => "none"
      case Some("GdeltEtl" | "GdeltPipeline" | "Tables") => "etl"
      case Some("GdeltMl") => "ml"
      case None if text.contains("org.apache.spark.ml") => "ml"
      case _ => "analysis"
    }
  }

  def on(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def off(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Counters of the operation that ran from startMs to endMs. */
  def cut(startMs: Long, endMs: Long, counted: Boolean): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val wall = math.max(endMs - startMs, 1L) / 1000.0
      val spans = jobs.map { case (s, e, l) => (math.max(s, startMs), math.min(e, endMs), l) }
        .filter { case (s, e, _) => e > s }.sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      for ((s, e, _) <- spans) {
        if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
      }
      busy += curE - curS
      val m = acc.clone()
      m("spark.job_busy_s") = busy / 1000.0
      m("spark.idle_s") = wall - busy / 1000.0
      m("spark.core_util") = m.getOrElse("spark.task_s", 0.0) / (wall * cores)
      for (l <- Seq("etl", "analysis", "ml"))
        m(s"gdelt.${l}_s") = jobs.filter(_._3 == l).map { case (s, e, _) => e - s }.sum / 1000.0
      acc = mutable.LinkedHashMap()
      jobs.clear()
      if (counted) m.toMap else Map.empty
    }
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, render(v).getBytes("UTF-8"))
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
