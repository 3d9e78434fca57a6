package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** JVM side of the lakehouse benchmark: executes one workload's op log
  * against graft's public API, times each op from outside and writes
  * `results.jsonl` (one line per op), `summary.json` and, when traced,
  * `spans.jsonl` into the output directory. The Python runner
  * (`run.py`) generates inputs and op logs, checks results and reports.
  *
  * Usage: Main <workload> <seed> <dataDir> <workDir> <outDir> <trace 0|1>
  *   <cpus> <setupReps> <passes>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, dataDir, workDir, outDir, trace, cpus, reps, passes) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val startTicks = ProcStat.ticks()
    val spark = {
      // the same session settings graft's own Verify and Bench mains use
      val b = graft.Tables.SessionConfs.foldLeft(SparkSession.builder()) {
        case (b, (k, v)) => b.config(k, v) }
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
        .config("spark.graft.warehouse", s"$workDir/wh")
      // the serve mix reads graft.db.* through the SQL resolution rule
      (if (workload == "serve") b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
       else b).getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed.toLong, dataDir, workDir, outDir, trace == "1",
      reps.toInt, passes.toInt, (System.currentTimeMillis() - jvmStartMs) / 1000.0, startTicks)
    try workload match {
      case "ingest" => Ingest.run(ctx)
      case "serve" => Serve.run(ctx)
      case "analytics" => Analytics.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      ctx.close()
      spark.stop()
    }
  }
}

/** Shared state of one run: the session, the op runner, the summary. */
final class Ctx(val spark: SparkSession, val seed: Long, val dataDir: String,
    val workDir: String, val outDir: String, val traced: Boolean, val setupReps: Int,
    val passes: Int, val sessionS: Double, startTicks: Option[(Long, Long)]) {

  val tracer = new Tracer(false)
  val exec = new ExecListener(tracer)
  val summary = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
  private val results = new PrintWriter(s"$outDir/results.jsonl")

  def plan(name: String): Seq[JsonNode] = {
    val src = Source.fromFile(s"$dataDir/$name")
    try src.getLines().filter(_.trim.nonEmpty).map(l => Json.mapper.readTree(l)).toVector
    finally src.close()
  }

  /** setup_s = session start + median over `setupReps` table builds + one
    * untimed-loop warm-up */
  def setup(build: Int => Unit)(warmUp: => Unit): Unit = {
    def secs(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    val builds = (0 until setupReps).map(rep => secs(build(rep)))
    val warm = secs(warmUp)
    summary("setup_build_s") = builds
    summary("setup_warmup_s") = warm
    summary("setup_s") = sessionS + Stats.median(builds) + warm
    summary("setup_steal") = ProcStat.stealShare(startTicks, ProcStat.ticks())
  }

  /** Runs `tasks` on one thread per core and waits for all of them: the
    * warm-ups use it to reach steady-state JIT and codegen in a fraction
    * of the wall time one thread would need. */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try tasks.map(f => pool.submit(new Runnable { def run(): Unit = f() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Times `body` as op `id`; the result is materialised inside the timer
    * and hashed after it stops. A thrown op is recorded, never rethrown. */
  def op(id: Int, kind: String, pass: String, extra: => Map[String, Any] = Map.empty)(
      body: => Option[(Array[Row], StructType)]): Unit = {
    tracer.op = id
    spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
    val t = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind")(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t) / 1e6
    spark.sparkContext.setLocalProperty("perfbench.op", null)
    tracer.op = -1
    val fields = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind,
      "pass" -> pass, "ms" -> ms)
    res match {
      case Right(Some((rows, schema))) =>
        fields("rows") = rows.length
        fields("hash") = RowHash.of(rows, schema)
      case Right(None) =>
      case Left(e) => fields("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    if (res.isRight) fields ++= (try extra catch { case e: Throwable =>
      Map("probe_error" -> String.valueOf(e.getMessage).take(200)) })
    results.println(Json.mapper.writeValueAsString(fields))
  }

  /** Runs the measured loop (untraced); a traced run then repeats it
    * traced so the tracing overhead can be read off the two walls. */
  def loop(run: String => Unit): Unit = {
    val gc0 = gcMs
    resetPeaks()
    val cpu0 = cpuNs
    val ticks = ProcStat.ticks()
    val t = System.nanoTime()
    run("untraced")
    summary("loop_steal") = ProcStat.stealShare(ticks, ProcStat.ticks())
    summary("loop_s") = (System.nanoTime() - t) / 1e9
    summary("loop_cpu_s") = (cpuNs - cpu0) / 1e9
    summary("jvm_gc_ms") = gcMs - gc0
    summary("jvm_heap_peak_mb") = heapPeakMb
    if (traced) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(new PlanListener(tracer))
      tracer.enabled = true
      val gc1 = gcMs
      resetPeaks()
      val t2 = System.nanoTime()
      run("traced")
      summary("traced_loop_s") = (System.nanoTime() - t2) / 1e9
      summary("traced_gc_ms") = gcMs - gc1
      summary("traced_heap_peak_mb") = heapPeakMb
      BusDrain(spark.sparkContext)
      tracer.enabled = false
    }
    summary("heap_live_mb") = liveHeapMb
  }

  private def cores = spark.sparkContext.defaultParallelism
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** heap still in use after full collections: the smallest of three
    * post-GC readings, so a collection that found garbage still queued
    * for finalisation or cleanup does not count it as live */
  private def liveHeapMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(50)
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
  }.min / 1048576.0

  def close(): Unit = {
    results.close()
    if (traced) {
      summary("exec_per_op") = exec.perOp.map { case (k, v) => k.toString -> v }
      tracer.write(s"$outDir/spans.jsonl")
    }
    val w = new PrintWriter(s"$outDir/summary.json")
    try w.println(Json.mapper.writeValueAsString(summary)) finally w.close()
  }
}

/** Machine-wide CPU accounting from /proc/stat. Steal is the time a
  * hypervisor ran other guests while this machine's CPUs had work; nothing
  * this JVM runs adds to it, so it measures a shared host's load alone. */
object ProcStat {
  /** (busy, steal) ticks so far; None where the kernel does not say */
  def ticks(): Option[(Long, Long)] =
    try {
      val src = Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        finally src.close()
      Some((v(0) + v(1) + v(2) + v(5) + v(6), v(7)))
    } catch { case _: Exception => None }

  /** steal ÷ (busy + steal) between two readings */
  def stealShare(from: Option[(Long, Long)], to: Option[(Long, Long)]): Option[Double] =
    for ((b0, s0) <- from; (b1, s1) <- to; if b1 - b0 + s1 - s0 > 0)
      yield (s1 - s0).toDouble / (b1 - b0 + s1 - s0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Fs {
  def bytesUnder(dir: String, sub: String = ""): Long = {
    val p = Paths.get(dir, sub)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }
  }
  def filesUnder(dir: String, sub: String = ""): Long = {
    val p = Paths.get(dir, sub)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) && !f.toString.endsWith(".crc")).toLong
      finally s.close()
    }
  }
  /** size of the newest `metadata/v<N>.json` */
  def currentJsonBytes(loc: String): Long = {
    val s = Files.list(Paths.get(loc, "metadata"))
    try s.iterator().asScala.filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .maxBy(_.getFileName.toString.drop(1).dropRight(5).toInt).toFile.length
    finally s.close()
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f)) finally s.close()
    }
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
