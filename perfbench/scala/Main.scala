package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One completed op: the input rows it consumed and its kind. */
final case class OpResult(rows: Long, name: String)

/** A workload: `setup()` builds its fixtures, `op(i)` is one timed op,
  * `check(i, r)` verifies that op's output outside the timer and returns
  * the mismatch, if any. `layers` gives workload-specific per-layer
  * numbers once the timed loop has ended. */
trait Workload {
  def setup(): Unit
  def hasOp(i: Int): Boolean = true
  def op(i: Int): OpResult
  def check(i: Int, r: OpResult): Option[String]
  def finish(): Unit = ()
  def layers(ops: Int): Map[String, Double] = Map.empty
  def storageRatio: Double = Double.NaN
}

/** The JVM side of the workload benchmark: builds the session, sets the
  * workload up, runs the closed timed loop for `--seconds` of op time and
  * writes a JSON result for `run.py`. See perfbench/README.md. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val cores = args("cores").toInt
    val input = args("input")
    val work = args("work")
    Trace.enabled = args("trace") == "1"
    val meta = Json.mapper.readTree(Paths.get(input, "meta.json").toFile)

    val s0 = System.nanoTime()
    val spark = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.install(spark)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val jvmBootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - sessionS

    val w: Workload = workload match {
      case "mls_daily" => new MlsDaily(spark, input, work, meta)
      case "event_replay" => new EventReplay(spark, input, work, meta)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    // Load sentinel: calibration job, load average, hypervisor steal ticks.
    val calib = Sentinel.calibrate(spark)
    val load0 = Sentinel.loadAvg; val steal0 = Sentinel.stealTicks
    val gc0 = Sentinel.gcSeconds
    Trace.Enrich.reset()

    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0; var rows = 0L; var timed = 0.0; var i = 0
    while (timed < seconds && w.hasOp(i)) {
      attempted += 1
      val c = Sentinel.processCpuS
      val t = System.nanoTime()
      val r = try Right(Trace.span("op")(w.op(i)))
              catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t) / 1e9
      val cpu = Sentinel.processCpuS - c
      timed += dt
      val bad = r.fold(e => Some(s"op $i threw ${e.toString.take(300)}"),
        res => w.check(i, res).map(m => s"op $i (${res.name}): $m"))
      bad match {
        case Some(m) => failures += m; System.err.println(s"[perfbench] FAILED $m")
        case None =>
          samples += r.toOption.get.name -> dt; cpuS += cpu; rows += r.toOption.get.rows
      }
      i += 1
    }
    val gcS = Sentinel.gcSeconds - gc0
    val load1 = Sentinel.loadAvg; val steal1 = Sentinel.stealTicks

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (Trace.enabled) {
      Trace.drain()
      val n = samples.size max 1
      layers ++= Layers.common(cores, n)
      layers("session.start_s") = sessionS
      layers("jvm.gc_s") = gcS / n
      layers ++= w.layers(n)
    }
    w.finish()

    Json.write(Paths.get(args("out")), Map(
      "workload" -> workload,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.asJava,
      "jvm_boot_s" -> jvmBootS,
      "session_s" -> sessionS,
      "setup_fixture_s" -> setupS,
      "ops" -> samples.map(_._1).asJava,
      "op_s" -> samples.map(_._2).asJava,
      "op_cpu_s" -> cpuS.asJava,
      "rows" -> rows,
      "timed_s" -> timed,
      "storage_bytes_per_live_byte" -> Json.num(w.storageRatio),
      "rss_peak_mb" -> Sentinel.rssPeakMb,
      "sentinel_calibration_s" -> calib,
      "sentinel_load1_start" -> load0,
      "sentinel_load1_end" -> load1,
      "sentinel_steal_ticks" -> (if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0).toDouble),
      "layers" -> layers.asJava).asJava)
    if (Trace.enabled) {
      Json.write(Paths.get(work, "spans.json"), Layers.spansJson)
      Json.write(Paths.get(work, "jobs.json"), Layers.jobsJson)
    }
    spark.stop()
  }
}

/** The same machine-load signals `graft.Bench` records. */
object Sentinel {
  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def stealTicks: Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).lift(7)
      .map(_.toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }
  /** Fixed CPU-bound job (codegen'd sum over a range) whose time depends
    * only on machine conditions; one JIT pass, then the timed pass. */
  def calibrate(spark: SparkSession): Double = {
    spark.range(1L << 26).selectExpr("sum(id * 2 + 1)").collect()
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(id * 2 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }
  /** CPU time this process has used (all threads), in seconds. */
  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  /** Peak resident set (VmHWM) of this process, in MB. */
  def rssPeakMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  } catch { case _: Throwable => -1.0 }
}

/** Filesystem helpers. */
object Fs {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  def filesUnder(p: Path, suffix: String): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).toVector
      finally st.close()
    }
  def versionDirs(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.list(root)
      try st.iterator().asScala.filter(_.getFileName.toString.matches("v\\d+")).toVector
      finally st.close()
    }
}

/** JSON input and output of the JVM side. */
object Json {
  val mapper = new ObjectMapper()
  /** A measured value, or null for one that was not measured (NaN). */
  def num(d: Double): java.lang.Double = if (d.isNaN || d.isInfinite) null else d
  def write(path: Path, value: AnyRef): Unit = mapper.writeValue(path.toFile, value)
}
