package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point, one process per run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --results <dir> [--cores <n>]
  *
  * It generates the workload's inputs from the seed under `--work`, runs
  * the engine's public entry points for `--seconds` of measurement,
  * checks every answer against the generator's ground truth, writes the
  * per-run detail file under `--results`, and prints one compact JSON
  * record as its last stdout line. Exit code 1 when any check failed.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map("serve" -> Serve.run, "batch" -> Batch.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = a.getOrElse(k, fail(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, fail(s"unknown workload $workload; one of " +
      Workloads.keys.toSeq.sorted.mkString(", ")))
    val work = new File(need("work"))
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = session(work, cores)
    val ctx = new Ctx(spark, workload, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", work, new File(need("results")), cores)
    val jvm0 = Jvm.snapshot()
    val clock0 = Clock.now()
    try run(ctx)
    catch {
      case e: Throwable =>
        ctx.failed += 1; ctx.attempted += 1
        ctx.problems += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace(System.err)
    }
    val jvm = Jvm.snapshot() - jvm0
    val clock = Clock.now() - clock0
    ctx.named("run_cpu_s", clock.cpuMs / 1e3, "s")
    ctx.named("machine_steal_pct", clock.stealShare * 100, "%")
    ctx.log(f"run: wall ${clock.wallMs / 1e3}%.1f s, cpu ${clock.cpuMs / 1e3}%.1f s, " +
      f"machine steal ${clock.stealShare * 100}%.1f %%")
    ctx.e2e("peak_rss_mb", Jvm.peakRssMb, "MB")
    ctx.layer("jvm.gc_ms", jvm.gcMs.toDouble, "ms")
    ctx.layer("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    spark.stop()
    ctx.finish()
    sys.exit(if (ctx.correct) 0 else 1)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg"); sys.exit(2)
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-run state: settings, checks, and the metrics being reported. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val trace: Boolean, val work: File,
                results: File, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own figures, by the names users know them under. */
  private val namedM = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Off until the traced phase starts, so that the untraced phase of a
    * traced run (the base of `trace.overhead_pct`) runs without listeners.
    */
  var tracer: Tracer = Tracer.off
  def startTracing(): Unit =
    if (!tracer.enabled) tracer = new Tracer(true, Some(SparkCounters.register(spark)))

  def e2e(n: String, v: Double, unit: String): Unit = e2eM(n) = (v, unit)
  def layer(n: String, v: Double, unit: String): Unit = layerM(n) = (v, unit)
  def named(n: String, v: Double, unit: String): Unit = namedM(n) = (v, unit)

  /** Count one operation; false (and a recorded problem) when it failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.size < 20) problems += what
    }
    ok
  }
  def correct: Boolean = failed == 0 && attempted > 0

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.1f s  $msg")

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def deadline(): Long = System.nanoTime() + seconds * 1000000000L

  def finish(): Unit = {
    problems.foreach(p => System.err.println(s"check failed: $p"))
    val fmt = (m: collection.Map[String, (Double, String)]) => m.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    results.mkdirs()
    val sidecar = new File(results, s"result-$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    java.nio.file.Files.writeString(sidecar.toPath,
      s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"cores":$cores,""" +
        s""""attempted":$attempted,"failed":$failed,"error_rate":""" +
        s"""${Json.num(failed.toDouble / math.max(1, attempted))},""" +
        s""""named":${fmt(namedM)},"end_to_end":${fmt(e2eM)},"per_layer":${fmt(layerM)},""" +
        s""""problems":[${problems.map(Json.str).mkString(",")}]}""" + "\n")
    // human-readable lines first; the record is the last stdout line
    println(s"$workload seed=$seed: " + namedM.map { case (k, (v, u)) =>
      f"$k=${v}%.4g $u" }.mkString(", ") +
      f", error_rate=${failed.toDouble / math.max(1, attempted)}%.4g failed/attempted")
    println(s"per-run detail: ${sidecar.getPath}")
    val metrics = if (trace) scala.collection.immutable.ListMap(Layers.All.map {
      case (n, u) => n -> layerM.getOrElse(n, (0.0, u)) }: _*) else e2eM
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${fmt(metrics)}}""")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  } + "\""
}

/** Order statistics over latency samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }
}

final case class JvmSnap(gcMs: Long) {
  def -(o: JvmSnap): JvmSnap = JvmSnap(gcMs - o.gcMs)
}

/** Wall time, this process's CPU time, and the machine's stolen CPU share
  * (from /proc/stat) at one instant; differences give per-phase figures.
  */
final case class Clock(wallNs: Long, cpuNs: Long, steal: Long, total: Long) {
  def -(o: Clock): Clock = Clock(wallNs - o.wallNs, cpuNs - o.cpuNs, steal - o.steal, total - o.total)
  def wallMs: Double = wallNs / 1e6
  def cpuMs: Double = cpuNs / 1e6
  def stealShare: Double = if (total == 0) 0.0 else steal.toDouble / total
}

object Clock {
  def now(): Clock = {
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    Clock(System.nanoTime(), cpu, if (f.length > 7) f(7) else 0L, f.sum)
  }
}

object Jvm {
  def snapshot(): JvmSnap = JvmSnap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
