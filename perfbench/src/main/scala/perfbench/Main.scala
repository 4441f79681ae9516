package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JSON result file.
  *
  * {{{
  *   perfbench.Main --workload ingest|lake_reads --seed N --seconds S
  *     --trace 0|1 --tmp DIR --out FILE --launch-ms EPOCH_MS
  * }}}
  * `--tmp` is the run's only scratch root (lakes, landing, Spark local
  * dirs); `--launch-ms` is when the launcher started, so set-up time
  * includes JVM start. Everything runs on `local[N]`, N = available cores.
  */
object Main {

  final class Run(val spark: SparkSession, val trace: Trace, val seed: Long,
      val seconds: Int, val traced: Boolean, val tmp: String, val cores: Int) {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** Metric name -> (value, unit); `e2e` for the untraced result, `layers` for the traced one. */
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val samples = mutable.LinkedHashMap.empty[String, Int]
    val notes = mutable.LinkedHashMap.empty[String, Any]
    /** `<read type>:<digest>` of every read's result, in order: equal seeds give equal lists. */
    val digests = mutable.ArrayBuffer.empty[String]
    var setupEndMs = 0.0

    /** Counts one operation; it fails when it throws or its check reports. */
    def attempt(what: String)(body: => Seq[String]): Boolean = {
      attempted += 1
      val problems =
        try body
        catch { case e: Exception => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (problems.nonEmpty) {
        failed += 1
        if (failures.size < 20) failures += s"$what: ${problems.mkString("; ")}"
      }
      problems.isEmpty
    }

    def check(body: => Seq[String]): Seq[String] = trace.span("check")(body)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val tmp = need("tmp")
    val launchMs = need("launch-ms").toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.names.mkString(", ")})")

    val trace = new Trace(cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
      .config("spark.sql.catalog.lake.root", s"$tmp/main/lakes")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val run = new Run(spark, trace, seed, seconds, traced, tmp, cores)
    val host = Json.obj(
      "cores" -> cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "seed" -> seed)
    val exit =
      try {
        Workloads(workload)(run)
        run.e2e("setup_s") = ((run.setupEndMs - launchMs) / 1000.0, "s")
        run.e2e("peak_rss_mb") = (peakRssMb(), "MB")
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    if (exit == 0) write(run, host, need("out"), workload)
    sys.exit(exit)
  }

  private def write(run: Run, host: Json.Obj, out: String, workload: String): Unit = {
    val json = Json.obj(
      "workload" -> workload,
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "end_to_end" -> Json.Obj(run.e2e.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }),
      "per_layer" -> Json.Obj(run.layers.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }),
      "samples" -> Json.Obj(run.samples.toSeq),
      "host" -> host,
      "notes" -> Json.Obj(run.notes.toSeq),
      "read_digests" -> run.digests.toSeq,
      "spans" -> (if (run.traced) run.trace.spans.toSeq.map(s => Json.obj(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)) else Nil))
    Files.writeString(Paths.get(out), Json.render(json) + "\n")
  }

  /** VmHWM of this JVM, which hosts driver and executors in local mode. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** JVM counters sampled at the start and end of the measured phase. */
  final case class JvmSnap(gcMs: Long, jitMs: Long)
  def jvmSnap(): JvmSnap = JvmSnap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
