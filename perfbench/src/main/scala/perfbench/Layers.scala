package perfbench

import Main.Run
import Workloads._

/** Per-layer metrics of a traced run, from its spans, the Spark listener,
  * the executed plans and the lake walks. Medians are over operations
  * (ticks, reads); each median's sample count goes into `samples`.
  */
object Layers {

  def compute(run: Run, lake: Lake): Unit = {
    org.apache.spark.BusDrain(run.spark.sparkContext)
    val tr = run.trace
    def put(name: String, v: Double, unit: String): Unit = run.layers(name) = (v, unit)
    def med(name: String, xs: Seq[Double], unit: String): Unit = {
      put(name, if (xs.isEmpty) 0.0 else Stats.median(xs), unit)
      run.samples(name) = xs.size
    }

    // etl.pipeline: one runLake per backfill / tick
    val commits = Seq("tick", "backfill").map(k => k -> tr.under(tr.ops(k), RunSpan).map(tr.profile))
    for ((kind, ps) <- commits) {
      val p = s"etl.pipeline.$kind"
      med(s"$p.run_ms", ps.map(_.wallMs), "ms")
      med(s"$p.driver_ms", ps.map(_.driverMs), "ms")
      med(s"$p.jobs", ps.map(_.jobs.toDouble), "count")
      med(s"$p.stages", ps.map(_.stages.toDouble), "count")
      med(s"$p.tasks", ps.map(_.tasks.toDouble), "count")
      med(s"$p.one_task_stage_ms", ps.map(_.oneTaskStageMs), "ms")
      med(s"$p.utilisation", ps.map(_.utilisation), "ratio")
      med(s"$p.shuffle_write_bytes", ps.map(_.shuffleBytes.toDouble), "B")
      med(s"$p.spill_bytes", ps.map(_.spillBytes.toDouble), "B")
    }
    // jobs inside a tick's runLake, by the engine module that launched them
    val ticks = commits.head._2
    def module(m: String, pick: ((Int, Double)) => Double) =
      ticks.map(p => p.modules.get(m).map(pick).getOrElse(0.0))
    for (m <- Seq("etl.currency", "etl.snapshot_lake", "etl.pipeline")) {
      med(s"$m.jobs_per_tick", module(m, _._1.toDouble), "count")
      med(s"$m.busy_ms_per_tick", module(m, _._2), "ms")
    }
    val known = Set("etl.currency", "etl.snapshot_lake", "etl.pipeline")
    med("etl.other.jobs_per_tick",
      ticks.map(_.modules.filter(m => !known(m._1)).values.map(_._1).sum.toDouble), "count")
    med("etl.currency.fx_pairs", lake.rates.asked.drop(1).map(_.toDouble).toSeq, "count")

    // etl.snapshot_lake, write side
    val tickWrites = lake.writes.filter(_.kind == "tick").toSeq
    med("etl.snapshot_lake.files_written", tickWrites.map(_.filesWritten.toDouble), "count")
    med("etl.snapshot_lake.bytes_written", tickWrites.map(_.bytesWritten.toDouble), "B")
    med("etl.snapshot_lake.partitions_touched", tickWrites.map(_.partitionsTouched.toDouble), "count")
    med("etl.snapshot_lake.write_amp", tickWrites.map(w => w.bytesWritten.toDouble / w.landedBytes), "ratio")
    med("etl.snapshot_lake.backfill.write_amp", lake.writes.filter(_.kind == "backfill").toSeq
      .map(w => w.bytesWritten.toDouble / w.landedBytes), "ratio")
    for ((phase, s) <- lake.phases) {
      put(s"etl.snapshot_lake.$phase.files_live", s.filesLive, "count")
      put(s"etl.snapshot_lake.$phase.bytes_live", s.bytesLive.toDouble, "B")
      put(s"etl.snapshot_lake.$phase.bytes_on_disk", s.bytesOnDisk.toDouble, "B")
      put(s"etl.snapshot_lake.$phase.generations", s.generations, "count")
    }

    // etl.snapshot_lake, read side, and the plans the reads executed
    val reads = tr.ops("read.", prefix = true)
    val liveFiles = (lake.liveFiles(lake.quotes).size + lake.liveFiles(lake.indices).size).toDouble
    val perRead = reads.flatMap { op =>
      tr.under(Seq(op), ReadSpan).headOption.map { rs =>
        val plans = tr.plansIn(rs)
        val returned = tr.counters.get(op.op).flatMap(_.get("rows_returned")).getOrElse(0.0)
        (plans.map(_.filesScanned).sum.toDouble, plans.map(_.rowsScanned).sum.toDouble, returned,
          plans.map(_.optimizeMs).sum, plans.map(_.planningMs).sum, plans.map(_.exchanges).sum.toDouble)
      }
    }
    med("etl.snapshot_lake.resolve_ms", tr.under(reads, ResolveSpan).map(_.ms), "ms")
    med("etl.snapshot_lake.files_scanned", perRead.map(_._1), "count")
    med("etl.snapshot_lake.scan_fraction", perRead.map(_._1 / liveFiles), "ratio")
    med("etl.snapshot_lake.rows_scanned_per_row_returned",
      perRead.map(r => r._2 / math.max(1.0, r._3)), "ratio")
    for (t <- Reads.Types)
      med(s"lake_reads.${t}_ms", tr.under(tr.ops(s"read.$t"), ReadSpan).map(_.ms), "ms")
    med("sources.lake_catalog.analyze_ms", tr.under(reads, AnalyzeSpan).map(_.ms), "ms")
    med("plans.optimize_ms", perRead.map(_._4), "ms")
    med("plans.planning_ms", perRead.map(_._5), "ms")
    med("plans.final_exchanges", perRead.map(_._6), "count")

    // spark: the timed operations of the measured phase
    val measured = tr.spans.filter(_.name == MeasuredSpan).toSeq
    val timed = tr.spans.filter(s => (s.name == RunSpan || s.name == ReadSpan) &&
      measured.exists(m => s.start >= m.start && s.end <= m.end)).toSeq
    val sp = tr.profile(timed)
    put("spark.jobs", sp.jobs, "count")
    put("spark.tasks", sp.tasks.toDouble, "count")
    put("spark.failed_tasks", sp.failedTasks.toDouble, "count")
    put("spark.task_wait_ms", sp.taskWaitMs, "ms")
    put("spark.one_task_stage_ms", sp.oneTaskStageMs, "ms")
    put("spark.utilisation", sp.utilisation, "ratio")
    put("spark.shuffle_bytes", sp.shuffleBytes.toDouble, "B")
    put("spark.spill_bytes", sp.spillBytes.toDouble, "B")

    // self time per span name, for reading the trace (not a metric)
    run.notes("self_ms_median") = tr.spans.groupBy(_.name).map { case (n, ss) =>
      n -> Stats.median(ss.map(tr.selfMs).toSeq)
    }

    put("jvm.gc_ms", run.notes("jvm.gc_ms").asInstanceOf[Double], "ms")
    put("jvm.jit_ms", run.notes("jvm.jit_ms").asInstanceOf[Double], "ms")
    put("jvm.heap_peak_mb", run.notes("jvm.heap_peak_mb").asInstanceOf[Double], "MB")
  }
}
