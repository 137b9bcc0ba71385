package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced job, from its spans and the listener
  * counters. A layer the workload does not use is left out (the caller
  * reports it as 0). */
object Layers {
  private val MB = 1024.0 * 1024.0
  private val ReleaseStages = Seq("s0", "s1", "s2", "s3", "s4", "s5", "s6", "s9")
  /** `IncrementalRelease.runDeltas` job-description labels. */
  private val DeltaLabels = Seq("incr 1", "incr 2", "incr 3", "incr 3b", "incr 4",
    "incr 5", "incr 6", "incr 7", "incr 9")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def secs(ns: Long): Double = ns / 1e9
  private def dur(s: Span): Double = secs(s.end - s.start)

  /** Wall time from the first start to the last end of `jobs`. */
  private def wall(jobs: Seq[JobRec]): Double =
    if (jobs.isEmpty) 0.0 else secs(jobs.map(_.end).max - jobs.map(_.start).min)

  def of(t: Tracer, workload: String, cores: Int, outBytes: Long, inputRows: Double,
      upsertStart: Long, res: java.util.Map[String, Any]): mutable.LinkedHashMap[String, Double] = {
    val c = t.c
    val spans = t.spans.toSeq
    val (t0, t1) = (Clock.t0, Clock.lastOutNs)
    val wallS = secs(t1 - t0)
    val taskS = c.runMs / 1000.0
    val m = mutable.LinkedHashMap.empty[String, Double]
    def num(k: String) = Option(res.get(k)).map(_.toString.toDouble).getOrElse(0.0)
    def spanNamed(n: String) = spans.find(_.name == n)

    m("spark.jobs") = c.jobs.size
    m("spark.tasks") = c.tasks
    m("spark.task_s") = taskS
    m("spark.utilisation") = taskS / (wallS * cores)
    m("spark.driver_only_s") = secs(t1 - t0 - t.jobActiveNs(t0, t1))
    m("spark.shuffle_write_mb") = c.shuffleWrite / MB
    m("spark.shuffle_read_mb") = c.shuffleRead / MB
    m("spark.input_mb") = c.inputBytes / MB
    m("spark.spill_mb") = c.spill / MB
    m("spark.gc_s") = c.gcMs / 1000.0
    m("spark.persisted_rdds_left") = Clock.persistedLeft
    m("spark.failed_tasks") = c.failedTasks
    m("catalyst.queries") = c.queries
    m("catalyst.analysis_s") = c.analysisMs / 1000.0
    m("catalyst.optimization_s") = c.optimizationMs / 1000.0
    m("catalyst.planning_s") = c.planningMs / 1000.0
    m("catalyst.exchanges") = c.exchanges

    val writes = spans.filter(_.name.startsWith("tableio.writeTarget:"))
    if (writes.nonEmpty) {
      val upsert = writes.filter(w => upsertStart >= 0 && w.start >= upsertStart)
      val main = writes.filterNot(upsert.contains)
      val first = main.map(_.start).min
      val ws = main.map(dur)
      m("transportor.build_s") = secs(first - t0)
      m("transportor.build_jobs") = t.jobsIn(t0, first).size
      m("tableio.write_s") = ws.sum
      m("tableio.write_max_s") = ws.max
      m("tableio.rows_written") = c.recordsWritten
      m("tableio.read_amplification") = c.recordsRead / inputRows
      if (workload == "migrate_jdbc") {
        m("jdbc.rows_per_s") = c.recordsWritten / writes.map(dur).sum
        m("jdbc.merge_s") = upsert.map(w => secs(w.end - w.start - t.jobActiveNs(w.start, w.end))).sum
      }
    }

    if (workload == "release_stream") {
      val stage = "release stage (s\\d+)_.*".r
      val byStage = c.jobs.toSeq.groupBy(j => j.desc match {
        case stage(s) => s
        case _ => ""
      })
      ReleaseStages.foreach { s =>
        val js = byStage.getOrElse(s, Nil)
        m(s"release_run.$s.wall_s") = wall(js)
        m(s"release_run.$s.jobs") = js.size
      }
      spanNamed("incremental.bootstrap").foreach { b =>
        m("incremental.bootstrap_s") = dur(b)
        m("incremental.bootstrap_jobs") = t.jobsIn(b.start, b.end).size
      }
      val batches = spans.filter(_.name.startsWith("stream.batch:")).sortBy(_.start)
      val perBatch = batches.map(b => t.jobsIn(b.start, b.end))
      m("incremental.delta_jobs") = median(perBatch.map(_.size.toDouble))
      m("incremental.delta_task_s") = median(perBatch.map(_.map(_.runMs).sum / 1000.0))
      val third = math.max(1, batches.size / 3)
      val lat = batches.map(dur)
      m("incremental.delta_growth") =
        median(lat.takeRight(third)) / math.max(1e-9, median(lat.take(third)))
      DeltaLabels.foreach { l =>
        m(s"incremental.stage.${l.replaceAll("[^A-Za-z0-9_.-]", "_")}.wall_s") =
          median(perBatch.map(js => wall(js.filter(_.desc.startsWith(l + ":")))))
      }
      spanNamed("incremental.forget").foreach(f =>
        m("incremental.forget_jobs") = t.jobsIn(f.start, f.end).size)
      spanNamed("incremental.artifact").foreach(a => m("incremental.artifact_s") = dur(a))
      m("stores.segments") = num("stores_segments")
      m("stores.files") = num("stores_files")
      m("stores.mb") = num("stores_bytes") / MB
      m("stores.tombstone_ppm") = num("stores_tombstone_ppm")
      m("stores.write_amplification") = c.bytesWritten / math.max(1.0, outBytes.toDouble)
      spanNamed("stores.compact").foreach { s =>
        m("stores.compact_s") = dur(s)
        m("stores.mb_rewritten") = t.jobsIn(s.start, s.end).map(_.outBytes).sum / MB
      }
      val tr = c.triggers.toSeq
      m("stream.trigger_s") = median(tr.map(_.triggerMs / 1000.0))
      m("stream.addbatch_s") = median(tr.map(_.addBatchMs / 1000.0))
      m("stream.overhead_s") = median(tr.map(x => (x.triggerMs - x.addBatchMs) / 1000.0))
    }
    m
  }
}
