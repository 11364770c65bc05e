package graftbench

import scala.collection.mutable

/** One closed-loop call: a query (build + action) or one public sink call.
  * Times are driver wall-clock milliseconds (for span attribution) and
  * nanoseconds (for latency). */
final case class Call(name: String, kind: String, startMs: Long, endMs: Long,
                      latencyNs: Long, buildNs: Long, cpuNs: Long, rows: Long,
                      error: Option[String])

/** Folds a traced pass's spans into per-layer metrics and a disjoint
  * self-time split of the pass's wall time.
  *
  * Spans nest as call → (build | action) → job → stage → task. Each call's
  * window is split into: Catalyst phase time outside any job (`plans`),
  * checkpoint-job time (`storage`), other job time split by task run time
  * spread over the cores (`exec`, of which shuffle fetch wait is
  * `shuffle`) and the rest (`sched`), and time covered by neither a job
  * nor a Catalyst phase — driver-side work — charged to `sources` for sink
  * calls and to `ops` for everything else. */
object Ledger {
  val SinkKinds = Set("commit", "vacuum", "index_build", "index_append", "index_query")
  val SelfLayers = Seq("plans", "ops", "sources", "sched", "exec", "shuffle", "storage")

  private def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  final class Acc {
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val self = mutable.LinkedHashMap(SelfLayers.map(_ -> 0.0): _*)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    def max(k: String, v: Double): Unit = m(k) = math.max(m(k), v)
  }

  /** Adds one traced pass's calls to `acc`. */
  def fold(acc: Acc, calls: Seq[Call], t: Tracer, cores: Int): Unit = t.synchronized {
    val mb = 1024.0 * 1024.0
    calls.foreach { c =>
      def in(ms: Long) = ms >= c.startMs && ms <= c.endMs
      def clip(s: Long, e: Long) = (math.max(s, c.startMs), math.min(e, c.endMs))
      val jobs = t.jobs.filter(j => in(j.start))
      val jobIds = jobs.map(_.id).toSet
      val tasks = t.tasks.filter(k => jobIds.contains(k.job))
      val execs = t.execs.filter(x => in(x.at))
      val phases = execs.flatMap(_.phases)
      val jobSpans = jobs.map(j => clip(j.start, j.end)).toSeq
      val ckSpans = jobs.filter(_.ckpt).map(j => clip(j.start, j.end)).toSeq
      val catSpans = phases.map(p => clip(p._2, p._3)).toSeq
      val wall = (c.endMs - c.startMs).toDouble
      val jobMs = union(jobSpans).toDouble
      val covered = union(jobSpans ++ catSpans).toDouble
      val ckMs = union(ckSpans).toDouble
      val otherJobMs = jobMs - ckMs
      val ckIds = jobs.filter(_.ckpt).map(_.id).toSet
      val otherTasks = tasks.filterNot(k => ckIds.contains(k.job))
      val busy = math.min(otherJobMs, otherTasks.map(_.runMs).sum.toDouble / cores)
      val wait = math.min(busy, otherTasks.map(_.fetchWaitMs).sum.toDouble / cores)
      val driverSelf = math.max(0.0, wall - covered)
      acc.self("plans") += covered - jobMs
      acc.self(if (SinkKinds(c.kind)) "sources" else "ops") += driverSelf
      acc.self("storage") += ckMs
      acc.self("exec") += busy - wait
      acc.self("shuffle") += wait
      acc.self("sched") += otherJobMs - busy

      phases.foreach { case (name, s, e) => acc.add(s"plans.${name}_ms", (e - s).toDouble) }
      acc.add("plans.executions", execs.size.toDouble)
      acc.add("ops.build_ms", c.buildNs / 1e6)
      acc.add("ops.driver_self_ms", driverSelf)
      acc.add("sched.jobs", jobs.size.toDouble)
      acc.add("sched.stages", t.stages.count(in).toDouble)
      acc.add("sched.tasks", tasks.size.toDouble)
      acc.add("sched.job_ms", jobMs)
      acc.add("sched.task_run_ms", tasks.map(_.runMs).sum.toDouble)
      acc.add("sched.task_overhead_ms",
        tasks.map(k => math.max(0L, k.finish - k.launch - k.runMs)).sum.toDouble)
      acc.add("sched.failed_tasks", tasks.count(_.failed).toDouble)
      acc.add("storage.checkpoint_jobs", ckIds.size.toDouble)
      acc.add("storage.checkpoint_ms", ckMs)
      acc.add("storage.spill_mb", tasks.map(_.spillBytes).sum / mb)
      acc.add("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9)
      acc.add("exec.run_s", tasks.map(_.runMs).sum / 1e3)
      acc.add("exec.gc_ms", tasks.map(_.gcMs).sum.toDouble)
      acc.max("exec.peak_mem_mb", if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb)
      acc.add("shuffle.write_mb", tasks.map(_.shWrite).sum / mb)
      acc.add("shuffle.read_mb", tasks.map(_.shRead).sum / mb)
      acc.add("shuffle.records", tasks.map(_.shRecords).sum.toDouble)
      acc.add("shuffle.fetch_wait_ms", tasks.map(_.fetchWaitMs).sum.toDouble)
      acc.add("sources.scan_mb", tasks.map(_.inBytes).sum / mb)
      acc.add("sources.scan_rows", tasks.map(_.inRecords).sum.toDouble)
      acc.add("sources.scan_tasks", tasks.count(k => k.inBytes > 0 || k.inRecords > 0).toDouble)
      acc.add("sources.write_mb", tasks.map(_.outBytes).sum / mb)
      acc.add("sources.files_written", execs.map(_.files).sum.toDouble)
      acc.add("out_rows", c.rows.toDouble)
      c.kind match {
        case "commit" => acc.add("sources.commit_ms", c.latencyNs / 1e6)
        case "vacuum" => acc.add("sources.vacuum_ms", c.latencyNs / 1e6)
        case "index_build" | "index_append" => acc.add("sources.index_append_ms", c.latencyNs / 1e6)
        case "index_query" => acc.add("sources.index_query_ms", c.latencyNs / 1e6)
        case _ => ()
      }
    }
  }
}
