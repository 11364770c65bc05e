package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark harness: one client thread issues the next call
  * only after the last one returned.
  *
  * Usage: Main --workload W --data DIR --load DIR --work DIR --seed N
  *             --seconds S --trace 0|1
  *
  * It sets the session up `Setups` times (median reported), runs one unmeasured
  * warm pass, then measures complete passes until S seconds have passed
  * (at least `TailPasses`). With `--trace 1` the first half of the time is measured
  * untraced and the second half with the span recorder attached. Results
  * go to `<work>/harness.json`; the first occurrence of every checked
  * output goes to `<work>/results/<name>` as parquet. */
object Main {
  /** Measured passes of an untraced run, at least; the tail is taken over
    * exactly this many passes' calls, so its percentile is fixed. */
  val TailPasses = 3
  val WarmPasses = 1
  val Setups = 4
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Pass(traced: Boolean, calls: Seq[Call], wallS: Double, cpuS: Double)

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val (data, load, work) = (opt("data"), opt("load"), opt("work"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
      .min(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Int.MaxValue))

    // set-up: main -> ready, warmed session, repeated; the first one also
    // pays JVM class loading
    val setups = (1 to Setups).map { i =>
      if (i > 1) {
        SparkSession.active.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 1) mainNs else System.nanoTime()
      val spark = GraftSession.builder("perfbench").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      graft.sources.Tables.names.foreach(n =>
        graft.sources.Tables.tableNormalized(spark, data, n).schema)
      spark.range(1).count()
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val spark = SparkSession.active
    val w = Workloads(workload, spark, data, load, work, seed)

    val digests = mutable.Map.empty[String, String]
    val failures = mutable.LinkedHashMap.empty[String, String]
    def runPass(index: Int, tracer: Option[Tracer]): Pass = {
      val calls = w.pass(index).map { step =>
        val c0 = cpuBean.getProcessCpuTime
        val s = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val out = try Right(step.run()) catch { case e: Throwable => Left(e) }
        val t1 = System.nanoTime()
        val e = System.currentTimeMillis()
        val c1 = cpuBean.getProcessCpuTime
        val call = out match {
          case Right(r) =>
            val d = Digest(r.rows)
            if (digests.getOrElseUpdate(step.name, d) != d)
              failures.getOrElseUpdate(step.name, "output differs between passes")
            Call(step.name, step.kind, s, e, t1 - t0, r.buildNs, c1 - c0, r.rows.length, None)
          case Left(err) =>
            val msg = s"${err.getClass.getSimpleName}: ${String.valueOf(err.getMessage).take(300)}"
            failures.getOrElseUpdate(step.name, msg)
            Call(step.name, step.kind, s, e, t1 - t0, 0L, c1 - c0, 0L, Some(msg))
        }
        release(spark)
        System.err.println(f"[perfbench] pass $index ${step.name} ${call.latencyNs / 1e6}%.1f ms" +
          call.error.fold("")(" " + _))
        call
      }
      Pass(tracer.isDefined, calls, calls.map(_.latencyNs).sum / 1e9, calls.map(_.cpuNs).sum / 1e9)
    }

    // warm pass, not measured: codegen caches and the JIT
    (0 until WarmPasses).foreach(i => runPass(i, None))
    val passes = mutable.ArrayBuffer.empty[Pass]
    val acc = new Ledger.Acc
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def measure(budget: Double, minPasses: Int, tracer: Option[Tracer]): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < budget) {
        val gc0 = gcBeans.map(_.getCollectionTime).sum
        heapPools.foreach(_.resetPeakUsage())
        val p = runPass(WarmPasses + passes.size, tracer)
        passes += p
        n += 1
        tracer.foreach { t =>
          org.apache.spark.perfbench.Drain(spark.sparkContext)
          Ledger.fold(acc, p.calls, t, cores)
          acc.add("driver.gc_ms", (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble)
          acc.max("driver.peak_heap_mb",
            heapPools.map(_.getPeakUsage.getUsed).sum / 1024.0 / 1024.0)
        }
      }
    }
    if (!traced) measure(seconds, TailPasses, None)
    else {
      measure(seconds / 2, 1, None)
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      measure(seconds / 2, 1, Some(t))
      spark.listenerManager.unregister(t)
      spark.sparkContext.removeSparkListener(t)
    }

    // outputs for the DuckDB check, written after measuring
    w.checkOutputs.foreach { case (name, r) =>
      try spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$name")
      catch { case e: Throwable =>
        failures.getOrElseUpdate(name, s"result not writable: ${e.getMessage}")
      }
    }

    val plain = passes.filterNot(_.traced)
    val tracedPasses = passes.filter(_.traced)
    val perCall = plain.flatMap(_.calls).map(_.latencyNs / 1e6)
    // the highest percentile with at least 10 samples beyond it, over a
    // fixed sample count: the calls of the first TailPasses passes
    val tailSample = plain.take(TailPasses).flatMap(_.calls).map(_.latencyNs / 1e6).sorted
    val tailRank = math.max(0, tailSample.size - 11)
    val layers: Map[String, Double] =
      if (tracedPasses.isEmpty) Map.empty
      else {
        val k = tracedPasses.size.toDouble
        val peaks = Set("exec.peak_mem_mb", "driver.peak_heap_mb")
        val avg = acc.m.map { case (name, v) => name -> (if (peaks(name)) v else v / k) }
        val jobMs = avg.getOrElse("sched.job_ms", 0.0)
        val outRows = avg.getOrElse("out_rows", 0.0)
        (avg ++ Map(
          "sched.core_util" -> (if (jobMs > 0) avg("sched.task_run_ms") / (jobMs * cores) else 0.0),
          "sources.rows_per_out_row" -> (if (outRows > 0) avg("sources.scan_rows") / outRows else 0.0),
          "session.start_s" -> median(setups.map(_._2)),
          "session.warmup_s" -> median(setups.map(_._3)),
          "trace.overhead_frac" ->
            (median(tracedPasses.map(_.wallS)) / median(plain.map(_.wallS)) - 1.0)
        )).toMap
      }
    val out = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> cores,
      "queries" -> w.queries,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "calls" -> p.calls.size)),
      "setups_s" -> setups.map(_._1),
      "setup_s" -> median(setups.map(_._1)),
      "wall_s" -> callMedianSum(plain, _.latencyNs / 1e9),
      "cpu_s" -> callMedianSum(plain, _.cpuNs / 1e9),
      "query_p50_ms" -> median(perCall),
      "query_tail_ms" -> tailSample.lift(tailRank).getOrElse(0.0),
      "tail_percentile" -> 100.0 * (tailRank + 1) / math.max(1, tailSample.size),
      "tail_samples" -> tailSample.size,
      "attempted" -> passes.map(_.calls.size).sum,
      "failures" -> failures.toMap,
      "calls_by_name" -> passes.flatMap(_.calls).groupBy(_.name).map { case (k, v) => k -> v.size },
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (q, _) =>
        w.queries.contains(q) || q == "q_dedup_ngram" },
      "checked" -> w.checkOutputs.map(_._1),
      "per_layer" -> layers,
      "self_ms" -> (if (tracedPasses.isEmpty) Map.empty[String, Double]
                    else acc.self.map { case (k, v) => k -> v / tracedPasses.size }.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/harness.json"), Json(out))
    spark.stop()
  }

  /** Drops Datasets a call cached, so no call reads another's cache.
    * Checkpointed RDDs are left to Spark's context cleaner, as in any
    * long-lived session. */
  private def release(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()

  /** One complete pass: the sum over its calls of each call's median over
    * the passes. A slow stretch of the shared host that covers part of one
    * pass is outvoted call by call, where a median of pass totals needs it
    * to miss most passes entirely. */
  def callMedianSum(passes: scala.collection.Seq[Pass], f: Call => Double): Double =
    passes.flatMap(_.calls).groupBy(_.name).values.map(cs => median(cs.map(f))).sum

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Order-insensitive digest of a result: canonical row strings, sorted. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().map(x => f"$x%02x").mkString
  }
}

/** Minimal JSON writer for the harness record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
