package graftbench

import graft.ParkMeter
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * `--trace 0` is the timed run: set-up three times (median reported),
  * warm-up, then a closed loop of operations for `--seconds` and at least
  * the workload's `minOps` (ending on a whole cycle of the workload),
  * then the output checks. `--trace 1` is the
  * traced run: three passes of a fixed number of operations from fresh
  * state: traced, untraced, traced. The untraced pass gives the tracing
  * overhead; the two traced passes must repeat their counters.
  *
  * The last line of standard output is the result object. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String)

  val setupReps = 3

  /** The per-layer metrics of the traced run, in report order. */
  val layerNames: Seq[String] = Seq(
    "GraftSession.init_s",
    "TransferRunner.self_s",
    "sources.read_s", "sources.bytes_read", "sources.records_read",
    "operators.chain_s", "operators.rows_in", "operators.rows_out",
    "operators.collapse_ratio",
    "parsers.decode_s", "parsers.records_in",
    "streaming.self_s", "streaming.merge_s", "streaming.merge_jobs_per_batch") ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution").map("streaming.trigger_ms." + _) ++ Seq(
    "streaming.buckets_rewritten_per_batch", "streaming.rewrite_rows_per_event",
    "streaming.rewrite_bytes_per_batch", "streaming.write_tasks_empty_frac",
    "streaming.lookup_s", "streaming.lookup_bytes_read", "streaming.state_files",
    "sinks.write_s", "sinks.commit_s", "sinks.bytes_written", "sinks.files_written",
    "sinks.mean_file_bytes",
    "functions.self_s", "functions.band_update_s", "functions.containment_update_s",
    "functions.compact_s", "functions.jobs_per_update",
    "functions.band_jobs_per_update", "functions.containment_jobs_per_update",
    "functions.shuffle_bytes_per_update", "functions.pairs_found",
    "functions.index_files",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.planning_s", "spark.driver_only_s",
    "spark.core_busy_frac", "spark.task_skew",
    "host.cores", "host.steal_s", "host.park_s", "host.peak_rss_mb",
    "trace.overhead_frac", "trace.counters_differing")

  def unitOf(name: String): String =
    if (name == "rows_per_s") "1/s"
    else if (name.startsWith("streaming.trigger_ms.") || name.endsWith("_ms") ||
        name.contains("_ms_")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("_ratio") || name.endsWith("skew")) "ratio"
    else "count"

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workload.names.contains(w), s"--workload must be one of ${Workload.names.mkString(", ")}")
    Args(w, m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A full collection and a pause before a measured phase, so that it
    * does not pay for the phases before it: their garbage (earlier
    * set-ups' sessions, the warm-up), the context cleaner's work on what
    * the collection frees, and the JIT's queue of compilations. */
  private def quiesce(pauseMs: Long): Unit = { System.gc(); Thread.sleep(pauseMs) }

  /** A graft session at the log level of graft's own entry points: INFO
    * logs several lines per task, which the driver would pay for. */
  def session(work: String): SparkSession = {
    val spark = graft.GraftSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.init(spark)
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
  }

  /** Highest percentile with at least ten samples beyond it, as
    * (percentile, value); None when that percentile is not above the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      Some((100.0 * (s.size - 10) / s.size, s(s.size - 11)))
    }

  private def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    }.getOrElse(0.0)

  private def logErr(what: String, e: Throwable): Unit = {
    System.err.println(s"graftbench: $what failed: $e")
    e.printStackTrace()
  }

  final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
                           metrics: Seq[(String, Double)], report: Seq[String],
                           artifact: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    deleteTree(a.work)
    Files.createDirectories(Paths.get(a.work))
    Files.createDirectories(Paths.get(a.out))
    val park = new ParkMeter()
    val o = if (a.trace) traced(a, park) else timed(a, park)
    park.stop()
    SparkSession.getActiveSession.foreach(_.stop())
    deleteTree(a.work)
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"
    Files.write(Paths.get(a.out, name), Json(o.artifact ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> o.metrics.toMap)).getBytes("UTF-8"))
    o.report.foreach(println)
    println(Json(Map("correct" -> o.correct, "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> o.metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> unitOf(k)) }.toMap)))
    sys.exit(0)
  }

  // ---------------- timed run ----------------

  private def timed(a: Args, park: ParkMeter): Outcome = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    (0 until setupReps).foreach { rep =>
      if (w != null) {
        w.close(); spark.stop(); deleteTree(s"${a.work}/data${rep - 1}")
      }
      quiesce(200)
      val t0 = System.nanoTime()
      spark = session(a.work)
      w = Workload(a.workload, spark, a.seed, s"${a.work}/data$rep", NoTrace)
      w.setup()
      setups += secsSince(t0)
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = secsSince(w0)
    quiesce(1000)
    val lat = mutable.ArrayBuffer.empty[Double]
    val readLat = mutable.ArrayBuffer.empty[Double]
    // per operation: input rows completed and seconds spent (operation
    // and reads, without the generator's prepare)
    val opRows = mutable.ArrayBuffer.empty[Long]
    val opSecs = mutable.ArrayBuffer.empty[Double]
    var failedOps = 0
    var i = 0
    val start = System.nanoTime()
    def done = {
      val e = secsSince(start)
      (e >= a.seconds && i >= w.minOps && i % w.cycle == 0) || i >= w.maxOps ||
        e >= a.seconds * 4 + 60
    }
    while (!done) {
      val ok = try { w.prepare(i); true } catch { case NonFatal(e) => logErr(s"prepare $i", e); false }
      val o0 = System.nanoTime()
      var rows = 0L
      if (ok) try rows = w.run(i) catch { case NonFatal(e) => logErr(s"op $i", e); failedOps += 1 }
      else failedOps += 1
      lat += (System.nanoTime() - o0) / 1e6
      try readLat ++= w.reads(i) catch { case NonFatal(e) => logErr(s"reads $i", e); failedOps += 1 }
      opRows += rows
      opSecs += secsSince(o0)
      i += 1
    }
    val endNs = System.nanoTime()
    val busy = opSecs.sum
    // throughput of each whole cycle; a trailing partial cycle (only when
    // the safety cap ended the loop) is left out unless it is all there is
    val cycles = opRows.indices.grouped(w.cycle).toSeq
      .filter(c => c.size == w.cycle || i < w.cycle)
      .map(c => c.map(opRows).sum / c.map(opSecs).sum)
    val timedS = secsSince(start)
    val c0 = System.nanoTime()
    val checks = try w.check() catch { case NonFatal(e) => logErr("check", e); Seq(s"check threw $e") }
    val checkS = secsSince(c0)
    w.close()
    val failed = failedOps + checks.size
    val opTail = tail(lat.toSeq)
    val readTail = tail(readLat.toSeq)
    val steal = park.stealSecs(start, endNs)
    val parked = park.overlapSecs(start, endNs)
    val cores = Runtime.getRuntime.availableProcessors()
    val metrics = Seq(
      "setup_s" -> Workload.median(setups.toSeq),
      "rows_per_s" -> Workload.median(cycles),
      "op_ms_p50" -> Workload.median(lat.toSeq))
    def tailLine(name: String, t: Option[(Double, Double)], n: Int) = t match {
      case Some((p, v)) => f"$name $v ms (p$p%.1f, n=$n)"
      case None => s"$name omitted (n=$n: no percentile above the median has 10 samples beyond it)"
    }
    val report = Seq(
      s"workload ${a.workload} seed ${a.seed}: ${i} operations in ${"%.2f".format(busy)} s, " +
        s"$failedOps failed, ${checks.size} failed checks",
      s"setup_s ${metrics(0)._2} s (runs ${setups.map("%.3f".format(_)).mkString(", ")})",
      s"rows_per_s ${metrics(1)._2} 1/s (median of ${cycles.size} cycles of ${w.cycle})",
      s"op_ms_p50 ${metrics(2)._2} ms (n=${lat.size})",
      tailLine("op_ms_tail", opTail, lat.size)) ++
      (if (readLat.isEmpty) Nil else Seq(
        s"read_ms_p50 ${Workload.median(readLat.toSeq)} ms (n=${readLat.size})",
        tailLine("read_ms_tail", readTail, readLat.size))) ++ Seq(
      s"failed_frac ${failed.toDouble / math.max(1, i)}",
      f"host cores=$cores steal_s=$steal%.3f park_s=$parked%.3f peak_rss_mb=${peakRssMb()}%.0f",
      f"phases set-up ${setups.sum}%.1f s, warm-up $warmS%.1f s, timed $timedS%.1f s, checks $checkS%.1f s") ++
      checks.map("check failed: " + _)
    Outcome(failed == 0 && i > 0, math.max(1, i), failed, metrics, report, Map(
      "setup_runs_s" -> setups.toSeq, "op_ms" -> lat.toSeq, "cycle_rows_per_s" -> cycles,
      "phases_s" -> Map("setup" -> setups.sum, "warm_up" -> warmS, "timed" -> timedS,
        "checks" -> checkS), "read_ms" -> readLat.toSeq,
      "op_ms_tail" -> opTail.map { case (p, v) => Map("percentile" -> p, "value" -> v, "n" -> lat.size) },
      "read_ms_p50" -> (if (readLat.isEmpty) None else Some(Workload.median(readLat.toSeq))),
      "read_ms_tail" -> readTail.map { case (p, v) => Map("percentile" -> p, "value" -> v, "n" -> readLat.size) },
      "failed_frac" -> failed.toDouble / math.max(1, i), "failed_checks" -> checks,
      "host" -> Map("cores" -> cores, "steal_s" -> steal, "park_s" -> parked,
        "peak_rss_mb" -> peakRssMb())))
  }

  // ---------------- traced run ----------------

  private final case class Pass(lat: Seq[Double], failed: Int,
      checks: Seq[String], layers: Map[String, Double],
      counters: Map[String, Double], t0: Long, t1: Long)

  private def traced(a: Args, park: ParkMeter): Outcome = {
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val initS = secsSince(t0)
    val cores = Runtime.getRuntime.availableProcessors()

    def pass(name: String, trace: Boolean): Pass = {
      val rec = if (trace) Some(new Recorder(spark).start()) else None
      val w = Workload(a.workload, spark, a.seed, s"${a.work}/$name", rec.getOrElse(NoTrace))
      w.setup()
      val ops = w.tracedOps
      val lat = mutable.ArrayBuffer.empty[Double]
      val newFiles = mutable.Map.empty[Int, Int]
      var failed = 0
      val p0 = System.nanoTime()
      (0 until ops).foreach { i =>
        rec.foreach(_.atOp(i))
        val before = if (trace) w.outputFiles() else Set.empty[String]
        try {
          w.prepare(i)
          val o0 = System.nanoTime()
          w.run(i)
          lat += (System.nanoTime() - o0) / 1e6
          w.reads(i)
          if (trace) { w.prefix(i); newFiles(i) = (w.outputFiles() -- before).size }
        } catch { case NonFatal(e) => logErr(s"$name op $i", e); failed += 1 }
      }
      val p1 = System.nanoTime()
      val (layers, counters) = rec match {
        case None => (Map.empty[String, Double], Map.empty[String, Double])
        case Some(r) =>
          r.stop()
          val files = (0 until ops).map(newFiles.getOrElse(_, 0).toDouble).sum / ops
          val l = w.layers(r, ops) ++ sparkLayers(r, ops, cores) ++ Map(
            "sinks.files_written" -> files)
          val bytes = l.getOrElse("sinks.bytes_written", 0.0)
          (l ++ Map("sinks.mean_file_bytes" -> (if (files > 0) bytes / files else 0.0)),
            opCounters(r, ops, newFiles.toMap) ++ w.opCounters)
      }
      val checks = try w.check() catch { case NonFatal(e) => logErr("check", e); Seq(s"check threw $e") }
      w.close()
      Pass(lat.toSeq, failed, checks, layers, counters, p0, p1)
    }

    val pa = pass("traced-a", trace = true)
    val pu = pass("untraced", trace = false)
    val pb = pass("traced-b", trace = true)
    val differing = (pa.counters.keySet ++ pb.counters.keySet).toSeq.sorted
      .filter(k => pa.counters.get(k) != pb.counters.get(k))
      .map(k => s"$k: ${pa.counters.get(k).orNull} vs ${pb.counters.get(k).orNull}")
    val overhead =
      Workload.median(pb.lat) / math.max(1e-9, Workload.median(pu.lat)) - 1
    val host = Map(
      "host.cores" -> cores.toDouble,
      "host.steal_s" -> park.stealSecs(pa.t0, pb.t1),
      "host.park_s" -> park.overlapSecs(pa.t0, pb.t1),
      "host.peak_rss_mb" -> peakRssMb(),
      "trace.overhead_frac" -> overhead,
      "trace.counters_differing" -> differing.size.toDouble,
      "GraftSession.init_s" -> initS)
    val all = pa.layers ++ host
    val metrics = layerNames.map(n => n -> all.getOrElse(n, 0.0))
    val passes = Seq(pa, pu, pb)
    val checks = passes.flatMap(_.checks)
    val failed = passes.map(_.failed).sum + checks.size
    val attempted = passes.map(_.lat.size).sum + passes.map(_.failed).sum
    val report = Seq(
      s"workload ${a.workload} seed ${a.seed}: traced run, ${pa.lat.size} operations per pass, " +
        s"$failed failures") ++
      metrics.map { case (k, v) => s"$k $v ${unitOf(k)}" } ++
      differing.map("counter differs between traced passes: " + _) ++
      checks.map("check failed: " + _)
    Outcome(failed == 0, math.max(1, attempted), failed, metrics, report, Map(
      "op_ms" -> Map("traced_a" -> pa.lat, "untraced" -> pu.lat, "traced_b" -> pb.lat),
      "counters_traced_a" -> pa.counters, "counters_differing" -> differing,
      "failed_checks" -> checks))
  }

  /** Root spans of the operations and reads of a traced pass. */
  private def roots(r: Recorder): Seq[Span] =
    r.spans.toSeq.filter(s => s.op >= 0 && s.parent == null && s.kind != "prefix")

  private def rootJobs(r: Recorder, ss: Seq[Span]): Seq[JobRec] =
    (ss.flatMap(r.jobsIn) ++ ss.flatMap(r.streamJobsIn)).distinctBy(_.id)

  private def sparkLayers(r: Recorder, ops: Int, cores: Int): Map[String, Double] = {
    val rs = roots(r)
    val jobs = rootJobs(r, rs)
    val ts = r.tasksOf(jobs)
    val wall = rs.map(_.secs).sum
    val planning = r.planning.filter { case (t, _) =>
      rs.exists(s => t >= s.startMs && t <= s.endMs) }.map(_._2).sum / 1e3
    val ivs = jobs.map(j => (j.startMs, j.endMs))
    val driverOnly = rs.map(s => s.secs - r.covered(s.startMs, s.endMs, ivs)).sum
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val d = g.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max / math.max(1.0, Workload.median(d))
    }.maxOption.getOrElse(1.0)
    val taskS = ts.map(_.runMs).sum / 1e3
    val self = Seq("TransferRunner", "streaming", "functions").map { l =>
      s"$l.self_s" -> r.spans.filter(s => s.op >= 0 && s.layer == l && s.kind != "prefix")
        .map(r.selfSecs).sum / ops
    }
    self.toMap ++ Map(
      "spark.jobs" -> jobs.size.toDouble / ops,
      "spark.stages" -> ts.map(_.stageId).distinct.size.toDouble / ops,
      "spark.tasks" -> ts.size.toDouble / ops,
      "spark.task_s" -> taskS / ops,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / ops,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3 / ops,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble / ops,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble / ops,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble / ops,
      "spark.planning_s" -> planning / ops,
      "spark.driver_only_s" -> driverOnly / ops,
      "spark.core_busy_frac" -> taskS / math.max(1e-9, cores * wall),
      "spark.task_skew" -> skew)
  }

  /** Counters of each operation that should repeat exactly on a re-run. */
  private def opCounters(r: Recorder, ops: Int, files: Map[Int, Int]): Map[String, Double] =
    (0 until ops).flatMap { i =>
      val jobs = rootJobs(r, roots(r).filter(_.op == i))
      val ts = r.tasksOf(jobs)
      Seq(s"op$i.jobs" -> jobs.size.toDouble, s"op$i.tasks" -> ts.size.toDouble,
        s"op$i.rows_written" -> ts.map(_.outRecs).sum.toDouble,
        s"op$i.bytes_written" -> ts.map(_.outBytes).sum.toDouble,
        s"op$i.files_written" -> files.getOrElse(i, 0).toDouble)
    }.toMap
}

/** Minimal JSON writer for the result line and the artifact. */
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
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
