package graftbench

import org.apache.spark.sql.SparkSession

import Harness.secondsSince

/** Benchmark JVM entry point (see perfbench/README.md).
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work-dir <dir> --cores <n> [--trace-out <file>]
  *   [--commit <sha>]
  *
  * Prints two lines on stdout: `REPORT <json>` with every per-op
  * figure, the checks and the environment, then `RESULT <json>` in the
  * driver's result format.
  */
object Main {
  /** Untimed client cycles between set-up and the window: the first
    * cycles after a cold JVM start run 20-30% slow while the JIT
    * compiles, which a few samples per kind cannot absorb. */
  val WarmCycles = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = opt("work-dir")
    val cores = opt("cores").toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)

    val in = new Inputs(spark, s"$work/data", seed)
    val wl: Workload = workload match {
      case "serve-small" => new ServeSmall(spark, in)
      case "mr-batch" => new MrBatch(spark, in, s"$work/data/sf", s"$work/out/terasort")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupT0 = System.nanoTime()
    Log.step("setup")(wl.setup())
    for (c <- 1 to WarmCycles) Log.step("warm-up cycle")(
      wl.cycle(c).zipWithIndex.foreach { case (op, i) =>
        Harness.run(spark, op, -100 * c - i, traced = false)
      })
    val setupS = secondsSince(t0)
    val buildS = secondsSince(setupT0)
    val trace = if (traced) Some(new Trace) else None
    val windowT0 = System.nanoTime()
    val samples = Harness.loop(spark, wl, seconds, if (traced) 4 else 2, trace)
    val windowS = secondsSince(windowT0)
    val checks = Log.step("checks")(wl.checks())
    spark.stop()

    val badKinds = checks.filterNot(_.ok).flatMap(_.covers).toSet
    val failed = samples.count(s => !s.ok || badKinds(s.kind))
    val e2e = samples.filterNot(_.traced)
    val medians = wl.kinds.map { k =>
      k -> Stats.median(e2e.filter(s => s.kind == k && s.ok).map(_.wallS))
    }
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "op_s" -> (Stats.geomean(medians.map(_._2)), "s"),
      "cycle_s" -> (medians.map(_._2).sum, "s"))

    val layers = trace.map { tr =>
      val l = Layers.metrics(tr, samples, wl.kinds, cores)
      opt.get("trace-out").foreach { path =>
        val w = new java.io.PrintWriter(path, "UTF-8")
        try tr.spans(workload, samples).foreach(w.println) finally w.close()
      }
      l
    }

    val report = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(opt.getOrElse("commit", "unknown")),
      "client" -> Json.str("one closed-loop client thread"),
      "window_s" -> Json.num(windowS),
      "session_s" -> Json.num(sessionS),
      "setup_after_session_s" -> Json.num(buildS),
      "attempted" -> samples.length.toString,
      "failed" -> failed.toString,
      "error_rate" -> Json.num(failed.toDouble / samples.length),
      "ops" -> Json.obj(Report.opFigures(wl.kinds, e2e): _*),
      "workload_figures" -> Json.obj(Report.workloadFigures(workload, e2e): _*),
      "checks" -> Json.arr(checks.map(c => Json.obj(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString,
        "detail" -> Json.str(c.detail)))),
      "layers_by_kind" -> Json.obj(layers.map(_._2).getOrElse(Nil): _*),
      "layers_report_only" -> Json.obj(layers.map(_._3).getOrElse(Nil): _*))
    println(s"REPORT $report")

    val metrics = layers.map(_._1).getOrElse(endToEnd)
    val result = Json.obj(
      "correct" -> (failed == 0).toString,
      "attempted" -> samples.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))
    println(s"RESULT $result")
  }
}

/** Human-facing figures for the REPORT line: each op kind's median
  * beside the highest percentile its sample supports and the count. */
object Report {
  def opFigures(kinds: Seq[String], e2e: Seq[OpSample]): Seq[(String, String)] =
    kinds.map { k =>
      val xs = e2e.filter(s => s.kind == k && s.ok).map(_.wallS)
      val tail = Stats.supportedPercentile(xs.length).map(p =>
        Seq("tail_pct" -> p.toString, "tail_s" -> Json.num(Stats.quantile(xs, p / 100.0))))
        .getOrElse(Seq("tail_pct" -> "null", "tail_s" -> "null"))
      s"${k}_s" -> Json.obj(Seq("median" -> Json.num(Stats.median(xs)),
        "n" -> xs.length.toString, "unit" -> Json.str("s")) ++ tail: _*)
    }

  /** Throughput: queries answered per second of op wall on serve-small,
    * job input MB per second of op wall on mr-batch. */
  def workloadFigures(workload: String, e2e: Seq[OpSample]): Seq[(String, String)] = {
    val ok = e2e.filter(_.ok)
    val wall = ok.map(_.wallS).sum
    workload match {
      case "mr-batch" => Seq("mr_mb_per_s" -> Json.num(ok.map(_.inputBytes).sum / 1e6 / wall))
      case _ => Seq("qps" -> Json.num(ok.map(_.queries).sum / wall))
    }
  }
}

/** The traced run's per-layer metrics. */
object Layers {
  type Metric = (String, (Double, String))

  /** (driver metrics, per-kind figures, report-only figures). */
  def metrics(tr: Trace, samples: Seq[OpSample], kinds: Seq[String], cores: Int)
      : (Seq[Metric], Seq[(String, String)], Seq[(String, String)]) = {
    val byOp = tr.layersByOp(samples)
    val traced = samples.filter(s => s.traced && s.ok)
    val ls = traced.map(s => s -> byOp.getOrElse(s.seq, new Trace.Layers))
    val n = math.max(1, ls.length).toDouble
    def per(f: Trace.Layers => Double) = ls.map(x => f(x._2)).sum / n
    val wallMs = traced.map(_.wallS * 1000).sum
    val busyMs = ls.map { case (s, l) => l.busyMs(s.startMs, s.endMs) }.sum
    val inBytes = traced.map(_.inputBytes).sum
    val results = traced.map(_.resultRows).sum + ls.map(_._2.rowsWritten).sum
    val untraced = samples.filter(s => !s.traced && s.ok)
    val overhead = Stats.geomean(kinds.flatMap { k =>
      val a = traced.filter(_.kind == k).map(_.wallS)
      val b = untraced.filter(_.kind == k).map(_.wallS)
      if (a.nonEmpty && b.nonEmpty) Some(Stats.median(a) / Stats.median(b)) else None
    })
    val driver: Seq[Metric] = Seq(
      "operators.call_s" -> (traced.map(_.callS).sum / n, "s"),
      "operators.jobs" -> (per(_.callJobs), "count"),
      "catalyst.plan_s" -> (per(_.planMs) / 1000, "s"),
      "catalyst.executions" -> (per(_.executions), "count"),
      "sources.rows_read" -> (per(_.rowsRead), "rows"),
      "sources.bytes_read" -> (per(_.scanBytes), "bytes"),
      "sources.rows_per_result" -> (
        ls.map(_._2.rowsRead).sum / math.max(1L, results).toDouble, "ratio"),
      "exchange.shuffles" -> (per(_.shuffles), "count"),
      "exchange.write_bytes" -> (per(_.shuffleWrite), "bytes"),
      "exchange.read_bytes" -> (per(_.shuffleRead), "bytes"),
      "exec.jobs" -> (per(_.jobs), "count"),
      "exec.tasks" -> (per(_.tasks), "count"),
      "exec.task_s" -> (per(_.runMs) / 1000, "s"),
      "exec.cpu_s" -> (per(_.cpuNs) / 1e9, "s"),
      "exec.core_util" -> (ls.map(_._2.runMs).sum / (wallMs * cores), "ratio"),
      "exec.idle_frac" -> (1.0 - busyMs / wallMs, "ratio"),
      "trace.overhead_ratio" -> (overhead, "ratio"),
      "trace.ops" -> (traced.length.toDouble, "count"))
    val perKind = kinds.map { k =>
      val ks = ls.filter(_._1.kind == k)
      val m = math.max(1, ks.length).toDouble
      def avg(f: Trace.Layers => Double) = ks.map(x => f(x._2)).sum / m
      k -> Json.obj(
        "n" -> ks.length.toString,
        "operators.call_s" -> Json.num(ks.map(_._1.callS).sum / m),
        "operators.jobs" -> Json.num(avg(_.callJobs)),
        "catalyst.plan_s" -> Json.num(avg(_.planMs) / 1000),
        "catalyst.executions" -> Json.num(avg(_.executions)),
        "sources.rows_read" -> Json.num(avg(_.rowsRead)))
    }
    // zero by construction on some workload, so no use as a gate: no
    // serving op writes a file, and at these sizes nothing spills
    val reportOnly = Seq(
      "exchange.fetch_wait_s" -> Json.num(per(_.fetchWaitMs) / 1000),
      "exchange.spill_bytes" -> Json.num(per(_.spill)),
      "exec.gc_s" -> Json.num(per(_.gcMs) / 1000),
      "write.bytes" -> Json.num(per(_.writeBytes)),
      "write.files" -> Json.num(per(_.writeFiles)),
      "write.jobs" -> Json.num(per(_.writeJobs)),
      "write.amp" -> (if (inBytes > 0)
        Json.num(ls.map(_._2.writeBytes).sum / inBytes.toDouble) else "null"),
      "note" -> Json.str("per op means over traced ops; these read exactly 0 " +
        "on some workload (local-mode fetch wait, task GC, spill; file writes " +
        "on serve-small), so they stay out of the driver metrics"))
    (driver, perKind, reportOnly)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
