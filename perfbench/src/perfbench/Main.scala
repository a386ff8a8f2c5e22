package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir> [--source <id>]
  * }}}
  *
  * Prints an environment line, a summary line and, last, the result object
  * `{"correct", "attempted", "failed", "metrics"}`. Exits 1 when the
  * correctness gate fails (the metrics are still printed).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.Names.contains(workload)) usage(s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = need("work")
    val data = need("data")

    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val loadBefore = loadPerCore()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val run = new Run(spark, work, data, seed, seconds, trace)
    val res = Workloads.run(workload, run)
    run.log("checks done")
    trace.foreach { t =>
      val f = java.nio.file.Paths.get(work).getParent.resolve(s"trace-$workload-$seed.jsonl")
      java.nio.file.Files.write(f, t.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val loadAfter = loadPerCore()
    val conf = spark.conf.getAll.filter { case (k, _) => Conf.keySet(k) || k == "spark.master" }

    val rec = res.recorder
    val correct = res.checks.forall(_._2 == 0L)
    val setupS = Stats.median(res.setupS)
    // Commit and probe cost is reported in CPU time of the JVM process:
    // on a shared host their wall time moves with the neighbours' load by
    // more than any bound a gate could use (perfbench/README.md,
    // "Steadiness"). Wall times are on the summary line.
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("batch_cpu_s", Stats.median(rec.commitCpuS.toSeq), "s"),
      ("probe_cpu_ms", Stats.median(rec.probeCpuMs.toSeq), "ms"),
      ("index_disk_mb", res.diskMb, "MB"),
      ("heap_peak_mb", res.heapMb, "MB"))
    val wall: Seq[(String, Double, String)] = Seq(
      ("batch_p50_s", Stats.median(rec.commitS.toSeq), "s"),
      ("docs_per_s", Stats.median(rec.docsPerS.toSeq), "1/s"),
      ("changes_per_s", rec.inputRows / math.max(1e-9, rec.commitWallS), "1/s"),
      ("probe_p50_ms", Stats.median(rec.probeMs.toSeq), "ms"))

    println(json(Map(
      "env" -> json(Map(
        "workload" -> str(workload), "seed" -> seed.toString, "trace" -> traced.toString,
        "nproc" -> Runtime.getRuntime.availableProcessors.toString, "cores_used" -> cores.toString,
        "load_per_core_before" -> f"$loadBefore%.3f", "load_per_core_after" -> f"$loadAfter%.3f",
        "jvm" -> str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "spark" -> str(spark.version), "source" -> str(opts.getOrElse("source", "unknown")),
        "conf" -> json(conf.map { case (k, v) => k -> str(v) }))))))
    println(json(Map("summary" -> json(Map(
      "samples" -> rec.commitS.size.toString,
      "probe_samples" -> rec.probeMs.size.toString,
      "fail_ratio" -> num(rec.failed.toDouble / math.max(1, rec.attempted)),
      "session_s" -> num(sessionS),
      "setup_reps_s" -> res.setupS.map(num).mkString("[", ",", "]"),
      "checks" -> json(res.checks.map { case (k, v) => k -> v.toString }.toMap),
      "info" -> json(res.info.map { case (k, v) => k -> str(v) }),
      "wall" -> json(wall.map { case (k, v, u) => k -> s"""{"value":${num(v)},"unit":"$u"}""" }.toMap),
      "metrics" -> json(e2e.map { case (k, v, u) => k -> s"""{"value":${num(v)},"unit":"$u"}""" }.toMap))))))
    if (!correct) System.err.println(s"[perfbench] correctness gate FAILED: ${res.checks.filter(_._2 != 0L)}")

    val metrics =
      if (traced) res.layer.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, PerLayerUnits.unit(k)) }
      else e2e.map { case (k, v, u) => k -> (v, u) }
    println(json(Map(
      "correct" -> correct.toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "metrics" -> json(metrics.map { case (k, (v, u)) => k -> s"""{"value":${num(v)},"unit":"$u"}""" }.toMap))))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** Session settings shared by every workload (production defaults plus a
    * bounded local master and scratch dirs inside the run's work dir).
    */
  private val Conf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1")

  private def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    Conf.foreach { case (k, v) => b.config(k, v) }
    val s = b
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadPerCore(): Double = {
    val la = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ")(0).toDouble)
      .getOrElse(java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    la / Runtime.getRuntime.availableProcessors
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.Names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>")
    sys.exit(2)
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def json(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Units of the per-layer metrics, by name suffix. */
object PerLayerUnits {
  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("jobs") || name.endsWith("tasks") || name.endsWith("jobs_per_batch")) "count"
    else if (name.endsWith("records_written") || name == "tombstones_end" || name == "storage_blocks_growth") "count"
    else "ratio"
}
