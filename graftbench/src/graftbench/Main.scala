package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/**
 * Entry point of the benchmark (see README.md next to this source tree):
 *
 *   graftbench.Main --workload <catalog_query|registry_mix>
 *                   --seed <n> --seconds <s> --trace <0|1>
 *                   --work <dir> --bench <dir>
 *
 * Prints the workload's own metrics on one `report` line, then the
 * result object as the last line of stdout. Exits 1 when an output
 * check fails.
 */
object Main {

  val workloads: Seq[String] = Seq("catalog_query", "registry_mix")

  /** The end-to-end metrics of the timed pass, with their units. */
  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_s" -> "s", "batch_op_s" -> "s", "peak_rss_mb" -> "MB")

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k")
      k.stripPrefix("--") -> v
    }.toMap
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** graft.Bench's session settings, with Spark's scratch space kept in `work`. */
  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.install)
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = parse(args)
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload) || workload == "record_fingerprints",
      s"unknown workload '$workload' (one of ${workloads.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "16").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val bench = Paths.get(opts("bench")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(work, cpus)
    System.err.println(f"[graftbench] session up ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s after start")
    val ctx = new Ctx(spark, work, seed, cpus)
    val dataDir = bench.resolve("data/sf0.01").toString
    val fpFile = bench.resolve("fingerprints.json")
    if (workload == "record_fingerprints") {
      // writes the committed fingerprints; run by hand after a reviewed change
      val reg = new RegistryMix(ctx, dataDir, fpFile)
      reg.prepare(None)
      Files.write(fpFile, RegistryMix.fingerprintJson(reg.fingerprints).getBytes("UTF-8"))
      System.err.println(s"[graftbench] wrote ${reg.fingerprints.size} fingerprints to $fpFile")
      spark.stop()
      return
    }
    val wl: Workload = workload match {
      case "catalog_query" => new CatalogQuery(ctx)
      case "registry_mix" => new RegistryMix(ctx, dataDir, fpFile)
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None

    // ---- set-up: the inputs, then the one-off work ----
    tracer.foreach(_.start())
    wl.buildInputs(tracer)
    wl.prepare(tracer)
    tracer.foreach(_.stop())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[graftbench] set-up ${setupS}%.2f s")

    // ---- the timed pass, tracing off ----
    val timed = wl.run(seconds, None, None)
    // taken before the checks, whose own memory is not the workload's
    val rss = peakRssMb()
    val (checkMsgs, wrongKeys) =
      try wl.check(timed)
      catch { case e: Throwable => (Seq(s"check failed to run: $e"), timed.ops.map(_.key).toSet) }
    checkMsgs.foreach(m => System.err.println(s"[graftbench] check: $m"))
    System.err.println("[graftbench] medians: " + timed.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      f"$k ${Stats.median(os.map(_.secs))}%.3f s (${os.size}: ${os.map(o => f"${o.secs}%.2f").mkString(" ")})"
    }.mkString(", "))
    System.err.println(f"[graftbench] timed pass ${timed.wallS}%.2f s, ${timed.ops.size} ops; " +
      f"checked at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s since start")
    val checked = wl.setupPass ++ timed.ops
    val attempted = checked.size
    val failed = checked.count(o => !o.ok || wrongKeys(o.key))
    val correct = failed == 0 && checkMsgs.isEmpty
    val report = wl.report(timed) + ("error_rate" -> failed.toDouble / math.max(1, attempted))
    val (opS, batchOp) = wl.endToEnd(timed)

    // ---- the traced pass: part of the timed operations again, tracing on ----
    val layerMetrics = tracer.map { tr =>
      tr.start()
      val replayed = wl.replay(timed)
      val traced = wl.run(seconds, Some(tr), Some(replayed.map(_.key)))
      tr.stop()
      tr.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl"))
      val ops = traced.ops.map(_.traceOp).toSet
      val self = tr.selfByLayer(ops)
      val perOp = math.max(1, traced.ops.size).toDouble
      val selfMetrics = Seq("catalog", "healpix", "registry", "plans", "scheduler", "driver", "client")
        .map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / perOp) :+
        ("self.sources_scan_s" -> tr.qesOf(ops).map(_.scanTimeMs).sum / 1000.0 / perOp)
      wl.layers(timed, traced, tr) ++ selfMetrics ++ report +
        ("trace.overhead_s" -> (traced.ops.map(_.secs).sum - replayed.map(_.secs).sum))
    }

    println(s"""{"report": "$workload", "seed": $seed, "ops": $attempted, """ +
      s""""metrics": ${metricsJson(report.toSeq.sortBy(_._1).map { case (k, v) => (k, v, LayerMetrics.unitOf(k)) })}}""")
    val metrics = layerMetrics match {
      case None =>
        val values = Map("setup_s" -> setupS, "op_s" -> opS, "batch_op_s" -> batchOp, "peak_rss_mb" -> rss)
        endToEnd.map { case (n, u) => (n, values(n), u) }
      case Some(lm) => LayerMetrics.all.map { case (n, u) => (n, lm.getOrElse(n, 0.0), u) }
    }
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${metricsJson(metrics)}}""")
    if (!correct) sys.exit(1)
  }
}
