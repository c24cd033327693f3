package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload at one seed and prints one JSON result as the last
  * line of standard output.
  *
  * {{{
  * Main --workload <raster-etl|curation-build> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--wrong-expected 1]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` reports the
  * per-layer metrics of one traced pass plus the tracing overhead.
  * `--wrong-expected 1` corrupts one expected answer, so a run must
  * report failures (the benchmark's own self-test).
  */
object Main {
  /** How often setup runs; `setup_s` reports the median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val wrong = a.get("wrong-expected").contains("1")
    require(Set("raster-etl", "curation-build")(workload),
      s"unknown workload $workload")
    checkCodeCache()

    val cpus = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg()
    Workload.deleteTree(work)
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // releasing a local checkpoint logs one WARN per RDD; the release
    // is deliberate, so that logger is raised to ERROR
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val tracer = new Tracer(spark)
      val data = work.resolve("data").toString
      val wl: Workload = workload match {
        case "raster-etl" => new RasterEtl(spark, tracer, data, seed, wrong)
        case "curation-build" => new CurationBuild(spark, tracer, data, seed, wrong)
      }

      // each pass releases the blocks it pinned, outside its timed
      // window, as Bench.runOnce does after every query
      val keep = graft.core.Materialize.liveIds(spark)
      def pass(i: Int, beforeRelease: => Unit = ()): Double = {
        val s = System.nanoTime()
        tracer.request = i
        wl.step(i)
        val d = (System.nanoTime() - s) / 1e9
        beforeRelease
        tracer.eager("core", "release")(graft.core.Materialize.releaseAll(spark, keep))
        d
      }

      // setup: inputs generated and written from scratch each time
      val prepS = (1 to SetupReps).map { _ =>
        Workload.deleteTree(Paths.get(data))
        val s = System.nanoTime()
        wl.prepare()
        (System.nanoTime() - s) / 1e9
      }
      val e0 = System.nanoTime()
      wl.expect()
      val expectS = (System.nanoTime() - e0) / 1e9
      // the untimed warm-up: pass 0 of a fresh JVM, where the JIT
      // compiles the pass's hot code; it is part of setup
      val warmS = pass(0)
      val setupS = sessionS + Workload.median(prepS) + expectS + warmS

      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          // the closed loop: whole passes until the window is spent
          val passes = scala.collection.mutable.ArrayBuffer[Double]()
          val s = System.nanoTime()
          while (passes.isEmpty || (System.nanoTime() - s) / 1e9 < seconds) passes += pass(passes.size + 1)
          System.err.println(s"[perfbench] $workload: passes ${passes.map(d => f"$d%.2f").mkString(" ")} s; ops " +
            wl.ops.map(o => f"${o.kind}=${o.seconds}%.2f").mkString(" "))
          Seq(("setup_s", setupS, "s"),
            ("work_per_s", wl.unitsPerStep / Workload.median(passes.toSeq), "1/s"))
        } else {
          // pass 1 is traced; pass 2 repeats it untraced, for the
          // overhead ratio
          val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
          val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
          pools.foreach(_.resetPeakUsage())
          val gc0 = gc.map(b => math.max(b.getCollectionTime, 0L)).sum
          tracer.start()
          var extras = Map.empty[String, Double]
          val traced = pass(1, { extras = wl.extras() })
          // stop drains the listener bus; what the release left live
          // is the pass's leak
          val ev = tracer.stop()
          val leaked = (graft.core.Materialize.liveIds(spark) -- keep).size
          val gcS = (gc.map(b => math.max(b.getCollectionTime, 0L)).sum - gc0) / 1000.0
          val heapMb = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
          writeSpans(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.json"),
            tracer.spans.toSeq)
          val untraced = pass(2)
          System.err.println(f"[perfbench] $workload: traced pass $traced%.2f s, untraced $untraced%.2f s")
          val layer = Layers.compute(tracer.spans.toSeq, ev, extras ++ Map(
            "core.leaked_blocks" -> leaked.toDouble,
            "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapMb,
            "bench.trace_overhead" -> traced / untraced))
          Layers.metrics.map { case (k, unit) => (k, layer(k), unit) }
        }

      val attempted = wl.ops.size
      val failed = wl.ops.count(!_.ok)
      val info = Seq(
        "workload" -> s""""$workload"""", "seed" -> seed.toString, "trace" -> trace.toString,
        "source" -> s""""${sys.env.getOrElse("GRAFTBENCH_SOURCE", "unknown")}"""",
        "nproc" -> cpus.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "storage_memory_mb" -> (spark.sparkContext.getExecutorMemoryStatus.values
          .map(_._1).sum / 1048576).toString,
        "spark" -> s""""${spark.version}"""",
        "loadavg_start" -> load0.toString, "loadavg_end" -> loadAvg().toString,
        "input_rows_bytes" -> s""""${inputSummary(Paths.get(data))}"""",
        "setup_reps_s" -> prepS.map(d => f"$d%.3f").mkString("[", ",", "]"),
        "warmup_s" -> f"$warmS%.3f")
      println(info.map { case (k, v) => s""""$k": $v""" }.mkString("""{"run_info": {""", ", ", "}}"))
      val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${m.mkString(", ")}}}""")
    } finally {
      spark.stop()
      Workload.deleteTree(work)
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Parquet input tables under the data dir: "name rows/bytes" list. */
  private def inputSummary(data: java.nio.file.Path): String =
    if (!Files.isDirectory(data)) ""
    else Files.list(data).iterator().asScala.toSeq.sortBy(_.toString)
      .filter(p => Files.exists(p.resolve("_SUCCESS")))
      .map(p => s"${p.getFileName}:${Workload.dirBytes(p.toString)._2}B").mkString(" ")

  /** The JIT code cache must be raised (as build.sbt does for the
    * engine's own harnesses): codegen-heavy runs otherwise fill the
    * default cache, the compiler stops, and late work runs interpreted.
    */
  private def checkCodeCache(): Unit = {
    val bean = ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val bytes = bean.getVMOption("ReservedCodeCacheSize").getValue.toLong
    require(bytes >= (1L << 30), s"ReservedCodeCacheSize is $bytes bytes; launch with -XX:ReservedCodeCacheSize=1g")
  }

  private def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "kind": "${s.kind}", "parent": ${s.parent}, """ +
        s""""request": ${s.request}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""seconds": ${num(s.seconds)}}"""
    }
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
