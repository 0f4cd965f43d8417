package perfbench

import graft.{CacheJanitor, GraftSession}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run in a fresh JVM: set-up, the timed closed loop with one
  * client thread, output checks, and the records. `perfbench/run.py`
  * builds the classpath, pins the environment and starts this. */
object Main {
  /** Per-layer spans: every traced run reports every one of them, so an
    * idle layer shows as zeros. Write spans add output and amplification;
    * compute spans add task CPU, shuffle and the busy ratio. */
  val spanNames: Seq[String] = Seq(
    "sources.ingest_once", "star.process_batch", "star.load_warehouse",
    "sources.ingest_batch", "star.process_merge", "star.load_views",
    "queries.relational", "queries.training",
    "operators.dedup_run_once", "operators.maintain_once", "operators.signature_remove",
    "operators.ann_ingest", "operators.pq_ingest", "operators.ann_topk", "operators.pq_topk",
    "operators.signature_fetch", "operators.keeper_delta")
  val writeSpans: Set[String] = Set(
    "sources.ingest_once", "star.process_batch", "star.load_warehouse",
    "sources.ingest_batch", "star.process_merge", "star.load_views",
    "operators.dedup_run_once", "operators.maintain_once", "operators.signature_remove",
    "operators.ann_ingest", "operators.pq_ingest")
  val computeSpans: Set[String] = Set(
    "star.process_batch", "queries.relational", "queries.training",
    "operators.ann_topk", "operators.pq_topk")

  private def canary(spark: SparkSession): Double = {
    // Bench's box canary at a twenty-fifth of its size: fixed rows and
    // plan, no IO, shuffle and codegen bound. The result is consumed.
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, 32)
      .selectExpr("id", "xxhash64(id) AS h")
      .groupBy(pmod(col("h"), lit(4096L)).as("g"))
      .agg(bit_xor(col("h")).as("s"))
      .agg(bit_xor(xxhash64(col("g"), col("s"))))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.build(s"perfbench-${o.workload}")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val fsClass = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration).getClass.getName
    if (o.trace) {
      require(fsClass == classOf[CountingLocalFileSystem].getName,
        s"traced run needs the counting file system for file://, found $fsClass")
      Trace.enable(spark.sparkContext)
    }
    val r = new Run(spark, o)
    val phases = scala.collection.mutable.LinkedHashMap("session" -> sessionS)
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val loadStart = Util.loadavg()

    val expected =
      if (o.record.nonEmpty && !new java.io.File(o.expected).exists) Map.empty[String, String]
      else Util.readStringMap(o.expected)
    val sf = o.scale.getOrElse(if (o.workload == "index_loop") 0.1 else 0.01)
    val key = s"sf$sf"
    val dir = Datagen.materialize(spark, s"${o.data}/v${Datagen.version}-$key", sf)
    val w: Workload = o.workload match {
      case "star_etl" => new StarEtl(r, dir, o.work, expected, key)
      case "query_mix" => new QueryMix(r, dir, expected, key)
      case "index_loop" => new IndexLoop(r, dir, o.work)
      case other => sys.error(s"unknown workload $other")
    }
    phase("datagen")
    w.prepare()
    phase("prepare")
    w.setup()
    phase("setup")
    val setupS = phases("setup")
    CacheJanitor.drain(blocking = true)
    // After set-up, so the JIT has warmed up on the run's own work; the
    // untimed call compiles the canary's plan, so start and end both
    // time it from the codegen cache.
    canary(spark)
    val canaryStart = canary(spark)

    val jobs0 = r.jobs()
    val gc0 = Util.gcSeconds()
    r.startClock()
    val runStartNs = System.nanoTime()
    w.run()
    val runEndNs = System.nanoTime()
    val gcS = Util.gcSeconds() - gc0
    val peakRss = Util.peakRssMb()
    val jobsTimed = r.jobs() - jobs0
    val canaryEnd = canary(spark)
    val loadEnd = Util.loadavg()
    phase("timed_and_canary")

    try w.verify()
    catch { case scala.util.control.NonFatal(e) =>
      r.check(false, s"verification failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    phase("verify")

    val cycle = r.seconds(w.cycleKind)
    val small = r.seconds(w.opKind)
    val haveTimings = cycle.nonEmpty && small.nonEmpty
    val contract: Seq[(String, Double, String)] =
      if (!haveTimings) Nil
      else Seq(
        ("setup_s", setupS, "s"),
        ("cycle_s", Util.median(cycle), "s"),
        ("op_p50_s", Util.median(small), "s"))
    val named = if (!haveTimings) Nil else w.namedMetrics

    val layers: Seq[(String, Double, String)] =
      if (!o.trace) Nil
      else layerMetrics(runStartNs, runEndNs, gcS) ++ Seq(("jvm.peak_rss_mb", peakRss, "MB")) ++
        contract.filter(m => m._1 == "cycle_s" || m._1 == "op_p50_s")
          .map { case (n, v, u) => (s"traced.$n", v, u) } :+
        (("traced.span_coverage", topLevelCoverage(runStartNs, runEndNs), "ratio"))

    val correct = r.checkFailures.isEmpty && r.failed == 0 && haveTimings
    val runId = java.nio.file.Paths.get(o.raw).getFileName.toString.stripSuffix(".json")
    val raw = Map(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "scale" -> sf, "trace" -> o.trace, "correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "op_fail_ratio" -> (if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted),
      "errors" -> r.errors.toSeq, "check_failures" -> r.checkFailures.toSeq,
      "metrics" -> (contract ++ named).map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "phase_s" -> phases,
      "timed_region_s" -> (runEndNs - runStartNs) / 1e9, "timed_jobs" -> jobsTimed,
      "jvm_gc_s" -> gcS, "peak_rss_mb" -> peakRss,
      "canary_s_start" -> canaryStart, "canary_s_end" -> canaryEnd,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "ops" -> r.ops.map(x => Map("kind" -> x.kind, "label" -> x.label, "seconds" -> x.seconds,
        "jobs" -> x.jobs)).toSeq,
      "env" -> Map(
        "cpus" -> GraftSession.cpus,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "file_fs" -> fsClass, "local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
        "tmpdir" -> System.getProperty("java.io.tmpdir"),
        "timezone" -> java.util.TimeZone.getDefault.getID))
    Util.writeString(o.raw, Util.json(raw) + "\n")
    if (o.trace) {
      val spans = Trace.all
      val byParent = spans.groupBy(_.parent)
      Util.writeString(o.spans, Util.json(Map(
        "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed,
        "timed_start_ns" -> runStartNs, "timed_end_ns" -> runEndNs,
        "landed_bytes" -> scala.jdk.CollectionConverters.MapHasAsScala(Trace.landedBytes).asScala.toMap,
        "unattributed" -> Trace.spanJson(Trace.unattributed, 0.0),
        "spans" -> spans.map(s => Trace.spanJson(s, Trace.selfS(s, byParent.getOrElse(s.id, Nil))) +
          ("run_id" -> runId)))) + "\n")
    }
    o.record.foreach { p =>
      val rec = w.recorded.map { case (k, v) => k -> v.toString }
      Util.writeString(p, rec.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  ${Util.json(k)}: ${Util.json(v)}" }.mkString("{\n", ",\n", "\n}\n"))
    }
    // The result the wrapper prints as the contract line.
    val reported = if (o.trace) layers else contract
    Util.writeString(o.out, Util.json(Map(
      "correct" -> correct, "attempted" -> math.max(1, r.attempted), "failed" -> r.failed,
      "metrics" -> reported.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "named" -> named.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "raw" -> o.raw)) + "\n")
    (r.errors ++ r.checkFailures).foreach(e => System.err.println(s"[perfbench] $e"))
    spark.stop()
    // Exit now: engine pools with non-daemon threads would hold the JVM
    // for seconds more. Shutdown hooks still run.
    sys.exit(0)
  }

  /** Sum of top-level span walls over the timed region's wall. */
  private def topLevelCoverage(startNs: Long, endNs: Long): Double =
    Trace.all.filter(s => s.parent == 0 && s.startNs >= startNs && s.endNs <= endNs)
      .map(s => s.endNs - s.startNs).sum.toDouble / (endNs - startNs)

  /** Per-span medians over the span's calls in the timed region. */
  private def layerMetrics(startNs: Long, endNs: Long, gcS: Double): Seq[(String, Double, String)] = {
    val spans = Trace.all.filter(s => s.startNs >= startNs && s.endNs <= endNs)
    val byParent = Trace.all.groupBy(_.parent)
    val cores = GraftSession.cpus.toDouble
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.median(xs)
    spanNames.flatMap { name =>
      val calls = spans.filter(_.name == name)
      def m(f: Trace.Span => Double) = med(calls.map(f))
      val base = Seq(
        (s"$name.self_s", m(s => Trace.selfS(s, byParent.getOrElse(s.id, Nil))), "s"),
        (s"$name.jobs", m(_.jobs.get.toDouble), "count"),
        (s"$name.fs_ops", m(_.fsTotal.toDouble), "count"))
      val write = if (!writeSpans(name)) Nil else Seq(
        (s"$name.output_mb", m(_.bytesWritten.get / 1e6), "MB"),
        (s"$name.write_amp", m { s =>
          val landed = Option(Trace.landedBytes.get(s.tag)).map(_.longValue).getOrElse(0L)
          if (landed <= 0) 0.0 else s.bytesWritten.get.toDouble / landed
        }, "ratio"))
      val compute = if (!computeSpans(name)) Nil else Seq(
        (s"$name.task_cpu_s", m(_.taskCpuNs.get / 1e9), "s"),
        (s"$name.shuffle_mb", m(_.shuffleBytes.get / 1e6), "MB"),
        (s"$name.busy_ratio", m(s => if (s.wallS <= 0) 0.0 else s.taskRunMs.get / 1e3 / (s.wallS * cores)), "ratio"))
      base ++ write ++ compute
    } :+ (("jvm.gc_s", gcS, "s"))
  }
}
