package perfbench

import graft.CacheJanitor
import graft.operators.WriterLease
import graft.sources.{LandingLog, WatermarkStore}
import graft.star.{MergeRunner, Runner, StarBench}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `star_etl`: the paper's pipeline, a full-history star rebuild into
  * fresh roots and incremental merge micro-batches over the same sources.
  *
  * The fact feeds are cut into `slices` by `last_updated` quantiles; the
  * dims and the first slice land during set-up, and each timed merge batch
  * lands the next slice, so the last batch reaches the full history. The
  * seed jitters the cut points, so the increments differ per seed. The
  * rebuild is timed as `StarBench` calls it, with `processBatch`'s default
  * dense record ids; the merge loop mints stable ones (the natural key).
  * After the timed region every merge snapshot must equal the rebuild's
  * snapshot of the same table with the surrogate record ids left out.
  */
final class StarEtl(r: Run, dataDir: String, work: String, expected: Map[String, String],
    scaleKey: String) extends Workload {
  private val spark = r.spark
  private val slices = 3
  private var srcs: Map[String, DataFrame] = Map.empty
  private var constantTs = Set.empty[String]
  private var cuts: Seq[Any] = Nil
  private var mergeRoot = ""
  private var batchesRun = 0
  private var rebuildRoot = ""
  private var loadedTables = Seq.empty[String]

  val cycleKind = "star_rebuild"
  val opKind = "star_batch"

  def prepare(): Unit = {
    srcs = StarBench.sources(spark, dataDir)
    // Dims carry one constant `last_updated`; they land whole each batch.
    constantTs = srcs.map { case (t, df) =>
      df.agg(lit(t), countDistinct(col("last_updated")))
    }.reduce(_ union _).collect().filter(_.getLong(1) == 1L).map(_.getString(0)).toSet
    // Quantile cut points, each nudged by a seeded tenth of a slice.
    val rnd = new scala.util.Random(r.opts.seed)
    val qs = (1 to slices).map { i =>
      if (i == slices) 1.0 else (i + (rnd.nextDouble() - 0.5) * 0.1) / slices
    }
    val factTs = Seq("sales_order", "purchase_order", "payment", "transaction")
      .map(t => srcs(t).select(col("last_updated").as("ts")))
      .reduce(_ unionAll _)
    cuts = factTs.selectExpr(s"percentile_approx(ts, array(${qs.mkString(",")}), 10000) AS c")
      .collect()(0).getSeq[Any](0).toSeq
  }

  private def sliced(b: Int): Map[String, DataFrame] = srcs.map { case (t, df) =>
    t -> (if (constantTs(t)) df else df.where(col("last_updated") <= lit(cuts(b))))
  }

  private def batchId(b: Int) = f"2025-09-02 10:00:00.$b%03d"

  def setup(): Unit = {
    mergeRoot = s"$work/star/merge"
    MergeRunner.runOnce(spark, sliced(0), s"$mergeRoot/landing", s"$mergeRoot/processed",
      s"$mergeRoot/state.json", batchId(0))
  }

  /** Landing bytes added by `f`: the increment that write amplification
    * is measured against. Only walked when tracing. */
  private def landing[T](landingRoot: String, tag: String)(f: => T): T =
    if (!Trace.enabled) f
    else {
      val before = Util.treeBytes(landingRoot, dataOnly = true)
      val res = f
      Trace.landed(tag, Util.treeBytes(landingRoot, dataOnly = true) - before)
      res
    }

  private def rebuild(): Unit = {
    val root = s"$work/star/rebuild"
    val tag = "rebuild"
    val store = new WatermarkStore(s"$root/state.json")
    val updated = landing(s"$root/landing", tag) {
      Trace.span("sources.ingest_once", tag) {
        Runner.ingestOnce(srcs, s"$root/landing", store, "2025-09-01 10:00:00.000")
      }
    }
    val written = Trace.span("star.process_batch", tag) {
      Runner.processBatch(spark, s"$root/landing", s"$root/processed", updated.toSet)
    }
    loadedTables = Trace.span("star.load_warehouse", tag) {
      Runner.loadWarehouse(spark, s"$root/processed", s"$root/warehouse", written)
    }
    rebuildRoot = root
  }

  /** One merge micro-batch. Untraced it is the public `MergeRunner.runOnce`;
    * traced, the same steps in `runOnce`'s order, so each gets its span. */
  private def merge(b: Int): Unit = {
    val landingRoot = s"$mergeRoot/landing"
    val processed = s"$mergeRoot/processed"
    val statePath = s"$mergeRoot/state.json"
    if (!Trace.enabled)
      MergeRunner.runOnce(spark, sliced(b), landingRoot, processed, statePath, batchId(b))
    else WriterLease.withLease(spark, processed) {
      val tag = s"merge$b"
      val store = new WatermarkStore(statePath)
      landing(landingRoot, tag) {
        Trace.span("sources.ingest_batch", tag) {
          Runner.ingestOnce(sliced(b), landingRoot, store, batchId(b))
        }
      }
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${Runner.warehouseDb}")
      def viewSink(key: String, rows: DataFrame): Unit =
        Trace.span("star.load_views", tag) {
          MergeRunner.loadWarehouseViews(spark, processed, Seq(key))
        }
      Trace.span("star.process_merge", tag) {
        MergeRunner.processMerge(spark, landingRoot, processed,
          factSink = viewSink, dimSink = viewSink)
      }
    }
    batchesRun = b
  }

  /** The rebuild, then every merge batch: the run's whole-history work
    * is fixed, so its time does not depend on the clock. */
  def run(): Unit = {
    r.op(cycleKind, "rebuild")(rebuild())
    CacheJanitor.drain(blocking = true)
    (1 until slices).foreach { b =>
      if (r.healthy) r.op(opKind, s"merge$b")(merge(b))
      CacheJanitor.drain(blocking = true)
    }
  }

  /** Warehouse row count of every table the rebuild loaded, in one job. */
  private def tableRows: Map[String, Long] =
    if (loadedTables.isEmpty) Map.empty
    else loadedTables.map(t => spark.read.parquet(s"$rebuildRoot/warehouse/$t")
      .agg(lit(t), count(lit(1)))).reduce(_ union _).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap

  def verify(): Unit = if (rebuildRoot.nonEmpty) {
    r.check(loadedTables.size == 11, s"the rebuild loaded ${loadedTables.size} tables, expected 11")
    tableRows.foreach { case (t, n) =>
      val want = expected.get(s"$scaleKey/star/rows/$t")
      r.check(want.contains(n.toString), s"rebuild table $t has $n rows, expected ${want.getOrElse("?")}")
    }
    // Both reached the same history: the merge loop's snapshots must equal
    // the full rebuild's (MergeStarSpec's contract, at loop scale). The two
    // record-id policies differ only in the surrogate id; the natural key
    // it is minted from is compared.
    if (batchesRun == slices - 1) {
      val truth = s"$rebuildRoot/processed"
      val keys = LandingLog.listSnapshots(truth)
      def sums(root: String) = QueryMix.checksums(keys.map { key =>
        val cols = LandingLog.readSnapshot(spark, truth, key).columns.toSeq
          .filterNot(StarEtl.recordIds).map(col)
        key -> LandingLog.readSnapshot(spark, root, key).select(cols: _*)
      })
      val (merged, rebuilt) = (sums(s"$mergeRoot/processed"), sums(truth))
      keys.foreach { key =>
        r.check(merged.get(key) == rebuilt.get(key),
          s"merge snapshot $key (${merged.get(key)}) differs from the rebuild's (${rebuilt.get(key)})")
      }
    }
  }

  override def recorded: Map[String, Any] =
    tableRows.map { case (t, n) => s"$scaleKey/star/rows/$t" -> n.toString }

  def namedMetrics: Seq[(String, Double, String)] = Seq(
    ("star_rebuild_s", Util.median(r.seconds(cycleKind)), "s"),
    ("star_batch_p50_s", Util.median(r.seconds(opKind)), "s"))
}

object StarEtl {
  /** The fact tables' surrogate record ids. */
  val recordIds: Set[String] = Set("record_payment_id", "purchase_record_id", "sales_record_id")
}
