package perfbench

import graft.{CacheJanitor, Tables}
import graft.operators.{AnnIndex, ClusterLabels, DedupPipeline, PqIndex, SignatureIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `index_loop`: the persisted dedup and ANN indexes under a write loop
  * with read probes against the same roots.
  *
  * Documents and embeddings are cut into `slices` by a seeded hash of
  * their ids and landed as parquet increments before set-up; slice 0 is
  * bootstrapped during set-up, which trains the quantizers. Each of the
  * three timed batches is the write side (dedup, maintenance, ANN and PQ
  * ingest), then seeded read probes. At the first timed batch a takedown
  * of a fifth of the indexed documents trips the tombstone ratio, so that
  * batch's maintenance compacts; the median batch is a plain one.
  */
final class IndexLoop(r: Run, dataDir: String, work: String) extends Workload {
  private val spark = r.spark
  import spark.implicits._
  private val slices = 4
  private val takedownBatch = 1
  private val k = 3
  private val seed = r.opts.seed
  private var docIds = Map.empty[Int, Seq[Long]]
  private var vecRows = Map.empty[Int, Seq[Row]]
  private var takedown = Seq.empty[Long]
  private var sigRoot, annRoot, pqRoot = ""
  private var indexed = Seq.empty[Long]

  val cycleKind = "index_batch"
  /** One round of the four probes; its single probes are `probe` ops. */
  val opKind = "index_probe_round"

  private def incDir(kind: String, b: Int) = s"$work/index/landing/$kind/b=$b"
  private def docInc(b: Int): DataFrame = spark.read.parquet(incDir("docs", b))
  private def vecInc(b: Int): DataFrame = spark.read.parquet(incDir("vecs", b))

  def prepare(): Unit = {
    // Rank by a seeded hash and deal the ranks round-robin: every seed
    // gets different slices of exactly equal size.
    def sliceOf(c: String) =
      (pmod(row_number().over(Window.orderBy(xxhash64(col(c), lit(seed)), col(c))), lit(slices)))
        .cast("int")
    val docs = Tables.documents(spark, dataDir).select(col("doc_id"), col("text"))
      .withColumn("b", sliceOf("doc_id"))
    val vecs = Tables.embeddings(spark, dataDir).select(col("vec_id"), col("embedding"))
      .withColumn("b", sliceOf("vec_id"))
    docs.coalesce(1).write.partitionBy("b").parquet(s"$work/index/landing/docs")
    vecs.coalesce(1).write.partitionBy("b").parquet(s"$work/index/landing/vecs")
    (0 until slices).foreach { b =>
      Trace.landed(s"batch$b",
        Util.treeBytes(incDir("docs", b), dataOnly = true) +
          Util.treeBytes(incDir("vecs", b), dataOnly = true))
    }
    docIds = docs.select("b", "doc_id").as[(Int, Long)].collect().toSeq
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted }
    vecRows = vecs.collect().toSeq.groupBy(_.getInt(2))
      .map { case (b, xs) => b -> xs.map(x => Row(x.getLong(0), x.get(1))).sortBy(_.getLong(0)) }
    // A fifth of the documents indexed by the end of the takedown batch.
    takedown = docs.where(col("b") <= takedownBatch &&
        pmod(xxhash64(col("doc_id"), lit(seed), lit(5)), lit(5)) === 0)
      .select("doc_id").as[Long].collect().toSeq.sorted
  }

  def setup(): Unit = {
    sigRoot = s"$work/index/dedup"; annRoot = s"$work/index/ann"; pqRoot = s"$work/index/pq"
    DedupPipeline.runOnce(spark, sigRoot, docInc(0), Some("b0"))
    AnnIndex.ingest(spark, annRoot, vecInc(0), Some("b0"))
    PqIndex.ingest(spark, pqRoot, vecInc(0), Some("b0"))
    indexed = docIds(0)
  }

  private def writeSide(b: Int): Unit = {
    val tag = s"batch$b"
    val stats = Trace.span("operators.dedup_run_once", tag) {
      DedupPipeline.runOnce(spark, sigRoot, docInc(b), Some(s"b$b"))
    }
    r.check(stats.newDocs == docIds(b).size,
      s"batch $b indexed ${stats.newDocs} docs, expected ${docIds(b).size}")
    r.check(stats.clusters == stats.keepers,
      s"batch $b: ${stats.clusters} clusters but ${stats.keepers} keepers")
    if (b == takedownBatch) Trace.span("operators.signature_remove", tag) {
      SignatureIndex.remove(spark, sigRoot, takedown)
    }
    val m = Trace.span("operators.maintain_once", tag) { DedupPipeline.maintainOnce(spark, sigRoot) }
    if (b == takedownBatch) r.check(m.indexCompacted, s"batch $b: the takedown did not trigger a compaction")
    Trace.span("operators.ann_ingest", tag) { AnnIndex.ingest(spark, annRoot, vecInc(b), Some(s"b$b")) }
    Trace.span("operators.pq_ingest", tag) { PqIndex.ingest(spark, pqRoot, vecInc(b), Some(s"b$b")) }
  }

  /** Seeded probes over what has been indexed so far. */
  private def probes(b: Int): Unit = {
    val rnd = new scala.util.Random(seed * 7919 + b)
    val queries = rnd.shuffle((0 to b).flatMap(vecRows)).take(4)
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(queries, 1), querySchema)
    val nq = queries.length
    val before = r.ops.size
    r.op("probe", s"ann_topk$b") {
      val n = Trace.span("operators.ann_topk") { AnnIndex.topK(spark, annRoot, qdf, k).collect().length }
      r.check(n == nq * k, s"batch $b: AnnIndex.topK returned $n rows for $nq queries, k=$k")
    }
    r.op("probe", s"pq_topk$b") {
      val n = Trace.span("operators.pq_topk") { PqIndex.topK(spark, pqRoot, qdf, k).collect().length }
      r.check(n == nq * k, s"batch $b: PqIndex.topK returned $n rows for $nq queries, k=$k")
    }
    val wanted = rnd.shuffle(indexed.sorted).take(16)
    r.op("probe", s"signature_fetch$b") {
      val got = Trace.span("operators.signature_fetch") {
        SignatureIndex.fetch(spark, sigRoot, wanted).select("doc_id").as[Long].collect().toSet
      }
      r.check(got.subsetOf(wanted.toSet), s"batch $b: fetch returned ids that were not requested")
      r.check(got.nonEmpty, s"batch $b: fetch of 16 indexed ids returned nothing")
    }
    // A consumer applying keeper changes asks for the newest delta.
    r.op("probe", s"keeper_delta$b") {
      val n = Trace.span("operators.keeper_delta") {
        ClusterLabels.keeperDelta(spark, sigRoot, ClusterLabels.latestBatch(spark, sigRoot))
          .collect().length
      }
      r.check(n > 0, s"batch $b: empty keeper delta for the latest label batch")
    }
    val round = r.ops.drop(before)
    if (r.healthy) r.ops += Op(opKind, round.map(_.seconds).sum, round.map(_.jobs).sum, s"probes$b")
  }

  /** Every slice after the bootstrap, each with its probe round. */
  def run(): Unit = (1 until slices).foreach { b =>
    if (r.healthy) r.op(cycleKind, s"batch$b")(writeSide(b))
    CacheJanitor.drain(blocking = true)
    indexed = (indexed ++ docIds(b)).filterNot(takedownAfter(b).contains)
    if (r.healthy) probes(b)
    CacheJanitor.drain(blocking = true)
  }

  private lazy val querySchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
    vecInc(0).schema("embedding")))

  private def takedownAfter(b: Int): Set[Long] = if (b >= takedownBatch) takedown.toSet else Set.empty

  def verify(): Unit = ()

  def namedMetrics: Seq[(String, Double, String)] = {
    val p = r.seconds("probe")
    Seq(("index_batch_p50_s", Util.median(r.seconds(cycleKind)), "s"),
      ("index_probe_p50_s", Util.median(p), "s")) ++
      Util.percentile(p, 0.9).map(x => ("index_probe_p90_s", x, "s")).toSeq
  }
}
