package perfbench

import graft.{CacheJanitor, GraftSession, SparkEntry}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `query_mix`: the registry queries that persist no state, in a seeded
  * shuffled order, each result consumed in full through an
  * order-insensitive checksum over every output column and checked
  * against the recorded value.
  *
  * The queries are split into `parts` of equal recorded cost; a run
  * passes over the part its seed picks (seed mod `parts`), so consecutive
  * seeds cover the whole registry. A run issues whole passes only. Record
  * mode passes over every query and writes the split. */
final class QueryMix(r: Run, dataDir: String, expected: Map[String, String],
    scaleKey: String) extends Workload {
  private val spark = r.spark

  /** q*, e*, c* and t30-t66; t67-t77 write index state and are left to
    * the index workload. */
  val names: Seq[String] = SparkEntry.registry.keys.toSeq.filter { n =>
    n.head match {
      case 'q' | 'e' | 'c' => true
      case 't' => n.drop(1).takeWhile(_.isDigit).toIntOption.exists(i => i >= 30 && i <= 66)
      case _ => false
    }
  }.sorted

  private def layer(n: String) = if (n.startsWith("t")) "queries.training" else "queries.relational"

  private val parts = 2

  private def partOf(n: String): Int = {
    val part = expected.get(s"$scaleKey/query_part/$n")
    require(part.nonEmpty, s"no query_part recorded for $n at $scaleKey; record the scale first")
    part.get.toInt
  }

  /** The queries this run passes over. */
  val selected: Seq[String] =
    if (r.opts.record.nonEmpty) names
    else names.filter(n => partOf(n) == Math.floorMod(r.opts.seed, parts.toLong).toInt)

  private val seen = scala.collection.mutable.Map.empty[String, String]
  private var passes = 0

  val cycleKind = "query_pass"
  val opKind = "query"

  def prepare(): Unit = GraftSession.tuneShufflePartitions(spark, Seq(dataDir))

  /** Warm the JIT and the code generator on a fixed spread of queries. */
  def setup(): Unit =
    names.indices.filter(_ % 25 == 5).map(names).foreach { n =>
      QueryMix.checksum(SparkEntry.queries(n)(spark, dataDir))
      CacheJanitor.drain(blocking = true)
    }

  private def runOne(n: String): Unit = {
    val sum = r.op(opKind, n) {
      Trace.span(layer(n)) { QueryMix.checksum(SparkEntry.queries(n)(spark, dataDir)) }
    }
    CacheJanitor.drain(blocking = true)
    sum.foreach { s =>
      seen.get(n).foreach(prev => r.check(prev == s, s"$n checksum changed between passes: $prev vs $s"))
      seen(n) = s
    }
  }

  def run(): Unit = {
    var lastPass = 0.0
    while (r.healthy && (passes == 0 || r.remainingS > lastPass)) {
      val t0 = System.nanoTime()
      val order = new scala.util.Random(r.opts.seed * 1000 + passes).shuffle(selected)
      val before = r.ops.size
      order.foreach(n => if (r.healthy) runOne(n))
      lastPass = (System.nanoTime() - t0) / 1e9
      if (r.healthy) {
        // A pass's service time is the sum of its queries' times; the
        // checksum drains between queries are not part of it.
        val pass = r.ops.drop(before).map(_.seconds).sum
        r.ops += Op(cycleKind, pass, r.ops.drop(before).map(_.jobs).sum, s"pass$passes")
        passes += 1
      }
    }
  }

  def verify(): Unit = selected.foreach { n =>
    val want = expected.get(s"$scaleKey/query/$n")
    seen.get(n).foreach(got =>
      r.check(want.contains(got), s"$n checksum $got, expected ${want.getOrElse("none recorded")}"))
  }

  /** Checksums, and the cost-balanced split: queries ranked by time and
    * dealt out in a snake (0, 1, 1, 0, 0, 1, ...), so every part
    * gets the same spread of costs. */
  override def recorded: Map[String, Any] = {
    val cost = r.ops.filter(_.kind == opKind).groupBy(_.label)
      .map { case (n, xs) => n -> Util.median(xs.map(_.seconds).toSeq) }
    val split = names.sortBy(n => (-cost.getOrElse(n, 0.0), n)).zipWithIndex.map { case (n, i) =>
      val j = i % (2 * parts)
      s"$scaleKey/query_part/$n" -> (if (j < parts) j else 2 * parts - 1 - j).toString
    }
    seen.map { case (n, s) => s"$scaleKey/query/$n" -> s }.toMap ++ split
  }

  def namedMetrics: Seq[(String, Double, String)] = {
    val q = r.seconds(opKind)
    Seq(("query_p50_s", Util.median(q), "s")) ++
      Util.percentile(q, 0.9).map(p => ("query_p90_s", p, "s")).toSeq ++
      Seq(("query_pass_s", Util.median(r.seconds(cycleKind)), "s"))
  }
}

object QueryMix {
  /** Canonical form of a column for hashing: floating values are
    * rendered to nine significant digits, so the checksum does not hinge
    * on the last bit of a floating sum; maps, which Spark cannot hash,
    * go through JSON. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.9e", x.cast(DoubleType)))
    case _ if hasMap(t) => to_json(c)
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case ArrayType(e, _) => hasMap(e)
    case _ => false
  }

  /** Per row: a 64-bit hash of every output column, canonicalized. */
  private def rowHash(df: DataFrame): DataFrame = {
    // Positional names: a result may carry duplicate column names.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    named.select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h"))
  }

  private val digestCols = Seq(
    count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
    coalesce(bit_xor(col("h")), lit(0L)))

  private def render(row: org.apache.spark.sql.Row, from: Int): String =
    s"${row.getLong(from)}:${row.getLong(from + 1)}:${row.getLong(from + 2)}"

  /** Row count plus an order-insensitive digest of every output column:
    * the sum of the low 32 bits and the XOR of each row's 64-bit hash.
    * Every column feeds the hash, so no projection can be pruned away. */
  def checksum(df: DataFrame): String = render(rowHash(df).agg(digestCols.head, digestCols.tail: _*).head(), 0)

  /** [[checksum]] of several frames in one Spark job. */
  def checksums(frames: Seq[(String, DataFrame)]): Map[String, String] =
    if (frames.isEmpty) Map.empty
    else frames.map { case (k, df) => rowHash(df).agg(lit(k), digestCols: _*) }
      .reduce(_ union _).collect().map(x => x.getString(0) -> render(x, 1)).toMap
}
