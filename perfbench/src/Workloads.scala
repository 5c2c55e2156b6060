package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, size, sum, xxhash64}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.operators.SSTableOps
import graft.sources.sstable.SSTableReader
import graft.sources.sstable.spark.SSTableSchema

/** One timed operation: its wall time, the items it processed and whether its
  * output matched the generator's model. */
final case class OpResult(ns: Long, items: Long, ok: Boolean)

/** A closed-loop workload: one client issues the next operation only after
  * the previous one returned. */
trait Workload {
  /** Builds the inputs from the seed into `dir` (replacing any earlier build). */
  def setup(dir: String): Unit
  def op(i: Long): OpResult
  /** Operations run before the measured window. A count, not a time, so
    * every run enters the window with the same JIT history: operation
    * latency keeps falling for 10-20 s of operations after start-up. */
  def warmOps: Int
  /** Forgets the per-operation figures gathered while warming up. */
  def startWindow(): Unit
  /** Workload-specific end-to-end figures over the measured operations. */
  def detail(): Seq[(String, Double, String)]
  /** Per-layer figures of the measured operations themselves (traced run). */
  def layers(): Seq[(String, Double, String)]
  /** The table the operations read, with its model, for the layer probes
    * of the layers the operations do not time on their own. */
  def table(): Table
}

object Workloads {
  val Names: Seq[String] = Seq("scan_merge", "point_lookup")

  def apply(name: String, spark: SparkSession, seed: Long, threads: Int): Workload = name match {
    case "scan_merge" => new ScanMerge(spark, seed, threads)
    case "point_lookup" => new PointLookup(spark, seed, threads)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def timed[T](f: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val v = f
    (System.nanoTime() - t0, v)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else { val s = xs.sorted; s(s.size / 2) }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.floor(p * s.size).toInt)) }

  /** The model rows as a DataFrame with the scan schema. */
  def modelFrame(spark: SparkSession, vs: Seq[Version]): DataFrame = {
    val rows = vs.map { v =>
      Row(v.key.getBytes(UTF_8),
        v.cells.map(c => Row(c.name.getBytes(UTF_8), c.state, c.value, c.ts, c.ttl, c.exp)),
        v.tomb.map { case (ldt, mfda) => Row(ldt, mfda) }.orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), SSTableSchema.schema)
  }

  /** Order-free digest of a relation: (row count, xor of per-row xxhash64). */
  def hashOf(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def mergedHash(df: DataFrame): (Long, Long) = hashOf(df, "key", "columns", "rowTombstone")

  def cells(row: Row): Vector[Cell] = row.getSeq[Row](row.fieldIndex("columns")).map { c =>
    Cell(new String(c.getAs[Array[Byte]]("name"), UTF_8), c.getAs[String]("state"),
      c.getAs[Array[Byte]]("value"), c.getAs[Long]("timestamp"), c.getAs[Long]("ttlSecs"),
      c.getAs[Long]("expiresMillis"))
  }.toVector

  def sameCells(a: Option[Vector[Cell]], b: Option[Vector[Cell]]): Boolean =
    a.map(_.map(_.canon)) == b.map(_.map(_.canon))
}

import Workloads._

/** 8 generations, each rewriting a random half of a 64k-key space (256k
  * row versions); every operation is one raw scan pass and one
  * last-writer-wins merged pass. */
final class ScanMerge(spark: SparkSession, seed: Long, threads: Int) extends Workload {
  private val Gens = 8
  private val Keys = 64000
  val warmOps = 5
  private var dir: String = _
  private var expected: (Long, Long) = _
  private var rawRows, rawCells = 0L
  private val rawS, mergedS = mutable.ArrayBuffer.empty[Double]

  def setup(d: String): Unit = {
    val fx = ScanFixture.generate(seed, Gens, Keys)
    Gen.writeAll(d, fx.gens, threads)
    expected = mergedHash(modelFrame(spark, fx.merged.values.toSeq))
    rawRows = fx.rawRows
    rawCells = fx.rawCells
    dir = d
  }

  def op(i: Long): OpResult = {
    val (rawNs, raw) = timed(Trace.span("dsv2", "scan_raw") {
      spark.read.format("sstable").load(dir)
        .agg(count(lit(1)), sum(size(col("columns")))).head()
    })
    val (mergedNs, merged) = timed(Trace.span("operators", "compact_rows") {
      mergedHash(SSTableOps.compactRows(spark.read.format("sstable").load(dir)))
    })
    Trace.count("dsv2.rows", rawRows * 2)
    val ok = raw.getLong(0) == rawRows && raw.getLong(1) == rawCells && merged == expected
    rawS += rawNs / 1e9
    mergedS += mergedNs / 1e9
    OpResult(rawNs + mergedNs, 2 * rawRows, ok)
  }

  def startWindow(): Unit = { rawS.clear(); mergedS.clear() }

  def detail(): Seq[(String, Double, String)] = Seq(
    ("scan_raw_rows_per_s", rawRows / median(rawS.toSeq), "1/s"),
    ("scan_merged_rows_per_s", rawRows / median(mergedS.toSeq), "1/s"))

  def layers(): Seq[(String, Double, String)] = Seq(
    ("operators.compact_rows_s", median(mergedS.toSeq) - median(rawS.toSeq), "s"))

  /** Regenerated from the seed, so the model is not live while measuring. */
  def table(): Table = {
    val fx = ScanFixture.generate(seed, Gens, Keys)
    Table(dir, fx.merged, fx.rawRows)
  }
}

/** 16 flush generations with Zipf-skewed writes; every operation is 200
  * single-key reads and one 1000-key lookup join, both of the same mix of
  * live, absent and row-tombstoned keys. */
final class PointLookup(spark: SparkSession, seed: Long, threads: Int) extends Workload {
  private val Gens = 16
  private val Rows = 6000
  private val Keys = 60000
  private val Singles = 200
  private val Batch = 1000
  private val Pool = 16
  val warmOps = 6
  private var dir: String = _
  private var fx: LookupFixture = _
  private var probes: IndexedSeq[Array[(String, Int)]] = _
  private var joins: IndexedSeq[(DataFrame, Seq[(String, Option[Vector[Cell]])])] = _
  private val latUs = Array.fill(3)(mutable.ArrayBuffer.empty[Double])
  private val joinS = mutable.ArrayBuffer.empty[Double]

  def setup(d: String): Unit = {
    fx = LookupFixture.generate(seed, Gens, Rows, Keys)
    Gen.writeAll(d, fx.gens, threads)
    val r = Gen.rng(seed, 500)
    probes = (0 until Pool).map(_ => fx.requests(r, Singles))
    val keySchema = StructType(Seq(StructField("key", BinaryType, nullable = false)))
    joins = (0 until Pool).map { _ =>
      val ks = fx.requests(r, Batch).map(_._1)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(ks.toSeq.map(k => Row(k.getBytes(UTF_8))), threads), keySchema)
      (df, ks.toSeq.flatMap(k => fx.expected(k).map(c => (k, Some(c)))).sortBy(_._1))
    }
    dir = d
  }

  def op(i: Long): OpResult = {
    var ok = true
    var ns = 0L
    probes((i % Pool).toInt).foreach { case (k, cls) =>
      val (dt, got) = timed(Trace.span("codec", "get") {
        SSTableReader.get(dir, k.getBytes(UTF_8), gcTombstones = true)
      })
      ns += dt
      latUs(cls) += dt / 1e3
      Trace.count("codec.gets")
      ok &&= sameCells(got.map(_.columns.map(Cell.of).toVector), fx.expected(k))
    }
    val (keysDf, want) = joins((i % Pool).toInt)
    val (dt, got) = timed(Trace.span("operators", "lookup_join") {
      SSTableOps.lookupJoin(keysDf, dir).collect()
    })
    ns += dt
    joinS += dt / 1e9
    Trace.count("operators.lookup_join_keys", Batch)
    val gotRows = got.toSeq.map(r => (new String(r.getAs[Array[Byte]]("key"), UTF_8), Some(cells(r))))
      .sortBy(_._1)
    ok &&= gotRows.size == want.size &&
      gotRows.zip(want).forall { case (a, b) => a._1 == b._1 && sameCells(a._2, b._2) }
    OpResult(ns, Singles + Batch, ok)
  }

  def startWindow(): Unit = { latUs.foreach(_.clear()); joinS.clear() }

  def detail(): Seq[(String, Double, String)] = {
    val all = latUs.toSeq.flatten
    Seq(("lookup_p50_us", median(all), "us"), ("lookup_p99_us", percentile(all, 0.99), "us"),
      ("lookup_samples", all.size.toDouble, "count"),
      ("lookup_join_keys_per_s", Batch / median(joinS.toSeq), "1/s"))
  }

  /** The window's own read figures: p50 get latency per key class, the
    * pruning of the single-key requests, and the join's cost per key. */
  def layers(): Seq[(String, Double, String)] =
    LookupFixture.ClassNames.indices.map(c =>
      (s"codec.get_${LookupFixture.ClassNames(c)}_us", median(latUs(c).toSeq), "us")) ++
      Probes.pruning(dir, probes.flatten.map(_._1)) :+
      (("dsv2.lookup_join_ms_per_key", median(joinS.toSeq) * 1e3 / Batch, "ms"))

  def table(): Table = Table(dir, fx.merged, fx.rawRows)
}
