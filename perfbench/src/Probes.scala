package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, size, sum}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import graft.operators.{DedupQueries, GraphOps, SSTableOps}
import graft.sources.sstable.{SSTableMetadataCache, SSTableReader}
import graft.sources.sstable.spark.SSTableSource

import Workloads._

/** The layer probes of the traced run. A workload reports the per-layer
  * figures its own operations time (`Workload.layers`); the probes measure
  * the other layers of the codec, the DSv2 source and the merge operator on
  * the workload's own table, and the layers no workload runs (the write
  * path, MinHash dedup and the text expressions) on small fixed, seeded
  * inputs that are the same in every run. Every call goes through the same
  * public entry points the workloads use, and the outputs that have a model
  * answer are checked against it. */
object Probes {
  type Metric = (String, Double, String)
  private type Checks = scala.collection.mutable.Builder[(String, Boolean), Seq[(String, Boolean)]]
  private val Reps = 3

  /** The per-layer metrics not in `own`, and the name and verdict of every check. */
  def run(spark: SparkSession, seed: Long, table: Table, own: Set[String],
          dir: String): (Seq[Metric], Seq[(String, Boolean)]) = {
    val checks = Seq.newBuilder[(String, Boolean)]
    val metrics = codec(table, own) ++ dsv2(spark, table, own, dir, checks) ++
      writePath(spark, seed, dir, checks) ++ dedup(spark, seed, checks) ++ functions(spark, seed)
    (metrics.filterNot(m => own(m._1)), checks.result())
  }

  private def secs(f: => Any): Double = timed(f)._1 / 1e9

  private def medianOf(f: => Any): Double = median((1 to Reps).map(_ => secs(f)))

  /** How many generations a point read of each key cannot skip by its key
    * bounds and bloom filter, and the share of bound-admitted probes the
    * bloom filters reject. */
  def pruning(dir: String, keys: Seq[String]): Seq[Metric] = {
    val readers = SSTableReader.listDataFiles(dir).map(new SSTableReader(_))
    val admitted = for {
      k <- keys.map(_.getBytes(UTF_8))
      r <- readers if r.statistics.forall(_.mightContainKey(k))
    } yield r.mightContainKey(k)
    Trace.count("codec.bloom_probes", admitted.size)
    Seq(("codec.generations_consulted_per_lookup", admitted.count(identity).toDouble / keys.size, "count"),
      ("codec.bloom_negative_frac", admitted.count(!_).toDouble / math.max(1, admitted.size), "ratio"))
  }

  private def codec(t: Table, own: Set[String]): Seq[Metric] = {
    val files = SSTableReader.listDataFiles(t.dir)
    val readers = files.map(new SSTableReader(_))
    val rawBytes = readers.map(_.dataLength).sum
    val buf = new Array[Byte](1 << 16)
    val chunkS = medianOf(Trace.span("codec", "chunk_decode")(readers.foreach { r =>
      val in = r.openData()
      try while (in.read(buf, 0, buf.length) > 0) () finally in.close()
    }))
    var rows, cells = 0L
    val rowS = medianOf(Trace.span("codec", "row_decode") {
      rows = 0; cells = 0
      readers.foreach { r =>
        val it = r.rows()
        try while (it.hasNext) { cells += it.next().columns.size; rows += 1 } finally it.close()
      }
    })
    val reads =
      if (own("codec.get_hit_us")) Nil
      else {
        // up to 300 keys of each class: live, absent inside the key bounds, row-tombstoned
        val sorted = t.merged.keys.toSeq.sorted
        val byClass = Seq(
          sorted.filter(k => Merge.live(t.merged(k)).isDefined).take(300),
          Iterator.from(0).map(Gen.key).takeWhile(_ < sorted.last).filterNot(t.merged.contains).take(300).toSeq,
          sorted.filter(k => t.merged(k).tomb.isDefined && t.merged(k).cells.isEmpty).take(300))
        val getUs = byClass.map { ks =>
          median(ks.map(k => timed(Trace.span("codec", "get") {
            SSTableReader.get(t.dir, k.getBytes(UTF_8), gcTombstones = true)
          })._1 / 1e3))
        }
        LookupFixture.ClassNames.indices.map(c =>
          (s"codec.get_${LookupFixture.ClassNames(c)}_us", getUs(c), "us")) ++
          pruning(t.dir, byClass.flatten)
      }

    SSTableMetadataCache.clear()
    val coldMs = secs(files.foreach(f =>
      new SSTableReader(f).planSplits(SSTableSource.DefaultTargetSplitBytes))) * 1e3
    val warmMs = medianOf(files.foreach(f =>
      new SSTableReader(f).planSplits(SSTableSource.DefaultTargetSplitBytes))) * 1e3
    Seq(("codec.chunk_decode_mb_per_s", rawBytes / 1e6 / chunkS, "MB/s"),
      ("codec.row_decode_rows_per_s", rows / rowS, "1/s"),
      ("codec.cell_decode_cells_per_s", cells / rowS, "1/s"),
      ("codec.plan_splits_ms_cold", coldMs, "ms"),
      ("codec.plan_splits_ms_warm", warmMs, "ms")) ++ reads
  }

  private def rawPass(df: DataFrame): Unit = { df.agg(count(lit(1)), sum(size(col("columns")))).head(); () }

  private def dsv2(spark: SparkSession, t: Table, own: Set[String], dir: String,
                   checks: Checks): Seq[Metric] = {
    def load = spark.read.format("sstable").load(t.dir)
    val planMs = medianOf(Trace.span("dsv2", "plan")(load.queryExecution.executedPlan)) * 1e3
    val partitions = load.rdd.getNumPartitions
    val keyOnlyS = medianOf(Trace.span("dsv2", "key_only_scan") {
      load.select(sum(length(col("key")))).head()
    })
    val parquetDir = s"$dir/parquet"
    load.write.mode("overwrite").parquet(parquetDir)
    val rawS = medianOf(Trace.span("dsv2", "scan_raw")(rawPass(load)))
    val parquetS = medianOf(rawPass(spark.read.parquet(parquetDir)))

    val join =
      if (own("dsv2.lookup_join_ms_per_key")) Nil
      else {
        val keys = t.merged.keys.toSeq.sorted.take(500)
        val keysDf = spark.createDataFrame(java.util.Arrays.asList(keys.map(k => Row(k.getBytes(UTF_8))): _*),
          StructType(Seq(StructField("key", BinaryType, nullable = false))))
        var joined = 0
        val joinS = medianOf(Trace.span("operators", "lookup_join") {
          joined = SSTableOps.lookupJoin(keysDf, t.dir).collect().length
        })
        checks += (("lookup join returns the live probe keys",
          joined == keys.count(k => Merge.live(t.merged(k)).isDefined)))
        Seq(("dsv2.lookup_join_ms_per_key", joinS * 1e3 / keys.size, "ms"))
      }

    val compact =
      if (own("operators.compact_rows_s")) Nil
      else {
        var merged = (0L, 0L)
        val mergedS = medianOf(Trace.span("operators", "compact_rows") {
          merged = mergedHash(SSTableOps.compactRows(load))
        })
        checks += (("merged pass matches the model",
          merged == mergedHash(modelFrame(spark, t.merged.values.toSeq))))
        Seq(("operators.compact_rows_s", mergedS - rawS, "s"))
      }

    Seq(("dsv2.plan_ms", planMs, "ms"),
      ("dsv2.input_partitions", partitions.toDouble, "count"),
      ("dsv2.key_only_rows_per_s", t.rawRows / keyOnlyS, "1/s"),
      ("dsv2.parquet_ratio", rawS / parquetS, "ratio")) ++ join ++ compact
  }

  /** Appends through the DSv2 writer with autocompact, after timing the
    * codec's encoder on a small fixed table. */
  private def writePath(spark: SparkSession, seed: Long, dir: String, checks: Checks): Seq[Metric] = {
    val fx = ScanFixture.generate(seed ^ 0x5eedL, 4, 8000)
    val encodeDir = s"$dir/encode"
    val encodeS = Trace.span("codec", "write")(secs(Gen.writeAll(encodeDir, fx.gens, 1)))
    val encodedBytes = SSTableReader.listDataFiles(encodeDir).map(new SSTableReader(_).dataLength).sum

    val small = modelFrame(spark, fx.gens(0).take(2000)).coalesce(1).persist()
    small.count()
    val appendS = medianOf(Trace.span("dsv2", "append") {
      small.write.format("sstable").mode("append").save(s"$dir/append")
    })
    small.unpersist()

    val ingest = IngestFixture.generate(seed ^ 0xacL, 6, 2000, 6000)
    val frames = ingest.batches.map(b => modelFrame(spark, b).coalesce(1).persist())
    frames.foreach(_.count())
    val acDir = s"$dir/autocompact"
    var seen = Map.empty[String, Long]
    var created, rewritten = 0L
    val (plain, fold) = frames.map { f =>
      val s = Trace.span("dsv2", "append")(secs(f.write.format("sstable").mode("append")
        .option("writePartitions", "1").option("autocompact", "2").save(acDir)))
      val now = dirBytes(acDir)
      val fresh = now.filter { case (n, _) => !seen.contains(n) }.values.sum
      val folded = seen.keys.exists(n => n.endsWith("-Data.db") && !now.contains(n))
      if (folded) rewritten += fresh
      created += fresh
      seen = now
      Trace.count("operators.folds", if (folded) 1 else 0)
      (s, folded)
    }.partition(!_._2)
    frames.foreach(_.unpersist())
    val appended = ingest.batches.indices.map(ingest.userBytes).sum
    checks += (("autocompacted table holds the model's live rows",
      hashOf(SSTableOps.suppressTombstones(spark.read.format("sstable").load(acDir)), "key", "columns") ==
        hashOf(modelFrame(spark, ingest.live), "key", "columns")))
    checks += (("autocompact keeps at most 2 generations",
      seen.keys.count(_.endsWith("-Data.db")) <= 2))
    Seq(("codec.writer_encode_mb_per_s", encodedBytes / 1e6 / encodeS, "MB/s"),
      ("dsv2.append_commit_s", appendS, "s"),
      ("operators.autocompact_fold_s", median(fold.map(_._1)) - median(plain.map(_._1)), "s"),
      ("operators.folds", fold.size.toDouble, "count"),
      ("operators.bytes_rewritten", rewritten.toDouble, "bytes"),
      ("operators.write_amp", created.toDouble / appended, "ratio"),
      ("operators.space_amp", seen.values.sum.toDouble / ingest.liveBytes, "ratio"))
  }

  private def dedup(spark: SparkSession, seed: Long, checks: Checks): Seq[Metric] = {
    val corpus = Corpus.generate(seed ^ 0xdd, 2000)
    val docs = corpusFrame(spark, corpus)
    var passes = 0
    var pairs: DataFrame = null
    var sigs: DataFrame = null
    val pairsS = secs(Trace.span("operators", "minhash_pairs") {
      sigs = DedupQueries.minhashSignatures(docs)
      pairs = DedupQueries.minhashPairs(sigs).persist()
      pairs.count()
    })
    val candidates = pairs.count()
    var comps: Array[Row] = Array.empty
    val ccS = secs(Trace.span("operators", "connected_components") {
      comps = GraphOps.connectedComponents(pairs, "a", "b", onConverged = (it, _) => passes = it).collect()
    })
    checks += (("planted duplicates share a component",
      corpus.clustered(comps.toSeq.map(r => (r.getLong(0), r.getLong(1))))))
    pairs.unpersist()
    sigs.unpersist()
    docs.unpersist()
    Seq(("operators.candidate_pairs", candidates.toDouble, "count"),
      ("operators.cc_passes", passes.toDouble, "count"),
      ("operators.minhash_pairs_s", pairsS, "s"),
      ("operators.cc_s", ccS, "s"))
  }

  private def functions(spark: SparkSession, seed: Long): Seq[Metric] = {
    val corpus = Corpus.generate(seed ^ 0xf0, 4000)
    val docs = corpusFrame(spark, corpus)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val minhashS = medianOf(Trace.span("functions", "minhash")(noop(DedupQueries.minhashSignatures(docs))))
    val simhashS = medianOf(Trace.span("functions", "simhash")(noop(DedupQueries.simhash(docs))))
    docs.unpersist()
    Seq(("functions.minhash_docs_per_s", corpus.docs.size / minhashS, "1/s"),
      ("functions.simhash_docs_per_s", corpus.docs.size / simhashS, "1/s"))
  }

  /** The corpus as a persisted, materialized (doc_id, text) DataFrame. */
  private def corpusFrame(spark: SparkSession, corpus: Corpus): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      corpus.docs.indices.map(i => Row(i.toLong, corpus.docs(i))): _*), schema)
      .repartition(spark.sparkContext.defaultParallelism).persist()
    df.count()
    df
  }

  /** Name and byte length of each published file in `dir` (no staging or hidden files). */
  private def dirBytes(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.length()).toMap
}
