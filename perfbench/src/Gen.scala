package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.sources.sstable.{Column, RowTombstone, SSTableRow, SSTableWriter}

/** One cell version as the benchmark models it. Every generator gives each
  * (key, name) version a distinct timestamp, so last-writer-wins never
  * reaches a tie-break and the model stays a few lines long. */
final case class Cell(name: String, state: String, value: Array[Byte], ts: Long,
                      ttl: Long = 0L, exp: Long = 0L) {
  def toColumn: Column = state match {
    case "NORMAL" => Column.Normal(name.getBytes(UTF_8), value, ts)
    case "DELETED" => Column.Deleted(name.getBytes(UTF_8), ts)
    case "EXPIRING" => Column.Expiring(name.getBytes(UTF_8), value, ttl, exp, ts)
  }
  def canon: String =
    s"$name|$state|${if (value == null) "-" else new String(value, UTF_8)}|$ts|$ttl|$exp"
  def userBytes: Long = name.length + (if (value == null) 0 else value.length) + 8
}

object Cell {
  def of(c: Column): Cell = c match {
    case Column.Normal(n, v, ts) => Cell(new String(n, UTF_8), "NORMAL", v, ts)
    case Column.Deleted(n, ts) => Cell(new String(n, UTF_8), "DELETED", null, ts)
    case Column.Expiring(n, v, ttl, exp, ts) =>
      Cell(new String(n, UTF_8), "EXPIRING", v, ts, ttl, exp)
    case other => throw new IllegalStateException(s"unexpected column kind $other")
  }
}

/** One row version: `tomb` is a row tombstone `(localDeletionTime, markedForDeleteAt)`. */
final case class Version(key: String, cells: Vector[Cell], tomb: Option[(Int, Long)]) {
  def toRow: SSTableRow = SSTableRow(key.getBytes(UTF_8), cells.sortBy(_.name).map(_.toColumn),
    tomb.map { case (ldt, mfda) => RowTombstone(ldt, mfda) })
  def userBytes: Long = key.length + cells.iterator.map(_.userBytes).sum + tomb.fold(0L)(_ => 12L)
}

/** The read-side merge rules the engine implements, restated over the model:
  * the newest row tombstone wins, the newest version of each cell wins, and a
  * row tombstone shadows every cell written at or before it. */
object Merge {
  def merged(key: String, versions: Iterable[Version]): Version = {
    val tomb = versions.flatMap(_.tomb).toSeq.sortBy(t => (t._2, t._1)).lastOption
    val mfda = tomb.fold(Long.MinValue)(_._2)
    val cells = versions.flatMap(_.cells).groupBy(_.name).values
      .map(_.maxBy(_.ts)).filter(_.ts > mfda).toVector.sortBy(_.name)
    Version(key, cells, tomb)
  }

  /** The live view a point read with `gcTombstones = true` returns: cell
    * tombstones dropped, `None` when nothing live is left. */
  def live(v: Version): Option[Vector[Cell]] = {
    val cells = v.cells.filter(_.state != "DELETED")
    if (cells.isEmpty) None else Some(cells)
  }

  def mergeAll(gens: Seq[Seq[Version]]): Map[String, Version] =
    gens.flatten.groupBy(_.key).map { case (k, vs) => k -> merged(k, vs) }
}

object Gen {
  val Expired = 1000000000000L // 2001: already past
  val Future = 2000000000000L // 2033: still live
  def key(id: Int): String = f"k$id%09d"

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 1000003L + 17L)

  /** A value of `n` letters from a 16-letter alphabet: Snappy compresses it
    * roughly to half, like short text payloads. */
  def value(r: SplittableRandom, n: Int): Array[Byte] =
    Array.fill(n)(('a' + r.nextInt(16)).toByte)

  /** Timestamps are unique per (generation, row, cell) and grow with the
    * generation, so a newer generation always wins. */
  def ts(gen: Int, row: Int, cell: Int): Long = (gen + 1L) * 1000000000L + row * 8L + cell

  /** One row of `cells` cells named c0..: 5% DELETED, `expiringFrac`
    * EXPIRING (half of them already expired when `halfExpired`), the rest
    * NORMAL; `tombFrac` of rows are a bare row tombstone instead. */
  def version(r: SplittableRandom, k: String, gen: Int, row: Int, cells: Int,
              valueLen: Int, tombFrac: Double, expiringFrac: Double,
              halfExpired: Boolean): Version = {
    if (r.nextDouble() < tombFrac)
      Version(k, Vector.empty, Some((1700000000 + gen, ts(gen, row, 7))))
    else Version(k, (0 until cells).map { c =>
      val u = r.nextDouble()
      val t = ts(gen, row, c)
      if (u < 0.05) Cell(s"c$c", "DELETED", null, t)
      else if (u < 0.05 + expiringFrac) {
        val exp = if (halfExpired && r.nextBoolean()) Expired else Future
        Cell(s"c$c", "EXPIRING", value(r, valueLen), t, 3600L, exp)
      } else Cell(s"c$c", "NORMAL", value(r, valueLen), t)
    }.toVector, None)
  }

  /** `n` distinct ids drawn uniformly from [0, space), ascending. */
  def subset(r: SplittableRandom, space: Int, n: Int): Array[Int] = {
    val ids = Array.tabulate(space)(identity)
    var i = 0
    while (i < n) { val j = i + r.nextInt(space - i); val t = ids(i); ids(i) = ids(j); ids(j) = t; i += 1 }
    java.util.Arrays.sort(ids, 0, n)
    ids.take(n)
  }

  /** Zipf(s = 1) sampler over [0, n): hot ranks are scattered over the id
    * space by a fixed odd multiplier so they do not cluster in one chunk. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      ((math.min(i, n - 1).toLong * 2654435761L) % n).toInt
    }
  }

  /** Writes one generation as a complete SSTable set; rows must be key-sorted. */
  def writeGeneration(dir: String, gen: Int, rows: Seq[Version]): Unit = {
    new java.io.File(dir).mkdirs()
    val w = new SSTableWriter(f"$dir/gen-$gen%05d-Data.db")
    try rows.foreach(v => w.append(v.toRow)) finally w.close()
  }

  /** Writes generations in parallel; each generation's content depends only
    * on (seed, generation), never on thread timing. */
  def writeAll(dir: String, gens: IndexedSeq[Seq[Version]], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = gens.indices.map(g => pool.submit(new Runnable {
        def run(): Unit = writeGeneration(dir, g, gens(g))
      }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** MD5 of a model's canonical text, for fixture determinism checks. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  def canon(v: Version): String =
    s"${v.key}#${v.tomb.fold("-")(t => s"${t._1}/${t._2}")}#${v.cells.map(_.canon).mkString(",")}"
}

/** A table written to `dir`, with its merged model and raw version count. */
final case class Table(dir: String, merged: Map[String, Version], rawRows: Long)

/** The `scan_merge` fixture: `gens` generations, each rewriting a random
  * half of a `keys`-key space with 4 cells of 48 B per row. */
final case class ScanFixture(gens: IndexedSeq[Seq[Version]]) {
  lazy val merged: Map[String, Version] = Merge.mergeAll(gens)
  def rawRows: Long = gens.iterator.map(_.size.toLong).sum
  def rawCells: Long = gens.iterator.flatMap(_.iterator).map(_.cells.size.toLong).sum
  def digest: String = Gen.digest(merged.keys.toSeq.sorted.iterator.map(k => Gen.canon(merged(k))))
}

object ScanFixture {
  def generate(seed: Long, gens: Int, keys: Int): ScanFixture =
    ScanFixture((0 until gens).map { g =>
      val r = Gen.rng(seed, 100 + g)
      Gen.subset(r, keys, keys / 2).toSeq.zipWithIndex.map { case (id, i) =>
        Gen.version(r, Gen.key(id), g, i, cells = 4, valueLen = 48, tombFrac = 0.01,
          expiringFrac = 0.05, halfExpired = true)
      }
    })
}

/** The `point_lookup` fixture: `gens` flush generations of `rows` rows with
  * keys drawn Zipf over the even ids below `keys`, so odd ids below it are
  * absent yet inside the key bounds (bloom negatives). 3% of written rows
  * are row tombstones. */
final case class LookupFixture(gens: IndexedSeq[Seq[Version]], keys: Int) {
  lazy val merged: Map[String, Version] = Merge.mergeAll(gens)
  lazy val tombstonedKeys: Array[String] =
    merged.values.filter(v => v.tomb.isDefined && v.cells.isEmpty).map(_.key).toArray.sorted
  def expected(k: String): Option[Vector[Cell]] = merged.get(k).flatMap(Merge.live)
  def rawRows: Long = gens.iterator.map(_.size.toLong).sum
  def digest: String = Gen.digest(merged.keys.toSeq.sorted.iterator.map(k => Gen.canon(merged(k))))

  /** Request mix: 70% live keys, Zipf with the writes' skew so the keys
    * read most are the ones written most (and hold the most versions);
    * 20% absent keys inside the key bounds; 10% keys whose newest version
    * is a row tombstone. */
  def requests(r: SplittableRandom, n: Int): Array[(String, Int)] = {
    val zipf = new Gen.Zipf(keys / 2)
    def live(): String = {
      val k = Gen.key(zipf.next(r) * 2)
      if (expected(k).isDefined) k else live()
    }
    Array.fill(n) {
      val u = r.nextDouble()
      if (u < 0.7) (live(), LookupFixture.Hit)
      else if (u < 0.9) (Gen.key(2 * r.nextInt(keys / 2 - 1) + 1), LookupFixture.Miss)
      else (tombstonedKeys(r.nextInt(tombstonedKeys.length)), LookupFixture.Tomb)
    }
  }
}

object LookupFixture {
  val Hit = 0
  val Miss = 1
  val Tomb = 2
  val ClassNames: Array[String] = Array("hit", "miss", "tombstone")

  def generate(seed: Long, gens: Int, rows: Int, keys: Int): LookupFixture = {
    val zipf = new Gen.Zipf(keys)
    LookupFixture((0 until gens).map { g =>
      val r = Gen.rng(seed, 200 + g)
      val ids = scala.collection.mutable.TreeSet.empty[Int]
      while (ids.size < rows) ids += zipf.next(r) * 2
      ids.toSeq.zipWithIndex.map { case (id, i) =>
        Gen.version(r, Gen.key(id), g, i, cells = 1 + r.nextInt(4), valueLen = 24,
          tombFrac = 0.03, expiringFrac = 0.0, halfExpired = false)
      }
    }, keys * 2)
  }
}

/** The `ingest_compact` fixture: `batches` update batches of `rows` rows
  * over a `keys`-key space, appended in order. EXPIRING cells expire in the
  * future so a tombstone-collecting fold never changes the live view. */
final case class IngestFixture(batches: IndexedSeq[Seq[Version]]) {
  lazy val merged: Map[String, Version] = Merge.mergeAll(batches)
  lazy val live: Seq[Version] = merged.values.flatMap(v => Merge.live(v).map(c => Version(v.key, c, None)))
    .toSeq.sortBy(_.key)
  def userBytes(b: Int): Long = batches(b).iterator.map(_.userBytes).sum
  def liveBytes: Long = live.iterator.map(_.userBytes).sum
  def digest: String = Gen.digest(live.iterator.map(Gen.canon))
}

object IngestFixture {
  def generate(seed: Long, batches: Int, rows: Int, keys: Int): IngestFixture =
    IngestFixture((0 until batches).map { b =>
      val r = Gen.rng(seed, 300 + b)
      Gen.subset(r, keys, rows).toSeq.zipWithIndex.map { case (id, i) =>
        Gen.version(r, Gen.key(id), b, i, cells = 4, valueLen = 48, tombFrac = 0.01,
          expiringFrac = 0.05, halfExpired = false)
      }
    })
}

/** The dedup probe's corpus: `docs` documents of 60 lowercase tokens drawn
  * uniformly from a `vocab`-word vocabulary (so unrelated documents almost
  * never share a shingle and the work does not swing with the seed); 5% of documents are exact copies of
  * an earlier one and 5% are copies with 3 tokens replaced. */
final case class Corpus(docs: IndexedSeq[String], exactPairs: Seq[(Long, Long)]) {
  def digest: String = Gen.digest(docs.iterator ++ exactPairs.iterator.map(_.toString))

  /** Checks a clustering `(doc, component)`: every doc is in at most one
    * component (docs in no candidate pair are singletons) and every planted
    * exact-duplicate pair shares one. */
  def clustered(comps: Seq[(Long, Long)]): Boolean = {
    val byId = comps.toMap
    byId.size == comps.size && exactPairs.forall { case (a, b) =>
      byId.get(a).exists(ca => byId.get(b).contains(ca))
    }
  }
}

object Corpus {
  val Tokens = 60

  def generate(seed: Long, docs: Int, vocab: Int = 20000): Corpus = {
    val r = Gen.rng(seed, 400)
    val words = Array.fill(vocab) {
      new String(Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar))
    }
    def fresh(): Array[String] = Array.fill(Tokens)(words(r.nextInt(vocab)))
    val planted = docs / 10
    val base = docs - planted
    val texts = new Array[String](docs)
    for (i <- 0 until base) texts(i) = fresh().mkString(" ")
    val exact = Vector.newBuilder[(Long, Long)]
    for (i <- base until docs) {
      val src = r.nextInt(base)
      if ((i - base) % 2 == 0) { texts(i) = texts(src); exact += ((src.toLong, i.toLong)) }
      else {
        val toks = texts(src).split(' ')
        for (_ <- 0 until 3) toks(r.nextInt(Tokens)) = words(r.nextInt(vocab))
        texts(i) = toks.mkString(" ")
      }
    }
    Corpus(texts.toIndexedSeq, exact.result())
  }
}
