package perfbench

import java.nio.file.{Files, Paths}

import graft.operators.SSTableOps
import graft.sources.sstable.LocalStorage

/** The benchmark's own tests: fixtures are a pure function of the seed, and
  * the correctness checks reject a dropped cell or a resurrected tombstoned
  * cell. Run with `python3 perfbench/run.py --selftest`; exits non-zero on
  * the first failed check. */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def bytes(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().toSeq
      .map(f => f.getName -> Files.readAllBytes(Paths.get(f.getPath)).toSeq).toMap

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(sys.error("--work is required"))
    LocalStorage.deleteRecursive(work)
    try run(work) finally LocalStorage.deleteRecursive(work)
    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all checks passed")
  }

  private def run(work: String): Unit = {
    val a = ScanFixture.generate(7, 3, 2000)
    val b = ScanFixture.generate(7, 3, 2000)
    val c = ScanFixture.generate(8, 3, 2000)
    Gen.writeAll(s"$work/a", a.gens, 2)
    Gen.writeAll(s"$work/b", b.gens, 3)
    Gen.writeAll(s"$work/c", c.gens, 2)
    check("same seed: identical scan model digest", a.digest == b.digest)
    check("same seed: identical SSTable bytes", bytes(s"$work/a") == bytes(s"$work/b"))
    check("different seed: different scan model digest", a.digest != c.digest)
    check("different seed: different SSTable bytes",
      bytes(s"$work/a").exists { case (n, v) => !bytes(s"$work/c").get(n).contains(v) })
    val l1 = LookupFixture.generate(7, 4, 500, 5000)
    check("same seed: identical lookup model", l1.digest == LookupFixture.generate(7, 4, 500, 5000).digest)
    check("different seed: different lookup model", l1.digest != LookupFixture.generate(8, 4, 500, 5000).digest)
    val i1 = IngestFixture.generate(7, 3, 500, 2000)
    check("same seed: identical ingest model", i1.digest == IngestFixture.generate(7, 3, 500, 2000).digest)
    check("different seed: different ingest model", i1.digest != IngestFixture.generate(8, 3, 500, 2000).digest)
    val d1 = Corpus.generate(7, 400)
    check("same seed: identical corpus", d1.digest == Corpus.generate(7, 400).digest)
    check("different seed: different corpus", d1.digest != Corpus.generate(8, 400).digest)

    // point-read check: a dropped cell and a resurrected tombstoned row both fail
    val live = l1.merged.keys.toSeq.sorted.find(k => l1.expected(k).exists(_.size > 1)).get
    val want = l1.expected(live)
    check("lookup check accepts the model's own answer", Workloads.sameCells(want, want))
    check("lookup check rejects a dropped cell", !Workloads.sameCells(want.map(_.tail), want))
    val dead = l1.tombstonedKeys.head
    val shadowed: Option[Vector[Cell]] =
      l1.gens.flatten.filter(_.key == dead).flatMap(_.cells).headOption.map(Vector(_))
        .orElse(want.map(_.take(1)))
    check("lookup check rejects a resurrected tombstoned row",
      !Workloads.sameCells(shadowed, l1.expected(dead)))

    // dedup check: planted exact pairs must share a component, ids appear once
    val pairs = d1.exactPairs
    val comps = pairs.flatMap { case (x, y) => Seq((x, x), (y, x)) }.distinctBy(_._1)
    check("dedup check accepts planted pairs in one component", d1.clustered(comps))
    check("dedup check rejects a split planted pair",
      !d1.clustered(comps.map { case (id, c) => if (id == pairs.head._2) (id, -1L) else (id, c) }))
    check("dedup check rejects a doc in two components",
      !d1.clustered(comps :+ ((pairs.head._1, -2L))))

    // merged-pass check through the engine: the model hash matches the
    // engine's merge, and a mutated model does not
    val spark = Main.session(2, s"$work/spark")
    try {
      val merged = a.merged.values.toSeq
      val engine = Workloads.mergedHash(SSTableOps.compactRows(spark.read.format("sstable").load(s"$work/a")))
      check("merged pass matches the model", engine == Workloads.mergedHash(Workloads.modelFrame(spark, merged)))
      val victim = merged.find(_.cells.size > 1).get
      val dropped = merged.map(v => if (v eq victim) v.copy(cells = v.cells.tail) else v)
      check("merged check rejects a dropped cell",
        engine != Workloads.mergedHash(Workloads.modelFrame(spark, dropped)))
      val tombKey = merged.find(v => v.tomb.isDefined && v.cells.isEmpty).get
      val ghost = a.gens.flatten.filter(_.key == tombKey.key).flatMap(_.cells).headOption
        .getOrElse(Cell("c0", "NORMAL", "x".getBytes, 1L))
      val resurrected = merged.map(v => if (v eq tombKey) v.copy(cells = Vector(ghost)) else v)
      check("merged check rejects a resurrected tombstoned cell",
        engine != Workloads.mergedHash(Workloads.modelFrame(spark, resurrected)))
      val rawCount = spark.read.format("sstable").load(s"$work/a").count()
      check("raw version count matches the model", rawCount == a.rawRows)
    } finally spark.stop()
  }
}
