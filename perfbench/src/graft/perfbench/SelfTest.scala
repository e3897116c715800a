package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Self-test of the benchmark's own machinery, without Spark: the generators
  * are deterministic per seed and differ across seeds, and every output
  * check fires on deliberately wrong output (and stays quiet on right
  * output). Exits non-zero on the first failed expectation.
  *
  * {{{ python3 perfbench/run.py --selftest }}}
  */
object SelfTest {

  private var failed = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failed += 1
  }

  private def ingest(seed: Long, n: Int) = {
    val s = new Gen.IngestStream(seed, 1, 60, 200)
    Vector.fill(n)(s.next())
  }

  private def corpus(seed: Long) = Gen.corpus(seed, 0, 300, 12)

  private def emb(seed: Long) = {
    val e = Gen.embeddings(seed, 2, 200, 8, 4, 5)
    (e.vectors.map(_.toSeq), e.queries)
  }

  def main(args: Array[String]): Unit = {
    // ---- generators: one seed reproduces, two seeds differ
    expect("event history: same seed, same inputs",
      Gen.eventHistory(7, 0, 4, 500) == Gen.eventHistory(7, 0, 4, 500))
    expect("event history: two seeds differ",
      Gen.eventHistory(7, 0, 4, 500) != Gen.eventHistory(8, 0, 4, 500))
    expect("ingest stream: same seed, same inputs", ingest(7, 5) == ingest(7, 5))
    expect("ingest stream: two seeds differ", ingest(7, 5) != ingest(8, 5))
    val sched = (s: Long) => (0 until 200).map(Gen.removedCommit(s, 1, _, 0.2))
    expect("removed-commit schedule: same seed, same steps", sched(7) == sched(7))
    expect("removed-commit schedule: two seeds differ", sched(7) != sched(8))
    expect("removed-commit schedule: share near 0.2",
      math.abs(sched(7).count(_.isDefined) / 200.0 - 0.2) < 0.08)
    expect("corpus: same seed, same inputs and groups", corpus(7) == corpus(7))
    expect("corpus: two seeds differ", corpus(7).docs != corpus(8).docs)
    expect("corpus: planted groups present", corpus(7).exactGroups.nonEmpty && corpus(7).nearGroups.nonEmpty)
    expect("embeddings: same seed, same inputs", emb(7) == emb(7))
    expect("embeddings: two seeds differ", emb(7) != emb(8))
    val e = Gen.embeddings(7, 0, 200, 8, 4, 5)
    expect("exact top-k: same seed, same truth", Gen.exactTopK(e, 10) == Gen.exactTopK(Gen.embeddings(7, 0, 200, 8, 4, 5), 10))
    expect("cdf window schedule slides within the history",
      (0 until 30).map(Gen.cdfWindow(_, 3, 10, 4)).forall { case (s, a, b) => s < 3 && a >= 1 && b <= 10 && b - a == 3 })

    // ---- ground truth of the ingest join on a hand-made case
    val u = (id: Long, ct: String) => Gen.UserRow(id, "pro", "US", 1.0, 0L, ct)
    val ev = (id: Long, user: Long) => Gen.IngestEvent(id, user, "click", 0L, 1.0)
    val c1 = Gen.IngestCommit(1, 0, Vector(u(1, "insert"), u(2, "insert")), Vector(ev(10, 1), ev(11, 2)))
    val c2 = Gen.IngestCommit(2, 0, Vector(u(1, "update_preimage"), u(1, "update_postimage"), u(2, "delete")),
      Vector(ev(12, 1)))
    expect("ingest join truth: inserts and post-images join, pre-images and deletes do not",
      Gen.ingestJoinRows(Seq(c1, c2), Seq(c1, c2)) == 5L && Gen.ingestJoinRows(Seq(c2), Seq(c1, c2)) == 2L)

    // ---- checks fire on wrong output and stay quiet on right output
    val files = Seq(Output.DataFile("part-0", 900, 10), Output.DataFile("part-1", 1100, 10))
    val good = Output(files, Nil, Some((2000L, 2)), Some(Set.empty), Nil)
    expect("row count: right count passes", Checks.rowCount(2000, good).isEmpty)
    expect("row count: wrong count fires", Checks.rowCount(1999, good).nonEmpty)
    expect("max records per file: fires on a 1100-row file at limit 1000",
      Checks.maxRecordsPerFile(1000, good).size == 1 && Checks.maxRecordsPerFile(1100, good).isEmpty)
    expect("meta event_count: right count passes", Checks.metaCount(good).isEmpty)
    expect("meta event_count: wrong count fires", Checks.metaCount(good.copy(meta = Some((1999L, 2)))).nonEmpty)
    expect("meta event_count: missing sidecar fires", Checks.metaCount(good.copy(meta = None)).nonEmpty)
    expect("fallbacks: none seeded, none reported passes", Checks.fallbacks(Set.empty, good).isEmpty)
    expect("fallbacks: seeded but not reported fires", Checks.fallbacks(Set("t"), good).nonEmpty)
    expect("fallbacks: reported but not seeded fires",
      Checks.fallbacks(Set.empty, good.copy(fallbackTables = Some(Set("t")))).nonEmpty)
    expect("fallbacks: missing table_results.json fires",
      Checks.fallbacks(Set.empty, good.copy(fallbackTables = None)).nonEmpty)
    val clean = """{"type":"struct","fields":[{"name":"a","type":"long","nullable":true,"metadata":{}}]}"""
    val void = """{"type":"struct","fields":[{"name":"a","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"s","type":{"type":"struct","fields":[{"name":"v","type":"void","nullable":true,"metadata":{}}]},""" +
      """"nullable":true,"metadata":{}}]}"""
    expect("NullType: clean schema passes", Checks.noNullType(good.copy(sparkSchemas = Seq(clean))).isEmpty)
    expect("NullType: nested void field fires", Checks.noNullType(good.copy(sparkSchemas = Seq(clean, void))).nonEmpty)
    val truth = Map(1L -> Vector(2L -> 0.9, 3L -> 0.8, 4L -> 0.7))
    expect("top-k: right ids pass", Checks.topK(truth, Map(1L -> Seq(2L, 3L)), 2).isEmpty)
    expect("top-k: wrong id fires", Checks.topK(truth, Map(1L -> Seq(2L, 4L)), 2).nonEmpty)
    val c = Gen.Corpus(Vector.tabulate(6)(i => Gen.Doc(i, "")), Vector(Set(0L, 1L)), Vector(Set(2L, 3L)))
    expect("dedup quality: perfect keepers score 1/1",
      Checks.dedupQuality(c, Set(0L, 2L, 4L, 5L)) == ((1.0, 1.0)))
    val (r, p) = Checks.dedupQuality(c, Set(0L, 1L, 2L, 5L))
    expect("dedup quality: a surviving duplicate and a wrong removal fire the floors",
      r == 0.5 && p == 0.5 && Checks.atLeast("r", r, 0.9).nonEmpty && Checks.atLeast("p", p, 0.9).nonEmpty)

    // ---- the output reader on a hand-written JSON export
    val dir = Files.createTempDirectory("perfbench-selftest")
    try {
      def put(rel: String, body: String): Unit = {
        val p = dir.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.write(p, body.getBytes(StandardCharsets.UTF_8))
      }
      put("part-00000-x.json", "{\"a\":1}\n{\"a\":2}\n")
      put("part-00001-x.json", "{\"a\":3}\n")
      put("meta/part-00000-y.json", "{\"event_count\":4,\"partition_count\":2}\n")
      put("logs/run_1/table_results.json",
        """{"tables": {"a.b.c": {"initialFetchError": "DELTA_CHANGE_DATA_FILE_NOT_FOUND"}, "a.b.d": {"initialFetchError": null}}}""")
      put("logs/run_1/logs.txt", "[t] Planning coalesce to 2 partitions (will execute during write)")
      val o = Output.read(dir.toString, "json")
      expect("reader: rows and files counted", o.rows == 3 && o.files.size == 2 && o.maxRowsPerFile == 2)
      expect("reader: meta mismatch (4 vs 3 rows) fires", Checks.metaCount(o).nonEmpty)
      expect("reader: fallback table read from table_results.json",
        o.fallbackTables.contains(Set("a.b.c")) && Checks.fallbacks(Set("a.b.c"), o).isEmpty)
      expect("reader: planned partitions read from the audit log", Output.plannedPartitions(o) == 2)
    } finally rm(dir)

    if (failed > 0) {
      println(s"[selftest] $failed expectation(s) failed")
      sys.exit(1)
    }
    println("[selftest] all expectations met")
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(c => rm(c))
    Files.delete(p)
  }
}
