package graft.perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Unload, VersionedCatalog, Writers}
import graft.engine.JobSpec._
import graft.ext.{Dedup, Similarity, TextAnalysis}

/** One timed batch as the benchmark saw it. `failures` holds every output
  * check that fired (or the exception that ended the batch).
  */
final case class Batch(
    index: Int,
    seconds: Double,
    rowsIn: Long,
    bytesIn: Long,
    bytesOut: Long,
    filesOut: Int,
    maxRowsPerFile: Long,
    partitions: Int,
    fallbacks: Int,
    retries: Int,
    failures: Seq[String],
    quality: Map[String, Double] = Map.empty,
    traced: Boolean = false,
    codegenCompiles: Long = 0,
    jitCompileS: Double = 0.0)

/** A workload: `shards` independent set-ups (each authors one shard of
  * inputs), untimed warm-up batches, then timed batches run back to back by
  * one client, cycling over the shards.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val root: String) {
  def shards: Int
  def setup(shard: Int): Unit
  def warmUp(): Unit
  def batch(i: Int): Batch
  /** Fewest timed batches, even past `--seconds`. A tail percentile with
    * ten samples beyond it needs eleven, which the export workloads reach
    * within a run; `curation` passes take ~6 s, and three make the median
    * a middle pass rather than the mean of two, so one pass slowed by a
    * burst of host load does not move it. */
  def minBatches: Int = 2
  /** Input sizes, for the report. */
  def sizes: Map[String, Any]

  /** Failures seen in warm-up batches (they fail the run, not a batch). */
  val setupFailures = mutable.ArrayBuffer.empty[String]

  protected def warm(b: => Batch): Unit =
    setupFailures ++= b.failures.map(f => s"warm-up: $f")

  /** Time the blocking part of a batch inside a `batch` span. */
  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = Trace.span("batch")(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  protected def ts(ms: Long): Timestamp = new Timestamp(ms)
}

object Workload {
  /** Bytes of the data files under `dir` (checksums and markers excluded). */
  def dataBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(dir))
  }

  def rmTree(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(dir))
  }

  def apply(name: String, spark: SparkSession, seed: Long, root: String): Workload = name match {
    case "cdf_export"    => new CdfExport(spark, seed, root)
    case "ingest_export" => new IngestExport(spark, seed, root)
    case "curation"      => new Curation(spark, seed, root)
    case other           => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The reference's production path: a multi-commit EVENT window sliding over
  * a long commit history, canary-shaped SQL, count-sized repartition, zstd
  * Parquet.
  */
final class CdfExport(spark: SparkSession, seed: Long, root: String) extends Workload(spark, seed, root) {
  val shards = 3
  val Commits = 6
  val RowsPerCommit = 10000
  val Width = 3
  val MaxRecords = 10000L
  val Table = "main.bench.events"

  val Sql: String =
    s"""SELECT unix_millis(ts) AS time, user_id, event_type,
       |       named_struct('value', value, 'platform', platform, 'source', 'perfbench') AS event_properties,
       |       named_struct('tier', 'canary', 'schema_rev', 3) AS user_properties,
       |       NULL AS insert_id
       |FROM $Table""".stripMargin

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType),
    StructField("value", DoubleType), StructField("platform", StringType),
    StructField("_change_type", StringType), StructField("_commit_timestamp", TimestampType)))

  private val catalogs = new Array[VersionedCatalog](shards)
  private val histories = new Array[Vector[Gen.EventCommit]](shards)
  private val commitBytes = new Array[Map[Long, Long]](shards)

  def sizes: Map[String, Any] = Map(
    "shards" -> shards, "commits_per_shard" -> Commits, "rows_per_commit" -> RowsPerCommit,
    "window_commits" -> Width, "max_records_per_file" -> MaxRecords)

  def setup(s: Int): Unit = {
    val h = Gen.eventHistory(seed, s, Commits, RowsPerCommit)
    val cat = VersionedCatalog(s"$root/cdf/shard$s")
    h.foreach { c =>
      val rows = c.rows.map(e => Row(e.eventId, e.userId, e.eventType, ts(e.tsMs), e.value, e.platform,
        e.changeType, ts(c.commitTsMs)))
      Trace.span("catalog.commit")(cat.commitChanges(df(rows, schema), Table, c.version))
    }
    catalogs(s) = cat
    histories(s) = h
    commitBytes(s) = h.map(c => c.version ->
      Workload.dataBytes(s"${cat.cdfRoot(Table)}/_commit_version=${c.version}")).toMap
  }

  /** The JIT keeps speeding the export path up for ~15 batches. */
  val WarmUpBatches = 16

  def warmUp(): Unit = (0 until WarmUpBatches).foreach { i =>
    val (s, start, end) = Gen.cdfWindow(i, shards, Commits, Width)
    warm(export(s, start, end, s"$root/out/warm$i"))
  }

  def batch(i: Int): Batch = {
    val (s, start, end) = Gen.cdfWindow(i, shards, Commits, Width)
    export(s, start, end, s"$root/out/b$i").copy(index = i)
  }

  private def export(s: Int, start: Long, end: Long, out: String): Batch = {
    val window = histories(s).filter(c => c.version >= start && c.version <= end)
    val config = JobConfig(
      tables = Seq(TableVersionRange(Table, start, end)), dataType = Event, sql = Sql,
      outputPath = out, format = ParquetFormat, strategy = Repartition,
      maxRecordsPerFile = MaxRecords, runId = "batch")
    val (report, secs) = timed(Trace.span("unload.run")(Unload.run(spark, catalogs(s), config)))
    val o = Output.read(out, "parquet")
    val failures =
      Checks.rowCount(window.map(_.inserts).sum, o) ++ Checks.maxRecordsPerFile(MaxRecords, o) ++
        Checks.noNullType(o) ++ Checks.fallbacks(Set.empty, o)
    Workload.rmTree(out)
    Batch(-1, secs, window.map(_.rows.size.toLong).sum, window.map(c => commitBytes(s)(c.version)).sum,
      o.bytes, o.files.size, o.maxRowsPerFile, Output.plannedPartitions(o),
      report.tableResults.count(_.initialFetchError.isDefined), if (report.retriedLatestOnly) 1 else 0,
      failures)
  }
}

/** Writes beside reads: every step commits one version to two tables, then
  * exports the last few commits through a two-table join, count-free
  * (`targetPartitions`), coalesced under `maxRecordsPerFile`, JSON with the
  * meta sidecar. On a seeded share of steps the window's oldest commit of
  * one table is removed first, which drives the per-table fallback.
  */
final class IngestExport(spark: SparkSession, seed: Long, root: String) extends Workload(spark, seed, root) {
  val shards = 3
  val UsersPerCommit = 240
  val EventsPerCommit = 1500
  val Width = 3
  val RemoveShare = 0.2
  val MaxRecords = 1000L
  val TargetPartitions = 2
  val Users = "main.bench.user_properties"
  val Events = "main.bench.events"
  val Tables = Vector(Users, Events)

  val Sql: String =
    s"""SELECT e.event_id, e.user_id, e.event_type, unix_millis(e.ts) AS time, e.amount,
       |       named_struct('plan', u.plan, 'country', u.country, 'score', u.score) AS user_properties
       |FROM $Events e JOIN $Users u ON e.user_id = u.user_id""".stripMargin

  private val userSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("plan", StringType), StructField("country", StringType),
    StructField("score", DoubleType), StructField("updated_at", TimestampType),
    StructField("_change_type", StringType), StructField("_commit_timestamp", TimestampType)))
  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("ts", TimestampType), StructField("amount", DoubleType),
    StructField("_change_type", StringType), StructField("_commit_timestamp", TimestampType)))

  private val catalogs = new Array[VersionedCatalog](shards)
  private val streams = new Array[Gen.IngestStream](shards)
  private val history = Array.fill(shards)(mutable.ArrayBuffer.empty[Gen.IngestCommit])
  private val steps = new Array[Int](shards)

  def sizes: Map[String, Any] = Map(
    "shards" -> shards, "user_rows_per_commit" -> UsersPerCommit, "events_per_commit" -> EventsPerCommit,
    "window_commits" -> Width, "removed_commit_share" -> RemoveShare,
    "max_records_per_file" -> MaxRecords, "target_partitions" -> TargetPartitions)

  private def commit(s: Int, c: Gen.IngestCommit): Unit = {
    val cts = ts(c.commitTsMs)
    val users = c.users.map(u => Row(u.userId, u.plan, u.country, u.score, ts(u.updatedMs), u.changeType, cts))
    val events = c.events.map(e => Row(e.eventId, e.userId, e.eventType, ts(e.tsMs), e.amount, "insert", cts))
    Trace.span("catalog.commit")(catalogs(s).commitChanges(df(users, userSchema), Users, c.version))
    Trace.span("catalog.commit")(catalogs(s).commitChanges(df(events, eventSchema), Events, c.version))
  }

  def setup(s: Int): Unit = {
    catalogs(s) = VersionedCatalog(s"$root/ingest/shard$s")
    streams(s) = new Gen.IngestStream(seed, s, UsersPerCommit, EventsPerCommit)
    // fill the first window so every step exports `Width` commits
    (1 until Width).foreach { _ =>
      val c = streams(s).next()
      commit(s, c)
      history(s) += c
    }
  }

  def warmUp(): Unit = (0 until 4).foreach(i => warm(step(i % shards, s"$root/out/warm$i")))

  def batch(i: Int): Batch = step(i % shards, s"$root/out/b$i").copy(index = i)

  private def step(s: Int, out: String): Batch = {
    val c = streams(s).next()
    history(s) += c
    val v = c.version
    val start = v - Width + 1
    val removed = Gen.removedCommit(seed, s, steps(s), RemoveShare)
    steps(s) += 1
    removed.foreach { t =>
      Workload.rmTree(s"${catalogs(s).cdfRoot(Tables(t))}/_commit_version=$start")
    }
    def window(t: Int): Seq[Gen.IngestCommit] =
      history(s).filter(h => h.version >= (if (removed.contains(t)) v else start) && h.version <= v).toSeq
    val inputRows = window(0).map(_.users.size.toLong).sum + window(1).map(_.events.size.toLong).sum
    val config = JobConfig(
      tables = Tables.map(TableVersionRange(_, start, v)), dataType = UserProperty, sql = Sql,
      outputPath = out, format = JsonFormat, strategy = Coalesce, maxRecordsPerFile = MaxRecords,
      targetPartitions = Some(TargetPartitions), runId = "batch", writeMeta = true)
    val (report, secs) = timed {
      commit(s, c)
      Trace.span("unload.run")(Unload.run(spark, catalogs(s), config))
    }
    val bytesIn = Tables.indices.map { t =>
      window(t).map(h => Workload.dataBytes(s"${catalogs(s).cdfRoot(Tables(t))}/_commit_version=${h.version}")).sum
    }.sum
    val o = Output.read(out, "json")
    val failures =
      Checks.rowCount(Gen.ingestJoinRows(window(0), window(1)), o) ++
        Checks.maxRecordsPerFile(MaxRecords, o) ++ Checks.metaCount(o) ++
        Checks.fallbacks(removed.map(Tables(_)).toSet, o)
    Workload.rmTree(out)
    Batch(-1, secs, inputRows, bytesIn, o.bytes, o.files.size, o.maxRowsPerFile, Output.plannedPartitions(o),
      report.tableResults.count(_.initialFetchError.isDefined), if (report.retriedLatestOnly) 1 else 0,
      failures)
  }
}

/** The LLM data pipeline: dedup a corpus with planted duplicates, profile
  * and write the keepers, then exact and IVF top-k over an embedding set.
  */
final class Curation(spark: SparkSession, seed: Long, root: String) extends Workload(spark, seed, root) {
  val shards = 3
  val Docs = 500
  val Groups = 20
  val Vectors = 1000
  val Dims = 32
  val Clusters = 8
  val Queries = 20
  val K = 10
  val Cells = 8
  val Probes = 3

  private val corpora = new Array[Gen.Corpus](shards)
  private val truthTopK = new Array[Map[Long, Vector[(Long, Double)]]](shards)
  private val exactTruth = new Array[Long](shards)
  private val queryIds = new Array[Vector[Long]](shards)
  private val docBytes = new Array[Long](shards)

  def sizes: Map[String, Any] = Map(
    "shards" -> shards, "docs" -> Docs, "planted_groups" -> 2 * Groups, "vectors" -> Vectors,
    "dims" -> Dims, "queries" -> Queries, "k" -> K, "ivf_cells" -> Cells, "ivf_nprobe" -> Probes)

  private def docsPath(s: Int) = s"$root/curation/shard$s/docs"
  private def embPath(s: Int) = s"$root/curation/shard$s/embeddings"

  def setup(s: Int): Unit = {
    val c = Gen.corpus(seed, s, Docs, Groups)
    val e = Gen.embeddings(seed, s, Vectors, Dims, Clusters, Queries)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    // zstd like the export sink: snappy's ratio on this text swings with the seed
    df(c.docs.map(d => Row(d.docId, d.text, "en", s"crawl-${d.docId % 7}", d.text.length.toLong)), docSchema)
      .write.option("compression", "zstd").parquet(docsPath(s))
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    df(e.vectors.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq, i % Clusters) }, embSchema)
      .write.parquet(embPath(s))
    corpora(s) = c
    truthTopK(s) = Gen.exactTopK(e, K)
    queryIds(s) = e.queries
    exactTruth(s) = c.docs.groupBy(d => d.text.trim.toLowerCase.split("\\s+").mkString(" ")).count(_._2.size > 1)
    docBytes(s) = Workload.dataBytes(docsPath(s))
  }

  /** The JIT keeps compiling the planner for ~10 passes, so pass times
    * fall for that long; two warm passes take off the cold pass and the
    * steepest step, and more do not fit the run budget. */
  def warmUp(): Unit = (0 until 2).foreach(s => warm(pass(s, s"$root/out/warm$s")))

  override def minBatches: Int = 3

  def batch(i: Int): Batch = pass(i % shards, s"$root/out/b$i").copy(index = i)

  private def pass(s: Int, out: String): Batch = {
    val docs = spark.read.parquet(docsPath(s))
    val emb = spark.read.parquet(embPath(s))
    val queries = emb.filter(col("vec_id").isin(queryIds(s): _*))
    val ((exactDupGroups, keepers, profiled, exactTop, ivfTop), secs) = timed {
      val exactDupGroups = Trace.span("dedup.exact")(
        Dedup.exactGroups(docs).filter(col("copies") > 1).count())
      val (kept, keepers) = Trace.span("dedup.corpus") {
        val kept = Dedup.dedupCorpus(docs, materialize = true)
        (kept, kept.select("doc_id").collect().map(_.getLong(0)).toSet)
      }
      val profiled = Trace.span("text.profile")(
        TextAnalysis.profile(kept).agg(count(lit(1)), avg(col("quality"))).head().getLong(0))
      Trace.span("writers.write")(Writers.writeData(kept, ParquetFormat, out))
      def ids(r: DataFrame): Map[Long, Seq[Long]] =
        r.select("q_id", "vec_id", "rank").collect().toSeq
          .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1))).toMap
      val exactTop = Trace.span("similarity.exact_topk")(ids(Similarity.bruteForceTopK(emb, queries, K)))
      val ivfTop = Trace.span("similarity.ivf_topk")(ids(Similarity.ivfTopK(emb, queries, K, cells = Cells, nprobe = Probes, iters = 1)))
      (exactDupGroups, keepers, profiled, exactTop, ivfTop)
    }
    val o = Output.read(out, "parquet")
    val (recall, precision) = Checks.dedupQuality(corpora(s), keepers)
    val knn = queryIds(s).map(q => ivfTop.getOrElse(q, Nil).toSet.intersect(exactTop.getOrElse(q, Nil).toSet).size)
      .sum.toDouble / (K * queryIds(s).size)
    val failures =
      (if (exactDupGroups == exactTruth(s)) Nil
       else Seq(s"exact duplicate groups $exactDupGroups != planted ${exactTruth(s)}")) ++
        (if (profiled == keepers.size) Nil else Seq(s"profiled $profiled docs != ${keepers.size} keepers")) ++
        Checks.rowCount(keepers.size.toLong, o) ++ Checks.noNullType(o) ++
        Checks.topK(truthTopK(s), exactTop, K) ++
        Checks.atLeast("dedup_recall", recall, 0.9) ++ Checks.atLeast("dedup_precision", precision, 0.9) ++
        Checks.atLeast("knn_recall_at_10", knn, 0.5)
    Workload.rmTree(out)
    val n = corpora(s).docs.size
    Batch(-1, secs, n.toLong, docBytes(s), o.bytes, o.files.size, o.maxRowsPerFile, 0, 0, 0, failures,
      Map("dedup_recall" -> recall, "dedup_precision" -> precision, "knn_recall_at_10" -> knn,
        "kept_frac" -> keepers.size.toDouble / n))
  }
}
