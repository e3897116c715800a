package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types._

/** What a batch left in its output directory, read straight from the files
  * (Parquet footers, JSON lines, sidecars) without going through Spark.
  */
final case class Output(
    files: Seq[Output.DataFile],
    sparkSchemas: Seq[String],
    meta: Option[(Long, Int)],
    fallbackTables: Option[Set[String]],
    logLines: Seq[String]) {
  def rows: Long = files.map(_.rows).sum
  def bytes: Long = files.map(_.bytes).sum
  def maxRowsPerFile: Long = if (files.isEmpty) 0L else files.map(_.rows).max
}

object Output {
  final case class DataFile(name: String, rows: Long, bytes: Long)

  private val mapper = new ObjectMapper()

  private def dataFiles(dir: File, ext: String): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(ext))
      .sortBy(_.getName)

  /** Read an export directory. `format` is "parquet" or "json". */
  def read(dir: String, format: String): Output = {
    val d = new File(dir)
    val (files, schemas) = format match {
      case "parquet" =>
        val conf = new Configuration()
        dataFiles(d, ".parquet").map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
          try {
            val footer = r.getFooter
            val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
            val schema = footer.getFileMetaData.getKeyValueMetaData.asScala
              .getOrElse("org.apache.spark.sql.parquet.row.metadata", "")
            (DataFile(f.getName, rows, f.length()), schema)
          } finally r.close()
        }.unzip
      case _ =>
        (dataFiles(d, ".json").map { f =>
          val n = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.count(_.nonEmpty)
          DataFile(f.getName, n.toLong, f.length())
        }, Nil)
    }
    val meta = dataFiles(new File(d, "meta"), ".json").headOption.map { f =>
      val n = mapper.readTree(Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.find(_.nonEmpty).get)
      (n.get("event_count").asLong(), n.get("partition_count").asInt())
    }
    val runDir = Option(new File(d, "logs").listFiles()).toSeq.flatten.headOption
    val fallbacks = runDir.map(r => new File(r, "table_results.json")).filter(_.isFile).map { f =>
      val tables: JsonNode = mapper.readTree(f).get("tables")
      tables.fields().asScala.collect {
        case e if !e.getValue.get("initialFetchError").isNull => e.getKey
      }.toSet
    }
    val log = runDir.map(r => new File(r, "logs.txt")).filter(_.isFile)
      .map(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq).getOrElse(Nil)
    Output(files, schemas, meta, fallbacks, log)
  }

  private val Planned = """.*Planning (?:repartition|coalesce) to (\d+) partitions.*""".r

  /** Output partitions the unload planned, from its audit log. */
  def plannedPartitions(o: Output): Int =
    o.logLines.collectFirst { case Planned(n) => n.toInt }.getOrElse(0)
}

/** Per-batch output checks. Each returns the failures it found; a batch
  * with any failure counts towards `failed`.
  */
object Checks {

  def rowCount(expected: Long, o: Output): Seq[String] =
    if (o.rows == expected) Nil else Seq(s"rows written ${o.rows} != expected $expected")

  def maxRecordsPerFile(limit: Long, o: Output): Seq[String] =
    o.files.filter(_.rows > limit).map(f => s"${f.name} holds ${f.rows} rows > maxRecordsPerFile $limit")

  def fallbacks(expected: Set[String], o: Output): Seq[String] = o.fallbackTables match {
    case None => Seq("table_results.json missing")
    case Some(got) if got != expected =>
      Seq(s"fallback tables ${got.toSeq.sorted.mkString(",")} != seeded ${expected.toSeq.sorted.mkString(",")}")
    case _ => Nil
  }

  def metaCount(o: Output): Seq[String] = o.meta match {
    case None => Seq("meta sidecar missing")
    case Some((n, _)) if n != o.rows => Seq(s"meta event_count $n != rows written ${o.rows}")
    case _ => Nil
  }

  /** Parquet output must carry a Spark schema without any NullType field. */
  def noNullType(o: Output): Seq[String] =
    if (o.files.isEmpty) Nil
    else o.sparkSchemas.flatMap { js =>
      if (js.isEmpty) Seq("parquet footer has no Spark schema")
      else {
        def voids(t: DataType, path: String): Seq[String] = t match {
          case NullType => Seq(path)
          case s: StructType => s.fields.toSeq.flatMap(f => voids(f.dataType, s"$path.${f.name}"))
          case a: ArrayType => voids(a.elementType, s"$path[]")
          case m: MapType => voids(m.keyType, s"$path{k}") ++ voids(m.valueType, s"$path{v}")
          case _ => Nil
        }
        voids(DataType.fromJson(js), "").map(p => s"NullType field $p in parquet output")
      }
    }.distinct

  /** Exact top-k ids must match the truth up to ties at the k-th score. */
  def topK(truth: Map[Long, Vector[(Long, Double)]], got: Map[Long, Seq[Long]], k: Int): Seq[String] =
    truth.toSeq.sortBy(_._1).flatMap { case (q, best) =>
      val kth = best(k - 1)._2
      val score = best.toMap
      val ids = got.getOrElse(q, Nil)
      val must = best.filter(_._2 > kth + 1e-6).map(_._1).toSet
      val wrong = ids.filter(i => score.get(i).forall(_ < kth - 1e-6))
      if (ids.size != k || wrong.nonEmpty || !must.subsetOf(ids.toSet))
        Seq(s"top-$k of query $q: got ${ids.mkString(",")}")
      else Nil
    }.take(3)

  /** Quality of a dedup decision against the planted groups:
    * (groups collapsed to one keeper ÷ groups, removed planted ÷ removed).
    */
  def dedupQuality(c: Gen.Corpus, keepers: Set[Long]): (Double, Double) = {
    val groups = c.planted
    val collapsed = groups.count(g => g.count(keepers) == 1)
    val removed = c.docs.iterator.map(_.docId).filterNot(keepers).toSet
    val plantedIds = groups.flatten.toSet
    val recall = if (groups.isEmpty) 1.0 else collapsed.toDouble / groups.size
    val precision = if (removed.isEmpty) 1.0 else removed.count(plantedIds).toDouble / removed.size
    (recall, precision)
  }

  def atLeast(name: String, value: Double, floor: Double): Seq[String] =
    if (value >= floor) Nil else Seq(f"$name $value%.4f below $floor%.2f")
}
