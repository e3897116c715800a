package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Tracing for the traced run: spans recorded by the benchmark around each
  * call it makes into the engine, Spark jobs and stages seen by a listener,
  * and driver-side file-system operations seen by [[TracedLocalFileSystem]].
  * Everything is kept in memory and reduced to per-layer metrics when the
  * run ends. Nothing here is installed in an untraced run.
  */
object Trace {

  /** Recording gate: spans and FS timings are kept only while this is set. */
  @volatile var on: Boolean = false

  final case class Span(id: Int, parent: Int, name: String, batch: Int, startMs: Long, endMs: Long, seconds: Double)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  /** Batch id stamped on new spans; -1 outside the timed phase. */
  var batch: Int = -1

  /** Record `name` around `body` (a plain call when tracing is off). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val s = (System.nanoTime() - t0) / 1e9
        open = open.tail
        spans += Span(id, parent, name, batch, ms, System.currentTimeMillis(), s)
      }
    }

  /** A span's duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    math.max(0.0, s.seconds - unionMs(kids) / 1000.0)
  }

  /** Total length of the union of `[start, end]` intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  // ---------------------------------------------------------------- layers

  /** Layer of a call stack: its innermost engine frame decides. */
  def layerOfFrames(frames: Iterator[(String, String)]): Option[String] =
    frames.collectFirst {
      case (cls, m) if cls.startsWith("graft.") && !cls.startsWith("graft.perfbench") => layerOf(cls, m)
    }

  def layerOf(cls: String, method: String): String = {
    def in(obj: String) = cls.startsWith(s"graft.$obj")
    if (in("engine.VersionedCatalog"))
      if (method.contains("commit") || method.contains("Manifest") || method.contains("backfill")) "catalog.commit"
      else "catalog.fetch"
    else if (in("engine.Partitioning")) "partitioning.count"
    else if (in("engine.Writers"))
      if (method.contains("writeMeta") || method.contains("writeAudit") || method.contains("putString")) "writers.sidecar"
      else "writers.write"
    else if (in("engine.VoidScrub")) "writers.write"
    else if (in("engine.")) "unload"
    else if (in("ext.Dedup")) "dedup"
    else if (in("ext.TextAnalysis")) "text"
    else if (in("ext.Similarity")) "similarity"
    else "other"
  }

  /** Layer named by a Spark call site (`StageInfo.details`, one frame per line). */
  def layerOfCallSite(details: String): Option[String] =
    layerOfFrames(details.linesIterator.map(_.trim).map { l =>
      val head = l.takeWhile(_ != '(')
      val dot = head.lastIndexOf('.')
      if (dot < 0) (head, "") else (head.substring(0, dot), head.substring(dot + 1))
    })

  // ------------------------------------------------------- file-system ops

  final case class FsOp(op: String, layer: String, startMs: Long, seconds: Double)

  val fsOps = mutable.ArrayBuffer.empty[FsOp]
  @volatile var driverThread: Thread = _
  private var fsDepth = 0

  private val walker = StackWalker.getInstance()

  /** Time one driver-thread FS call (outermost only; tasks are excluded —
    * their I/O shows up in the listener's task metrics).
    */
  def fs[T](op: String)(body: => T): T =
    if (!on || (Thread.currentThread() ne driverThread) || fsDepth > 0) body
    else {
      fsDepth += 1
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val s = (System.nanoTime() - t0) / 1e9
        fsDepth -= 1
        val layer = walker.walk[Option[String]] { st =>
          import scala.jdk.StreamConverters._
          layerOfFrames(st.toScala(Iterator).map(f => (f.getClassName, f.getMethodName)))
        }.getOrElse("bench")
        synchronized(fsOps += FsOp(op, layer, ms, s))
      }
    }
}

/** `file://` file system that reports driver-side metadata operations to
  * [[Trace.fs]]; installed through `spark.hadoop.fs.file.impl` in traced runs.
  */
class TracedLocalFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = Trace.fs("list")(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = Trace.fs("stat")(super.getFileStatus(f))
  override def exists(f: Path): Boolean = Trace.fs("stat")(super.exists(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = Trace.fs("mkdirs")(super.mkdirs(f, p))
  override def rename(src: Path, dst: Path): Boolean = Trace.fs("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = Trace.fs("delete")(super.delete(f, recursive))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = Trace.fs("open")(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    Trace.fs("create")(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
}

/** Spark jobs, stages and task metrics, attributed to layers by call site. */
final class LayerListener extends SparkListener {

  final class Job(val startMs: Long, val stageIds: Seq[Int], val layer: Option[String]) {
    var endMs: Long = startMs
  }

  final class Stage {
    var submitMs = 0L
    var doneMs = 0L
    var runS = 0.0
    var cpuS = 0.0
    var gcS = 0.0
    var shuffleWrite = 0L
    var spill = 0L
    var bytesRead = 0L
    var tasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage)

  /** SQL execution id -> layer of the thread that started it. Jobs of one
    * execution may be submitted from Spark's own pools (AQE stages,
    * broadcasts), whose call sites name no engine frame.
    */
  val executions = mutable.HashMap.empty[Long, Option[String]]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = Trace.layerOfCallSite(x.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong).flatten)
    val site = execution.orElse(e.stageInfos.sortBy(-_.stageId).iterator.map(_.details)
      .map(Trace.layerOfCallSite).collectFirst { case Some(l) => l })
    jobs(e.jobId) = new Job(e.time, e.stageIds, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runS += m.executorRunTime / 1e3
      s.cpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
    }
  }
}
