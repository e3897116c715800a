package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start a session, set the workload up
  * `shards` times, warm it up, run batches back to back for `--seconds`
  * (at least the workload's `minBatches`), and write the raw result (batch
  * records, set-up times, per-layer metrics when traced) as JSON to `--out`;
  * `perfbench/run.py` turns it into the reported metrics.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cpus <n> --root <scratch dir> --out <result.json>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val root = opt("root")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[TracedLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new LayerListener
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      Trace.driverThread = Thread.currentThread()
      val fs = new org.apache.hadoop.fs.Path(s"file://$root").getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[TracedLocalFileSystem], s"traced file system not installed (${fs.getClass})")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl = Workload(workload, spark, seed, root)
    Trace.on = trace
    val setupS = (0 until wl.shards).map { s =>
      val t0 = System.nanoTime()
      wl.setup(s)
      (System.nanoTime() - t0) / 1e9
    }
    Trace.on = false
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val batches = mutable.ArrayBuffer.empty[Batch]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // a batch is started only if a typical one still ends before the deadline
    def typicalNs = if (batches.isEmpty) 0L else (batches.map(_.seconds).sorted.apply(batches.size / 2) * 1e9).toLong
    while (i < wl.minBatches || System.nanoTime() + typicalNs < deadline) {
      // the traced run alternates traced and untraced batches: the traced
      // ones give the per-layer metrics, the pair gives the tracing overhead
      val traced = trace && i % 2 == 0
      Trace.on = traced
      Trace.batch = i
      val (cg0, jit0) = (codegenCompiles(), jitCompileMs())
      val t0 = System.nanoTime()
      val r =
        try wl.batch(i)
        catch {
          case e: Throwable =>
            Batch(i, (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0, 0, 0, 0, 0,
              Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        }
      Trace.on = false
      Trace.batch = -1
      batches += r.copy(traced = traced, codegenCompiles = codegenCompiles() - cg0,
        jitCompileS = (jitCompileMs() - jit0) / 1e3)
      i += 1
    }

    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        PerfbenchBridge.drainListenerBus(spark.sparkContext)
        Layers.metrics(listener, batches.toSeq, wl.shards)
      }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "session_s" -> sessionS, "setup_shard_s" -> setupS, "warm_up_s" -> warmUpS,
      "setup_failures" -> wl.setupFailures.toSeq,
      "sizes" -> wl.sizes, "peak_rss_mb" -> peakRssMb(),
      "batches" -> batches.map(b => Map(
        "i" -> b.index, "s" -> b.seconds, "rows_in" -> b.rowsIn, "bytes_in" -> b.bytesIn,
        "bytes_out" -> b.bytesOut, "traced" -> b.traced, "failures" -> b.failures,
        "quality" -> b.quality)).toSeq,
      "layers" -> layers)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(opt("out")), result)
    spark.stop()
  }

  /** Whole-stage codegen (Janino) compilations so far in this JVM. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** JIT compiler time so far, summed over compiler threads, in ms. */
  def jitCompileMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set of this JVM (`VmHWM`), in MB; 0 where /proc is absent. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }
  }
}

/** Reduction of the trace to per-layer metrics, per traced timed batch. */
object Layers {

  def metrics(l: LayerListener, batches: Seq[Batch], shards: Int): Map[String, Double] = l.synchronized {
    val traced = batches.filter(_.traced)
    val tracedIds = traced.map(_.index).toSet
    val n = math.max(1, traced.size).toDouble
    val spans = Trace.spans.toSeq
    val batchSpans = spans.filter(s => s.name == "batch" && tracedIds(s.batch))
    val inTimed = spans.filter(s => tracedIds(s.batch))
    def spanS(name: String) = inTimed.filter(_.name == name).map(_.seconds).sum
    def within(ms: Long, s: Trace.Span) = ms >= s.startMs && ms <= s.endMs

    // jobs that started inside a traced batch, with their layer: the call
    // site's innermost engine frame, else the innermost open benchmark span
    val jobs = l.jobs.values.toSeq.flatMap { j =>
      batchSpans.find(b => within(j.startMs, b)).map { b =>
        val span = inTimed.filter(s => s.batch == b.batch && within(j.startMs, s)).sortBy(_.seconds).headOption
        (b.batch, j, j.layer.orElse(span.map(_.name)).getOrElse("other"))
      }
    }
    def jobS(layer: String) =
      jobs.filter(_._3 == layer).groupBy(_._1).values
        .map(js => Trace.unionMs(js.map(x => (x._2.startMs, x._2.endMs))) / 1e3).sum
    val fs = Trace.fsOps.toSeq.filter(op => batchSpans.exists(b => within(op.startMs, b)))
    def fsS(layer: String) = fs.filter(_.layer == layer).map(_.seconds).sum

    val unloadSpans = inTimed.filter(_.name == "unload.run")
    val unloadJobs = jobs.filter(j => unloadSpans.exists(u => within(j._2.startMs, u)))
    val unloadDriver = unloadSpans.map { u =>
      val covered = Trace.unionMs(unloadJobs.filter(j => within(j._2.startMs, u))
        .map(j => (j._2.startMs, math.min(j._2.endMs, u.endMs))))
      math.max(0.0, u.seconds - covered / 1e3)
    }.sum

    val stagesByBatch = jobs.groupBy(_._1).view.mapValues(_.flatMap(_._2.stageIds).distinct
      .flatMap(l.stages.get)).toMap
    val stages = stagesByBatch.values.flatten.toSeq
    val unloadStages = unloadJobs.flatMap(_._2.stageIds).distinct.flatMap(l.stages.get)
    val skews = stagesByBatch.values.flatMap { ss =>
      ss.filter(_.taskMs.nonEmpty).sortBy(s => s.doneMs - s.submitMs).lastOption.map { s =>
        val sorted = s.taskMs.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }
    }.toSeq.sorted

    def mean(f: Batch => Double) = traced.map(f).sum / n
    def quality(k: String) = {
      val xs = batches.flatMap(_.quality.get(k))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val tracedP50 = p50(traced.map(_.seconds))
    val untracedP50 = p50(batches.filterNot(_.traced).map(_.seconds))
    val setupCommits = spans.filter(s => s.batch == -1 && s.name == "catalog.commit")

    Map(
      "catalog.commit_s" -> spanS("catalog.commit") / n,
      "catalog.commits" -> inTimed.count(_.name == "catalog.commit") / n,
      "catalog.setup_commit_s" -> setupCommits.map(_.seconds).sum / shards,
      "catalog.fetch_s" -> (fsS("catalog.fetch") + jobS("catalog.fetch")) / n,
      "catalog.scan_bytes" -> unloadStages.map(_.bytesRead).sum / n,
      "unload.driver_s" -> unloadDriver / n,
      "unload.jobs" -> unloadJobs.size / n,
      "unload.fallbacks" -> mean(_.fallbacks),
      "unload.retries" -> mean(_.retries),
      "partitioning.count_s" -> (jobS("partitioning.count") + fsS("partitioning.count")) / n,
      "partitioning.partitions" -> mean(_.partitions),
      "writers.write_s" -> (jobS("writers.write") + fsS("writers.write")) / n,
      "writers.sidecar_s" -> (jobS("writers.sidecar") + fsS("writers.sidecar")) / n,
      "writers.bytes_out" -> mean(_.bytesOut.toDouble),
      "writers.files_out" -> mean(_.filesOut),
      "writers.max_rows_per_file" -> traced.map(_.maxRowsPerFile.toDouble).maxOption.getOrElse(0.0),
      "dedup.exact_s" -> spanS("dedup.exact") / n,
      "dedup.corpus_s" -> spanS("dedup.corpus") / n,
      "dedup.kept_frac" -> quality("kept_frac"),
      "text.profile_s" -> spanS("text.profile") / n,
      "similarity.exact_topk_s" -> spanS("similarity.exact_topk") / n,
      "similarity.ivf_topk_s" -> spanS("similarity.ivf_topk") / n,
      "spark.task_s" -> stages.map(_.runS).sum / n,
      "spark.cpu_s" -> stages.map(_.cpuS).sum / n,
      "spark.gc_s" -> stages.map(_.gcS).sum / n,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> stages.map(_.spill).sum / n,
      "spark.tasks" -> stages.map(_.tasks).sum / n,
      "spark.stage_skew" -> p50(skews),
      "spark.codegen_compiles" -> mean(_.codegenCompiles.toDouble),
      "jvm.jit_compile_s" -> mean(_.jitCompileS),
      "bench.self_s" -> batchSpans.map(Trace.selfSeconds).sum / n,
      "failed_frac" -> batches.count(_.failures.nonEmpty).toDouble / math.max(1, batches.size),
      "dedup_recall" -> quality("dedup_recall"),
      "dedup_precision" -> quality("dedup_precision"),
      "knn_recall_at_10" -> quality("knn_recall_at_10"),
      "trace.batch_s_p50" -> tracedP50,
      "trace.untraced_batch_s_p50" -> untracedP50,
      "trace.overhead_frac" -> (if (untracedP50 > 0) tracedP50 / untracedP50 - 1 else 0.0))
  }
}
