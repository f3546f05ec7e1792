package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload measured. `latencyP50` and `latencyTail` are in
  * ms, over the operation the workload defines; `throughput` is work
  * done per second; `layers` holds per-layer metrics the workload
  * exercises; `detail` goes only to the trace file. */
final case class Result(attempted: Int, failed: Int, gateFailures: Seq[String],
                        latencyP50: Double, latencyTail: Double, throughput: Double,
                        layers: Map[String, Double], detail: Map[String, Double])

/** Benchmark process: one workload, one seed, one run. Started by
  * `perfbench/run.py`, which builds the classes and passes the paths.
  *
  * {{{
  *   --workload cdc_stream|batch  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --out FILE  --trace-out FILE  --data DIR
  *   --expected FILE  [--size full|tiny]
  * }}}
  *
  * Writes the result object to `--out` and, with `--trace 1`, the spans
  * and detail to `--trace-out`. Exits 1 when a correctness gate fails.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms", "throughput_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.list_ms_p50" -> "ms", "stream.batches" -> "count", "stream.planning_ms_p50" -> "ms",
    "stream.commit_ms_p50" -> "ms", "state.rows_total" -> "count", "state.memory_mb" -> "MB",
    "sink.merge_ms_p50" -> "ms", "sink.jobs_per_batch" -> "count",
    "sink.buckets_rewritten_p50" -> "count", "sink.bytes_per_change" -> "B",
    "sink.lag_p50_ms" -> "ms", "sink.files_current" -> "count", "view.merge_ms_p50" -> "ms",
    "view.lag_p50_ms" -> "ms", "read.point_ms_p50" -> "ms", "read.range_ms_p50" -> "ms",
    "read.agg_ms_p50" -> "ms", "read.range_file_share" -> "ratio", "snapshot.publish_ms" -> "ms",
    "supervisor.restarts" -> "count", "resume.ms" -> "ms", "gen.late_p95_ms" -> "ms",
    "gen.backlog_end_files" -> "count",
    "cdc.call_s" -> "s", "cdc.exec_s" -> "s", "cdc.jobs" -> "count",
    "analytics.call_s" -> "s", "analytics.exec_s" -> "s", "analytics.jobs" -> "count",
    "operators.call_s" -> "s", "operators.exec_s" -> "s", "operators.jobs" -> "count",
    "batch.shuffle_write_mb" -> "MB", "batch.spill_mb" -> "MB", "batch.gc_s" -> "s",
    "batch.driver_only_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  private def sizes(tiny: Boolean): Streaming.Sizes =
    if (tiny) Streaming.Sizes(1000, 5, 50, 6, 1L, 100, 0.8, 20, 50, 10)
    else Streaming.Sizes(20000, 10, 250, 40, 2L, 2000, 0.8, 100, 100, 10)

  /** Recorded batch fingerprints: key → (row count, hash). A missing
    * or unreadable file fails the run. */
  private def readExpected(f: Path): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
    node.fields().asScala.map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)).toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val tiny = a.get("size").contains("tiny")
    val work = Paths.get(arg("work")).toAbsolutePath
    val dataDir = Paths.get(arg("data")).toAbsolutePath.toString
    require(Seq("cdc_stream", "batch").contains(workload),
      s"unknown workload $workload")
    // read before the session starts, so a bad file fails fast
    val expected = if (workload == "batch") readExpected(Paths.get(arg("expected")))
                   else Map.empty[String, (Long, String)]
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = graft.Sessions.benchLocal(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        // chunk visibility is read from the queries' offset logs at the
        // end of the run; keep every batch's entry however many run
        .config("spark.sql.streaming.minBatchesToRetain", "100000"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced)
    trace.register(spark.sparkContext, spark)
    val rootT0 = trace.openRoot()
    @volatile var firstTimedMs = 0L
    val onTimed: Long => Unit = t =>
      firstTimedMs = System.currentTimeMillis() + (t - System.nanoTime()) / 1000000L

    val r = workload match {
      case "cdc_stream" => Streaming.cdcStream(spark, work, trace, seed, seconds, sizes(tiny), onTimed)
      case _ =>
        graft.SparkEntry.warmInputs(spark, dataDir)
        // tiny: one query of each module
        val suite = if (tiny) Batch.Modules.flatMap(m => Batch.Suite.find(_._2 == m)) else Batch.Suite
        Batch.run(spark, dataDir, suite, seed, seconds, trace, expected, onTimed)
    }
    trace.closeRoot(s"workload:$workload", rootT0)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    val e2e = Map(
      "setup_s" -> (firstTimedMs - jvmStart) / 1e3,
      "latency_p50_ms" -> r.latencyP50,
      "latency_tail_ms" -> r.latencyTail,
      "throughput_per_s" -> r.throughput)
    val layers = r.layers + ("jvm.heap_peak_mb" -> heapPeak)
    val correct = r.gateFailures.isEmpty && r.failed == 0
    val shown = if (traced) PerLayer.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) }
                else EndToEnd.map { case (k, u) => (k, e2e(k), u) }
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> (r.failed + r.gateFailures.size).toString,
      "metrics" -> Json.obj(shown.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    r.gateFailures.foreach(f => System.err.println(s"[perfbench] GATE FAILED: $f"))
    Files.writeString(Paths.get(arg("out")), line + "\n")

    if (traced) {
      val spans = trace.allSpans.map(s => Json.arr(Seq(s.id.toString, s.parent.toString,
        Json.str(s.name), Json.num(s.start / 1e6), Json.num(s.end / 1e6))))
      val body = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "per_layer" -> Json.obj(PerLayer.map { case (k, _) => k -> Json.num(layers.getOrElse(k, 0.0)) }),
        "detail" -> Json.obj(r.detail.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.arr(spans)))
      Files.writeString(Paths.get(arg("trace-out")), body + "\n")
    }
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}
