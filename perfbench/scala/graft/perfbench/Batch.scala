package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

import graft.SparkEntry
import graft.operators.Dedup

/** The batch suite: `SparkEntry.queries(key)` → noop write over
  * the fixed tables in `perfbench/data`.
  *
  * Every sample does its own work: after each query, outside the timed
  * region, the benchmark releases the query's checkpoints
  * (`Dedup.release`), the cache and the connected-components memo
  * (`Dedup.clearComponentsMemo`), so no sample is served from an
  * earlier one. Keys left out, and why:
  *  - `token_count_bpe`, `doc_chunk_bpe`, `seq_pack_bpe`: `Bpe.memo`
  *    trains the merge table once per process;
  *  - `near_dup_jaccard`, `dedup_pareto` (`Bench.Instruments`):
  *    quadratic oracle anchors, not operator signals;
  *  - `ann_pareto`, `ann_recall*`: quality sweeps and recall gates.
  */
object Batch {

  /** (key, module) of each suite. The module names the layer whose
    * code the query mostly runs. */
  val Suite: Seq[(String, String)] = Seq(
    "cdc_changelog", "cdc_filter_txs", "cdc_entity_state", "cdc_state_at", "cdc_agg_view",
    "cdc_log_compact", "cdc_apply", "cdc_update_images", "cdc_snapshot_diff", "cdc_scd2",
    "cdc_lag", "cdc_tx_stats", "cdc_debezium_decode", "snapshot_load", "row_format_normalize",
    "scd2_temporal_join").map(_ -> "cdc") ++ Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue", "sessionize",
    "event_windowed_agg", "cohort_retention").map(_ -> "analytics") ++ Seq(
    "dedup_cc", "dedup_minhash_lsh", "ann_topk", "ann_pq", "kmeans_assign")
    .map(_ -> "operators")

  val Modules: Seq[String] = Seq("cdc", "analytics", "operators")

  /** Row count and an order-independent hash of a result. Doubles are
    * rounded to 6 decimals first; maps hash through their JSON form. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
        case _: MapType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  final case class Sample(key: String, module: String, pass: Int, callMs: Double, execMs: Double,
                          start: Long, end: Long)

  /** Release everything a query left behind, outside any timed region. */
  private def release(spark: SparkSession, df: DataFrame): Unit = {
    Dedup.release(df, blocking = true)
    spark.catalog.clearCache()
    Dedup.clearComponentsMemo(blocking = true)
  }

  /** Untimed warm pass that also checks each result against its
    * recorded fingerprint; then timed passes in seeded orders, one per
    * 5 s of `seconds` and at least two. The pass count is fixed, not
    * timed, so a faster commit does the same work as a slower one.
    *
    * Latency is one pass: the sum of its per-query times (call → end
    * of the noop write), so a regression in any query moves it. p50 is
    * the median pass, tail the slowest. Throughput is queries per
    * second of that query time; the untimed releases are not in it. */
  def run(spark: SparkSession, dataDir: String, suite: Seq[(String, String)], seed: Long,
          seconds: Int, trace: Trace, expected: Map[String, (Long, String)],
          onTimed: Long => Unit): Result = {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(seed)
    val gateFailures = mutable.ArrayBuffer.empty[String]
    trace.span("workload.warm") {
      rnd.shuffle(suite).foreach { case (key, _) =>
        val df = SparkEntry.queries(key)(spark, dataDir)
        val fp = try fingerprint(df) finally release(spark, df)
        expected.get(key) match {
          case Some(e) if e != fp => gateFailures += s"$key: got rows=${fp._1} hash=${fp._2}, expected rows=${e._1} hash=${e._2}"
          case None => gateFailures += s"$key: no expected fingerprint"
          case _ =>
        }
      }
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    var failed = 0
    onTimed(System.nanoTime())
    val passes = math.max(2, seconds / 5)
    trace.span("workload.measure") {
      for (pass <- 0 until passes) {
        rnd.shuffle(suite).foreach { case (key, module) =>
          Trace.withOp(sc, s"query:$key:$pass") {
            val s0 = System.nanoTime()
            var df: DataFrame = null
            try {
              trace.span(s"query:$key") {
                df = trace.span(s"$module.call")(SparkEntry.queries(key)(spark, dataDir))
                val s1 = System.nanoTime()
                trace.span(s"$module.exec")(df.write.format("noop").mode("overwrite").save())
                val s2 = System.nanoTime()
                samples += Sample(key, module, pass, (s1 - s0) / 1e6, (s2 - s1) / 1e6, s0, s2)
              }
            } catch {
              case e: Exception =>
                failed += 1
                System.err.println(s"[perfbench] $key failed: $e")
            } finally if (df != null) release(spark, df)
          }
        }
      }
    }
    val layers = mutable.LinkedHashMap.empty[String, Double]
    Modules.foreach { m =>
      val ms = samples.filter(_.module == m)
      layers(s"$m.call_s") = ms.map(_.callMs).sum / 1e3 / passes
      layers(s"$m.exec_s") = ms.map(_.execMs).sum / 1e3 / passes
      val keys = suite.filter(_._2 == m).map(_._1).toSet
      layers(s"$m.jobs") = trace.jobs(op => op.startsWith("query:") && keys(op.split(':')(1))).toDouble / passes
    }
    val tasks = trace.tasks(_.startsWith("query:"))
    layers("batch.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / 1048576.0 / passes
    layers("batch.spill_mb") = tasks.map(_.spill).sum / 1048576.0 / passes
    layers("batch.gc_s") = tasks.map(_.gcMs).sum / 1e3 / passes
    if (trace.enabled) {
      val byOp = tasks.groupBy(_.op)
      layers("batch.driver_only_s") = samples.map { s =>
        // task times are wall-clock ms; sample bounds are nanoTime
        val offset = System.currentTimeMillis() - System.nanoTime() / 1000000L
        Trace.uncoveredMs(s.start / 1000000L + offset, s.end / 1000000L + offset,
          byOp.getOrElse(s"query:${s.key}:${s.pass}", Nil))
      }.sum / 1e3 / passes
    } else layers("batch.driver_only_s") = 0.0
    val ms = (s: Sample) => s.callMs + s.execMs
    val perQuery = samples.groupBy(_.key).map { case (k, ss) => k -> Stats.median(ss.map(ms).toSeq) / 1e3 }
    val passMs = samples.groupBy(_.pass).values.map(_.map(ms).sum).toSeq
    Result(
      attempted = suite.size * passes,
      failed = failed,
      gateFailures = gateFailures.toSeq,
      latencyP50 = Stats.median(passMs),
      latencyTail = passMs.maxOption.getOrElse(0.0),
      throughput = samples.size / math.max(1e-9, samples.map(ms).sum / 1e3),
      layers = layers.toMap,
      detail = Map("passes" -> passes.toDouble) ++ perQuery.map { case (k, v) => s"query.${k}_s" -> v })
  }
}
