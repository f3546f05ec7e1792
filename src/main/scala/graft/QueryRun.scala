package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.operators.Dedup

/** How a graded query is run and released — the one loop behind Bench,
  * ScaleBench, Verify and PlanDump.
  *
  * [[once]] times the query call plus a sink and counts the Spark jobs
  * and stages the run started. Afterwards, outside the timed region and
  * whether the run succeeded or not, it applies [[release]], so no run
  * is served from an earlier run's cache, checkpoint or closure memo.
  *
  * As a main it times queries over `SPARK_GRAFT_SF_DIR`:
  * {{{
  * runMain graft.QueryRun time [query ...]
  * runMain graft.QueryRun ab <confKey> <a> <b> <reps> <query ...>
  * }}}
  * `time` runs each named query (default: all) once and prints its wall
  * time, jobs and stages; eager operators (localCheckpoint results) have
  * trivial explain plans, so the job count is the structural
  * before/after evidence. `ab` alternates a session conf between two
  * values, `reps` runs of each, and prints each value's MIN wall
  * (min-of-N cancels a noisy host's starvation phases better than a
  * mean). `-` as a value restores the conf the session started with.
  */
object QueryRun {

  type Query = (SparkSession, String) => DataFrame

  /** One successful run: wall seconds of the query call plus the sink,
    * and the jobs and stages the run started. */
  final case class Sample(seconds: Double, jobs: Int, stages: Int)

  /** Executes the full plan and discards the rows. A bare `count()`
    * would let Catalyst prune most of a projection-only plan. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Run `query` over `dir` into `sink`. A failure of the call or the
    * sink is returned as `Left(message)`, with its top stack frames on
    * stderr. */
  def once(spark: SparkSession, key: String, query: Query, dir: String,
           sink: DataFrame => Unit = noop): Either[String, Sample] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
      }
    }
    sc.addSparkListener(listener)
    var df: Option[DataFrame] = None
    try {
      val t0 = System.nanoTime()
      df = Some(query(spark, dir))
      sink(df.get)
      val seconds = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drain(sc)
      Right(Sample(seconds, jobs.get, stages.get))
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      System.err.println(s"[queryrun] $key failed: $msg")
      e.getStackTrace.take(8).foreach(f => System.err.println(s"  at $f"))
      Left(msg)
    } finally {
      sc.removeSparkListener(listener)
      release(spark, df.toSeq: _*)
    }
  }

  /** Free everything a run left behind, blocking: the results' own
    * checkpoints (`Dedup.release`; `clearCache` cannot see checkpoint
    * blocks), every cached plan, and the dup-closure memo, whose
    * checkpoints sit below projections where neither reaches. */
  def release(spark: SparkSession, results: DataFrame*): Unit = {
    results.foreach(Dedup.release(_, blocking = true))
    spark.catalog.clearCache()
    Dedup.clearComponentsMemo(blocking = true)
  }

  /** Set-up outside every timed run: JVM/codegen warm-up, then the
    * input artifacts the queries read ([[SparkEntry.warmInputs]]);
    * synthesizing inputs is harness work, not operator cost. */
  def warm(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.warmInputs(spark, dir)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(spark: SparkSession, n: String) = once(spark, n, SparkEntry.queries(n), dir)
    val mode: SparkSession => Unit = args.toList match {
      case "time" :: names => spark =>
        (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted).foreach { n =>
          println(run(spark, n).fold(e => f"[time] $n%-28s FAILED: $e",
            s => f"[time] $n%-28s ${s.seconds}%8.2f s  jobs=${s.jobs}%3d stages=${s.stages}%3d"))
        }
      case "ab" :: key :: a :: b :: reps :: names if names.nonEmpty => spark =>
        val orig = spark.conf.getOption(key)
        def set(v: String): Unit =
          if (v != "-") spark.conf.set(key, v)
          else orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val arms = Seq("A" -> a, "B" -> b)
        names.foreach { n =>
          val runs = (1 to reps.toInt).flatMap(_ => arms.map { case (arm, v) => set(v); arm -> run(spark, n) })
          arms.foreach { case (arm, v) =>
            val secs = runs.collect { case (`arm`, Right(s)) => s.seconds }
            val failed = runs.count { case (r, out) => r == arm && out.isLeft }
            println(f"[ab] $n%-26s $arm=$v min=${secs.minOption.getOrElse(Double.NaN)}%7.2f " +
              s"all=${secs.map(x => f"$x%.2f").mkString(",")}" + (if (failed > 0) s" failed=$failed" else ""))
          }
        }
      case _ => throw new IllegalArgumentException(
        "usage: QueryRun time [query ...] | QueryRun ab <confKey> <a> <b> <reps> <query ...>")
    }
    val spark = Sessions.fromEnv("graft-queryrun")
    try {
      warm(spark, dir)
      mode(spark)
    } finally spark.stop()
  }
}
