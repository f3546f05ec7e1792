package graft

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, writes the per-query evidence to a file
  * artifact and prints one JSON line of totals.
  *
  * Each sample is one [[QueryRun.once]] into the `noop` sink: the full
  * plan executes and the rows are discarded, and everything the sample
  * left behind is released before the next one, so every sample does
  * its own work.
  *
  * Noise handling (this host has multi-minute phases where JVM threads
  * starve — identical code swings 6 s ↔ 40 s): every query runs TWO
  * samples; if they disagree beyond tolerance a third breaks the tie,
  * and the headline per query is the MEDIAN of its samples. All raw
  * samples and a per-query ok/failed status are emitted so a regression
  * can't hide behind a lucky sample and a broken query can't "pass" by
  * being timed while throwing.
  */
object Bench {

  /** Exact-oracle INSTRUMENTS — quadratic-by-construction baselines
    * kept graded because their DuckDB replays anchor the banded/
    * blocked twins' correctness, not because their wall time is an
    * operator signal (r16: two same-round sf1 runs moved
    * near_dup_jaccard 169 → 243 s with zero code change). The
    * artifact reports them on their own total so the OPERATOR total
    * stays a stable round-over-round regression signal. */
  val Instruments: Set[String] = Set("near_dup_jaccard", "dedup_pareto")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** One query's outcome: its timed samples, the error that ended them
    * (if any), and the canary seconds just before and just after them. */
  final case class Outcome(key: String, samples: Seq[Double], error: Option[String],
                           canary: (Double, Double))

  /** (stdout line, file artifact), both from one prefix of totals. A
    * tail-limited stdout capture keeps only the last 2 000 chars, so the
    * line carries the totals alone and stays short at any query count; the
    * per-query maps (medians, samples, status, canaries) live in the
    * file artifact, after the same prefix. */
  def render(results: Seq[Outcome], cpus: Int, sf: String, load: (String, String)): (String, String) = {
    def jnum(d: Double): String = f"$d%.3f"
    def jstr(s: String): String = "\"" + s.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    // any successful samples still contribute a median (keeps the total
    // honest); the error, if any, shows in status + failed regardless
    val ok = results.filter(_.samples.nonEmpty)
    val medians = ok.map(o => o.key -> median(o.samples))
    val total = medians.map(_._2).sum
    val instTotal = medians.collect { case (k, v) if Instruments(k) => v }.sum
    val prefix = s"""{"metric":"total","value":${jnum(total)},"unit":"sec",""" +
      s""""operators_total":${jnum(total - instTotal)},"instruments_total":${jnum(instTotal)},""" +
      s""""failed":${results.count(_.error.isDefined)},"cpus":$cpus,"sf":${jstr(sf)}"""
    val maps = obj(Seq(
      "instruments" -> arr(Instruments.toSeq.sorted.map(jstr)),
      "queries" -> obj(medians.map { case (k, v) => k -> jnum(v) }),
      "samples" -> obj(ok.map(o => o.key -> arr(o.samples.map(jnum)))),
      "status" -> obj(results.map(o => o.key -> jstr(o.error.fold("ok")("failed: " + _.take(80))))),
      "canary" -> obj(results.map(o => o.key -> arr(Seq(o.canary._1, o.canary._2).map(jnum)))),
      "load" -> arr(Seq(load._1, load._2).map(jstr))))
    (prefix + "}", prefix + "," + maps.drop(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.fromEnv("graft-bench")
    QueryRun.warm(spark, sfDir)

    // Fixed-work noise canary: this host has multi-minute phases where
    // JVM threads starve and identical code runs 10-100× slower. One
    // canary per query timestamps those phases inside the artifact —
    // a slow query next to a slow canary is the host, not the plan.
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadAvg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ")(0)
      catch { case _: Throwable => "-1" }
    val loadStart = loadAvg()

    // two samples; a third breaks the tie when they disagree. A failed
    // sample ends the query's samples and marks it failed — a failed
    // tie-breaker is a real failure signal, not a fallback to "ok"
    def samples(name: String, fn: QueryRun.Query): (Seq[Double], Option[String]) = {
      def run() = QueryRun.once(spark, name, fn, sfDir).map(_.seconds)
      run() match {
        case Left(e) => (Nil, Some(e))
        case Right(s1) => run() match {
          case Left(e) => (Seq(s1), Some(e))
          case Right(s2) if math.abs(s1 - s2) <= math.max(2.0, 0.5 * math.min(s1, s2)) =>
            (Seq(s1, s2), None)
          case Right(s2) => run().fold(e => (Seq(s1, s2), Some(e)), s3 => (Seq(s1, s2, s3), None))
        }
      }
    }
    // canaries BRACKET the samples: cy before, cy2 after — a starvation
    // phase that begins mid-samples (the common case: the query itself
    // pushes the host into contention) shows in cy2 even when cy was
    // quiet, so slow samples beside a slow cy2 still read as host noise
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cy = canary()
      val (ss, err) = samples(name, fn)
      Outcome(name, ss, err, (cy, canary()))
    }
    val cpus = Sessions.cpus
    val (line, full) = render(results, cpus, sfDir, (loadStart, loadAvg()))
    // File artifacts FIRST (and their stderr notices), so the JSON line
    // is the very last stdout before sbt's own [success] trailer — a
    // tail-limited capture then always contains the complete line.
    // Default artifacts: BENCH_LAST.json (compat) + a cpus-suffixed
    // copy so a 32-core and an 8-core driver run in the same round
    // don't clobber each other's per-query maps (r18 lost the c32 map
    // that way). Best-effort: an unwritable working dir must not turn
    // a successful run into a non-zero exit.
    val outPaths = sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) => Seq(java.nio.file.Paths.get(p)) // dev runs: exactly where asked
      case None =>
        Seq("BENCH_LAST.json", s"BENCH_LAST_c$cpus.json").map(java.nio.file.Paths.get(_))
    }
    outPaths.foreach { outPath =>
      try {
        java.nio.file.Files.writeString(outPath, full + "\n")
        System.err.println(s"[bench] artifact written to ${outPath.toAbsolutePath}")
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] artifact write to $outPath failed: $e (totals are on stdout)")
      }
    }
    println(line)
    spark.stop()
  }
}
