package graft

import java.nio.file.{Files, Paths}

/** Dev-only: writes the complete `.explain("formatted")` of named
  * SparkEntry queries over `SPARK_GRAFT_SF_DIR` to
  * `plans/<tag>/<name>_<suffix>.txt` — the before/after plan artifacts
  * the optimization rounds commit, and the per-query audit of scan
  * pruning (`ReadSchema`), pushdown (`PushedFilters`), join strategies
  * and exchange counts. Not part of the library API.
  *
  * Usage: runMain graft.PlanDump <tag> <suffix> [query ...]
  * (no query args = all queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.fromEnv("graft-plandump")
    // committed plan artifacts must be complete — lift the session
    // profiles' 64 KB plan-string budget for this tool
    spark.conf.set("spark.sql.maxPlanStringLength", (Int.MaxValue - 15).toString)
    Files.createDirectories(Paths.get(s"plans/$tag"))
    names.foreach { n =>
      QueryRun.once(spark, n, SparkEntry.queries(n), dir, { df =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"plans/$tag/${n}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $n ok (${txt.length} chars)")
      })
    }
    spark.stop()
  }
}
