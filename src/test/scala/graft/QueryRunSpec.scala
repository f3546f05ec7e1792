package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness run loop: [[QueryRun.once]] leaves nothing persisted
  * behind, on success or failure, and [[Bench.render]] keeps the stdout
  * line inside a 2 000-char tail capture while the file artifact keeps
  * every key. */
class QueryRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Persisted RDDs that were not there before, and whether the
    * CacheManager holds anything. */
  private def leftovers(before: Set[Int]): (Set[Int], Boolean) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before, !cm.isEmpty)
  }

  test("Bench stdout line carries totals only; the file artifact adds every key") {
    val keys = (1 to 138).map(i => f"query_number_$i%03d_with_a_long_name")
    val results = keys.zipWithIndex.map { case (k, i) =>
      if (i % 10 == 0) Bench.Outcome(k, Seq(1.5), Some("boom: \"quoted\"\nnext line"), (0.1, 0.2))
      else Bench.Outcome(k, Seq(1.0 + i, 2.0 + i, 1.5 + i), None, (0.1, 0.2))
    } :+ Bench.Outcome("near_dup_jaccard", Nil, Some("x" * 500), (0.1, 0.2))
    val (line, full) = Bench.render(results, 32, "/data/sf0.1", ("0.5", "1.0"))
    assert(line.length <= 1500, line)
    val json = new ObjectMapper()
    val l = json.readTree(line)
    assert(l.get("metric").asText == "total")
    assert(l.get("failed").asInt == 15)
    assert(l.get("cpus").asInt == 32)
    assert(l.get("queries") == null && l.get("samples") == null &&
      l.get("status") == null && l.get("canary") == null)
    assert(full.startsWith(line.dropRight(1) + ","))
    val f = json.readTree(full)
    Seq("queries", "samples", "status", "canary").foreach { m =>
      keys.foreach(k => assert(f.get(m).has(k), s"$m lacks $k"))
    }
    assert(f.get("status").get("near_dup_jaccard").asText.startsWith("failed: "))
    assert(!f.get("samples").has("near_dup_jaccard"))
    assert(f.get("samples").get(keys(1)).size == 3)
  }

  test("once releases every persisted RDD and cached plan, checkpointed results included") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Seq("dedup_cc", "dedup_incremental_lsh", "q1_pricing_summary").foreach { k =>
      val r = QueryRun.once(spark, k, SparkEntry.queries(k), sf)
      assert(r.isRight, s"$k: $r")
      assert(r.toOption.get.jobs > 0, k)
      assert(leftovers(before) == ((Set.empty[Int], false)), k)
    }
  }

  test("a failing query returns Left, frees what it persisted, and the next run still runs") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val boom = QueryRun.once(spark, "boom", (_, _) => throw new IllegalStateException("boom"), sf)
    assert(boom == Left("boom"))
    val sinkFails = QueryRun.once(spark, "sink_fails",
      (s, _) => s.range(1000).toDF("id").persist(), sf, df => { df.count(); sys.error("sink") })
    assert(sinkFails == Left("sink"))
    assert(leftovers(before) == ((Set.empty[Int], false)))
    assert(QueryRun.once(spark, "cdc_apply", SparkEntry.queries("cdc_apply"), sf).isRight)
  }
}
