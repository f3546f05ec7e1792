package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.Changelog

/** Skew probe for the CDC fold key (r13 verdict Next-round #7):
  * `cdc_entity_state` / `cdc_apply` shuffle by (tbl, id), and a hot
  * entity — the celebrity row every real changelog has — is the
  * classic skew that melts a naive per-key window (one task owns the
  * whole hot key). This instrument measures the fold on a UNIFORM
  * changelog vs a deliberately skewed one (a single key owning
  * `hotShare` of all rows, Zipf-ish tail over the rest) at the same
  * row volume, and records whether the plan carries the map-side
  * partial [[org.apache.spark.sql.execution.window.WindowGroupLimitExec]].
  *
  * Why the fold survives skew WITHOUT salting: `lastOpPerKey` is
  * `row_number over (partition by tbl,id order by pos desc) = 1`, and
  * Spark's WindowGroupLimit rewrite runs a PARTIAL top-1-per-key pass
  * in each map task BEFORE the exchange — the hot key leaves each map
  * task as ONE row, so at most `numPartitions` hot rows ever cross
  * the wire regardless of the key's share. (AQE skew-join splitting
  * does not apply to window exchanges; the group-limit pushdown is
  * what does this job.) The probe's pass line is zipf/uniform ≤ 2×;
  * if a future refactor replaces the rn=1 filter with something the
  * rewrite cannot see, this artifact catches the regression.
  *
  * Second probe (r15 verdict stretch #8, landed r16): the NEAR-DUP
  * FLOOD over [[graft.operators.Dedup.minhashLshPairs]]. The
  * exact-dup collapse bounds byte-identical floods, but a template
  * cluster of near-identical-yet-DISTINCT docs (one mutated token
  * each — every spam/SEO farm) survives collapse with one group per
  * doc and collides in the same band buckets, so the candidate stage
  * goes quadratic in the flood size — which is ALSO the size of the
  * true answer (every flood pair IS a verified dup), so quadratic
  * output is correct, not a defect. What must hold is the plan shape
  * under that skew: candidates stay id-only (no text/shingle arrays
  * on the quadratic stream), the verify attach takes the measured
  * stats-gated strategy, and throughput per EMITTED pair stays flat —
  * the probe records seconds, emitted-pair count, and pairs/s so the
  * bound is a measured number, diffable round-over-round.
  *
  * Third probe (r16 verdict task 5, landed r17): the SEMANTIC flood
  * over [[graft.operators.Dedup.semanticPairsScaled]]. The semantic
  * family's documented failure mode is an unsplittable embedding
  * MODE — near-identical-but-DISTINCT vectors (re-encodes of one
  * boilerplate page) that the exact-dup collapse cannot absorb and
  * Lloyd cannot split, forcing the within-cluster verify to its
  * Σ(mode size²) floor. This probe PLANTS that mode (`semFlood`
  * base+ε-nudge vectors inside a `semDocs` uniform corpus) and
  * measures what was previously a scaladoc argument: the flood lands
  * in ONE trained cluster (size recorded), every flood pair is found
  * (semantic recall on the mode is 1.0 — no banding S-curve), and
  * the quadratic verify cost is linear per emitted pair (pairs/s
  * recorded, diffable round-over-round).
  *
  * Fourth probe (r17 verdict #3, landed r18): the semantic flood
  * SWEEP + the Σ(mode size²) ESCAPE. Mode-size cells measure the
  * knee where the (output-bound) tight-flood wall crosses 2× the
  * uniform control; the `lowk_floor` block scales down the REAL
  * 100 TB pathology — `semanticK`'s kMax clamp leaving diverse
  * quadratic cells — and prices the banded escape hatch
  * ([[graft.operators.Dedup.semanticPairsCapped]]) before/after.
  *
  * `runMain graft.SkewProbe [rows] [keys] [hotShare] [floodDocs] [floodSize]
  *   [semDocs] [semFlood] [semSweep=4000,16000] [lowK=1] [semCap=8192]`
  * → one JSON line + `$SPARK_GRAFT_SKEW_OUT` (default `SKEW_LAST.json`). */
object SkewProbe {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length >= 1) args(0).toLong else 8000000L
    val keys = if (args.length >= 2) args(1).toLong else 100000L
    val hotShare = if (args.length >= 3) args(2).toDouble else 0.4
    val floodDocs = if (args.length >= 4) args(3).toLong else 200000L
    val floodSize = if (args.length >= 5) args(4).toLong else 4000L
    // the flood corpus is the first `floodSize` rows of a
    // `floodDocs`-row range: a flood larger than the corpus would
    // silently cap at floodDocs rows while true_pairs still computed
    // C(floodSize, 2), corrupting band_recall and the verdict
    require(floodSize >= 2 && floodSize <= floodDocs,
      s"floodSize must be in [2, floodDocs=$floodDocs], got $floodSize")
    val semDocs = if (args.length >= 6) args(5).toLong else 100000L
    val semFlood = if (args.length >= 7) args(6).toLong else 4000L
    require(semFlood >= 2 && semFlood <= semDocs,
      s"semFlood must be in [2, semDocs=$semDocs], got $semFlood")
    // mode-size sweep for the knee (r17 verdict #3); 64k is projected
    // from the measured flat rate rather than run (2.05e9 output rows)
    val semSweep = (if (args.length >= 8) args(7) else "4000,16000")
      .split(',').map(_.trim.toLong).toSeq
    semSweep.foreach(m => require(m >= 2 && m <= semDocs,
      s"sweep mode sizes must be in [2, semDocs=$semDocs], got $m"))
    val lowK = if (args.length >= 9) args(8).toInt else 1
    val semCap = if (args.length >= 10) args(9).toLong else 8192L
    require(lowK >= 1 && semCap >= 2, s"lowK=$lowK semCap=$semCap invalid")
    val spark = Sessions.fromEnv("graft-skewprobe")
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM warmup

    // a synthetic changelog in the Changelog.fromEvents column shape:
    // pos strictly increasing, 1-in-11 deletes, value a cheap function
    // of pos. `idOf` is the only difference between the two corpora.
    def log(idOf: org.apache.spark.sql.Column): DataFrame =
      spark.range(rows).select(
        col("id").as("pos"),
        when(col("id") % 11 === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
        lit("t").as("tbl"),
        idOf.as("id"),
        (col("id") % 997).cast("double").as("val"))

    val uniformId = pmod(xxhash64(col("id")), lit(keys))
    // skewed: `hotShare` of rows land on key 0; the rest follow a
    // Zipf-ish tail (hash squashed quadratically toward small ids)
    val u = pmod(xxhash64(col("id"), lit(7L)), lit(1000000L)).cast("double") / 1000000.0
    val zipfId = when(pmod(xxhash64(col("id"), lit(13L)), lit(1000L)) <
        lit((hotShare * 1000).toLong), lit(0L))
      .otherwise((u * u * keys).cast("long") + 1)

    def timeFold(idOf: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      Changelog.entityState(log(idOf)).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // plan audit: the partial group-limit must sit below the exchange
    val plan = Changelog.entityState(log(zipfId)).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val hasGroupLimit = plan.contains("WindowGroupLimit")

    // interleave two samples each, keep the min (steadier than mean
    // under a shared-host JIT/IO noise floor)
    val uniSec = Seq(timeFold(uniformId), timeFold(uniformId)).min
    val zipfSec = Seq(timeFold(zipfId), timeFold(zipfId)).min
    val ratio = zipfSec / uniSec
    System.err.println(f"[skewprobe] uniform=$uniSec%.2f s zipf=$zipfSec%.2f s " +
      f"ratio=$ratio%.2f groupLimit=$hasGroupLimit")

    // ---- near-dup flood probe (minhashLshPairs) ----
    // corpus: `floodDocs` 30-token docs. Uniform: every token hashed
    // from (doc_id, pos) — distinct shingle sets, no band collisions.
    // Flooded: the first `floodSize` docs share a 30-token template
    // with ONE position mutated per doc (position doc_id%30, token
    // unique to the doc) — pairwise Jaccard ≥ ~0.65 over 3-shingles,
    // so every flood pair is a TRUE near-dup: distinct groups (the
    // collapse can't absorb them), same band buckets (the candidate
    // join takes the full quadratic hit), quadratic verified output.
    def corpus(flooded: Boolean): DataFrame = {
      val uniformTok = "transform(sequence(0, 29), p -> " +
        "concat('u', cast(xxhash64(concat(cast(id AS string), '_', " +
        "cast(p AS string))) AS string)))"
      val floodTok = "transform(sequence(0, 29), p -> " +
        "IF(p = pmod(id, 30), concat('m', cast(id AS string)), " +
        "concat('s', cast(p AS string))))"
      val tokens =
        if (flooded) s"IF(id < ${floodSize}L, $floodTok, $uniformTok)"
        else uniformTok
      spark.range(floodDocs).selectExpr("id AS doc_id",
        s"array_join($tokens, ' ') AS text")
    }
    def timePairs(flooded: Boolean): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.minhashLshPairs(corpus(flooded)).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (floodBaseSec, floodBasePairs) = timePairs(flooded = false)
    val (floodSec, floodPairs) = timePairs(flooded = true)
    // every flood pair IS a true near-dup (J ≥ ~0.65 by construction),
    // so true pairs = C(floodSize, 2); FOUND pairs are true × the
    // banding S-curve's collision recall at that Jaccard (the default
    // 16×8 geometry gives ~0.39 at J=0.647 / ~0.96 at J=0.806 —
    // candidate recall, not a verify miss). The probe's skew verdict
    // is the COST line: completes, and pairs/s stays linear; recall
    // at the pinned geometry is recorded so a banding change diffs.
    val truePairs = floodSize * (floodSize - 1) / 2
    val floodRecall = floodPairs.toDouble / truePairs
    val pairsPerSec = if (floodSec > 0) floodPairs / floodSec else 0.0
    System.err.println(f"[skewprobe] flood: uniform=$floodBaseSec%.2f s " +
      f"($floodBasePairs pairs) flood=$floodSec%.2f s ($floodPairs of " +
      f"$truePairs true pairs, recall=$floodRecall%.3f) " +
      f"${pairsPerSec / 1e6}%.2f M pairs/s")

    // ---- semantic flood probe (semanticPairsScaled) ----
    // corpus: `semDocs` dim-64 vectors, components hash-uniform in
    // [-1, 1] — pairwise |cos| concentrates at ~1/√64, far below the
    // 0.9 threshold, so the uniform control mines ~0 pairs. Flooded:
    // the first `semFlood` ids become ONE mode — a fixed base vector
    // plus a 0.02-scaled per-doc nudge (pairwise cos ≈ 0.9996, all
    // DISTINCT): the exact-dup collapse keeps one group per doc, the
    // trained codebook assigns the whole mode to one cell, and the
    // within-cluster verify takes the full C(semFlood, 2) hit — which
    // is also the true answer, so quadratic output is correct; the
    // probe pins cost-per-pair and mode recall.
    val dim = 64
    def h(expr: String) = s"cast(xxhash64($expr) AS double) / 9.223372036854776e18"
    // flood = 0 → the uniform control; flood ≥ 2 → the first `flood`
    // ids become ONE tight mode (0.02-scaled nudges, pairwise
    // cos ≈ 0.9996 — all TRUE pairs at the 0.9 threshold)
    def semCorpusOf(flood: Long): DataFrame = {
      val uniformVec = s"transform(sequence(0, ${dim - 1}), j -> " +
        s"cast(${h("concat('u', cast(id AS string), '_', cast(j AS string))")} AS float))"
      val floodVec = s"transform(sequence(0, ${dim - 1}), j -> " +
        s"cast(${h("concat('b', cast(j AS string))")} + " +
        s"0.02 * ${h("concat('p', cast(id AS string), '_', cast(j AS string))")} AS float))"
      val vec = if (flood >= 2) s"IF(id < ${flood}L, $floodVec, $uniformVec)" else uniformVec
      spark.range(semDocs).selectExpr("id AS vec_id", s"$vec AS embedding")
    }
    def timeSem(flood: Long, cap: Long = Long.MaxValue): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val out = graft.operators.Dedup.semanticPairsScaled(
        semCorpusOf(flood), threshold = 0.9, iters = 2,
        trainPct = graft.operators.Cluster.TrainPct, clusterCap = cap)
      val total = out.count()
      val modePairs = if (flood >= 2)
        out.filter(col("a_id") < flood && col("b_id") < flood).count() else 0L
      QueryRun.release(spark, out)
      ((System.nanoTime() - t0) / 1e9, total, modePairs)
    }
    // cluster-size histogram of the SAME construction the operator
    // runs (all vectors distinct ⇒ reps == corpus): the mode must
    // land in one cell, and the verify floor is Σ(size²). One cached
    // assignment per corpus — max/Σ(n²) in ONE agg, flood cells from
    // the same cached frame (advisor r17: three rescans before)
    val semK = graft.operators.Cluster.semanticK(semDocs)
    def modeStats(flood: Long): (Long, Long, Long) = {
      val assignedRows = graft.operators.Cluster.kmeansAssign(
        semCorpusOf(flood), semK, 2, graft.operators.Cluster.TrainPct).persist()
      try {
        val hist = assignedRows.groupBy(col("cid")).agg(count(lit(1)).as("n"))
        val agg = hist.agg(max(col("n")), sum(col("n") * col("n"))).head()
        val cells = assignedRows.filter(col("vec_id") < flood)
          .select(col("cid")).distinct().count()
        (cells, agg.getLong(0), agg.getLong(1))
      } finally assignedRows.unpersist(blocking = false)
    }
    val (semBaseSec, semBasePairs, _) = timeSem(0)
    val (semSec, semPairs, semModePairs) = timeSem(semFlood)
    val semTrue = semFlood * (semFlood - 1) / 2
    val semRecall = semModePairs.toDouble / semTrue
    val semRate = if (semSec > 0) semPairs / semSec else 0.0
    val (floodCells, maxCluster, verifyFloor) = modeStats(semFlood)
    System.err.println(f"[skewprobe] semantic: uniform=$semBaseSec%.2f s " +
      f"($semBasePairs pairs) flood=$semSec%.2f s ($semModePairs of $semTrue " +
      f"mode pairs, recall=$semRecall%.4f) ${semRate / 1e6}%.2f M pairs/s " +
      f"k=$semK floodCells=$floodCells maxCluster=$maxCluster sumSq=$verifyFloor")

    // ---- semantic flood SWEEP + escape hatch (r17 verdict #3) ----
    // (1) MODE-SIZE axis at the tight geometry: every mode pair is
    // TRUE, so the quadratic is the OUTPUT — the sweep measures where
    // the flood wall crosses 2× the uniform control (the knee) and
    // that cost-per-emitted-pair stays flat. The capped re-run pins
    // the DENSITY GATE routing output-dominated cells back to the
    // exact all-pairs verify (capped_sec ≈ uncapped_sec): the
    // gate-less first cut measured 65 → 425 s here — a dense cell's
    // banding re-materializes its emitted pairs once per band.
    val sweepCells = semSweep.map { m =>
      val (uSec, uPairs, uMode) = timeSem(m)
      val (cSec, _, cMode) = timeSem(m, semCap)
      val (cells, maxC, _) = modeStats(m)
      val mTrue = m * (m - 1) / 2
      System.err.println(f"[skewprobe] sweep mode=$m: uncapped=$uSec%.2f s " +
        f"($uMode/$mTrue mode pairs) capped=$cSec%.2f s ($cMode) " +
        f"cells=$cells maxCluster=$maxC")
      (m, uSec, uPairs, uMode, cSec, cMode, cells, maxC)
    }
    val knee = sweepCells.find(_._2 > 2 * semBaseSec).map(_._1).getOrElse(-1L)
    // the largest UNMEASURED verdict size, projected from the flat
    // rate of the largest measured cell (quadratic output × flat
    // pairs/s — the sweep's own finding makes the projection honest)
    val projMode = 64000L
    val lastRate = sweepCells.lastOption
      .map(c => c._3 / c._2).getOrElse(semRate)
    val projSec = (projMode * (projMode - 1) / 2) / math.max(1.0, lastRate)

    // (2) the 100 TB floor the escape RESCUES: [[Cluster.semanticK]]
    // clamps at kMax=256, so at ~1B docs the expected cell size grows
    // linearly with the corpus and the within-cell verify goes
    // quadratic over DIVERSE (sub-threshold) vectors — Σ size² cost,
    // ~zero emitted pairs. Scaled-down mirror: lowK=1 makes the whole
    // uniform corpus ONE unsplittable diverse cell (~semDocs²/2
    // cosines exhaustive vs ~C(n,2)·b/2^(r+1) banded candidates, a
    // ~585× scoring reduction at the derived (28,13) geometry). The
    // measured crossover sits near 100k-vector cells: at k=2 (50k
    // cells) the per-cell banding machinery — signatures, band join,
    // checkpoint — cancels the pruning gain; past the crossover the
    // rescue grows linearly in cell size. The density gate reads
    // these cells DIFFUSE, so banding prunes the sub-threshold
    // candidates the exhaustive verify grinds through; the emitted
    // pair set is unchanged (spec-pinned in DedupAnnSpec). min-of-2
    // samples: this host's noise bursts reach 2× on join-heavy
    // stages, and the speedup line is the block's verdict.
    def minOf2(f: => Long): (Double, Long) = {
      val s = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (s.map(_._1).min, s.head._2)
    }
    val lowkUncapped = minOf2 {
      graft.operators.Dedup.semanticPairs(
        semCorpusOf(0), lowK, 2, 0.9, graft.operators.Cluster.TrainPct).count()
    }
    val lowkCapped = minOf2 {
      val out = graft.operators.Dedup.semanticPairsCapped(
        semCorpusOf(0), lowK, 2, 0.9, graft.operators.Cluster.TrainPct, semCap)
      val n = out.count()
      QueryRun.release(spark, out)
      n
    }
    val lowkSpeedup = lowkUncapped._1 / math.max(1e-9, lowkCapped._1)
    System.err.println(f"[skewprobe] lowk floor k=$lowK: uncapped=" +
      f"${lowkUncapped._1}%.2f s (${lowkUncapped._2} pairs) capped=" +
      f"${lowkCapped._1}%.2f s (${lowkCapped._2} pairs) speedup=$lowkSpeedup%.1fx")

    val line = f"""{"metric":"skewprobe","rows":$rows,"keys":$keys,""" +
      f""""hot_share":$hotShare,"uniform_sec":$uniSec%.3f,"zipf_sec":$zipfSec%.3f,""" +
      f""""ratio":$ratio%.3f,"window_group_limit":$hasGroupLimit,""" +
      f""""flood":{"docs":$floodDocs,"flood_size":$floodSize,""" +
      f""""uniform_sec":$floodBaseSec%.3f,"uniform_pairs":$floodBasePairs,""" +
      f""""flood_sec":$floodSec%.3f,"flood_pairs":$floodPairs,""" +
      f""""true_pairs":$truePairs,"band_recall":$floodRecall%.4f,""" +
      f""""pairs_per_sec":$pairsPerSec%.0f},""" +
      f""""semantic_flood":{"docs":$semDocs,"flood_size":$semFlood,"k":$semK,""" +
      f""""uniform_sec":$semBaseSec%.3f,"uniform_pairs":$semBasePairs,""" +
      f""""flood_sec":$semSec%.3f,"flood_pairs":$semPairs,""" +
      f""""mode_pairs":$semModePairs,"true_pairs":$semTrue,""" +
      f""""mode_recall":$semRecall%.4f,"pairs_per_sec":$semRate%.0f,""" +
      f""""flood_cells":$floodCells,"max_cluster":$maxCluster,""" +
      f""""sum_sq_floor":$verifyFloor},""" +
      f""""semantic_flood_sweep":{"docs":$semDocs,"cap":$semCap,""" +
      f""""control_sec":$semBaseSec%.3f,"cells":[""" +
      sweepCells.map { case (m, uSec, uPairs, uMode, cSec, cMode, cells, maxC) =>
        f"""{"mode":$m,"uncapped_sec":$uSec%.3f,"pairs":$uPairs,""" +
        f""""mode_pairs":$uMode,"true_pairs":${m * (m - 1) / 2},""" +
        f""""capped_sec":$cSec%.3f,"capped_mode_pairs":$cMode,""" +
        f""""flood_cells":$cells,"max_cluster":$maxC}"""
      }.mkString(",") +
      f"""],"knee_mode_size":$knee,"projected":{"mode":$projMode,""" +
      f""""true_pairs":${projMode * (projMode - 1) / 2},""" +
      f""""sec_at_measured_rate":$projSec%.1f}},""" +
      f""""lowk_floor":{"k":$lowK,"docs":$semDocs,"cap":$semCap,""" +
      f""""uncapped_sec":${lowkUncapped._1}%.3f,"uncapped_pairs":${lowkUncapped._2},""" +
      f""""capped_sec":${lowkCapped._1}%.3f,"capped_pairs":${lowkCapped._2},""" +
      f""""speedup":$lowkSpeedup%.2f}}"""
    println(line)
    val outPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "SKEW_LAST.json"))
    Files.writeString(outPath, line + "\n")
    spark.stop()
  }
}
