package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Cluster}

/** IVF at PRODUCTION codebook size (r13 verdict Next-round #3): the
  * graded `ann_ivf_trained`/`ann_ivfpq` defaults run nlist = 8–16 —
  * right for the sf0.01 oracle corpus, three orders of magnitude
  * under a 100 TB index (nlist ~ √n). This instrument runs the SAME
  * operators at nlist up to 256 on a replicated corpus and records:
  *
  *  - wall seconds per (index, nlist, nprobe) — nprobe held at
  *    nlist/16 (min 4) so the probed corpus FRACTION shrinks as the
  *    codebook grows, which is the entire point of a bigger nlist;
  *  - recall@k vs the brute ground truth (the D7e2 gate's measure,
  *    aggregated to one fraction) — proving recall HOLDS while the
  *    scan fraction drops;
  *  - the flat-argmax ASSIGNMENT cost alone at growing nlist: the
  *    [[graft.functions.VectorFunctions.NearestCentroids]] kernel is
  *    O(nlist·dim) per row, so assignment seconds grow linearly in
  *    nlist — the measured line locates the nlist ceiling past which
  *    a coarse two-level quantizer (assign to √nlist super-cells,
  *    then argmax within) must replace the flat scan. The measured
  *    ceiling and the conclusion live in the Ann.ivfTopKTrained
  *    scaladoc note.
  *
  * `runMain graft.IvfScale <embeddingsDir> [nlistsCsv]` → one JSON
  * line + `$SPARK_GRAFT_IVFSCALE_OUT` (default `IVFSCALE_LAST.json`).
  */
object IvfScale {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IvfScale <dir-with-embeddings.parquet> [nlistsCsv]")
    val dir = args(0)
    val nlists = (if (args.length >= 2) args(1) else "16,64,256")
      .split(',').map(_.trim.toInt).toSeq
    val spark = Sessions.fromEnv("graft-ivfscale")
    import spark.implicits._

    val emb = Tables.embeddings(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    System.err.println(s"[ivfscale] corpus: $n vectors from $dir")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // recall fraction over the 10 graded queries (the D7e2 measure)
    val (truth, bruteSec) = timed {
      val t = Ann.bruteTopK(emb).persist(); t.count(); t
    }
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val r = Ann.recall(approx, truth)
        .agg(sum(col("n_hit")).cast("double") / sum(col("n_exact"))).head().getDouble(0)
      r
    }

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    for (nlist <- nlists) {
      val nprobe = math.max(4, nlist / 16)
      // train once per nlist (timed separately — at production nlist
      // the trainer dominates the index build), search under it
      val ((cids, cents), trainSec) = timed {
        Cluster.kmeansCentroids(emb, nlist, iters = 2, trainPct = Cluster.TrainPct)
      }
      val (ivf, ivfSec) = timed {
        val d = Ann.ivfTopKWith(emb, cids, cents, nprobe = nprobe,
          nQueries = 10, k = 5)
        d.write.format("noop").mode("overwrite").save(); d
      }
      val ivfRec = recallOf(ivf)
      val (pq, pqSec) = timed {
        val d = Ann.ivfPqTopK(emb, nlist = nlist, nprobe = nprobe,
          trainPct = Cluster.TrainPct)
        d.write.format("noop").mode("overwrite").save(); d
      }
      val pqRec = recallOf(pq)
      // assignment-only probes, both against the TRAINED codebook (the
      // production artifact — two-level fidelity depends on codebook
      // structure, and sampled-random cells would understate it):
      // the flat O(nlist·dim)/row argmax…
      val (_, asgSec) = timed {
        emb.select(element_at(graft.functions.VectorFunctions.nearestCentroids(
            col("embedding"), cents, cids, 1), 1).as("list_id"))
          .write.format("noop").mode("overwrite").save()
      }
      // …and the TWO-LEVEL quantizer (√nlist supers, probe 2): the
      // escape the flat scan's ceiling note prescribes — its crossover
      // against asgSec is the measured basis for WHEN to switch
      val (l1, membersArr) = Cluster.superIndex(cents)
      def tlColAt(w: Int) =
        element_at(graft.functions.VectorFunctions.nearestCentroidsTwoLevel(
          col("embedding"), l1, membersArr, cents, cids, w, 1), 1)
      def tlCol = tlColAt(2)
      val (_, tlSec) = timed {
        emb.select(tlCol.as("list_id"))
          .write.format("noop").mode("overwrite").save()
      }
      def agreeAt(c: org.apache.spark.sql.Column): Double = emb.select(
          (element_at(graft.functions.VectorFunctions.nearestCentroids(
            col("embedding"), cents, cids, 1), 1) === c)
            .cast("double").as("eq"))
        .agg(avg(col("eq"))).head().getDouble(0)
      val agree = agreeAt(tlCol)
      // …and at the SHIPPING operating point: the graded path past
      // Ann.TwoLevelNlist assigns with w = TwoLevelProbeSupers, so
      // the two-level row for that regime IS the graded kernel — the
      // ivf_recall above is its end-to-end gate, this is its
      // agreement line
      val gradedTwoLevel = nlist >= Ann.TwoLevelNlist
      val agreeShip = agreeAt(tlColAt(Ann.TwoLevelProbeSupers))
      System.err.println(f"[ivfscale] nlist=$nlist nprobe=$nprobe: " +
        f"train=$trainSec%.1f s ivf=$ivfSec%.1f s rec=$ivfRec%.3f | " +
        f"ivfpq=$pqSec%.1f s rec=$pqRec%.3f | " +
        f"assign=$asgSec%.1f s 2l=$tlSec%.1f s agree=$agree%.4f " +
        f"agree_w${Ann.TwoLevelProbeSupers}=$agreeShip%.4f graded2l=$gradedTwoLevel")
      rows += f"""{"nlist":$nlist,"nprobe":$nprobe,"train_sec":$trainSec%.2f,""" +
        f""""ivf_sec":$ivfSec%.2f,""" +
        f""""ivf_recall":$ivfRec%.4f,"ivfpq_sec":$pqSec%.2f,"ivfpq_recall":$pqRec%.4f,""" +
        f""""assign_sec":$asgSec%.2f,"assign2l_sec":$tlSec%.2f,"assign2l_agree":$agree%.4f,""" +
        f""""graded_assign_two_level":$gradedTwoLevel,""" +
        f""""assign2l_agree_ship":$agreeShip%.4f}"""
    }

    val line = f"""{"metric":"ivfscale","dir":"$dir","n_vectors":$n,""" +
      f""""brute_sec":$bruteSec%.2f,"sweep":[${rows.mkString(",")}]}"""
    println(line)
    val outPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_IVFSCALE_OUT", "IVFSCALE_LAST.json"))
    Files.writeString(outPath, line + "\n")
    spark.stop()
  }
}
