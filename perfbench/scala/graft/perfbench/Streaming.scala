package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Changelog
import graft.sources.ChangelogFiles
import graft.streaming.{AggView, ChangelogStream, Supervisor, UpsertSink, ViewLayout}
import graft.streaming.ChangelogStream.{Change, TxEvent}

/** The streaming workload. It runs the product chain
  * `ChangelogFiles.stream → ChangelogStream.filterCommitted` into two
  * supervised queries over one landing directory: the keyed table
  * (`UpsertSink.mergeBatch`) and the aggregate view
  * (`AggView.aggDeltas` → `AggView.mergeBatch`).
  *
  * A chunk is visible once both outputs have published a version that
  * contains it. Which micro-batch admitted a chunk is read afterwards
  * from each query's checkpoint (offset log + file-source log), so
  * measuring visibility adds no Spark job to the pipeline's path.
  */
object Streaming {

  /** Input sizes. Snapshot: `entities` per table. Restore backlog:
    * `backlogChunksPerSecond` chunks of `backlogRows` changes per
    * measured second, uniform keys. Live tail: one chunk of `liveRows`
    * changes every `intervalMs`, `hotShare` of them on the first
    * `hotKeys` ids of a table. */
  final case class Sizes(entities: Int, backlogChunksPerSecond: Int, backlogRows: Int,
                         maxFilesPerTrigger: Int, faultBatch: Long, hotKeys: Int,
                         hotShare: Double, liveRows: Int, intervalMs: Int, warmChunks: Int)

  val NumBuckets = 16
  val Retain = 6
  val Groups = 8
  /** Pause between the reader's requests: one user polling a view,
    * not a second writer-sized load on the shared cores. */
  val ReaderThinkMs = 250L

  /** The aggregate view's group of a key. */
  val grpOf: (String, Long) => String = (tbl, id) => s"$tbl/${id % Groups}"

  /** What one streaming run measured. Times are `System.nanoTime`. */
  final class Run {
    val chunkDue = new ConcurrentHashMap[String, java.lang.Long]()
    val committed = new ConcurrentHashMap[String, Integer]()
    val keyedPub = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val aggPub = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val mergeMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val viewMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val bucketsRewritten = new ConcurrentLinkedQueue[Integer]()
    val bytesWritten = new AtomicLong()
    val lateMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val reads = new ConcurrentLinkedQueue[(String, Double, Boolean)]()
    val rangeShare = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var faultAt = 0L
    @volatile var restartPub = 0L
    @volatile var snapshotMs = 0.0
    @volatile var genEnd = 0L
  }

  /** Both supervised queries over `land`. The aggregate view also
    * reads `snapLog`, the snapshot in changelog form, so its entity
    * state starts from the snapshot the keyed table was loaded with. */
  final class Pipeline(spark: SparkSession, work: Path, trace: Trace, run: Run,
                       land: Path, maxFiles: Int, snapLog: Path, faultBatch: Long) {
    import spark.implicits._
    val tableDir: String = work.resolve("table").toString
    val aggDir: String = work.resolve("agg").toString
    val keyedCk: Path = work.resolve("ck-keyed")
    val aggCk: Path = work.resolve("ck-agg")
    private val faulted = new AtomicBoolean(false)
    private val sc = spark.sparkContext

    private def events(dir: Path, n: Int): Dataset[TxEvent] =
      ChangelogFiles.stream(spark, dir.toString, n)
        .select(col("tx"), col("pos").as("seq"), col("etype").as("kind"),
          struct(col("pos"), col("op"), col("tbl"), col("id"),
            coalesce(col("val"), lit(0.0)).as("value")).as("change"))
        .as[TxEvent]

    private def committed(): Dataset[Change] =
      ChangelogStream.filterCommitted(events(land, maxFiles), txTimeoutMs = 0)

    private def timed(into: ConcurrentLinkedQueue[java.lang.Double])(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      into.add((System.nanoTime() - t0) / 1e6)
    }

    private def keyedBatch(b: Dataset[Change], id: Long): Unit =
      trace.span("stream.keyed") {
        if (id == faultBatch && !faulted.getAndSet(true)) {
          run.faultAt = System.nanoTime()
          throw new IllegalStateException(s"injected sink fault at batch $id")
        }
        Trace.withOp(sc, s"sink.merge:$id") {
          timed(run.mergeMs) {
            trace.span("sink.mergeBatch") {
              UpsertSink.mergeBatch(b, tableDir, id, NumBuckets, Retain, Seq("lastPos"))
            }
          }
        }
        val now = System.nanoTime()
        if (run.faultAt > 0 && run.restartPub == 0) run.restartPub = now
        run.keyedPub.putIfAbsent(id, now)
        if (trace.enabled) {
          ViewLayout.currentVersion(tableDir).foreach { ver =>
            val dirs = ViewLayout.readBucketManifest(tableDir, ver).values.filter(_.startsWith(ver + "/"))
            run.bucketsRewritten.add(dirs.size)
            run.bytesWritten.addAndGet(Layout.bytesUnder(Path.of(tableDir, ver)))
          }
        }
      }

    private def aggBatch(b: Dataset[AggView.GroupDelta], id: Long): Unit =
      trace.span("stream.view") {
        Trace.withOp(sc, s"view.merge:$id") {
          timed(run.viewMs) {
            trace.span("view.mergeBatch") { AggView.mergeBatch(b, aggDir, id, NumBuckets, Retain) }
          }
        }
        run.aggPub.putIfAbsent(id, System.nanoTime())
      }

    private def startKeyed() =
      committed().writeStream.queryName("keyed")
        .option("checkpointLocation", keyedCk.toString)
        .foreachBatch((b: Dataset[Change], id: Long) => keyedBatch(b, id))
        .start()

    private def startAgg() = {
      val changes = committed().union(ChangelogFiles.stream(spark, snapLog.toString, 1000)
        .select(col("pos"), col("op"), col("tbl"), col("id"), col("val").as("value")).as[Change])
      AggView.aggDeltas(changes, grpOf).writeStream.queryName("agg")
        .option("checkpointLocation", aggCk.toString)
        .foreachBatch((b: Dataset[AggView.GroupDelta], id: Long) => aggBatch(b, id))
        .start()
    }

    val keyed: Supervisor.SupervisedQuery = Supervisor.supervise(() => startKeyed(),
      maxRestarts = 2, startWaitMs = 100L)
    val agg: Supervisor.SupervisedQuery = Supervisor.supervise(() => startAgg(),
      maxRestarts = 2, startWaitMs = 100L)

    /** Chunk name → visible time, for chunks both outputs have published. */
    def visible(): Map[String, Long] = {
      val k = Checkpoint.admitted(keyedCk)
      val a = Checkpoint.admitted(aggCk)
      k.flatMap { case (f, kb) =>
        for {
          ab <- a.get(f)
          kt <- Option(run.keyedPub.get(kb))
          at <- Option(run.aggPub.get(ab))
        } yield f -> math.max(kt.longValue, at.longValue)
      }
    }

    /** Wait until every chunk in `names` is visible (or the deadline passes). */
    def awaitVisible(names: Set[String], deadline: Long): Map[String, Long] = {
      var vis = visible()
      while (!names.subsetOf(vis.keySet) && System.nanoTime() < deadline && healthy) {
        Thread.sleep(50)
        vis = visible()
      }
      vis
    }

    def healthy: Boolean = !keyed.done && !agg.done

    def stop(): Unit = { keyed.stop(); agg.stop() }

    def restarts: Int = keyed.restarts + agg.restarts

    def lastProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      Seq(keyed, agg).flatMap(_.current).flatMap(q => Option(q.lastProgress))
  }

  /** Expected keyed table: `Changelog.entityState` over the snapshot
    * plus every committed data row of the landed log. */
  def expectedState(spark: SparkSession, land: Path, snapshot: DataFrame): DataFrame = {
    val log = spark.read.schema(ChangelogFiles.schema).parquet(land.toString)
    val rolledBack = log.filter(col("etype") === "rollback").select(col("tx"))
    val data = log.filter(col("etype") === "data").join(rolledBack, Seq("tx"), "left_anti")
      .select(col("pos"), col("op"), col("tbl"), col("id"), col("val"))
    Changelog.entityState(data.unionByName(snapshot))
  }

  /** Gate: the keyed table and the view equal the batch fold. Tables
    * compare by row count and an order-independent row hash, so a
    * duplicated or missing row fails as surely as a wrong value. */
  def gates(spark: SparkSession, p: Pipeline, land: Path, snapshot: DataFrame): Seq[String] = {
    val exp = expectedState(spark, land, snapshot)
      .select(col("tbl"), col("id"), col("val").as("value"), col("last_pos").as("lastPos")).cache()
    val got = UpsertSink.readCurrent(spark, p.tableDir)
      .select(col("tbl"), col("id"), col("value"), col("lastPos"))
    val grp = udf(grpOf)
    val expAgg = exp.groupBy(grp(col("tbl"), col("id")).as("grp"))
      .agg(sum(col("value")).as("sumVal"), count(lit(1)).as("cnt"))
    val gotAgg = AggView.readCurrent(spark, p.aggDir).select(col("grp"), col("sumVal"), col("cnt"))
    val (keyed, want) = (Batch.fingerprint(got), Batch.fingerprint(exp))
    val aggOk = Batch.fingerprint(gotAgg) == Batch.fingerprint(expAgg)
    exp.unpersist()
    Seq(
      Option.when(keyed != want)(s"keyed table $keyed differs from Changelog.entityState $want"),
      Option.when(!aggOk)("aggregate view differs from a group-by of the entity state"),
      Option.when(want._1 == 0)("expected entity state is empty")).flatten
  }

  private def landName(f: Path): String = f.getFileName.toString

  /** The `cdc_stream` workload: the lifecycle of one live view.
    *
    *  1. Restore (closed loop): publish the snapshot through
    *     `Changelog.snapshotLoad` → `UpsertSink.mergeBatch`, then drain
    *     a pre-landed backlog of uniform-key changes at a fixed
    *     `maxFilesPerTrigger`. The keyed sink throws once at
    *     `faultBatch`; the `Supervisor` restarts the query from its
    *     checkpoint. Throughput counts snapshot rows plus committed
    *     backlog changes from the start of the snapshot load.
    *  2. Live tail (open loop): chunks of hot-key-skewed changes are
    *     renamed into the landing directory every `intervalMs` whatever
    *     the pipeline's progress, while one closed-loop reader issues
    *     point, "changed since P" and aggregate reads, pausing
    *     `ReaderThinkMs` between them. A chunk's
    *     latency runs from its due time until both outputs contain it.
    *     The first `warmChunks` chunks are not measured.
    */
  def cdcStream(spark: SparkSession, work: Path, trace: Trace, seed: Long, seconds: Int,
                cfg: Sizes, onTimed: Long => Unit): Result = {
    import spark.implicits._
    val run = new Run
    val land = work.resolve("landing")
    val staging = work.resolve("staging")
    val snapTables = work.resolve("snapshot")
    val snapLog = work.resolve("snapshot-log")
    val (backlog, live) = trace.span("workload.generate") {
      val lastSnapPos = Gen.snapshot(seed, cfg.entities, snapTables, snapLog)
      val log = new Gen.Log(seed, Gen.Keys(cfg.entities, 0, 0.0), lastSnapPos)
      val backlog = Gen.chunks(log, land, 0, seconds * cfg.backlogChunksPerSecond, cfg.backlogRows, _ => 0L)
      log.keys = Gen.Keys(cfg.entities, cfg.hotKeys, cfg.hotShare)
      // the tail lasts twice the run's seconds: a live batch takes
      // seconds, and freshness needs several of them to settle
      val nLive = cfg.warmChunks + 2 * seconds * 1000 / cfg.intervalMs
      val live = Gen.chunks(log, staging, backlog.size, nLive, cfg.liveRows,
        i => (i - backlog.size).toLong * cfg.intervalMs * 1000L)
      (backlog, live)
    }
    backlog.foreach(c => run.committed.put(landName(c.file), c.committed))
    def snapshotFrame(): DataFrame =
      Gen.Tables.map { t =>
        Changelog.snapshotLoad(spark.read.parquet(snapTables.resolve(t).toString), t, "id")
      }.reduce(_ unionByName _).select(col("pos"), col("op"), col("tbl"), col("id"), col("val"))
    val sc = spark.sparkContext

    // ---- 1. restore: snapshot, then the backlog
    val t0 = System.nanoTime()
    onTimed(t0)
    val p = trace.span("phase.restore") {
      trace.span("snapshot") {
        val snap = trace.span("snapshot.load") {
          snapshotFrame().withColumnRenamed("val", "value").as[Change]
        }
        Trace.withOp(sc, "snapshot.publish") {
          trace.span("snapshot.publish") {
            UpsertSink.mergeBatch(snap, work.resolve("table").toString, -1L, NumBuckets, Retain,
              Seq("lastPos"))
          }
        }
      }
      run.snapshotMs = (System.nanoTime() - t0) / 1e6
      val p = new Pipeline(spark, work, trace, run, land, cfg.maxFilesPerTrigger, snapLog,
        cfg.faultBatch)
      p.awaitVisible(backlog.map(c => landName(c.file)).toSet, System.nanoTime() + 100000000000L)
      p
    }
    val restoreVis = p.visible()
    val restoreEnd = backlog.flatMap(c => restoreVis.get(landName(c.file))).maxOption
    val restartsAfterRestore = p.restarts

    // ---- 2. live tail
    val interval = cfg.intervalMs * 1000000L
    val l0 = System.nanoTime() + 100000000L
    val windowStart = l0 + cfg.warmChunks * interval
    val stopReader = new AtomicBoolean(false)
    val landed = new AtomicLong(0)
    val gen = new Thread(() => {
      live.zipWithIndex.foreach { case (c, i) =>
        val due = l0 + i * interval
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val name = landName(c.file)
        Files.move(c.file, land.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        landed.set(i + 1)
        run.chunkDue.put(name, due)
        run.committed.put(name, c.committed)
        if (i >= cfg.warmChunks) run.lateMs.add((System.nanoTime() - due) / 1e6)
      }
      run.genEnd = System.nanoTime()
    }, "perfbench-generator")
    gen.setDaemon(true)
    val reader = new Thread(() => {
      val rnd = new java.util.SplittableRandom(seed * 31 + 7)
      var i = 0
      while (!stopReader.get()) {
        val kind = Seq("point", "range", "agg")(i % 3)
        val t = System.nanoTime()
        val ok = try Trace.withOp(sc, s"read.$kind:$i") {
          trace.span(s"read.$kind") { read(spark, p, trace, run, kind, rnd, cfg,
            live(math.max(0, landed.get().toInt - 100)).firstPos) }
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] read $kind failed: $e"); false
        }
        if (t >= windowStart) run.reads.add((kind, (System.nanoTime() - t) / 1e6, ok))
        i += 1
        Thread.sleep(ReaderThinkMs)
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    val liveNames = live.map(c => landName(c.file))
    val vis = trace.span("phase.live") {
      gen.start()
      reader.start()
      gen.join()
      stopReader.set(true)
      reader.join()
      p.awaitVisible(liveNames.toSet, System.nanoTime() + 60000000000L)
    }
    val progress = p.lastProgress
    val restarts = p.restarts
    p.stop()

    // ---- results and gates
    val measured = liveNames.drop(cfg.warmChunks)
    val fresh = measured.flatMap(n => vis.get(n).map(v => (v - run.chunkDue.get(n)) / 1e6))
    val allNames = backlog.map(c => landName(c.file)) ++ liveNames
    val failures =
      if (!allNames.toSet.subsetOf(vis.keySet)) Seq(s"only ${vis.size}/${allNames.size} chunks became visible")
      else trace.span("workload.gates")(gates(spark, p, land, snapshotFrame())) ++
        Option.when(restarts != 1)(s"expected 1 supervisor restart, saw $restarts") ++
        Option.when(run.restartPub == 0)("no publish after the injected fault")
    val keyedAdm = Checkpoint.admitted(p.keyedCk)
    val aggAdm = Checkpoint.admitted(p.aggCk)
    def lag(adm: Map[String, Long], pub: ConcurrentHashMap[java.lang.Long, java.lang.Long]) =
      measured.flatMap(n => adm.get(n).flatMap(b => Option(pub.get(b)))
        .map(t => (t.longValue - run.chunkDue.get(n)) / 1e6))
    val backlogChanges = backlog.map(_.committed.toLong).sum
    val snapshotRows = cfg.entities.toLong * Gen.Tables.size
    val restoreS = restoreEnd.map(e => (e - t0) / 1e9).getOrElse(Double.PositiveInfinity)
    // files landed by the generator's end that no trigger had admitted yet
    val genEndMs = System.currentTimeMillis() - (System.nanoTime() - run.genEnd) / 1000000L
    val started = Checkpoint.batchStartMs(p.keyedCk)
    val waiting = liveNames.count(n => keyedAdm.get(n).flatMap(started.get).forall(_ > genEndMs))
    val half = fresh.size / 2
    val reads = run.reads.asScala.toSeq
    Result(
      attempted = measured.size + backlog.size + reads.size + 1,
      failed = (measured.size - fresh.size) + reads.count(!_._3),
      gateFailures = failures,
      latencyP50 = Stats.median(fresh),
      latencyTail = Stats.tail(fresh),
      throughput = (backlogChanges + snapshotRows) / restoreS,
      layers = streamLayers(trace, run, progress, p) ++ Map(
        "sink.lag_p50_ms" -> Stats.median(lag(keyedAdm, run.keyedPub)),
        "view.lag_p50_ms" -> Stats.median(lag(aggAdm, run.aggPub)),
        "read.point_ms_p50" -> Stats.median(reads.filter(_._1 == "point").map(_._2)),
        "read.range_ms_p50" -> Stats.median(reads.filter(_._1 == "range").map(_._2)),
        "read.agg_ms_p50" -> Stats.median(reads.filter(_._1 == "agg").map(_._2)),
        "read.range_file_share" -> Stats.mean(run.rangeShare.asScala.map(_.doubleValue).toSeq),
        "gen.late_p95_ms" -> Stats.tail(run.lateMs.asScala.map(_.doubleValue).toSeq),
        "gen.backlog_end_files" -> waiting.toDouble,
        "snapshot.publish_ms" -> run.snapshotMs,
        "supervisor.restarts" -> restarts.toDouble,
        "resume.ms" -> (if (run.restartPub > 0) (run.restartPub - run.faultAt) / 1e6 else 0.0),
        "sink.bytes_per_change" -> run.bytesWritten.get.toDouble /
          math.max(1L, backlogChanges + measured.map(n => run.committed.get(n).longValue).sum)),
      detail = Map(
        "restore_s" -> restoreS,
        "live_first_half_p50_ms" -> Stats.median(fresh.take(half)),
        "live_second_half_p50_ms" -> Stats.median(fresh.drop(half)),
        "snapshot_rows_per_s" -> snapshotRows / (run.snapshotMs / 1e3),
        "catchup_rows_per_s" -> backlogChanges / (restoreS - run.snapshotMs / 1e3),
        "restarts_during_restore" -> restartsAfterRestore.toDouble,
        "live_chunks" -> measured.size.toDouble, "reads" -> reads.size.toDouble,
        "read_p50_ms" -> Stats.median(reads.map(_._2)), "read_tail_ms" -> Stats.tail(reads.map(_._2))))
  }

  /** One read of the live outputs; false when its result is malformed. */
  private def read(spark: SparkSession, p: Pipeline, trace: Trace, run: Run, kind: String,
                   rnd: java.util.SplittableRandom, cfg: Sizes, since: Long): Boolean = kind match {
    case "point" =>
      val tbl = Gen.Tables(rnd.nextInt(Gen.Tables.size))
      val id = rnd.nextInt(math.max(1, cfg.hotKeys)).toLong
      UpsertSink.readCurrent(spark, p.tableDir)
        .where(col("tbl") === tbl && col("id") === id).collect().length <= 1
    case "range" =>
      if (trace.enabled) {
        val all = Layout.currentFiles(p.tableDir)
        val hit = UpsertSink.currentRangeFiles(spark, p.tableDir, "lastPos", lit(since),
          lit(Long.MaxValue)).size
        if (all > 0) run.rangeShare.add(hit.toDouble / all)
      }
      UpsertSink.readCurrentRange(spark, p.tableDir, "lastPos", lit(since), lit(Long.MaxValue))
        .where(col("lastPos") < lit(since)).isEmpty
    case _ =>
      val g = AggView.readCurrent(spark, p.aggDir).collect()
      g.length <= Groups * Gen.Tables.size && g.forall(_.getLong(2) > 0)
  }

  private def streamLayers(trace: Trace, run: Run,
                           last: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                           p: Pipeline): Map[String, Double] = {
    val prog = trace.progress.asScala.toSeq.filter(_.rows > 0)
    val mergeOps = trace.jobsByOp.asScala.keys.count(_.startsWith("sink.merge:"))
    Map(
      "sources.list_ms_p50" -> Stats.median(prog.map(_.sourceMs)),
      "stream.batches" -> trace.progress.asScala.size.toDouble,
      "stream.planning_ms_p50" -> Stats.median(prog.map(_.planningMs)),
      "stream.commit_ms_p50" -> Stats.median(prog.map(_.commitMs)),
      "state.rows_total" -> last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
      "state.memory_mb" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / 1048576.0,
      "sink.merge_ms_p50" -> Stats.median(run.mergeMs.asScala.map(_.doubleValue).toSeq),
      "sink.jobs_per_batch" -> (if (mergeOps == 0) 0.0
                                else trace.jobs(_.startsWith("sink.merge:")).toDouble / mergeOps),
      "sink.buckets_rewritten_p50" -> Stats.median(run.bucketsRewritten.asScala.map(_.toDouble).toSeq),
      "sink.files_current" -> Layout.currentFiles(p.tableDir).toDouble,
      "view.merge_ms_p50" -> Stats.median(run.viewMs.asScala.map(_.doubleValue).toSeq))
  }
}

/** Reads of the checkpoint and sink layout files; no Spark job. */
object Checkpoint {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r
  private val OffsetRe = "\\{\"logOffset\":(\\d+)\\}".r

  private def lines(f: Path): Seq[String] =
    try Files.readAllLines(f).asScala.toSeq catch { case _: java.io.IOException => Nil }

  private def list(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else { val s = Files.list(d); try s.iterator().asScala.toList finally s.close() }

  /** Micro-batch → when it was planned (its offset-log entry's write time), epoch ms. */
  def batchStartMs(ck: Path): Map[Long, Long] =
    list(ck.resolve("offsets")).filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong -> Files.getLastModifiedTime(f).toMillis).toMap

  /** Chunk file name → the micro-batch that admitted it, for the
    * file source reading `chunk-*` files. */
  def admitted(ck: Path): Map[String, Long] = {
    val sources = list(ck.resolve("sources")).sortBy(_.getFileName.toString)
    val fileLog: Seq[(Int, Map[String, Long])] = sources.map { s =>
      val m = list(s).filterNot(_.getFileName.toString.startsWith(".")).flatMap(lines).flatMap { l =>
        for { p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l) }
          yield p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> b.group(1).toLong
      }.toMap
      s.getFileName.toString.toInt -> m
    }
    fileLog.find(_._2.keys.exists(_.startsWith("chunk-"))) match {
      case None => Map.empty
      case Some((idx, files)) =>
        // offsets/<batch>: "v1", metadata, then one offset line per source
        val ids = list(ck.resolve("offsets")).map(_.getFileName.toString)
          .filter(_.forall(_.isDigit)).map(_.toLong).sorted
        val batches = ids.flatMap { b =>
          lines(ck.resolve("offsets").resolve(b.toString)).drop(2).lift(idx)
            .flatMap(l => OffsetRe.findFirstMatchIn(l)).map(m => b -> m.group(1).toLong)
        }
        // a file belongs to the first batch whose end offset covers it,
        // provided the batch before that one is still logged; a purged
        // offset log leaves the file unplaced rather than misplaced
        val logged = ids.toSet
        files.flatMap { case (f, logOff) =>
          batches.find(_._2 >= logOff).filter(b => b._1 == 0 || logged(b._1 - 1)).map(b => f -> b._1)
        }
    }
  }
}

/** File counts and sizes of a sink's published layout. */
object Layout {
  private def parquetFiles(d: Path): Long =
    if (!Files.isDirectory(d)) 0L
    else { val s = Files.list(d); try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong finally s.close() }

  /** Parquet files the current version of `dir` references. */
  def currentFiles(dir: String): Long =
    ViewLayout.currentVersion(dir)
      .map(v => ViewLayout.readBucketManifest(dir, v).values.map(d => parquetFiles(Path.of(dir, d))).sum)
      .getOrElse(0L)

  def bytesUnder(d: Path): Long =
    if (!Files.exists(d)) 0L
    else { val s = Files.walk(d); try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close() }
}
