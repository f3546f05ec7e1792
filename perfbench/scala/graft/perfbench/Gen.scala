package graft.perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded changelog generator. Writes parquet files in
  * `graft.sources.ChangelogFiles.schema` without Spark, so the same
  * seed gives byte-identical files and staging costs no Spark job.
  *
  * Every transaction lies wholly inside one chunk file: 1-9 data rows
  * (`etype = data`, op upsert or, 1 in 11, delete) followed by one
  * marker row (`etype = commit`, or `rollback` for 1 transaction in
  * 20). Values are multiples of 0.5, so sums over them are exact.
  * Snapshot rows carry `etype = snapshot` and positions below every
  * log position.
  */
object Gen {

  val Tables: Seq[String] = Seq("customer", "orders")

  private val changelogSchema = MessageTypeParser.parseMessageType(
    """message changelog {
      |  required int64 pos; required binary op (STRING); required binary tbl (STRING);
      |  required int64 id; required int64 tx; optional double val; optional int64 us;
      |  optional binary etype (STRING);
      |}""".stripMargin)

  private val tableSchema = MessageTypeParser.parseMessageType(
    "message entity { required int64 id; required double val; required int64 pos; }")

  /** One written chunk: its file, its first position and how many
    * committed data rows it holds. */
  final case class Chunk(file: Path, firstPos: Long, committed: Int)

  /** Key distribution: `hotShare` of changes go to the first `hotKeys`
    * ids of a table, the rest are uniform over `entities` ids per table. */
  final case class Keys(entities: Int, hotKeys: Int, hotShare: Double)

  final class Log(seed: Long, var keys: Keys, var pos: Long) {
    private val rnd = new SplittableRandom(seed)
    private var tx = 0L

    private def key(): (String, Long) = {
      val tbl = Tables(rnd.nextInt(Tables.size))
      val id =
        if (keys.hotKeys > 0 && rnd.nextDouble() < keys.hotShare) rnd.nextInt(keys.hotKeys)
        else rnd.nextInt(keys.entities)
      (tbl, id.toLong)
    }

    /** Write one chunk of whole transactions holding about `rows` data
      * rows; `us` stamps every row with the chunk's due time. */
    def chunk(file: Path, rows: Int, us: Long): Chunk = {
      val first = pos + 1
      val w = writer(file, changelogSchema)
      val f = new SimpleGroupFactory(changelogSchema)
      var written = 0
      var committed = 0
      try {
        while (written < rows) {
          tx += 1
          val n = math.min(1 + rnd.nextInt(9), rows - written)
          val rollback = rnd.nextInt(20) == 0
          for (_ <- 0 until n) {
            val (tbl, id) = key()
            val delete = rnd.nextInt(11) == 0
            pos += 1
            val g = f.newGroup().append("pos", pos).append("op", if (delete) "delete" else "upsert")
              .append("tbl", tbl).append("id", id).append("tx", tx)
            if (!delete) g.append("val", (1 + rnd.nextInt(2000)) * 0.5)
            w.write(g.append("us", us).append("etype", "data"))
          }
          pos += 1
          val kind = if (rollback) "rollback" else "commit"
          w.write(f.newGroup().append("pos", pos).append("op", kind).append("tbl", "_tx")
            .append("id", tx).append("tx", tx).append("us", us).append("etype", kind))
          written += n
          if (!rollback) committed += n
        }
      } finally w.close()
      Chunk(file, first, committed)
    }
  }

  private def writer(file: Path, schema: org.apache.parquet.schema.MessageType) =
    ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()

  /** Chunks `from` until `from + n`, of about `rows` data rows each, under `dir`. File
    * modification times follow chunk order: the file source orders
    * the files it admits by modification time, and a rename into the
    * landing directory keeps it. */
  def chunks(log: Log, dir: Path, from: Int, n: Int, rows: Int, dueUs: Int => Long): IndexedSeq[Chunk] = {
    Files.createDirectories(dir)
    (from until from + n).map { i =>
      val c = log.chunk(dir.resolve(f"chunk-$i%06d.parquet"), rows, dueUs(i))
      Files.setLastModifiedTime(c.file, FileTime.fromMillis(1600000000000L + i * 10L))
      c
    }
  }

  /** The snapshot as one entity table per name (`id, val, pos`) under
    * `tableDir/<name>/`, and the same rows in changelog form under
    * `logDir`. Positions are 1..entities·tables, below the log's. */
  def snapshot(seed: Long, entities: Int, tableDir: Path, logDir: Path): Long = {
    val rnd = new SplittableRandom(seed ^ 0x5eed5eedL)
    Files.createDirectories(logDir)
    val lw = writer(logDir.resolve("snapshot-000000.parquet"), changelogSchema)
    val lf = new SimpleGroupFactory(changelogSchema)
    val tf = new SimpleGroupFactory(tableSchema)
    var pos = 0L
    try Tables.foreach { tbl =>
      Files.createDirectories(tableDir.resolve(tbl))
      val tw = writer(tableDir.resolve(tbl).resolve("part-0.parquet"), tableSchema)
      try (0 until entities).foreach { id =>
        pos += 1
        val v = (1 + rnd.nextInt(2000)) * 0.5
        tw.write(tf.newGroup().append("id", id.toLong).append("val", v).append("pos", pos))
        lw.write(lf.newGroup().append("pos", pos).append("op", "upsert").append("tbl", tbl)
          .append("id", id.toLong).append("tx", 0L).append("val", v).append("etype", "snapshot"))
      } finally tw.close()
    } finally lw.close()
    pos
  }
}
