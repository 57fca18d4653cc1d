package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalOutputFile

/** The benchmark's inputs: the graft tables committed under
  * `perfbench/data/` (one parquet file per table, as the program's
  * fixtures lay them out), read and cut here with the parquet library
  * alone, so preparing inputs runs no engine work. A workload gets its own
  * input directory: unchanged tables are hard-linked in, and the seed
  * decides only how the event log is cut into days or micro-batches. */
object Inputs {
  val EventStartUs: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z, day 1 of the log
  val DayUs: Long = 86400L * 1000000L

  private val conf = new Configuration()
  private def hpath(p: Path) = new org.apache.hadoop.fs.Path(p.toString)

  def file(data: Path, table: String): Path = data.resolve(s"$table.parquet")

  /** Every row of a parquet file, as parquet example groups. */
  def groups(f: Path): Seq[Group] = {
    val r = ParquetReader.builder(new GroupReadSupport(), hpath(f)).withConf(conf).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).toVector finally r.close()
  }

  def rowCount(f: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(hpath(f), conf))
    try r.getRecordCount finally r.close()
  }

  /** Link (or, across file systems, copy) `tables` from `data` into `dir`. */
  def link(data: Path, tables: Seq[String], dir: Path): Unit = {
    Files.createDirectories(dir)
    tables.foreach { t =>
      val (src, dst) = (file(data, t), file(dir, t))
      try Files.createLink(dst, src)
      catch { case _: java.io.IOException => Files.copy(src, dst) }
    }
  }

  /** `dir` gets every table of `data` unchanged except the events, which
    * keep only the rows before `cutUs` (epoch µs): the input of a day
    * that ends at `cutUs`. */
  def dayPrefix(data: Path, cutUs: Long, dir: Path): Unit = {
    link(data, graft.sources.Tables.names.filter(_ != "events"), dir)
    val src = file(data, "events")
    val schema = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(hpath(src), conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file(dir, "events")))
      .withType(schema).build()
    try groups(src).filter(_.getLong("ts", 0) < cutUs).foreach(w.write) finally w.close()
  }

  /** (bytes, files) of the regular files under `p` that `keep` accepts;
    * (0, 0) if `p` is absent. */
  def du(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && keep(f)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** The regular files under `p` (empty if absent). */
  def files(p: Path): Set[Path] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSet finally s.close()
    }

  /** True for a file only this path names: one written by the program,
    * not one hard-linked in by the benchmark. */
  def written(f: Path): Boolean = Files.getAttribute(f, "unix:nlink").asInstanceOf[Int] == 1

  /** Bytes and rows of `tables` in `dir`. */
  def size(dir: Path, tables: Seq[String]): (Long, Long) =
    tables.foldLeft((0L, 0L)) { case ((b, r), t) =>
      (b + Files.size(file(dir, t)), r + rowCount(file(dir, t)))
    }

  /** A µs timestamp as the engine returns it to the driver. */
  def microTs(v: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(v, 1000L))
    t.setNanos((Math.floorMod(v, 1000000L) * 1000L).toInt)
    t
  }
  def us(t: java.sql.Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** (doc_id, text) of every document. */
  def documents(data: Path): Seq[(Long, String)] =
    groups(file(data, "documents")).map(g => (g.getLong("doc_id", 0), g.getString("text", 0)))

  final case class Event(id: Long, tsUs: Long, user: Long, kind: String, value: Double)
  def events(f: Path): Seq[Event] = groups(f).map { g =>
    Event(g.getLong("event_id", 0), g.getLong("ts", 0), g.getLong("user_id", 0),
      g.getString("event_type", 0), g.getDouble("value", 0))
  }
}
