package graft

import java.io.IOException
import java.nio.file.{Files => JFiles, LinkOption, Path, SimpleFileVisitor}
import java.nio.file.FileVisitResult.CONTINUE
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder for the mains (Bench, Verify,
  * GenData) and the specs, the one scratch root under which they keep
  * their temporary files, and the one pool that runs Spark work side by
  * side.
  */
object Sessions {

  /** Scratch root for every temporary file of this JVM (gate fixtures and
    * the session warehouse): created under `java.io.tmpdir` on first use
    * and deleted, with everything written under it, by one shutdown hook.
    * Gates return frames that read their fixture output lazily, so no gate
    * directory can go earlier.
    */
  private[graft] lazy val scratchRoot: Path = {
    val root = JFiles.createTempDirectory("graft-gates")
    sys.addShutdownHook(deleteRecursively(root))
    root
  }

  /** Deletes `root` and everything under it, and prints to stderr
    * whatever could not be deleted instead of throwing: it runs in the
    * shutdown hook, possibly while Spark tasks still write under the root.
    */
  private[graft] def deleteRecursively(root: Path): Unit =
    deleteRecursively(root, p => JFiles.deleteIfExists(p): Unit)
      .foreach(p => System.err.println(s"[graft] could not delete $p"))

  /** Deletes `root` and everything under it with `delete`, children
    * before their directory, and returns what is left. An entry that fails
    * (a directory a task wrote into after it was listed) does not stop
    * the others; the tree is listed again and the rest, its parents
    * included, retried until a pass leaves no fewer entries than the one
    * before. Symbolic links are removed, never followed: the daily
    * fixtures link to the source tables.
    */
  private[graft] def deleteRecursively(root: Path, delete: Path => Unit): Seq[Path] = {
    def listing(): Seq[Path] = {
      val found = Seq.newBuilder[Path]
      if (JFiles.exists(root, LinkOption.NOFOLLOW_LINKS))
        JFiles.walkFileTree(root, new SimpleFileVisitor[Path] {
          override def visitFile(p: Path, a: BasicFileAttributes) = { found += p; CONTINUE }
          override def visitFileFailed(p: Path, e: IOException) = { found += p; CONTINUE }
          override def postVisitDirectory(p: Path, e: IOException) = { found += p; CONTINUE }
        })
      found.result()
    }
    @tailrec def pass(entries: Seq[Path], before: Int): Seq[Path] =
      if (entries.isEmpty || entries.size >= before) entries
      else {
        entries.foreach(p => try delete(p) catch { case _: IOException => () })
        pass(listing(), entries.size)
      }
    pass(listing(), Int.MaxValue)
  }

  /** Core count from `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** [[cpus]] over the raw variable: a positive integer, or `default` when
    * unset; anything else fails here, naming the variable, instead of
    * reaching Spark as an unparseable `local[...]` master.
    */
  private[graft] def parseCpus(raw: Option[String], default: Int): Int = raw match {
    case None => default
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI and its warehouse in a fresh directory under
    * [[scratchRoot]].
    */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // driver fixtures carry naive µs timestamps: read as TIMESTAMP, not NTZ
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    // Cap driver status-store retention (guide §5: the driver should do
    // almost no data work). Defaults keep the last 1000 SQL executions'
    // PLAN STRINGS and 1000 jobs/stages of metrics in driver old-gen —
    // and this suite's plans include the ADC literal-LUT projections
    // (megabyte-scale plan text), so by the harness section the
    // accumulated status store was GC-taxing exactly the gates that
    // submit jobs concurrently: q86/q92 measured 18.7/16.4 s late in
    // the full 152-query suite vs 10.2/10.1 s in a 30-query session
    // (same code, same load). Nothing reads this state here — the UI
    // is disabled; the caps are scale-independent session hygiene.
    .config("spark.sql.ui.retainedExecutions", "16")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "200")
    .config("spark.ui.retainedTasks", "10000")
    // bucketed-table gates (q88) saveAsTable; keep the warehouse out of
    // the repo and isolated per run
    .config("spark.sql.warehouse.dir",
      JFiles.createTempDirectory(scratchRoot, "warehouse-").toString)
    .getOrCreate()

  /** Runs `body` with each `key -> value` set on `spark`'s session conf,
    * then puts every key back as it was before: its prior value, or unset
    * when it had none. Restores also when `body` throws.
    */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `tasks` on `width` threads (never more than there are tasks) and
    * returns their results in order. Every Spark job a task submits
    * carries one job tag. On the first failure the siblings' jobs are
    * cancelled through that tag, queued tasks are dropped and running ones
    * interrupted (`shutdownNow`); the call returns only once every task
    * has ended, and rethrows that first failure.
    */
  def inParallel[A](spark: SparkSession, width: Int)(tasks: Seq[() => A]): Seq[A] = {
    val sc = spark.sparkContext
    val tag = s"graft-parallel-${java.util.UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(width, tasks.size)))
    val done = new ExecutorCompletionService[A](pool)
    val futures = tasks.map(t =>
      done.submit(() => { sc.addJobTag(tag); try t() finally sc.removeJobTag(tag) }))
    try {
      futures.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case e: ExecutionException =>
        pool.shutdownNow()
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS)) sc.cancelJobsWithTag(tag)
        // every task has ended, so every job one submitted is cancelled now
        sc.cancelJobsWithTag(tag)
        throw e.getCause
    } finally pool.shutdown()
  }
}
