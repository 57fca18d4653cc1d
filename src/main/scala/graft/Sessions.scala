package graft

import java.nio.file.{Files => JFiles, Path}

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder for the mains (Bench, Verify,
  * GenData) and the specs, and the one scratch root under which they keep
  * their temporary files.
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

  /** Deletes `root` and everything under it. Symbolic links are removed,
    * never followed: the daily fixtures link to the source tables.
    */
  private[graft] def deleteRecursively(root: Path): Unit = {
    val walk = JFiles.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => JFiles.deleteIfExists(p): Unit)
    finally walk.close()
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
}
