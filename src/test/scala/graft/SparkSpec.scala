package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * suite run fast; tests only read tiny in-memory frames).
  */
object SparkTestSession {
  /** Cores of the shared session (a fixed 4, not `SPARK_GRAFT_CPUS`). */
  val cpus = 4
  lazy val spark: SparkSession = Sessions.local(cpus)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  spark.sparkContext.setLogLevel("ERROR")
}
