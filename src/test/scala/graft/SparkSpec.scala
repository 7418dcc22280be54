package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (lazy — one JVM-wide session is fine
  * for parallel suites; Spark sessions are thread-safe for planning). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfTiny = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Suites that set or depend on the `graft.ledger.rowLevelMode`
    * session conf serialize on this — the session is JVM-shared and
    * suites run in parallel. */
  val rowLevelConfLock = new Object

  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
