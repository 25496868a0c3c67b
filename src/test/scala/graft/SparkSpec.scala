package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Testdata root, overridable for checkouts where the driver-generated
    * parquet lives elsewhere (the sole source of truth for data paths in
    * specs — never hardcode /root/testdata in a suite). */
  lazy val testdataBase: String =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")
  lazy val sf: String = s"$testdataBase/sf0.001"
  /** The correctness-gate scale factor — for the few specs that need a
    * corpus where support thresholds are actually reachable. */
  lazy val sfMid: String = s"$testdataBase/sf0.01"
  implicit def sqlImplicits: org.apache.spark.sql.SQLImplicits = spark.implicits
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", GraftSession.CorrectnessCores)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
