package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

/** The session factory and the shared timing helpers, plus the guard that
  * keeps them the only ones. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries the factory config") {
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      GraftSession.CorrectnessCores.toString)
    assert(spark.sparkContext.defaultParallelism == GraftSession.CorrectnessCores)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("timeOnce times the query and leaves no persisted data behind") {
    val cached = spark.range(1000).selectExpr("id % 7 AS k").persist()
    cached.count()
    val secs = Harness.timeOnce(spark)(
      cached.localCheckpoint().groupBy("k").count())
    assert(secs > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("timeOnce rethrows a failing query and still cleans up") {
    val cached = spark.range(10).toDF("id").persist()
    cached.count()
    val e = intercept[Exception](Harness.timeOnce(spark)(
      spark.range(1).selectExpr("raise_error('graft-boom') AS x")))
    assert(e.getMessage.contains("graft-boom"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("dropFirstMedian drops the warm-up rep, then takes the median") {
    assert(Harness.dropFirstMedian(Seq(9.0, 4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.dropFirstMedian(Seq(100.0, 3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(5.0)) == 5.0)
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    val raw = "a\tb\rc\u0001d\"e\\f\ng"
    val lit = Harness.jsonString(raw)
    assert(lit == "\"a\\tb\\rc\\u0001d\\\"e\\\\f\\ng\"")
    assert(!lit.exists(_ < ' '))
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(lit, classOf[String]) == raw)
  }

  private def filesUnder(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  test("GraftSession.scala holds the only session builder under src/") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val offenders = filesUnder("src")
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"session built outside GraftSession: $offenders")
  }

  test("tools/ holds no Scala source") {
    val scala = filesUnder("tools").filter(_.toString.endsWith(".scala"))
    assert(scala.isEmpty, s"uncompiled Scala under tools/: $scala")
  }
}
