package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared session settings every main and spec inherits from
  * [[GraftSession]], the rule that no other file builds a session, and
  * [[Verify]]'s failure reporting.
  */
class GraftSessionSpec extends SparkSpec {

  test("factory session carries graft's standard settings") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("SparkSession.builder() is called only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing ${root.toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val offenders = for {
      f <- files
      if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !isComment(line) && line.contains("SparkSession.builder()")
    } yield s"$f:${i + 1}"
    assert(offenders.isEmpty,
      s"build sessions through GraftSession: ${offenders.mkString(", ")}")
  }

  test("Verify.dumpQueries returns failed names and still dumps the rest") {
    val out = Files.createTempDirectory("graft-verify-spec")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_bad"  -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("boom")),
      "q_good" -> ((s: SparkSession, _: String) => s.range(3).toDF("id")))
    val failed = Verify.dumpQueries(spark, sf, out.toString, queries)
    assert(failed == Seq("q_bad"))
    assert(!Files.exists(out.resolve("q_bad")))
    val good = spark.read.parquet(out.resolve("q_good").toString)
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }
}
