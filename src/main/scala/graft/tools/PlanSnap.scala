package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Optimization-round plan snapshots: for each named query, write
  * `plans/r<round>/<name>_<tag>.txt` containing the `.explain("formatted")`
  * output (the pre-execution plan, AQE wrapper included) followed by the
  * executed (post-AQE, final) plan — the before/after evidence files the
  * optimization rounds commit next to OPTIMIZATION_r<N>.md.
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <tag> <name1,name2,…>
  *
  * The session comes from [[GraftSession]], like the bench's, so the
  * plans shown here are the plans the bench actually times.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args
    val spark = GraftSession.local("graft-plansnap")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val keep = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val qs = SparkEntry.queries.toSeq
      .filter { case (n, _) => keep.exists(n.startsWith) }
      .sortBy(_._1)
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val qe = df.queryExecution
      val formatted = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // Execute df's OWN QueryExecution so the AdaptiveSparkPlan in
      // THIS tree finalizes (r15 ADVICE: a noop WRITE runs a separate
      // QueryExecution for the write command, so qe.executedPlan here
      // stayed planned-but-never-executed — every r15 snapshot showed
      // isFinalPlan=false, i.e. the initial adaptive plan, and runtime
      // BHJ conversions/coalescing were invisible). toRdd.count()
      // computes every column of every row and discards, the same
      // work-shape as the noop sink.
      qe.toRdd.count()
      val executed = qe.executedPlan.toString
      val out =
        s"""== explain("formatted") ==
           |$formatted
           |== executed plan (post-AQE, isFinalPlan — captured after executing this QueryExecution) ==
           |$executed
           |""".stripMargin
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), out)
      println(s"[plansnap] wrote ${name}_$tag.txt")
    }
    spark.stop()
  }
}
