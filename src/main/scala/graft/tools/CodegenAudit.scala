package graft.tools

import org.apache.spark.sql.GraftCodegenAudit

import graft.{GraftSession, SparkEntry}

/** Suite-wide JIT-compilability audit (r13 verdict #1): run every
  * [[SparkEntry.queries]] entry, then re-emit + re-compile each fused
  * whole-stage-codegen stage of its FINAL adaptive plan and record the
  * largest generated method per query. Any method over HotSpot's
  * 8000-byte `DontCompileHugeMethods` ceiling runs in the bytecode
  * interpreter — silently, correctly, and 7–10× slower (the q203/q271
  * pathology this audit exists to catch before it costs four rounds
  * again).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… runMain graft.tools.CodegenAudit
  * [outFile]` — writes one JSON object (per-query max method size,
  * offending stage detail for every query whose max is within 25% of
  * the ceiling, and the flagged list) to `outFile`
  * (default `JITAUDIT.json`).
  *
  * Scope: whole-stage-codegen classes only. Other generated classes
  * (unsafe projections, orderings, the aggregate fast hashmap) are
  * emitted per-operator, not per-fused-stage, and stay far below the
  * ceiling by construction; WSCG is where unbounded fusion of
  * expression chains concentrates bytecode (both observed bailouts
  * were WSCG `processNext` bodies).
  */
object CodegenAudit {

  /** Queries ALLOWED to sit in the near-limit band (≥ 75% of the JIT
    * ceiling), each with a written justification. Empty by policy (r14
    * verdict #4: q204/q270 sat one fused expression from the silent
    * 7–10× interpreter cliff for a round before being kernel-ized —
    * the audit now FAILS, not warns, when a query enters the band, so
    * the fix happens the round the fusion lands, not after the wall
    * regresses). Pin a query here ONLY with a reason the next reader
    * can re-check.
    */
  val PinnedNearLimit: Map[String, String] = Map.empty

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
                                  "/root/testdata/sf0.1")
    val outFile = args.headOption.getOrElse("JITAUDIT.json")
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.builder("graft-codegen-audit", Some(cpus))
      // the compile cache is the audit's witness for intermediate-job
      // classes; the default 100-entry cap can evict a heavy query's
      // OWN classes between the two snapshots (q269 alone compiles 98)
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qid = "q(\\d+)".r
    def idOf(name: String): Int = qid.findPrefixMatchOf(name)
      .map(_.group(1).toInt).getOrElse(Int.MaxValue)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = {
      val all = SparkEntry.queries.toSeq.sortBy { case (n, _) => (idOf(n), n) }
      only.fold(all)(keep => all.filter(kv => keep(kv._1)))
    }
    def clearBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    val nearLimit = (GraftCodegenAudit.HotSpotHugeMethodLimit * 0.75).toInt
    // tokens of generated classes already attributed to an earlier query
    val seenTokens = scala.collection.mutable.Set.empty[Int]
    seenTokens ++= GraftCodegenAudit.compileCacheSnapshot().map(_.token)
    val results = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val (planStats, newClasses) = try {
        val df = fn(spark, sfDir)
        // execute the REAL plan (not a derived count) so the adaptive
        // walk sees the final, post-replan stage set
        df.queryExecution.toRdd.count()
        // Two complementary views (each alone has a blind spot):
        //  - plan walk: the final plan's fused stages, exact per-stage
        //    ids — but eager checkpoints/iterative rounds truncate
        //    their stages out of the final plan;
        //  - compile-cache diff: every class ANY of the query's jobs
        //    newly compiled, including intermediate ones — but cache
        //    hits stay attributed to their first compiler.
        val fromPlan = GraftCodegenAudit.audit(df)
        val fresh = GraftCodegenAudit.compileCacheSnapshot()
          .filterNot(e => seenTokens.contains(e.token))
        seenTokens ++= fresh.map(_.token)
        (fromPlan, fresh)
      } catch {
        case e: Throwable =>
          System.err.println(s"[CodegenAudit] $name failed: $e")
          (Seq.empty[GraftCodegenAudit.StageStat],
           Seq.empty[GraftCodegenAudit.CacheEntry])
      } finally clearBlocks()
      val dt = (System.nanoTime() - t0) / 1e9
      val allSizes = planStats.map(_.maxMethodCodeSize) ++
        newClasses.map(_.maxMethodCodeSize)
      println(f"[CodegenAudit] $name%-28s stages=${planStats.size}%3d " +
        f"newClasses=${newClasses.size}%3d " +
        f"maxMethod=${if (allSizes.isEmpty) 0 else allSizes.max}%5d ($dt%.1f s)")
      (name, planStats, newClasses)
    }
    def maxOf(planStats: Seq[GraftCodegenAudit.StageStat],
              newClasses: Seq[GraftCodegenAudit.CacheEntry]): Int = {
      val s = planStats.map(_.maxMethodCodeSize) ++
        newClasses.map(_.maxMethodCodeSize)
      if (s.isEmpty) 0 else s.max
    }
    val perQuery = results.map { case (name, planStats, newClasses) =>
      val maxM = maxOf(planStats, newClasses)
      val detail =
        if (maxM <= nearLimit) ""
        else {
          val worstPlan = planStats.sortBy(-_.maxMethodCodeSize).headOption
            .filter(_.maxMethodCodeSize == maxM)
          worstPlan match {
            case Some(w) =>
              s""","worst_stage":{"codegen_stage_id":${w.stageId},"root":"${w.rootNode}","max_method_bytes":${w.maxMethodCodeSize},"max_const_pool":${w.maxConstPoolSize},"src_chars":${w.srcChars}}"""
            case None =>
              val w = newClasses.maxBy(_.maxMethodCodeSize)
              val lbl = w.label.replace("\\", "\\\\").replace("\"", "\\\"")
              s""","worst_class":{"label":"$lbl","max_method_bytes":${w.maxMethodCodeSize},"max_const_pool":${w.maxConstPoolSize},"src_chars":${w.srcChars}}"""
          }
        }
      s""""$name":{"n_stages":${planStats.size},"n_new_classes":${newClasses.size},"max_method_bytes":$maxM$detail}"""
    }.mkString("{", ",", "}")
    val flagged = results.collect {
      case (name, p, c)
          if p.exists(_.overJitLimit) || c.exists(_.overJitLimit) =>
        s""""$name""""
    }.mkString("[", ",", "]")
    val near = results.collect {
      case (name, p, c)
          if maxOf(p, c) > nearLimit &&
             !(p.exists(_.overJitLimit) || c.exists(_.overJitLimit)) =>
        s""""$name""""
    }.mkString("[", ",", "]")
    val line =
      s"""{"jit_limit_bytes":${GraftCodegenAudit.HotSpotHugeMethodLimit},""" +
      s""""near_limit_bytes":$nearLimit,"sf":"$sfDir","cpus":$cpus,""" +
      s""""n_queries":${results.size},"over_limit":$flagged,""" +
      s""""near_limit":$near,"queries":$perQuery}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line)
    println(s"[CodegenAudit] over_limit=$flagged near_limit=$near -> $outFile")
    spark.stop()
    // GATE (r14 verdict #4): any over-limit stage, or any near-limit
    // query without a pinned justification, fails the run — a warning
    // in a JSON nobody diffs is how q203/q271 ran interpreted for four
    // rounds. Exit AFTER the artifact is written so the evidence of
    // WHAT failed is always on disk.
    val overNames = results.collect {
      case (name, p, c)
          if p.exists(_.overJitLimit) || c.exists(_.overJitLimit) => name
    }
    val nearNames = results.collect {
      case (name, p, c)
          if maxOf(p, c) > nearLimit &&
             !(p.exists(_.overJitLimit) || c.exists(_.overJitLimit)) => name
    }
    val unpinned = nearNames.filterNot(PinnedNearLimit.contains)
    if (overNames.nonEmpty || unpinned.nonEmpty) {
      System.err.println(
        s"[CodegenAudit] FAIL: over_limit=${overNames.mkString(",")} " +
          s"unpinned_near_limit=${unpinned.mkString(",")} " +
          "(kernel-ize the projection or pin with a justification in " +
          "CodegenAudit.PinnedNearLimit)")
      sys.exit(1)
    }
  }
}
