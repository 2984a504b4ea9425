package graft

import org.apache.spark.sql.SparkSession

/** Plan-quality review (not part of the driver contract):
  * `sbt "runMain graft.DevExplain [sfdir] [exec=<query> | audit[=q1,q2]]"`.
  * The default prints the formatted plan of every query.
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // exec=<query>: RUN the query and dump the post-execution adaptive
    // plan — runtime exchange/stage reuse (AQE) is invisible in the
    // static formatted plan, so multi-branch reuse must be audited here.
    args.collectFirst { case s if s.startsWith("exec=") => s.substring(5) }
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, dir)
        df.collect()
        println(s"===== $q (executed) =====")
        println(df.queryExecution.executedPlan.toString)
        spark.stop()
        return
      }
    // audit: execute EVERY query and report how many times each parquet
    // file is ACTUALLY scanned in the final adaptive plan. A tree walk,
    // not a string grep: the printed plan embeds provenance FileScans
    // inside InMemoryRelation/Initial-Plan sections that never execute.
    // Recurses into query stages; stops at InMemoryTableScan (reading
    // cache, counted separately) and ReusedExchange (counted, no
    // re-scan). >1 live scan of the same file means a multi-branch
    // subtree failed exchange reuse (the isnotnull-pushdown
    // canonicalization break) and re-executes upstream work — the
    // round-2 7x pathology in query form.
    if (args.exists(_.startsWith("audit"))) {
      val subset = args.collectFirst {
        case s if s.startsWith("audit=") =>
          s.substring(6).split(",").map(_.trim).toSet
      }
      SparkEntry.queries.keys.toSeq.sorted
        .filter(q => subset.forall(_.contains(q))).foreach { q =>
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          df.collect()
          val a = PlanAudit.audit(df.queryExecution.executedPlan)
          val byFile = a.scans.groupBy(identity).view.mapValues(_.size).toMap
            .toSeq.sortBy(-_._2).map { case (p, n) => s"${p}x$n" }
          println(s"[audit] $q scans=${byFile.mkString(",")} " +
            s"cachereads=${a.cacheReads} reused=${a.reused}")
        } catch {
          case e: Throwable => println(s"[audit] $q ERROR ${e.getMessage}")
        }
        // drop persisted frames between queries: an identical cached
        // subtree from an earlier query (e.g. q41's Bm25 perDoc inside
        // t24) would otherwise satisfy later scans from cache and hide
        // the very re-scan regressions this audit exists to catch
        finally spark.catalog.clearCache()
      }
      spark.stop()
      return
    }
    // default: the formatted plan of every query
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      println(s"\n===== $q =====")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
