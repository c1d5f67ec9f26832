package graft.tools

import graft.{GraftSession, SparkEntry}

/** Per-query job/stage/task breakdown — tells job-submission-overhead-bound
  * queries apart from compute-bound ones (guide §1: measure first).
  * For each named query, runs it twice (first run = warm JIT/codegen; second
  * run is the reported one) and prints: wall seconds, #jobs, #stages, #tasks,
  * summed executor task time, summed shuffle read/write bytes, summed GC.
  * The counts come from [[QueryMetrics]]; `-v` adds the per-call-site job
  * walls. Compare jobs and stages across commits: the byte columns of one
  * query vary with the queries run before it in the same session (see
  * [[QueryMetrics]]), so they match only between runs of one query list.
  * Usage: runMain graft.tools.JobProfile [sfDir] [-v] <query>... */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val (sfDir, names) = args.toSeq.filterNot(_ == "-v") match {
      case head +: rest if head.startsWith("/") => (head, rest)
      case other =>
        (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), other)
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"task_s"}%7s ${"gc_s"}%5s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"in_MB"}%7s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm run: JIT + codegen + catalog
      val (wall, c) = QueryMetrics.during(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s $wall%7.2f ${c.jobs}%5d ${c.stages}%6d " +
        f"${c.tasks}%6d ${c.taskTimeMs / 1e3}%7.1f ${c.gcMs / 1e3}%5.1f " +
        f"${c.shuffleReadBytes / 1e6}%7.1f ${c.shuffleWriteBytes / 1e6}%7.1f ${c.inputBytes / 1e6}%7.1f")
      if (verbose) c.bySite.foreach { case (site, cnt, tot) =>
        println(f"    $site%-44s n=$cnt%4d  sum=$tot%7.2f s")
      }
    }
    spark.stop()
  }
}
