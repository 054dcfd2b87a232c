package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Round-21 deliverable: write `explain("formatted")` snapshots of
  * named queries to `<outDir>/<qShort>_<suffix>.txt` — the judge
  * checks plan claims (Exchange count, join strategy, PushedFilters/
  * ReadSchema) against these files, so they are produced by a tool
  * with the BENCH session's exact config (master width, shuffle
  * partitions, union-partitioning guard), not a one-off REPL. The
  * header gives the number of Spark jobs the query ran while it was
  * being built (`construction jobs: N`), then each job's call site.
  *
  * Usage:
  *   runMain graft.tools.PlanSnap <suffix> <outDir> <sfDir> qNN[,qNN...]
  * e.g.
  *   runMain graft.tools.PlanSnap before plans/r21 /root/testdata/sf0.1 q133,q202
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanSnap <suffix> <outDir> <sfDir> qNN[,qNN...]")
    val Array(suffix, outDir, sfDir, qlist) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { q =>
      val full = graft.SparkEntry.queries.keys
        .find(k => k == q || k.takeWhile(_ != '_') == q)
        .getOrElse(sys.error(s"unknown query $q"))
      val short = full.takeWhile(_ != '_')
      // the jobs the query runs while it is built belong to its work
      // as much as the final plan does
      val (df, jobs) = graft.core.Jobs.during(spark)(graft.SparkEntry.queries(full)(spark, sfDir))
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${short}_$suffix.txt")
      val header = (s"== $full @ $sfDir (local[$cpus]) ==" +:
        s"construction jobs: ${jobs.size}" +: jobs.map("  " + _)).mkString("", "\n", "\n")
      java.nio.file.Files.write(p, (header + txt).getBytes("UTF-8"))
      System.err.println(s"wrote $p")
    }
    graft.Caches.releaseAll(spark)
    spark.stop()
  }
}
