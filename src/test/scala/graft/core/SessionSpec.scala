package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkSpec

/** The session factory is the only place sessions are configured, and
  * the kept entrypoints are the only mains. */
class SessionSpec extends SparkSpec {

  test("Session.builder carries the shared conf and every SessionTuning default") {
    // the shared session exists first, so create() adds a sibling
    // session on its context instead of a second context
    val shared = spark
    val s = Session.builder("2").create()
    try {
      val want = Seq(
        "spark.master" -> "local[2]",
        "spark.sql.shuffle.partitions" -> "2",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.unionOutputPartitioning" -> "false",
        "spark.sql.codegen.cache.maxEntries" -> "5000") ++ SessionTuning.defaults
      want.foreach { case (k, v) => assert(s.conf.getOption(k).contains(v), k) }
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("only core/Session.scala builds sessions; only the kept entrypoints define main") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    def matching(re: scala.util.matching.Regex): Set[String] =
      files.filter(f => re.findFirstIn(Files.readString(f)).isDefined)
        .map(root.relativize(_).toString).toSet
    assert(matching("""SparkSession\s*\.\s*builder""".r) == Set("graft/core/Session.scala"))
    assert(matching("""def\s+main\s*\(""".r) == Set(
      "graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/QueryProbe.scala", "graft/tools/PlanSnap.scala",
      "graft/tools/CloneFixture.scala", "graft/tools/GenCorpus.scala",
      "graft/tools/CorpusBench.scala", "graft/streaming/LockHolder.scala"))
  }
}
