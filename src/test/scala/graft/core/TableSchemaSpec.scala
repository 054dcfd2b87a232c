package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.{Caches, SparkEntry, SparkSpec}

/** The fixture-table schema memo ([[T.parquet]]): a warm read starts no
  * Spark job, a table rewritten in place is read with its new schema,
  * and building a board query on a warm memo runs no job unless the
  * query has a known eager step. */
class TableSchemaSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Board-sample queries whose construction still runs a job:
    * q58 counts its documents, q97's keyed offsets probe max(doc_id),
    * q130's z-key takes its bounds with first(). */
  private val knownEager = Set("q58_text_tfidf", "q97_weighted_sample", "q130_zorder_key")

  private def jobs(body: => Any): Seq[String] = Jobs.during(spark)(body)._2

  test("a second read of each fixture table starts zero jobs") {
    T.names.foreach { t =>
      T.df(spark, dir, t)
      val js = jobs(T.df(spark, dir, t))
      assert(js.isEmpty, s"$t: warm read ran $js")
    }
  }

  /** `cols` as a one-row frame of longs 1..n. */
  private def row(cols: String*): DataFrame =
    spark.range(1).selectExpr(cols.zipWithIndex.map { case (c, i) => s"${i + 1}L AS $c" }: _*)

  private def singleFile(df: DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_schema_out")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table rewritten in place is read with its new schema: single file and directory") {
    val base = Files.createTempDirectory("graft_schema")
    val file = base.resolve("t.parquet")
    val part = base.resolve("parts.parquet").toString
    def check(path: String, write: DataFrame => Unit): Unit = {
      write(row("a", "b"))
      assert(T.parquet(spark, path).columns.toSeq == Seq("a", "b"))
      assert(jobs(T.parquet(spark, path)).isEmpty, s"$path: the memo missed")
      write(row("a", "b", "c"))
      val df = T.parquet(spark, path)
      assert(df.columns.toSeq == Seq("a", "b", "c"), path)
      assert(df.collect().toSeq.map(_.toSeq) == Seq(Seq(1L, 2L, 3L)), path)
    }
    check(file.toString, singleFile(_, file))
    check(part, _.repartition(2).write.mode("overwrite").parquet(part))
  }

  test("on a warm memo, Q.run of every board query without a declared eager step starts zero jobs") {
    val board = Files.readAllLines(Paths.get("perfbench/board_queries.tsv")).asScala
      .filterNot(_.startsWith("#")).map(_.split("\t")(0)).toSeq
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val lazyOnes = board.filterNot(knownEager)
    assert(board.size == 20 && lazyOnes.size == 17, board)
    try {
      val eager = board.map { n =>
        val q = byName(n)
        q.run(spark, dir)
        n -> jobs(q.run(spark, dir))
      }.toMap
      lazyOnes.foreach(n => assert(eager(n).isEmpty, s"$n: construction ran ${eager(n)}"))
      // a listed site that stopped running jobs belongs off the list
      knownEager.foreach(n => assert(eager(n).nonEmpty, s"$n: no longer eager"))
    } finally Caches.releaseAll(spark)
  }
}
