package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.{Q, SessionTuning}

/** Isolated-median probe and interleaved A/B for ANY registered query,
  * so a fresh sweep regression (BENCH_r11: q107 0.21 → 0.91 s, 4.28×,
  * with zero r11 change to `ingest/JsonlSource.scala`) gets an
  * isolated number without a bespoke tool per query.
  *
  * Protocol: page-cache warmup of every table, then per run
  * `Caches.releaseAll` (the bench's between-sweep state) before a COLD
  * timing and a HOT timing in the same session. The isolated cold
  * median is directly comparable to the sweep's per-query median; a
  * cold median at the previous round's level names the regression
  * "sweep context load", a raised one names the query itself.
  *
  * Usage:
  *   `runMain graft.tools.QueryProbe q107,q109 [sfDir] [runs] [--arm 'k=v;k=v']...`
  *     (query prefixes or full names; defaults: the sf0.1 fixture, 5 runs).
  *     Each repeatable `--arm` is one runtime-conf arm in
  *     `SPARK_GRAFT_SQLCONF` syntax; arms run interleaved within every
  *     run so ambient host noise hits them equally, and the output is
  *     per-arm medians (see [[probe]]).
  *   `runMain graft.tools.QueryProbe --flagged [sfDir] [runs] [detail] [commitTag]`
  *     batch anchor-refresh mode (round 19, VERDICT r18 item 6: nine
  *     stale fast-flags needed four manual chunk sessions in r18) —
  *     recomputes the anchor-flag set from the last board's
  *     BENCH_DETAIL.json medians against the committed ANCHORS.json,
  *     probes exactly that set in THIS one flat-calib session, and
  *     emits the ANCHORS.json patch entries (stdout between PATCH
  *     markers + ANCHORS_PATCH.json) in the committed file's format,
  *     ready to splice in. The patch is advisory — the curator still
  *     decides whether a flag was drift (patch it) or a regression
  *     (fix the query instead).
  */
object QueryProbe {

  /** Lenient per-query median extraction from a BENCH_DETAIL.json —
    * same no-JSON-library discipline as [[graft.Bench.parseAnchors]]
    * (QueryProbeSpec round-trips the committed file). */
  private val MedRe = "\"(q[0-9]+)\"\\s*:\\s*\\{\\s*\"median\"\\s*:\\s*(-?[0-9.]+)".r
  def parseMedians(text: String): Seq[(String, Double)] =
    MedRe.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toSeq

  /** A board that carries its own contention evidence — the sweep-sum
    * spread flag, or dropped/re-run sweep rows — is not
    * anchor-adjudicable: its medians may include contended sweeps the
    * protocol itself flagged in real time. The anchor-drift gate
    * (QueryProbeSpec) skips the zero-flag assertion for such boards
    * (VERDICT r20 item 1: the driver's contended post-freeze board
    * overwrote the worktree artifact and turned the frozen suite red
    * with zero code change). */
  def selfFlagged(detailText: String): Boolean =
    detailText.contains("\"sweep_spread_flag\":true") ||
      detailText.contains("\"dropped\":true")

  /** One ANCHORS.json entry in the committed file's exact shape. */
  def patchEntry(name: String, cold: Double, hot: Double,
      commit: String, calib: String): String =
    f"""  "$name": {%n   "cold": $cold%.2f,%n   "hot": $hot%.2f,%n   "commit": "$commit",%n   "calib": "$calib"%n  }"""

  /** `--arm X` pairs pulled out of the argument list: (arms, positional). */
  @annotation.tailrec
  def splitArms(as: List[String], arms: Vector[String] = Vector.empty,
      pos: Vector[String] = Vector.empty): (Vector[String], Vector[String]) = as match {
    case "--arm" :: a :: rest => splitArms(rest, arms :+ a, pos)
    case x :: rest => splitArms(rest, arms, pos :+ x)
    case Nil => (arms, pos)
  }

  /** One query's timings under one arm (`""` = the session as built). */
  final case class Probe(arm: String, cold: Vector[Double], hot: Vector[Double])

  private def time(spark: SparkSession, sfDir: String, q: Q): Double = {
    val t0 = System.nanoTime()
    q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `runs` interleaved rounds: in each, every arm in turn sets its keys
    * with `spark.conf.set`, releases the family caches, times a cold
    * and a hot run, and restores the keys it set. */
  def probe(spark: SparkSession, sfDir: String, q: Q, runs: Int,
      arms: Seq[String]): Seq[Probe] = {
    val cold = arms.map(_ => Vector.newBuilder[Double])
    val hot = arms.map(_ => Vector.newBuilder[Double])
    for (_ <- 1 to runs; (arm, i) <- arms.zipWithIndex) {
      val kvs = SessionTuning.parse(arm)
      val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        kvs.foreach { case (k, v) => spark.conf.set(k, v) }
        graft.Caches.releaseAll(spark)
        cold(i) += time(spark, sfDir, q)
        hot(i) += time(spark, sfDir, q)
      } finally saved.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    arms.indices.map(i => Probe(arms(i), cold(i).result(), hot(i).result()))
  }

  def main(argv: Array[String]): Unit = {
    val (armArgs, args) = splitArms(argv.toList)
    val flaggedMode = args.headOption.contains("--flagged")
    require(!(flaggedMode && armArgs.nonEmpty), "--flagged takes no --arm")
    val arms = if (armArgs.isEmpty) Seq("") else armArgs
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.core.Session.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val selected =
      if (flaggedMode) {
        val detailPath = args.lift(3).getOrElse("BENCH_DETAIL.json")
        val anchors = graft.Bench.loadAnchors()
        val meds = parseMedians(new String(java.nio.file.Files.readAllBytes(
          new java.io.File(detailPath).toPath), "UTF-8"))
        val flagged = graft.Bench.anchorFlags(meds, anchors).map(_._1).toSet
        println(s"flagged vs committed anchors: ${flagged.toSeq.sorted.mkString(",")}")
        graft.SparkEntry.all.filter(q => flagged(q.name.takeWhile(_ != '_')))
      } else {
        val wanted = args.headOption
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(sys.error(
            "usage: QueryProbe q107[,q109...]|--flagged [sfDir] [runs] [--arm 'k=v;k=v']..."))
        graft.SparkEntry.all.filter(q =>
          wanted(q.name) || wanted(q.name.takeWhile(_ != '_')))
      }
    if (flaggedMode && selected.isEmpty) {
      println("no queries flagged — nothing to probe")
      spark.stop(); return
    }
    require(selected.nonEmpty, "no query matches the request")

    // page-cache warmup (Bench does the same before timing)
    graft.core.T.names.foreach { t =>
      graft.core.T.df(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    }
    // fixed-work calibration before and after (r13: the instrument that
    // makes "machine drift" a measurement — same pair Bench emits)
    val (h0, s0) = graft.Bench.calibrate(spark)
    println(f"calib pre: hash $h0%.3f s  spark $s0%.3f s")
    val results = Vector.newBuilder[(String, Double, Double)]
    def med(xs: Vector[Double]) = graft.Bench.median(xs)
    for (q <- selected; Probe(arm, c, h) <- probe(spark, sfDir, q, runs, arms)) {
      results += ((q.name.takeWhile(_ != '_'), med(c), med(h)))
      println(f"${q.name}%-26s cold median ${med(c)}%5.2f s  hot median ${med(h)}%5.2f s" +
        f"  (cold [${c.min}%.2f,${c.max}%.2f] hot [${h.min}%.2f,${h.max}%.2f])" +
        (if (arm.isEmpty) "" else s"  arm $arm"))
    }
    val (h1, s1) = graft.Bench.calibrate(spark)
    println(f"calib post: hash $h1%.3f s  spark $s1%.3f s")
    if (flaggedMode) {
      // committed anchors are DEFINED as sf0.1 flat-calib medians; a
      // probe at any other SF would emit wrong-scale values in
      // splice-ready form (ADVICE r19) — print the measurements but
      // refuse to write the patch artifact
      if (!new java.io.File(sfDir).getName.equals("sf0.1")) {
        println(s"REFUSING ANCHORS_PATCH.json: sfDir '$sfDir' is not the " +
          "anchor-defining sf0.1 dataset (anchors are sf0.1 medians)")
      } else {
        val commitTag = args.lift(4).getOrElse("rNN")
        val calibStr = f"$h0%.3f/$h1%.3f"
        val patch = results.result()
          .map { case (n, c, h) => patchEntry(n, c, h, commitTag, calibStr) }
          .mkString(",\n")
        println("---- ANCHORS PATCH (splice into ANCHORS.json \"queries\") ----")
        println(patch)
        println("---- END PATCH ----")
        val w = new java.io.PrintWriter("ANCHORS_PATCH.json", "UTF-8")
        try w.println("{\n" + patch + "\n}") finally w.close()
      }
    }
    spark.stop()
  }
}
