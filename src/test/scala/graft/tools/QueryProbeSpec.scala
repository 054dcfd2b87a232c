package graft.tools

/** The `--flagged` batch anchor-refresh mode's pure pieces (round 19,
  * VERDICT r18 item 6): median extraction from the committed board
  * detail, flag-set recomputation, and patch emission in the exact
  * shape `Bench.parseAnchors` reads back; and the `--arm` A/B mode. */
class QueryProbeSpec extends graft.SparkSpec {

  private def read(p: String) =
    new String(java.nio.file.Files.readAllBytes(new java.io.File(p).toPath), "UTF-8")

  test("parseMedians round-trips the committed BENCH_DETAIL.json") {
    val meds = QueryProbe.parseMedians(read("BENCH_DETAIL.json"))
    assert(meds.size >= 200, s"only ${meds.size} medians parsed")
    assert(meds.forall(_._1.matches("q[0-9]+")))
    assert(meds.count(_._2 >= 0) >= 200)
  }

  test("a clean committed board recomputes to zero anchor flags") {
    // the freeze invariant the batch mode automates: flags are derived
    // from (detail medians × committed anchors), not stored — the
    // committed artifacts must agree with the committed "zero flags".
    // A board that SELF-FLAGGED (sweep_spread_flag / dropped re-run
    // rows) is contention evidence, not anchor evidence: the gate is
    // not applicable to it (VERDICT r20 item 1 — the driver's
    // contended board turned this suite red with zero code change).
    val text = read("BENCH_DETAIL.json")
    val anchors = graft.Bench.loadAnchors("ANCHORS.json")
    val meds = QueryProbe.parseMedians(text)
    assert(anchors.nonEmpty && meds.nonEmpty)
    if (QueryProbe.selfFlagged(text))
      cancel("board self-flagged as contended (sweep_spread_flag/dropped) — drift gate skipped")
    val flags = graft.Bench.anchorFlags(meds, anchors)
    assert(flags.isEmpty, s"stale board/anchors: $flags")
  }

  test("selfFlagged reproduces the r20 contended-board case") {
    // literal fragments of the shapes Bench emits: the r20 driver board
    // carried both markers; a clean board carries neither
    val contended =
      """{"total":177.050,"sweeps":[{"sweep":1,"sum":228.291,"calib_flag":true,"dropped":true},
        |{"sweep":4,"sum":147.052,"rerun_of":1}],"sweep_spread":0.581,"sweep_spread_flag":true}""".stripMargin
    val spreadOnly = """{"total":150.0,"sweep_spread":0.181,"sweep_spread_flag":true}"""
    val clean = """{"total":140.8,"sweeps":[{"sweep":1,"sum":46.9}],"sweep_spread":0.013}"""
    assert(QueryProbe.selfFlagged(contended))
    assert(QueryProbe.selfFlagged(spreadOnly))
    assert(!QueryProbe.selfFlagged(clean))
  }

  test("patch entries parse back through Bench.parseAnchors") {
    val patch = Seq(
      QueryProbe.patchEntry("q9", 0.678, 0.6, "r19", "0.284/0.291"),
      QueryProbe.patchEntry("q210", 1.361, 1.2, "r19", "0.284/0.291"))
      .mkString(",\n")
    val parsed = graft.Bench.parseAnchors("{\n" + patch + "\n}")
    assert(parsed == Map("q9" -> (0.68, 0.6), "q210" -> (1.36, 1.2)), patch)
  }

  test("a synthetic stale-anchor board names exactly the movers") {
    val anchors = Map("q1" -> (0.5, 0.4), "q2" -> (0.5, 0.4), "q3" -> (2.0, 1.8))
    val meds = Seq("q1" -> 1.2, "q2" -> 0.55, "q3" -> 0.6)
    // q1: >=2x both bounds -> flags; q2 steady; q3 fast-flag (<=0.5x hot)
    val flagged = graft.Bench.anchorFlags(meds, anchors).map(_._1).toSet
    assert(flagged == Set("q1", "q3"), flagged.toString)
  }

  test("--arm runs interleave, report one median pair per arm, and restore the conf") {
    val key = "spark.sql.adaptive.enabled"
    val (arms, pos) = QueryProbe.splitArms(
      List("q1", "--arm", s"$key=true", "/sf", "--arm", s"$key=false"))
    assert(arms == Vector(s"$key=true", s"$key=false"))
    assert(pos == Vector("q1", "/sf"))
    val before = spark.conf.getOption(key)
    val q1 = graft.SparkEntry.all.find(_.name == "q1_agg").get
    // record the value each timed run saw: cold+hot per arm, arms in turn
    val seen = Vector.newBuilder[String]
    val q = q1.copy(run = (s, d) => { seen += s.conf.get(key); q1.run(s, d) })
    val res = QueryProbe.probe(spark, "/root/testdata/sf0.001", q, 2, arms)
    assert(res.map(_.arm) == arms)
    assert(res.forall(p => p.cold.size == 2 && p.hot.size == 2 &&
      (p.cold ++ p.hot).forall(_ > 0)), res)
    assert(seen.result() == Vector.fill(2)(Vector("true", "true", "false", "false")).flatten)
    assert(spark.conf.getOption(key) == before)
  }
}
