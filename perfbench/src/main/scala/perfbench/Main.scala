package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.{Caches, SparkEntry}
import graft.registry.{Corpus, Registry, RegistryTables, Search, TrialMerge}
import graft.sinks.{Sinks, Xlsx}

/** Drives one workload against inputs that `run.py` generated into the
  * work directory, and writes `result.json` there: per-op wall times,
  * failures, set-up times and, when traced, per-layer metrics.
  *
  * Usage: Main --workload search|board --work DIR --seconds S --trace 0|1
  */
object Main {
  val Cpus = "4"
  val SetupReps = 3

  /** One timed op; `key` names the op of the mix it ran. */
  final case class Op(ms: Double, ok: Boolean, err: String, key: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = new Trace(a("trace") == "1")
    val out = a("workload") match {
      case "search" => new SearchLoop(work, seconds, trace).run()
      case "board"  => new Board(work, seconds, trace).run()
      case w        => sys.error(s"unknown workload $w")
    }
    Files.writeString(work.resolve("result.json"), out.json, UTF_8)
  }

  def session(work: Path): SparkSession = {
    val s = graft.core.SessionTuning.configure(graft.core.LocalDirs.configure(SparkSession.builder()))
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)) }

  /** An op's output check, to run after its clock stops: the program's
    * error if it threw, else `check`. */
  def checked(err: Option[String])(check: => Option[String]): () => Option[String] =
    () => err.orElse(check)

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Bytes held by persisted RDDs/frames, and how many there are. */
  def resident(s: SparkSession): (Int, Double) = {
    val info = s.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (info.length, info.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** What a workload hands back to run.py. */
final class Result(val ops: Seq[Main.Op], val mix: Int, val setupS: Seq[Double],
    val measuredS: Double, val layers: Seq[(String, Double)], val extra: Seq[(String, Double)]) {
  import Main.str
  def json: String = {
    val opsJ = ops.map(o => s"""{"ms":${o.ms},"ok":${o.ok},"err":${str(o.err)},"key":${str(o.key)}}""")
      .mkString("[", ",", "]")
    def kv(xs: Seq[(String, Double)]) = xs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"ops":$opsJ,"mix":$mix,"setup_s":${setupS.mkString("[", ",", "]")},"measured_s":$measuredS,""" +
      s""""peak_rss_mb":${Main.peakRssMb},"layers":${kv(layers)},"extra":${kv(extra)}}"""
  }
}

/** Common frame: repeated set-up in fresh sessions, then a closed loop
  * of ops until the time is up and every op of the mix ran once (twice
  * when traced: once traced, once not). */
abstract class Workload(work: Path, seconds: Double, trace: Trace) {
  import Main._

  /** One set-up of a fresh session (timed together with its start). */
  def setup(s: SparkSession): Unit
  /** Untimed work after the last set-up and before the loop. */
  def warm(s: SparkSession): Unit = ()
  /** One op: the program's calls, which the loop times. Returns the
    * output check, which the loop runs after the clock stops: None when
    * the output is correct, else an error text. `i` counts ops. */
  def op(s: SparkSession, i: Int): () => Option[String]
  /** Layer state read after each traced op, outside the clock. */
  def sample(s: SparkSession): Unit = ()
  def layers(s: SparkSession): Seq[(String, Double)]
  def extra(s: SparkSession): Seq[(String, Double)] = Nil
  /** Distinct ops in the mix (request templates, board queries). */
  def mix: Int
  /** Which op of the mix op `i` runs; latencies are read per key. */
  def key(i: Int): String
  /** In a traced run, whether op `i` is traced; the others measure the
    * same ops untraced, which gives the tracing overhead. */
  def traced(i: Int): Boolean = i % 2 == 0
  private val tracedMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val untracedMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Over the keys that ran both ways, the median of traced minus
    * untraced median wall time. */
  private def overheadMs: Double = {
    val both = tracedMs.keySet.intersect(untracedMs.keySet).toSeq
    require(both.nonEmpty, "no op of the mix ran both traced and untraced")
    median(both.map(k => median(tracedMs(k).toSeq) - median(untracedMs(k).toSeq)))
  }

  def run(): Result = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    for (_ <- 1 to SetupReps) {
      if (s != null) { Caches.releaseAll(s); s.stop() }
      val t0 = System.nanoTime()
      s = session(work)
      setup(s)
      setups += (System.nanoTime() - t0) / 1e9
    }
    warm(s)
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var i = 0
    val minOps = if (trace.enabled) 2 * mix else mix
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = trace.enabled && traced(i)
      if (on) trace.begin(s, i)
      val (check, ms) = timed(op(s, i))
      trace.end()
      if (on) sample(s)
      val err = check()
      ops += Op(ms, err.isEmpty, err.getOrElse(""), key(i))
      if (err.isEmpty) (if (on) tracedMs else untracedMs).getOrElseUpdate(key(i), mutable.ArrayBuffer.empty) += ms
      i += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    val ls = if (trace.enabled) {
      trace.begin(s, -1)
      try layers(s) :+ ("trace.overhead_ms" -> overheadMs)
      finally trace.end()
    } else Nil
    val ex = extra(s)
    Caches.releaseAll(s)
    s.stop()
    new Result(ops.toSeq, mix, setups.toSeq, measured, ls, ex)
  }
}

/** `search`: each set-up is the registry ETL (corpus → Registry.load →
  * the four tables written through Sinks.parquet); the loop is one
  * client sending Search.export + Xlsx requests, closed loop. */
final class SearchLoop(work: Path, seconds: Double, trace: Trace) extends Workload(work, seconds, trace) {
  import Main._
  private val corpus = work.resolve("corpus.txt").toString
  private val corpusBytes = Files.size(Paths.get(corpus)).toDouble
  private val etlOut = work.resolve("etl")
  private val TrialCols = Seq("official_title", "overall_status", "condition", "phase3",
    "placebo", "enrollment", "nct_id", "completion_date")

  final case class Req(q: Search.Query, hits: Int, template: String)
  private def load(name: String): IndexedSeq[Req] =
    Files.readAllLines(work.resolve(name), UTF_8).asScala.toIndexedSeq.map { line =>
      val f = line.split("\t", -1)
      def opt(i: Int) = Option(f(i)).filter(_.nonEmpty)
      Req(Search.Query(opt(2), opt(3), opt(4), opt(5)), f(0).toInt, f(1))
    }
  private val reqs = load("requests.tsv")
  private val warmReqs = load("warm_requests.tsv")
  private var tables: RegistryTables = _
  private var setups = 0
  private val xlsxBytes = mutable.ArrayBuffer.empty[Double]
  private var residentMb = 0.0

  /** Parse + merge once, then write the four views; run.py checks them. */
  private def etl(s: SparkSession, out: Path): RegistryTables = {
    val t = trace.span("Registry.load")(Registry.load(s, corpus))
    trace.span("merged.materialize")(t.merged.count())
    Seq("trial" -> t.trials, "imp" -> t.imp, "sponsor" -> t.sponsor, "location" -> t.location)
      .foreach { case (name, df) =>
        trace.span("Sinks.parquet")(Sinks.parquet(df, out.resolve(name).toString))
      }
    t
  }

  def setup(s: SparkSession): Unit = {
    setups += 1
    tables = etl(s, etlOut.resolve(s"setup_$setups"))
  }

  override def warm(s: SparkSession): Unit = {
    residentMb = resident(s)._2
    warmReqs.indices.foreach(request(s, warmReqs, _)())
  }

  /** Export and write the workbook; the check counts its data rows
    * against the generator's hit count (reads the file, not the
    * program's state). */
  private def request(s: SparkSession, rs: IndexedSeq[Req], i: Int): () => Option[String] = {
    val r = rs(i % rs.size)
    val file = work.resolve("xlsx").resolve(s"req_${i % 4}.xlsx")
    checked(attempt {
      val df = trace.span("Search.export")(Search.export(tables, r.q, TrialCols))
      trace.span("Xlsx.fromDataFrame")(Xlsx.fromDataFrame(df, file))
    }) {
      xlsxBytes += Files.size(file).toDouble
      val rows = Check.xlsxDataRows(file)
      if (rows == r.hits) None else Some(s"${r.template}: rows $rows != expected ${r.hits}")
    }
  }

  def op(s: SparkSession, i: Int): () => Option[String] = trace.span("search.request")(request(s, reqs, i))

  val mix: Int = reqs.map(_.template).distinct.size
  def key(i: Int): String = reqs(i % reqs.size).template

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The registry layers, from one traced ETL after the loop: stepwise
    * probes add one stage of the fused pipeline each, so differences
    * give each layer's own cost; then one whole ETL like the set-up. */
  private def etlLayers(s: SparkSession): Seq[(String, Double)] = {
    trace.span("Corpus.records")(noop(Corpus.records(s, corpus)))
    val spSplit = trace.named("Corpus.records").last
    val exCol = org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.ExtractRecord(org.apache.spark.sql.GraftColumnBridge.expression(
        org.apache.spark.sql.functions.col("rec"))))
    trace.span("ExtractRecord")(noop(Corpus.records(s, corpus).withColumn("ex", exCol)))
    val spEx = trace.named("ExtractRecord").last
    val merged = trace.span("TrialMerge.merge")(TrialMerge.merge(s, corpus))
    trace.span("TrialMerge.action")(noop(merged))
    val spMerge = trace.named("TrialMerge.action").last
    val nRecords = Corpus.records(s, corpus).count().toDouble
    val nTrials = merged.count().toDouble
    Registry.release(s)
    val out = etlOut.resolve("traced")
    trace.span("etl")(etl(s, out))
    trace.drain()
    val cSplit = trace.sum(spSplit); val cEx = trace.sum(spEx); val cMerge = trace.sum(spMerge)
    def ms(name: String) = trace.named(name).filter(x => trace.subtree(trace.named("etl").last)(x.id)).map(_.ms).sum
    Seq(
      "corpus.split_s" -> spSplit.ms / 1e3,
      "corpus.records" -> nRecords,
      "corpus.tasks" -> cSplit.tasks.toDouble,
      "extract.s" -> (spEx.ms - spSplit.ms) / 1e3,
      "extract.cpu_s" -> (cEx.cpuNs - cSplit.cpuNs) / 1e9,
      "merge.s" -> (spMerge.ms - spEx.ms) / 1e3,
      "merge.shuffle_write_mb" -> cMerge.shuffleWrite / 1e6,
      "merge.spill_mb" -> cMerge.spill / 1e6,
      "merge.records_per_trial" -> nRecords / nTrials,
      "views.s" -> ms("Registry.load") / 1e3,
      "registry.materialize_s" -> ms("merged.materialize") / 1e3,
      "sinks.parquet_s" -> ms("Sinks.parquet") / 1e3,
      "sinks.bytes_per_input_byte" -> dirBytes(out) / corpusBytes)
  }

  def layers(s: SparkSession): Seq[(String, Double)] = {
    val reqSpans = trace.named("search.request")
    val sums = reqSpans.map(trace.sum)
    def kids(p: Span, name: String) = trace.spans.filter(x => x.parent == p.id && x.name == name)
    val xl = reqSpans.flatMap(kids(_, "Xlsx.fromDataFrame"))
    val hits = reqSpans.map(p => reqs(p.req % reqs.size).hits.toDouble).sum
    Seq(
      "search.construct_ms" -> median(reqSpans.flatMap(kids(_, "Search.export")).map(_.ms)),
      "search.plan_ms" -> median(sums.map(_.planMs)),
      "search.exec_ms" -> median(xl.map(trace.jobMs)),
      "search.jobs_per_req" -> sums.map(_.jobs.toDouble).sum / math.max(1, sums.size),
      "search.stages_per_req" -> sums.map(_.stages.toDouble).sum / math.max(1, sums.size),
      "search.rows_read_per_row_out" -> sums.map(_.leafRows.toDouble).sum / math.max(1.0, hits),
      "xlsx.write_ms" -> median(xl.map(x => x.ms - trace.jobMs(x))),
      "xlsx.bytes" -> median(xlsxBytes.toSeq),
      "registry.resident_mb" -> residentMb) ++ etlLayers(s)
  }

  override def extra(s: SparkSession): Seq[(String, Double)] = Seq("corpus_mb" -> corpusBytes / 1e6)
}

/** `board`: the operator registry through the noop sink, one fixed
  * stratified sample of queries in a seed-shuffled order. */
final class Board(work: Path, seconds: Double, trace: Trace) extends Workload(work, seconds, trace) {
  import Main._
  private val dir = work.resolve("fixture").toString
  private val byName = SparkEntry.all.map(q => q.name -> q).toMap
  /** (query, expected rows) in run order. */
  private val order: IndexedSeq[(graft.core.Q, Long)] =
    Files.readAllLines(work.resolve("board_order.tsv"), UTF_8).asScala.toIndexedSeq.map { l =>
      val Array(n, rows) = l.split("\t")
      byName(n) -> rows.toLong
    }
  private val builds = mutable.ArrayBuffer.empty[(String, Double)]
  private var warmS = 0.0
  private val residentMax = Array(0.0, 0.0)

  def setup(s: SparkSession): Unit =
    builds ++= Caches.prebuild(s, dir, order.map(_._1.name).toSet)

  override def warm(s: SparkSession): Unit =
    warmS = order.indices.map { i => val (check, ms) = timed(run(s, i)); check(); ms }.sum / 1e3

  private var runs = 0
  /** Build and run the query; the check compares the observed row count,
    * which the listener bus delivers, with the expectation. */
  private def run(s: SparkSession, i: Int): () => Option[String] = {
    val (q, rows) = order(i % order.size)
    runs += 1
    val obs = Observation(s"rows_$runs")
    checked(attempt {
      val df = trace.span("Q.run")(q.run(s, dir))
      trace.span("noop.write")(df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
    }) {
      val got = obs.get("n").asInstanceOf[Long]
      if (got == rows) None else Some(s"${q.name}: rows $got != expected $rows")
    }
  }

  def op(s: SparkSession, i: Int): () => Option[String] = trace.span("board.query")(run(s, i))

  override def sample(s: SparkSession): Unit = {
    val (n, sz) = resident(s)
    residentMax(0) = math.max(residentMax(0), n); residentMax(1) = math.max(residentMax(1), sz)
  }

  def mix: Int = order.size
  def key(i: Int): String = order(i % order.size)._1.name

  /** Alternate by position and flip each sweep, so any two sweeps in a
    * row run every query once traced and once not, half of them traced
    * first. */
  override def traced(i: Int): Boolean = (i % order.size + i / order.size) % 2 == 0

  def layers(s: SparkSession): Seq[(String, Double)] = {
    // per-sweep figures: each query's mean over its traced runs, summed
    val byQuery = trace.named("board.query").groupBy(p => key(p.req)).values.toSeq
    require(byQuery.size == order.size, "the traced ops did not run every query of the sample")
    def perSweep(f: Span => Double): Double = byQuery.map(ps => ps.map(f).sum / ps.size).sum
    def kid(p: Span, name: String) = trace.spans.filter(x => x.parent == p.id && x.name == name)
    def total(f: Counters => Double)(p: Span) = f(trace.sum(p))
    val cpuS = perSweep(total(_.cpuNs / 1e9))
    builds.map(_._1).distinct.map(f => s"caches.build.${f}_s" -> median(builds.filter(_._1 == f).map(_._2).toSeq)).toSeq ++ Seq(
      "caches.resident_frames_max" -> residentMax(0),
      "caches.resident_mb_max" -> residentMax(1),
      "board.warm_sweep_s" -> warmS,
      "board.construct_s" -> perSweep(kid(_, "Q.run").map(_.ms).sum) / 1e3,
      "board.construct_jobs" -> perSweep(kid(_, "Q.run").map(total(_.jobs.toDouble)).sum),
      "board.plan_s" -> perSweep(total(_.planMs)) / 1e3,
      "board.exec_s" -> perSweep(kid(_, "noop.write").map(_.ms).sum) / 1e3,
      "board.jobs" -> perSweep(total(_.jobs.toDouble)),
      "board.stages" -> perSweep(total(_.stages.toDouble)),
      "board.tasks" -> perSweep(total(_.tasks.toDouble)),
      "board.executor_cpu_s" -> cpuS,
      "board.cpu_frac" -> cpuS / (perSweep(_.ms) / 1e3 * Cpus.toInt),
      "board.shuffle_write_mb" -> perSweep(total(_.shuffleWrite.toDouble)) / 1e6,
      "board.spill_mb" -> perSweep(total(_.spill.toDouble)) / 1e6,
      "board.gc_s" -> perSweep(total(_.gcMs.toDouble)) / 1e3)
  }

}

/** Output checks that read files, never the program's own state. */
object Check {
  /** Data rows of the first worksheet: `<row` elements minus the header. */
  def xlsxDataRows(file: Path): Int = {
    val zip = new java.util.zip.ZipFile(file.toFile)
    try {
      val e = zip.getEntry("xl/worksheets/sheet1.xml")
      val text = new String(zip.getInputStream(e).readAllBytes(), UTF_8)
      "<row[ >]".r.findAllMatchIn(text).size - 1
    } finally zip.close()
  }
}
