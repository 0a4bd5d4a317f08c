package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.jobs.{RollupJob, SnapshotStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark harness: runs one workload as a closed loop (one client; each
 * operation starts when the previous one has returned) and writes its
 * spans, set-up times and output digests as JSON for `run.py`, which checks
 * the outputs and derives the metrics.
 *
 * {{{
 *   graft.perfbench.Main <workload> <seconds> <traced 0|1> <inputs> <work> <out.json> [key=value ...]
 * }}}
 */
object Main {

  final class Run(
      val spark: SparkSession,
      val tracer: Tracer,
      val seconds: Double,
      val inputs: String,
      val work: Path,
      val params: Map[String, String]) {
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    private var heapPeak = 0L
    private var t0 = System.nanoTime()

    /** Seconds since the last set-up ended: the measured loop's clock. */
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    /** Live heap after set-up and after each unit of the loop (a pass of
     * the query list, a ladder run): the least heap in use over three full
     * collections, outside any timed span. Spark frees an operation's
     * shuffle and broadcast state on its cleaner thread once a collection
     * has found it unreachable, so one collection alone can still count it. */
    def sampleHeap(): Unit = {
      val live = (1 to 3).map { _ =>
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }.min
      heapPeak = math.max(heapPeak, live)
    }

    def heapPeakMb: Double = heapPeak / 1048576.0

    def setup(reps: Int)(body: => Unit): Unit = {
      for (_ <- 1 to reps) {
        val s = System.nanoTime()
        body
        setupS += (System.nanoTime() - s) / 1e9
      }
      sampleHeap()
      t0 = System.nanoTime()
    }

    /** Runs one operation; a failure is recorded on its span and the loop
     * goes on. */
    def op(wl: Span, name: String)(body: Span => Unit): Unit = {
      tracer.operation(wl, name) { s =>
        try { body(s); s.attrs("ok") = true }
        catch {
          case NonFatal(e) =>
            s.attrs("ok") = false
            s.attrs("error") = e.toString.take(500)
        }
      }
    }

    def store(name: String): SnapshotStore = new SnapshotStore(work.resolve(name).toString)
  }

  private val Tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings")

  /** Count and order-free hash over every column: the frozen Bench's
   * full-consumption action, keeping both values as the output digest. */
  private def digestFrame(df: DataFrame): DataFrame =
    df.select(count(lit(1)).as("n"), sum(hash(df.columns.map(col): _*).cast("long")).as("h"))

  // -- query_suite ---------------------------------------------------------

  private def querySuite(r: Run, wl: Span): Unit = {
    val spark = r.spark
    val queries = SparkEntry.queries
    val order =
      if (r.params("queries") == "*") queries.keys.toSeq.sorted
      else r.params("queries").split(",").toSeq
    // at least `passes` passes over the list; run.py keeps each query's
    // fastest execution, which drops the first pass's compilation and any
    // seconds-long burst of host slowness that hits one pass
    val minPasses = r.params("passes").toInt
    r.setup(3)(Tables.foreach(t => spark.read.parquet(s"${r.inputs}/$t.parquet").count()))
    var passes = 0
    while (passes < minPasses || r.elapsed < r.seconds) {
      for (name <- order) r.op(wl, name) { op =>
        val t = r.tracer
        val agg = t.phase(op, "build")(digestFrame(queries(name)(spark, r.inputs)))
        val qe = agg.queryExecution
        t.phase(op, "analyze")(qe.analyzed)
        t.phase(op, "optimize")(qe.optimizedPlan)
        t.phase(op, "plan")(qe.executedPlan)
        val row = t.phase(op, "execute")(agg.collect().head)
        op.attrs("rows") = row.getLong(0)
        op.attrs("hash") = if (row.isNullAt(1)) 0L else row.getLong(1)
      }
      passes += 1
      r.sampleHeap()
    }
  }

  // -- rollup_job -----------------------------------------------------------

  private val LadderTiers = Seq("1m", "5m", "1h", "1d")

  private def storeStats(dir: Path): (Long, Long, Long) = {
    val walk = Files.walk(dir)
    try {
      val files = walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong,
        files.count(p => p.getParent.getFileName.toString == "_snapshots").toLong)
    } finally walk.close()
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  private def rollupJob(r: Run, wl: Span): Unit = {
    val spark = r.spark
    val horizons = r.params("horizons").split(",").map(_.toLong).toSeq
    var n = 0
    def ladder(): (Path, Map[String, RollupJob.StageResult]) = {
      n += 1
      val dir = r.work.resolve(s"rollup_store_$n")
      (dir, RollupJob.run(spark, r.inputs, dir.toString, ladderHorizons = horizons))
    }
    // at least two ladder runs, each into a fresh store; run.py keeps the
    // fastest, which drops the first run's compilation of the write path
    // and any burst of host slowness that hits one run
    val minRuns = r.params("runs").toInt
    // seven opens: each takes about 0.3 s once warm, so the median of fewer
    // moves by a quarter from run to run
    r.setup(7)(spark.read.parquet(s"${r.inputs}/documents.parquet").count())
    var runs = 0
    while (runs < minRuns || r.elapsed < r.seconds) {
      runs += 1
      var out: Option[(Path, Map[String, RollupJob.StageResult])] = None
      r.op(wl, "ladder") { op =>
        val res = r.tracer.phase(op, "run")(ladder())
        out = Some(res)
        res._2.foreach { case (stage, s) => op.attrs(s"stage_ms.$stage") = s.wallMs }
      }
      r.sampleHeap()
      // outside the timed operation: bytes on disk and the tier totals
      out.foreach { case (dir, res) =>
        val (bytes, files, snaps) = storeStats(dir)
        val sums = LadderTiers.map { tier =>
          val row = r.store(dir.getFileName.toString)
            .read(spark, res(s"rollup_$tier").snap)
            .agg(sum(col("cnt_tok")).cast("long"), sum(col("sum_tok")).cast("long"))
            .collect().head
          tier -> Seq(row.getLong(0), row.getLong(1))
        }
        r.checks(s"tier_sums.$runs") = sums.toMap
        r.checks(s"store.$runs") = Map("bytes" -> bytes, "files" -> files, "snapshots" -> snaps)
        deleteTree(dir)
      }
    }
  }

  // -- main ---------------------------------------------------------------

  private def session(work: Path): SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seconds, traced, inputs, work, out) = argv.take(6)
    val params = argv.drop(6).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workDir = Paths.get(work)
    val t = System.nanoTime()
    val spark = session(workDir)
    val sessionS = (System.nanoTime() - t) / 1e9
    graft.functions.GraftFunctions.register(spark)
    val tracer = new Tracer(spark.sparkContext, traced == "1")
    val r = new Run(spark, tracer, seconds.toDouble, inputs, workDir, params)
    tracer.workload(workload) { wl =>
      workload match {
        case "query_suite" => querySuite(r, wl)
        case "rollup_job" => rollupJob(r, wl)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    val json = Json.obj(
      "workload" -> workload,
      "traced" -> tracer.traced,
      "session_s" -> sessionS,
      "setup_s" -> r.setupS.toSeq,
      "heap_live_peak_mb" -> r.heapPeakMb,
      "unsettled_jobs" -> tracer.unsettledJobs,
      "checks" -> r.checks.toMap,
      "spans" -> tracer.all.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs.toMap)
      })
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for the harness's own result file. */
private object Json {
  def obj(fields: (String, Any)*): String = render(fields.toMap)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
