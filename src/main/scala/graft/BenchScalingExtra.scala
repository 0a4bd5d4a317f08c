package graft

import graft.core.Tier
import graft.operators.Rollup
import graft.sources.TokenTable
import java.nio.file.Files
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Scaling-gate diagnostic (NOT the driver contract — that is [[Bench]],
 * frozen): measures the fused 1m rollup at local[N] vs local[4N] over TWO
 * inputs of identical content —
 *
 *   1. the `rangePoints` generator (exactly Bench's primary-metric job),
 *   2. the SAME points pre-materialized to parquet (written once per run,
 *      outside every timed region),
 *
 * so the generator's share of the gate measurement is isolated: if the
 * parquet-input efficiency is materially higher, the generator (one
 * `spark.range` + per-point arithmetic, memory-bandwidth-bound at 16
 * threads) — not the rollup aggregate — is what drags the Bench gate
 * number (round-7 VERDICT ask). The driver gate itself stays generator-
 * based; this main only attributes the cost.
 *
 * Env: SPARK_GRAFT_BENCH_DOCS (default 4,000,000 → 1.024B points),
 * SPARK_GRAFT_SCALE_REPS (default 3). The materialized points (~4 GB of
 * parquet at the default size) go to a fresh temp directory that is
 * deleted when the run ends. Prints one summary line per input kind;
 * appends nothing to BENCH.md (rows there stay Bench-authored).
 */
object BenchScalingExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def consumeAll(df: DataFrame): Long = BenchActions.consumeAll(df)

  /** Sums task CPU time from TaskEnd events. [[settledCpuNs]] waits for
   * a marker job's JobEnd instead of sleeping: the listener bus delivers
   * events in order, so once that JobEnd is in, every TaskEnd posted
   * before it has been counted. */
  private final class CpuListener extends SparkListener {
    private var cpuNs = 0L
    private val ended = mutable.HashSet.empty[Int]

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += e.jobId
      notifyAll()
    }

    /** Task CPU nanoseconds of every task that ended before this call. */
    def settledCpuNs(sc: SparkContext): Long = {
      val marker = sc.parallelize(Seq(1), 1).countAsync()
      marker.get()
      val id = marker.jobIds.head
      synchronized {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!ended(id) && System.nanoTime() < deadline) wait(1000)
        if (!ended(id)) throw new IllegalStateException("listener barrier not reached in 60 s")
        cpuNs
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "4000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val tmp = Files.createTempDirectory("graft_scaling_points_")
    try measure(docs, reps, tmp.resolve("points").toString)
    finally {
      val walk = Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  private def measure(docs: Long, reps: Int, dir: String): Unit = {
    val tokens = 256
    val pts = docs * tokens
    // materialize once (untimed): identical rows to the generator
    val w = session(16)
    TokenTable
      .rangePoints(w, docs, tokens, partitions = 256)
      .write
      .parquet(dir)
    w.stop()

    // wall and CPU of the same repetition: the one with the lowest wall
    final case class Level(wall: Double, cpu: Double)
    def faster(a: Level, b: Level): Level = if (b.wall < a.wall) b else a
    def level(cores: Int, input: SparkSession => DataFrame): Level = {
      val s = session(cores)
      val cpu = new CpuListener
      s.sparkContext.addSparkListener(cpu)
      // warmup / JIT on a small slice
      consumeAll(Rollup.rollupFromPoints(TokenTable.rangePoints(s, 50000, tokens, 64), Tier.OneMinute))
      var best = Level(Double.MaxValue, Double.MaxValue)
      for (_ <- 1 to reps) {
        val c0 = cpu.settledCpuNs(s.sparkContext)
        val t0 = System.nanoTime()
        consumeAll(Rollup.rollupFromPoints(input(s), Tier.OneMinute))
        val sec = (System.nanoTime() - t0) / 1e9
        best = faster(best, Level(sec, (cpu.settledCpuNs(s.sparkContext) - c0) / 1e9))
      }
      s.stop()
      best
    }

    val kinds: Seq[(String, SparkSession => DataFrame)] = Seq(
      "generator" -> (s => TokenTable.rangePoints(s, docs, tokens, partitions = 256)),
      "parquet" -> (s => s.read.parquet(dir)))
    for ((kind, input) <- kinds) {
      // interleave N / 4N like Bench (host-noise discipline)
      var n = Level(Double.MaxValue, Double.MaxValue)
      var n4 = Level(Double.MaxValue, Double.MaxValue)
      for (_ <- 1 to 2) {
        n = faster(n, level(4, input))
        n4 = faster(n4, level(16, input))
      }
      val eff = (pts / n4.wall) / (4.0 * (pts / n.wall))
      println(
        f"""{"kind":"$kind","points":$pts,"n_sec":${n.wall}%.3f,"4n_sec":${n4.wall}%.3f,""" +
          f""""n_pps":${pts / n.wall}%.0f,"4n_pps":${pts / n4.wall}%.0f,""" +
          f""""scaling_efficiency":$eff%.3f,"n_cpu_sec":${n.cpu}%.1f,"4n_cpu_sec":${n4.cpu}%.1f,""" +
          f""""cpu_per_point_ratio":${n4.cpu / n.cpu}%.3f}""")
    }
  }
}
