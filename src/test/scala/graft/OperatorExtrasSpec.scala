package graft

import graft.core.{PatchSizing, Tier}
import graft.operators.{Downsample, Validity}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Round-2 operator extras: public extension registration, patch-size
 * constraint resolution, validity counters, chunked LTTB equivalence. */
class OperatorExtrasSpec extends SparkSpec {

  test("spark.sql.extensions=graft.GraftExtensions injects functions into new sessions") {
    // A brand-new session derived from the shared context; NO
    // GraftFunctions.register call — resolution must come from the
    // SparkSessionExtensions.injectFunction path.
    val fresh = spark.newSession()
    val row = fresh
      .sql(
        "SELECT aggregate(gorilla_decode(gorilla_encode(array(1.5D, -2.25D, 3.0D))), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x) AS s, " +
          "dot_q(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0)
    assert(row.getDouble(0) == 2.25)
    assert(row.getLong(1) == 1000L * 3000L + 2000L * 4000L)
  }

  test("registry reachability: every graft function has a call site outside graft/functions") {
    // A registered kernel that only tests reach is dead weight: each name
    // must be called from engine code (queries, jobs, streaming ops, the
    // bench mains) as a "name" literal or as name( in SQL/expression text.
    graft.functions.GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val names = registry
      .listFunction()
      .flatMap(registry.lookupFunction)
      .filter(_.getClassName == "graft.functions.expressions")
      .map(_.getName)
      .distinct
      .sorted
    assert(names.nonEmpty, "no graft functions registered in the session")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"source root not found: ${root.toAbsolutePath}")
    val own = root.resolve("graft/functions")
    val files = java.nio.file.Files.walk(root)
    val code =
      try files
          .iterator()
          .asScala
          .filter(p => p.toString.endsWith(".scala") && !p.startsWith(own))
          .map(p => stripComments(java.nio.file.Files.readString(p)))
          .mkString("\n")
      finally files.close()
    val unreached = names.filterNot { n =>
      code.contains("\"" + n + "\"") ||
      ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(n) + "\\(").r.findFirstIn(code).isDefined
    }
    assert(unreached.isEmpty,
      s"registered but never called outside graft/functions: ${unreached.mkString(", ")}")
  }

  test("patch-size resolution: reference DEFAULT_RANGES semantics") {
    // table mirrors transform/patch.py:59-70
    assert(PatchSizing.legalRange("S") == (64, 128))
    assert(PatchSizing.legalRange("T") == (32, 128))
    assert(PatchSizing.legalRange("H") == (32, 64))
    assert(PatchSizing.legalRange("Q") == (1, 8))
    // constraints ∩ candidates ∩ length-cap (patch.py:90-117)
    assert(PatchSizing.candidates("T", 577, 4) == Seq(32, 64, 128))
    assert(PatchSizing.candidates("T", 577, 8) == Seq(32, 64)) // cap 72
    assert(PatchSizing.candidates("H", 256, 2) == Seq(32, 64))
    assert(PatchSizing.resolve("H", 256, 2) == 64)
    // the engine's global bucket width is a legal hourly patch size
    assert(PatchSizing.candidates("H", 512, 2).contains(Tier.BucketWidth))
    // empty survivor set -> error with diagnostics (patch.py:106-115)
    val e = intercept[IllegalArgumentException](PatchSizing.resolve("T", 44, 2))
    assert(e.getMessage.contains("no valid patch size"))
    // unknown freq alias rejected
    intercept[IllegalArgumentException](PatchSizing.legalRange("X"))
  }

  test("LSF CSV modes select the loader's S/M/MS column sets") {
    import graft.sources.LsfCsv
    val out = s"/tmp/graft_csv_modes_test"
    LsfCsv.writeCsv(spark, sf("sf0.001"), out)
    assert(LsfCsv.read(spark, out, "S").columns.toSeq == Seq("doc_id", "n_chars"))
    assert(LsfCsv.read(spark, out, "M").columns.toSeq == Seq("doc_id", "source", "n_chars"))
    assert(LsfCsv.read(spark, out, "MS").columns.toSeq == Seq("doc_id", "source", "n_chars"))
    assert(LsfCsv.read(spark, out, "S").count() == 500)
    intercept[IllegalArgumentException](LsfCsv.read(spark, out, "X"))
    // declared schema (not inference) reaches the scan: one pass, typed
    // (the CSV relation forces nullable=true, so compare names + types)
    assert(
      LsfCsv.read(spark, out, "M").schema.map(f => (f.name, f.dataType)) ==
        LsfCsv.schema.map(f => (f.name, f.dataType)))
  }

  test("freq inference: pd.infer_freq analogue over the alias table") {
    import PatchSizing.inferFreq
    val Day = 86400L
    def grid(step: Long, n: Int, start: Long = 1700000000L): Seq[Long] =
      (0 until n).map(i => start + i * step)
    assert(inferFreq(grid(1, 10)) == Some("S"))
    assert(inferFreq(grid(60, 10)) == Some("T"))
    assert(inferFreq(grid(300, 10)) == Some("5T"))
    assert(inferFreq(grid(3600, 10)) == Some("H"))
    assert(inferFreq(grid(6 * 3600, 10)) == Some("6H"))
    assert(inferFreq(grid(Day, 10)) == Some("D"))
    assert(inferFreq(grid(7 * Day, 10)) == Some("W"))
    // business-daily: Mon..Fri steps with 3-day jumps ON WEEKENDS only
    // (1699833600 = Mon 2023-11-13 00:00 UTC)
    val bMon = 1699833600L
    val bdays = Seq(0L, 1, 2, 3, 4, 7, 8, 9, 10, 11, 14).map(d => bMon + d * Day)
    assert(inferFreq(bdays) == Some("B"))
    // same delta multiset but mid-week 3-day gaps -> irregular -> None
    // (Wed start: deltas 1d,3d land the jump off-Friday)
    val midweek = Seq(0L, 1, 4, 5, 8).map(d => bMon + 2 * Day + d * Day)
    assert(inferFreq(midweek).isEmpty)
    // calendar months (31/28/31-day spans), quarters, years incl. leap
    val months = Seq(0L, 31, 59, 90, 120, 151).map(d => 1704067200L + d * Day)
    assert(inferFreq(months) == Some("M"))
    // CONSTANT 31-day spans are still monthly (Dec->Jan->Feb), not "31D"
    assert(inferFreq(Seq(0L, 31, 62).map(d => 1701388800L + d * Day)) == Some("M"))
    // constant 28-day spans read as exact 4-week grid
    assert(inferFreq(grid(28 * Day, 5)) == Some("4W"))
    // constant 29/30-day grids are true k-day series, NOT monthly: no two
    // adjacent calendar months are both 29 or both 30 days long, so
    // pd.infer_freq reads '30D' (round-3 ADVICE fix)
    assert(inferFreq(grid(30 * Day, 5)) == Some("30D"))
    assert(inferFreq(grid(29 * Day, 5)) == Some("29D"))
    // constant 91/92-day spans CAN be quarterly (leap-year Q1->Q2 are both
    // 91 days — 2024-01-01/04-01/07-01; Q3->Q4 are both 92); constant
    // 365-day spans CAN be annual (consecutive non-leap years)
    assert(inferFreq(grid(92 * Day, 3)) == Some("Q"))
    assert(inferFreq(Seq(0L, 91, 182).map(d => 1704067200L + d * Day)) == Some("Q"))
    // annual needs calendar ANCHORING (round-4 ADVICE): equal 365-day runs
    // are "A" only when every stamp shares the same month/day (here Jan 1,
    // 2025-2027, no leap February crossed)...
    assert(inferFreq(grid(365 * Day, 3, start = 1735689600L)) == Some("A"))
    // ...while the same grid from an unanchored mid-November base drifts
    // across leap-2024 and reads as a plain fixed 365-day series
    assert(inferFreq(grid(365 * Day, 3)) == Some("365D"))
    // constant 90-day grids are NOT quarterly (no adjacent quarter pair
    // shares 90 days)
    assert(inferFreq(grid(90 * Day, 3)) == Some("90D"))
    // adjacency caps: at most TWO consecutive periods share these spans,
    // so three-or-more equal deltas are fixed grids, not calendar units
    assert(inferFreq(grid(31 * Day, 5)) == Some("31D"))
    assert(inferFreq(grid(91 * Day, 5)) == Some("13W"))
    assert(inferFreq(grid(92 * Day, 5)) == Some("92D"))
    // ...but constant ANCHORED 365-day runs stay annual at any length
    // (three consecutive non-leap years exist in every leap cycle)
    assert(inferFreq(grid(365 * Day, 4, start = 1735689600L)) == Some("A"))
    val quarters = Seq(0L, 91, 182, 274, 366).map(d => 1704067200L + d * Day)
    assert(inferFreq(quarters) == Some("Q"))
    val years = Seq(0L, 366, 731, 1096).map(d => 1704067200L + d * Day)
    assert(inferFreq(years) == Some("A"))
    // mixed 365/366 deltas WITHOUT a common month/day anchor are not
    // annual (2023-03-01 / 2024-02-29 / 2025-03-01): irregular -> None
    assert(inferFreq(Seq(0L, 365, 731).map(d => 1677628800L + d * Day)).isEmpty)
    // irregular / degenerate -> None (caller falls back to its default)
    assert(inferFreq(Seq(0L, 10, 15, 100)).isEmpty)
    assert(inferFreq(Seq(0L, 60)).isEmpty) // < 3 stamps
    assert(inferFreq(Seq(0L, 60, 60)).isEmpty) // non-increasing
    // normalization + end-to-end: "5T" resolves through the "T" range
    assert(PatchSizing.legalRange("5T") == PatchSizing.legalRange("T"))
    assert(
      PatchSizing.resolveFromTimestamps(grid(300, 577), 4) ==
        PatchSizing.resolve("T", 577, 4))
  }

  test("sampler registry: deterministic, bounded, and distribution-shaped") {
    import graft.core.Samplers
    val n = 100
    val draws = (0 until 4000).map(s => Samplers.uniform(s.toLong, n))
    assert(draws.forall(d => d >= 1 && d <= n))
    val mean = draws.sum.toDouble / draws.size
    assert(math.abs(mean - (n + 1) / 2.0) < 3.0, s"uniform mean $mean")
    // determinism pinned to GOLDEN values (independently recomputed from
    // the SplitMix64 spec in Python) — an algorithm/constant change fails
    // here, which a trivial f(x)==f(x) comparison would not catch
    assert(Samplers.uniform(42L, n) == 14)
    assert(Samplers.binomial(42L, n) == 45)
    // adjacent seeds draw DECORRELATED streams, not sliding windows of one
    // shared Bernoulli sequence: neighboring binomial draws must not be
    // bounded-increment neighbors systematically
    val adj = (0 until 500).map(s => Samplers.binomial(s.toLong, n))
    val bigJumps = adj.sliding(2).count(p => math.abs(p(1) - p(0)) > 3)
    assert(bigJumps > 200, s"adjacent-seed draws look correlated ($bigJumps/499 big jumps)")
    val bin = (0 until 4000).map(s => Samplers.binomial(s.toLong, n))
    assert(bin.forall(d => d >= 1 && d <= n))
    assert(math.abs(bin.sum.toDouble / bin.size - ((n - 1) * 0.5 + 1)) < 1.0)
    // beta-binomial with a=b=1 matches the uniform sampler's mean
    val bb = (0 until 4000).map(s => Samplers.betaBinomial(s.toLong, n))
    assert(bb.forall(d => d >= 1 && d <= n))
    assert(math.abs(bb.sum.toDouble / bb.size - (n + 1) / 2.0) < 3.0)
    // skewed beta shifts the mass: a=2,b=8 -> mean p = 0.2
    val sk = (0 until 4000).map(s => Samplers.betaBinomial(s.toLong, n, 2, 8))
    assert(math.abs(sk.sum.toDouble / sk.size - ((n - 1) * 0.2 + 1)) < 2.0)
    // large shapes terminate (Johnk's acceptance collapses there; the
    // gamma-ratio path must take over) and concentrate near the mean
    val big = (0 until 500).map(s => Samplers.betaBinomial(s.toLong, n, 20, 20))
    assert(big.forall(d => d >= 1 && d <= n))
    assert(math.abs(big.sum.toDouble / big.size - ((n - 1) * 0.5 + 1)) < 2.0)
    intercept[IllegalArgumentException](Samplers.get("zipf"))
    assert(Samplers.get("uniform")(7L, 10) == Samplers.uniform(7L, 10))
  }

  test("seasonality map follows the gluonts get_seasonality rule incl. multiples") {
    import graft.core.Seasonality
    assert(Seasonality.of("H") == 24)
    assert(Seasonality.of("T") == 1440)
    assert(Seasonality.of("S") == 3600)
    assert(Seasonality.of("D") == 1)
    assert(Seasonality.of("B") == 5)
    assert(Seasonality.of("M") == 12)
    assert(Seasonality.of("Q") == 4)
    // multiplied alias divides the base period when possible, else 1
    assert(Seasonality.of("6H") == 4)
    assert(Seasonality.of("5T") == 288)
    assert(Seasonality.of("7H") == 1) // 24 not divisible by 7
    assert(Seasonality.of("X") == 1) // unknown alias
  }

  test("AddVariateIndex: deterministic permutation is a bijection within max_dim") {
    import graft.operators.Reshape
    val df = spark
      .range(20)
      .selectExpr("id AS vec_id", "explode(sequence(0, 63)) AS d")
    val out = Reshape.addVariateIndex(df, "vec_id", "d", 128, "variate_id")
    // every id in range, and distinct within each vector (injective)
    assert(out.filter("variate_id < 0 OR variate_id >= 128").count() == 0)
    val collisions = out
      .groupBy("vec_id", "variate_id")
      .count()
      .filter("count > 1")
      .count()
    assert(collisions == 0, "permutation must be injective per vector")
    // and actually permuted (not the identity for every vector)
    assert(out.filter("variate_id != d").count() > 0)
  }

  test("AddVariateIndex hard-errors on dim >= max_dim (reference assert, no silent wrap)") {
    import graft.operators.Reshape
    val df = spark.range(2).selectExpr("id AS vec_id", "explode(sequence(0, 5)) AS d")
    val out = Reshape.addVariateIndex(df, "vec_id", "d", 4, "variate_id")
    val e = intercept[Exception](out.collect())
    assert(e.getMessage.contains("exceeds max_dim") || e.getCause != null)
  }

  test("padTo pads non-int element types with matching NULLs") {
    import graft.operators.PadResample
    val df = spark
      .range(3)
      .selectExpr("id", "transform(sequence(0L, id), x -> CAST(x AS DOUBLE)) AS vals")
    val out = PadResample.padTo(df, "vals", "id", lit(5), "padded")
    val rows = out
      .selectExpr(
        "size(padded) AS n",
        "size(filter(padded, x -> x IS NULL)) AS nn",
        "aggregate(filter(padded, x -> x IS NOT NULL), 0D, (a, x) -> a + x) AS s")
      .collect()
    assert(rows.forall(_.getInt(0) == 5))
    assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(2, 3, 4))
    // and the data values survive as doubles
    assert(rows.map(_.getDouble(2)).sorted.toSeq == Seq(0.0, 1.0, 3.0))
  }

  test("NOP scaler: loc=0/scale=1 columns, identity under (x - loc) / scale") {
    // PackedNOPScaler (packed_scaler.py:63-75) — the third scaler, the
    // "scaling off" switch with the same (loc, scale) interface.
    val df = spark.range(5).selectExpr("id", "CAST(id * 3 - 7 AS DOUBLE) AS x")
    val out = graft.operators.Scalers.nop(df)
    assert(out.columns.toSeq == Seq("id", "x", "loc", "scale"))
    val rows = out.selectExpr("x", "(x - loc) / scale AS scaled").collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("fixed patch-size constraints behave like the reference's FixedPatchSizeConstraints") {
    assert(PatchSizing.fixedRange(16, 32) == (16, 32))
    intercept[IllegalArgumentException](PatchSizing.fixedRange(32, 16))
  }

  test("validity filter counts skipped rows via observe (no extra pass)") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val expectedShort = docs.filter(col("n_chars") < 200).count()
    val total = docs.count()
    val (valid, obs) =
      Validity.filterWithCounter(docs, col("n_chars") >= 200, "validity-test")
    val kept = valid.count() // the action that materializes the counters
    assert(obs.get("skipped").asInstanceOf[Long] == expectedShort)
    assert(obs.get("total").asInstanceOf[Long] == total)
    assert(kept == total - expectedShort)
  }

  test("validity counter includes NULL-predicate rows (skipped + kept == total)") {
    import spark.implicits._
    // x = null rows make the predicate x >= 2 evaluate to NULL: dropped by
    // the filter, and they must be COUNTED as skipped (ADVICE round 2).
    val df = Seq[(Int, Option[Int])]((1, Some(5)), (2, None), (3, Some(1)), (4, None))
      .toDF("id", "x")
    val (valid, obs) = Validity.filterWithCounter(df, col("x") >= 2, "validity-null-test")
    val kept = valid.count()
    assert(kept == 1)
    assert(obs.get("skipped").asInstanceOf[Long] == 3) // 2 nulls + 1 false
    assert(obs.get("total").asInstanceOf[Long] == 4)
  }

  test("dot_q returns NULL for dimension-mismatched vectors (zip_with parity)") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark
      .sql(
        "SELECT dot_q(array(1.0D, 2.0D), array(3.0D)) AS mismatch, " +
          "dot_q(array(1.0D), array(CAST(NULL AS DOUBLE))) AS nullelem, " +
          "dot_q(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS ok")
      .collect()(0)
    assert(row.isNullAt(0), "length mismatch must yield NULL, not a prefix product")
    assert(row.isNullAt(1))
    assert(row.getLong(2) == 1000L * 3000L + 2000L * 4000L)
  }

  test("UnionBuilder rejects inputs that shadow its builder columns") {
    import spark.implicits._
    val bad = Seq((1L, "x")).toDF("doc_id", "ds")
    val e = intercept[IllegalArgumentException](
      graft.sources.UnionBuilder.load(
        Seq("a" -> graft.sources.UnionBuilder.Source(bad)),
        Map.empty,
        idCol = "doc_id"))
    assert(e.getMessage.contains("ds"))
  }

  test("asOf rejects inputs that shadow its reserved working columns") {
    import spark.implicits._
    val bad = Seq((1L, 10L, 1.0)).toDF("k", "_t", "v")
    val right = Seq((1L, 5L, 2.0)).toDF("k", "ts", "v")
    val e = intercept[IllegalArgumentException](
      graft.operators.AsOfJoin.asOf(bad, right, Seq("k"), "_t", "ts", Seq("v")))
    assert(e.getMessage.contains("_t"))
  }

  test("bucketed range join == naive range predicate join, across bucket widths") {
    import graft.operators.RangeJoin
    // deterministic synthetic: 500 points over 10 keys, 40 intervals of
    // assorted spans (sub-bucket, exact-bucket, multi-bucket, zero-length)
    val points = spark
      .range(500)
      .select(
        (col("id") % 10).as("k"),
        (col("id") * 37 % 1000).as("t"),
        col("id").as("pid"))
    val intervals = spark
      .range(40)
      .select(
        (col("id") % 10).as("k"),
        (col("id") * 53 % 900).as("lo"),
        ((col("id") * 53 % 900) + col("id") % 4 * 87).as("hi"),
        col("id").as("iid"))
    val naive = points
      .join(intervals, Seq("k"))
      .filter(col("t") >= col("lo") && col("t") <= col("hi"))
      .select("pid", "iid")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(naive.nonEmpty)
    for (width <- Seq(1L, 13L, 100L, 5000L)) {
      val bucketed = RangeJoin
        .pointsInIntervals(points, Seq("k"), "t", intervals, "lo", "hi", width)
        .select("pid", "iid")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // exactly one match per pair (no dedup needed) and the exact set
      assert(bucketed.length == bucketed.toSet.size, s"width=$width produced duplicates")
      assert(bucketed.toSet == naive, s"width=$width mismatch")
    }
  }

  test("chunked two-level LTTB == single-pass LTTB when series fit one chunk") {
    val ev = spark.read
      .parquet(s"${sf("sf0.001")}/events.parquet")
      .groupBy(
        col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("x"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
    val plain = Downsample
      .lttb(spark, ev, "user_id", "x", "y", 20)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val chunked = Downsample
      .lttbChunked(spark, ev, "user_id", "x", "y", chunkSize = 1 << 20, threshold = 20)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(plain.nonEmpty)
    assert(chunked == plain)
    // and a genuinely chunked run still returns <= threshold points per key
    // with first/last preserved
    val small = Downsample
      .lttbChunked(spark, ev, "user_id", "x", "y", chunkSize = 40, threshold = 10)
    val perKey = small.groupBy("user_id").count().collect()
    assert(perKey.forall(_.getLong(1) <= 10))
  }

  test("temperature mixing: alpha=1 is proportional; alpha=0.5 flattens toward uniform") {
    import graft.sources.UnionBuilder
    import spark.implicits._
    // three sources with 100x size skew
    val docs = Seq(
      ("a", 10000L), ("a", 10000L), ("a", 10000L), ("a", 10000L),
      ("b", 1000L), ("b", 1000L),
      ("c", 100L)).toDF("source", "sz")
    def mix(alpha: Double): Map[String, Long] =
      UnionBuilder
        .temperatureWeights(docs, "source", "sz", alpha)
        .collect()
        .map(r => r.getString(0) -> r.getLong(r.fieldIndex("mix_ppb")))
        .toMap
    val prop = mix(1.0)
    // pow(x, 1.0) == x exactly, so alpha=1 reproduces proportional ppb
    val totals = Map("a" -> 40000L, "b" -> 2000L, "c" -> 100L)
    val grand = totals.values.sum
    totals.foreach { case (s, t) =>
      assert(prop(s) == t * 1000000000L / grand, s"alpha=1 not proportional for $s")
    }
    // alpha=0.5 compresses the spread: big source shrinks, small grows
    val temp = mix(0.5)
    assert(temp("a") < prop("a"))
    assert(temp("c") > prop("c"))
    // still a (floor-truncated) distribution
    assert(temp.values.sum <= 1000000000L)
    assert(temp.values.sum > 999000000L)
    intercept[IllegalArgumentException](UnionBuilder.temperatureWeights(docs, "source", "sz", 0.0))
    intercept[IllegalArgumentException](UnionBuilder.temperatureWeights(docs, "source", "sz", 1.5))
  }

  test("histogram median bin contains the exact lower-median element") {
    import graft.operators.SeriesAnalytics
    import spark.implicits._
    val binWidth = 10
    val pts = Seq.tabulate(130)(i => ("s", i, (i * 37) % 97)).toDF("source", "pos", "tok")
    val hist = SeriesAnalytics.tierHistogram(pts, binWidth)
    val got = SeriesAnalytics
      .histogramMedianBin(hist)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getInt(2), r.getLong(3)))
      .toMap
    // reference: exact lower-median per (source, bucket) in plain Scala
    val ref = Seq.tabulate(130)(i => ("s", i / 64, (i * 37) % 97))
      .groupBy(t => (t._1, t._2))
      .map { case (k, rows) =>
        val toks = rows.map(_._3).sorted
        val median = toks((toks.size - 1) / 2) // lower median, 0-based ceil(n/2)-th
        k -> (median / binWidth, toks.size.toLong)
      }
    assert(got == ref, s"got $got, want $ref")
  }

  test("linear interpolation: exact milli line, trunc division, NULL-valued tail") {
    import graft.operators.GapFill
    import spark.implicits._
    // key "a": observed 1 at w=0, 0 at w=180 (interior gaps 60, 120 take
    // the decreasing line — numerator negative, so the division must
    // TRUNCATE like DuckDB's //, not floor), then an observed-but-NULL
    // row at w=240 extends the spine past the last non-null value
    val obs = Seq(
      ("a", 0, Some(1L)),
      ("a", 180, Some(0L)),
      ("a", 240, None: Option[Long])).toDF("source", "window_start", "v")
    val got = GapFill
      .linearInterpolate(obs, Seq("source"), "window_start", 60L, "v")
      .collect()
      .map(r =>
        // the spine's sequence() widens window_start to LONG
        r.getLong(1) -> (
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getBoolean(4)))
      .toMap
    assert(got(0) == (Some(1000L), false))
    // -60000 DIV 180 = -333 (trunc; floor would give -334 → 666)
    assert(got(60) == (Some(667L), true))
    assert(got(120) == (Some(334L), true))
    assert(got(180) == (Some(0L), false))
    // no non-null right neighbor → stays NULL, flagged filled
    assert(got(240) == (None, true))
    assert(got.size == 5)
  }

  test("tier_stats_decl == tier_stats bit-for-bit, including the 128-bit carry") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    // group "a": random values (negatives included); group "b": six
    // Int.MaxValue rows — sumsq = 6 * (2^31-1)^2 ≈ 2.77e19 > 2^64, so the
    // unsigned-overflow carry MUST fire; group "c": a single zero
    // (min=max=sum=sumsq=0); group "d": nulls only, so no row counts and
    // the struct itself must be null (the cnt = 0 branch)
    val rows: Seq[(String, Option[Int])] =
      Seq.fill(4000)(("a", Some(rnd.nextInt()))) ++
        Seq.fill(6)(("b", Some(Int.MaxValue))) ++
        Seq(("c", Some(0))) ++
        Seq.fill(3)(("d", None))
    // independent plain-Scala fold: (min, max, sum, count, BigInt sumsq)
    val want: Map[String, Option[Seq[Any]]] = rows.groupBy(_._1).map { case (k, g) =>
      val v = g.flatMap(_._2)
      k -> Option.when(v.nonEmpty)(
        Seq(v.min, v.max, v.map(_.toLong).sum, v.size.toLong, v.map(x => BigInt(x) * x).sum))
    }
    def agg(fn: String, nPart: Int): Map[String, Option[Seq[Any]]] = rows
      .toDF("k", "tok")
      .repartition(nPart)
      .groupBy("k")
      .agg(call_function(fn, col("tok")).as("st"))
      .collect()
      .map { r =>
        r.getString(0) -> Option(r.getStruct(1)).map(st =>
          Seq(st.getInt(0), st.getInt(1), st.getLong(2), st.getLong(3),
            BigInt(st.getDecimal(4).toBigIntegerExact)))
      }
      .toMap
    for (nPart <- Seq(1, 7)) {
      val got = agg("tier_stats_decl", nPart)
      assert(got == want, s"tier_stats_decl vs Scala fold at repartition($nPart):\n$got\n$want")
      assert(agg("tier_stats", nPart) == got, s"tier_stats != tier_stats_decl at repartition($nPart)")
    }
    assert(want("b").get(4).asInstanceOf[BigInt] > (BigInt(1) << 64), "test must actually exceed 2^64")
  }

  test("kmv_kmin: k smallest distinct values, stable across partitionings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    // key "a": >k distinct values with heavy duplication; key "b": under k
    val rows =
      Seq.fill(5000)(("a", rnd.nextInt(500).toLong * 977L)) ++
        Seq.fill(200)(("b", rnd.nextInt(20).toLong * 977L))
    def run(nPart: Int): Map[String, Seq[Long]] = rows
      .toDF("key", "h")
      .repartition(nPart)
      .groupBy("key")
      .agg(call_function("kmv_kmin", col("h"), lit(64)).as("kmin"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
      .toMap
    val got = run(7)
    def ref(key: String): Seq[Long] =
      rows.filter(_._1 == key).map(_._2).distinct.sorted.take(64)
    assert(got("a") == ref("a"))
    assert(got("b") == ref("b"))
    assert(got("b").size < 64) // under-filled sketch keeps every distinct value
    // order-independence: a different partitioning merges different partial
    // buffers but must produce the identical set
    assert(run(1) == got && run(13) == got)
  }

  test("KMV estimate: exact below k, within 3 standard errors above") {
    import graft.operators.{Sketches, SeriesAnalytics}
    val pts = graft.sources.TokenTable.points(spark, sf("sf0.001"))
    val est = Sketches
      .approxDistinct(pts, 3600, 64)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        (r.getInt(3), if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getDouble(5)))
      .toMap
    // exact distinct HASHES (the sketch's own universe: token-hash
    // collisions are part of the estimand, not error)
    val exact = Sketches
      .approxDistinct(pts, 3600, 1 << 16) // k >> any window's cardinality
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getInt(3))
      .toMap
    assert(est.nonEmpty && est.keySet == exact.keySet)
    var filled = 0
    est.foreach { case (key, (nKept, kth, e)) =>
      val n = exact(key)
      if (kth.isEmpty) assert(nKept == n && e == n.toDouble, s"$key: $nKept != $n")
      else {
        filled += 1
        // KMV relative standard error ~ 1/sqrt(k-2); 3 sigma at k=64 is ~38%
        assert(math.abs(e - n) / n < 0.38 * 3, s"$key: est $e vs exact $n")
      }
    }
    info(s"filled sketches: $filled of ${est.size}")
  }

  test("KMV merge: committed sketch + delta sketch == sketch of the union") {
    import graft.operators.Sketches
    val pts = graft.sources.TokenTable.points(spark, sf("sf0.001"))
    // split the corpus by doc parity: "history" and a "delta" batch
    val hist = pts.filter(expr("doc_id % 2 = 0"))
    val delta = pts.filter(expr("doc_id % 2 = 1"))
    val keys = Seq("source", "bucket", "window_start")
    def kmins(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getSeq[Long](3))
      .toMap
    val merged = kmins(
      Sketches.mergeSketches(
        Sketches.kmvSketch(hist, 3600, 64),
        Sketches.kmvSketch(delta, 3600, 64),
        keys,
        64))
    val full = kmins(Sketches.kmvSketch(pts, 3600, 64))
    assert(merged == full, "incremental merge must equal the full-corpus sketch")
  }

  test("CMS merge: linear sketch — committed cells + delta cells == full-corpus cells") {
    import graft.operators.Sketches
    val pts = graft.sources.TokenTable.points(spark, sf("sf0.001"))
    val hist = pts.filter(expr("doc_id % 2 = 0"))
    val delta = pts.filter(expr("doc_id % 2 = 1"))
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val merged = cells(
      Sketches.mergeCms(Sketches.cmsSketch(hist), Sketches.cmsSketch(delta), Seq("source")))
    assert(merged == cells(Sketches.cmsSketch(pts)))
  }

  test("count-min: never under-counts, exact for a collision-free source") {
    import spark.implicits._
    import graft.operators.Sketches
    val pts = graft.sources.TokenTable.points(spark, sf("sf0.001"))
    val got = Sketches.countMinTopK(pts, 4, 1024, 20).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (cnt, est) = (r.getLong(2), r.getLong(4))
      assert(est >= cnt, s"count-min under-counted: $r")
    }
    // a source with ONE distinct token: every cell the token maps to
    // counts only that token, so the min over rows is exact
    val solo = Seq.fill(137)(("solo", 42)).toDF("source", "tok")
    val soloGot = Sketches.countMinTopK(solo, 4, 1024, 20).collect()
    assert(soloGot.length == 1)
    assert(soloGot.head.getLong(2) == 137L && soloGot.head.getLong(4) == 137L)
  }

  test("time-weighted integrals: trapezoid and LOCF areas on a hand case") {
    import spark.implicits._
    import graft.operators.SeriesAnalytics
    // key 1: values 100, 300, 200 cents at t = 0, 10, 30 µs
    //   linear:  auc = (100+300)/2*10 + (300+200)/2*20 = 2000+5000 = 7000
    //   locf:    auc = 100*10 + 300*20 = 7000  (coincidence is fine)
    //   twa_linear = 7000/30, twa_locf = 7000/30
    // key 2: single event — zero span, NULL TWAs, NULL areas (no pairs)
    val ev = Seq(
      (1L, 1L, 0L, 100L), (1L, 2L, 10L, 300L), (1L, 3L, 30L, 200L),
      (2L, 4L, 5L, 42L))
      .toDF("user_id", "event_id", "ts_us", "cents")
    val got = SeriesAnalytics
      .timeWeighted(ev, Seq("user_id"), "ts_us", "cents", Seq("event_id"))
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    val k1 = got(1L)
    assert(k1.getLong(4) == 14000L, "auc2 = 2x trapezoid area")
    assert(k1.getLong(5) == 7000L, "LOCF step area")
    assert(math.abs(k1.getDouble(6) - 7000.0 / 30.0) < 1e-12)
    assert(math.abs(k1.getDouble(7) - 7000.0 / 30.0) < 1e-12)
    val k2 = got(2L)
    assert(k2.getLong(1) == 1L && k2.isNullAt(4) && k2.isNullAt(6))
  }

  test("distribution shift: identical windows score zero PSI; churn counted not smeared") {
    import spark.implicits._
    import graft.operators.SeriesAnalytics
    // window width 10. Window 0: toks {1x3, 2x1}. Window 10: same mix ->
    // PSI 0, matched 2. Window 20: tok 2 gone, tok 3 new, tok 1 shifts
    // 3/4 -> 2/3 (matched 1, new 1, gone 1, psi > 0).
    val pts = (
      Seq.fill(3)(("s", 0, 1)) ++ Seq(("s", 1, 2)) ++
        Seq.fill(3)(("s", 10, 1)) ++ Seq(("s", 11, 2)) ++
        Seq.fill(2)(("s", 20, 1)) ++ Seq(("s", 21, 3))
    ).toDF("source", "pos", "tok")
    val got = SeriesAnalytics
      .distributionShift(pts, 10)
      .collect()
      .map(r => r.getInt(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7), r.getDouble(8)))
      .toMap
    assert(got.keySet == Set(0, 10, 20)) // the phantom w=30 slot is dropped
    assert(got(0) == ((0L, 2L, 0L, 0L, 0.0))) // no prev: all-new, psi 0
    assert(got(10) == ((2L, 0L, 0L, 0L, 0.0))) // identical mix
    val (m, nw, ng, nano, psi) = got(20)
    assert((m, nw, ng) == ((1L, 1L, 1L)))
    // term for tok 1: (2/3 - 3/4) * ln((2/3)/(3/4)) = positive
    val want = (2.0 / 3 - 3.0 / 4) * math.log((2.0 / 3) / (3.0 / 4))
    assert(nano == math.floor(want * 1e9).toLong && math.abs(psi - nano / 1e9) < 1e-15)
  }

  test("OHLC: open/close under total order with ties; high/low plain extremes") {
    import spark.implicits._
    import graft.operators.SeriesAnalytics
    // window 0: two events SHARE ts=5 — tie broken by event_id, so open
    // is id=1's value; window 100: single event
    val ev = Seq(
      ("k", 2L, 5L, 9.0), ("k", 1L, 5L, 3.0), ("k", 3L, 50L, 1.0),
      ("k", 4L, 90L, 7.0),
      ("k", 5L, 150L, 4.5))
      .toDF("event_type", "event_id", "ts_us", "value")
    val got = SeriesAnalytics
      .ohlc(ev, Seq("event_type"), "ts_us", "value", 100L, Seq("event_id"))
      .collect()
      .map(r => r.getLong(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(got(0L) == ((4L, 3.0, 9.0, 1.0, 7.0)), got) // open=tie id 1, close=last
    assert(got(100L) == ((1L, 4.5, 4.5, 4.5, 4.5)))
  }

  test("covered time: overlap fuses, touching fuses, gaps split; nested absorbed") {
    import spark.implicits._
    import graft.operators.SeriesAnalytics
    val iv = Seq(
      // u1: [0,10] + [5,20] overlap -> [0,20]; [20,25] touches -> fused;
      //     [30,40] gap -> second island; [32,35] nested -> absorbed
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 20L, 25L), (1L, 30L, 40L), (1L, 32L, 35L),
      // u2: disjoint singletons
      (2L, 0L, 1L), (2L, 10L, 12L))
      .toDF("user_id", "start_us", "end_us")
    val got = SeriesAnalytics
      .coveredTime(iv, Seq("user_id"), "start_us", "end_us")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(1L) == ((2L, 35L)), got) // [0,25] + [30,40] = 25 + 10
    assert(got(2L) == ((2L, 3L)))
  }

  test("lagged cross-correlation: a delayed copy peaks exactly at its lag") {
    import spark.implicits._
    import graft.operators.SeriesAnalytics
    // source "b" is source "a" delayed by ONE 60-wide window; values are
    // non-monotonic so no other lag correlates perfectly. Input is the
    // PER-SOURCE series (no bucket key — lag shifts cross bucket
    // boundaries; the operator doc's fragmentation rule).
    val va = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L)
    val series =
      va.zipWithIndex.map { case (v, i) => ("a", i * 60, v) } ++
        va.zipWithIndex.map { case (v, i) => ("b", (i + 1) * 60, v) }
    val got = SeriesAnalytics
      .laggedCrossCorrelation(
        series.toDF("source", "window_start", "value"),
        60,
        2)
      .collect()
      .map(r => r.getInt(2) -> (r.getLong(3), r.getDouble(9)))
      .toMap
    assert(got.keySet == Set(-2, -1, 0, 1, 2))
    // positive lag = "a leads b": the delayed copy aligns at lag +1
    assert(math.abs(got(1)._2 - 1.0) < 1e-12, s"lag +1 must be 1.0: $got")
    assert(got(1)._1 == va.size) // all 8 windows overlap at the true lag
    assert(got.filter(_._1 != 1).values.forall(_._2 < 0.999), got)
    // overlap shrinks away from the true lag
    assert(got(-2)._1 == va.size - 3)
  }

  test("local extrema: gaps and edges disqualify; strict inequalities") {
    import graft.operators.SeriesAnalytics
    import spark.implicits._
    val tier = Seq(
      // key (s, 0): 1, 5, 2 → peak at w=60; edges never qualify
      ("s", 0, 0, 1L), ("s", 0, 60, 5L), ("s", 0, 120, 2L),
      // key (s, 1): middle window has a GAP on the right (w jumps 60→180)
      ("s", 1, 0, 1L), ("s", 1, 60, 5L), ("s", 1, 180, 2L),
      // key (s, 2): plateau — equal neighbors are NOT strict extrema
      ("s", 2, 0, 3L), ("s", 2, 60, 3L), ("s", 2, 120, 3L),
      // key (s, 3): trough
      ("s", 3, 0, 9L), ("s", 3, 60, 4L), ("s", 3, 120, 7L))
      .toDF("source", "bucket", "window_start", "value")
    val got = SeriesAnalytics
      .localExtrema(tier, "value", 60)
      .collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getBoolean(4), r.getBoolean(5)))
      .toSet
    assert(got == Set((0, 60, true, false), (3, 60, false, true)), got)
  }

  /** Scala source with `//` and `/* */` comments removed. String and
   * character literals are matched too and kept verbatim, so a `//`
   * inside a string is not taken for a comment (the leftmost match wins). */
  private val literalOrComment =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*.*?\*/""".r
  private def stripComments(src: String): String =
    literalOrComment.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) "" else scala.util.matching.Regex.quoteReplacement(m.matched))
}
