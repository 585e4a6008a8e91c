package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver.
  *
  * Methodology (mirrors the reference's repeated-measurement discipline,
  * src/pq_fb_ns_data_generator.cc:260-271): one full untimed warmup pass
  * absorbs JIT + whole-stage-codegen compilation, then each query is
  * timed over `SPARK_GRAFT_BENCH_REPEATS` runs (default 3) and the
  * MEDIAN is reported — single-run numbers on this box carry ~40×
  * outliers (GC/page-cache noise), which medianing removes.
  * Materialization is the noop datasource sink, which consumes every
  * output row/column — `count()` would let Catalyst prune the
  * projections we mean to measure.
  *
  * A failing query is recorded as -1 with its error in an `errors` map
  * (never silently reported as a healthy near-zero time).
  *
  * Contention is flagged, not corrected: three sentinel kernels (cpu,
  * shuffle, scan) are timed before the sweep and re-timed through it,
  * and each kernel's baseline is compared with the robust floor of its
  * history CSV. The reported medians are always the raw ones; a sweep
  * whose sentinels drifted or ran slow says `"contended": true`, next to
  * `sentinel_drift` and `floor_ratio`.
  *
  * Outputs: the full line (every query's median, the errors and the
  * sentinel record) goes to target/bench.json and
  * bench-results/BENCH_FULL.json and to stdout. Callers that keep only
  * the last ~2000 chars of stdout get a byte-budgeted digest as the
  * LAST line ([[BenchNoise.digest]]); its `full_map` key names the full
  * file.
  */
object Bench {
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fixed sentinel workload for host-noise detection: a deterministic
    * in-memory range aggregation (no I/O, no data dependence) whose
    * runtime on an idle box is constant. It is timed 3× up front for a
    * baseline, then re-timed after every `sentinelEvery` queries; when
    * any re-timing drifts >2× over baseline the whole sweep is
    * self-annotated `"contended": true`, so a slow artifact can be
    * told apart from a genuine regression (the round-6 sweep's 210 s
    * vs quiet-box 89 s ambiguity cannot recur).
    */
  private def sentinelOnce(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    materialize(
      spark.range(0L, 4000000L, 1L, 32)
        .withColumn("k", col("id") % 97)
        .groupBy("k")
        .agg(sum("id").as("s"), avg("id").as("a"), count("*").as("c")))
    (System.nanoTime() - t0) / 1e9
  }

  /** Shuffle-bound sentinel: 2M rows round-trip through a real
    * exchange (serialize, spill-file write, fetch, deserialize) into a
    * high-cardinality hash aggregate. A host phase that slows disk or
    * the shuffle-fetch path shows here while the in-memory cpu kernel
    * stays quiet — the round-10 sweep's ~1.14× moderate phase was
    * exactly the kind the 1-kernel sentinel missed.
    */
  private def sentinelShuffleOnce(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    materialize(
      spark.range(0L, 2000000L, 1L, 32)
        .withColumn("k", col("id") % 100000)
        .repartition(32, col("k"))
        .groupBy("k")
        .agg(sum("id").as("s"), count(lit(1)).as("c")))
    (System.nanoTime() - t0) / 1e9
  }

  /** Scan-bound sentinel: a fixed ~90 MB parquet fixture (written once
    * per process under target/) read through the full columnar-decode
    * path — filesystem reads, page decompression, string decode. The
    * fixture is deterministic so the kernel's quiet-box runtime is a
    * constant like the other two.
    */
  @volatile private var sentinelScanPath: String = null
  private def sentinelScanOnce(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions._
    if (sentinelScanPath == null) synchronized {
      if (sentinelScanPath == null) {
        val p = "target/graft-work/sentinel_scan_parquet"
        spark.range(0L, 3000000L, 1L, 8)
          .select(col("id"), (col("id") % 1000).as("k"),
            md5(col("id").cast("string")).as("pad"))
          .write.mode("overwrite").parquet(p)
        sentinelScanPath = p
      }
    }
    val t0 = System.nanoTime()
    materialize(spark.read.parquet(sentinelScanPath)
      .filter(col("k") < 500)
      .agg(sum(length(col("pad"))).as("b"), count(lit(1)).as("c")))
    (System.nanoTime() - t0) / 1e9
  }

  /** The heterogeneous sentinel set (round-11): one kernel per resource
    * class. Checkpoints ROTATE through them (interleaved per segment, so
    * per-sweep overhead stays at one min-of-2 kernel per checkpoint): a
    * sustained phase spanning a few segments is sampled by all three,
    * while the old single cpu kernel registered drift 1.0 straight
    * through an I/O-side moderate phase.
    */
  private val sentinelKernelNames = Vector("cpu", "shuffle", "scan")
  private def sentinelKernelOnce(
      spark: org.apache.spark.sql.SparkSession, k: Int): Double = k match {
    case 0 => sentinelOnce(spark)
    case 1 => sentinelShuffleOnce(spark)
    case _ => sentinelScanOnce(spark)
  }
  private val sentinelEvery = 10

  /** Min of two back-to-back timings: sustained host contention slows
    * both, while a one-off GC pause or page-cache eviction (common right
    * after a heavy parquet write) only hits one — the min is the robust
    * contention signal, the single shot a false-positive generator.
    */
  private def sentinelKernelMin2(
      spark: org.apache.spark.sql.SparkSession, k: Int): Double =
    math.min(sentinelKernelOnce(spark, k), sentinelKernelOnce(spark, k))

  /** Queries that are themselves generate-then-measure benchmark
    * harnesses (minutes-scale, self-timing): run once, not repeated —
    * medianing applies to the analytic queries where scheduler noise
    * can masquerade as regression.
    */
  private val runOnce = Set(
    "s3_read_bench", "k1_compression_sweep", "m2_chunks_pages", "m2_stats",
    "m3_rowgroup_grid", "m4_pushdown", "m5_metadata_sidecar",
    "x_sim_topk_agg_xover",
    // the 10,000-col pair: the probe medians its footer decodes
    // internally, and the layout twin is a deterministic 10k-col agg —
    // repeating either just re-pays wide-plan compilation (~2 s each)
    "m6_wide10k_probe", "m6_wide10k_layout")
  // x_dedup_clusters left the set in round 5: the union-find fast path
  // made it a ~2 s query, so it gets the same median-of-repeats
  // treatment as every other analytic query

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    val spark = GraftSession.local(cpus)
    // optional focus list (comma-separated) for investigating single
    // queries without the full sweep; absent -> every registered query
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      try materialize(SparkEntry.queries(n)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench-warmup] $n failed: ${e.getMessage}") }
    }
    // Per-kernel sentinel baselines: median of 3 after each kernel's
    // own warmup (the warmup pass above already compiled codegen for
    // range/agg shapes; the scan kernel writes its fixture here).
    (0 until sentinelKernelNames.size).foreach(k => sentinelKernelOnce(spark, k))
    val sentinelBaselines: IndexedSeq[Double] =
      (0 until sentinelKernelNames.size).map { k =>
        val ts = (1 to 3).map(_ => sentinelKernelOnce(spark, k)).sorted
        ts(ts.size / 2)
      }
    val sentinelBaseline = sentinelBaselines(0) // cpu kernel, history compat
    // Across-runs floor history PER KERNEL: this box shows minutes-long
    // SUSTAINED slow host phases. If one spans the whole sweep, the
    // baseline is slow too and within-run drift shows nothing — so also
    // compare each kernel's baseline against the best ever recorded for
    // that fixed workload; any kernel >2× its historical floor marks
    // the entire run as executed in a slow phase.
    val histPaths = sentinelKernelNames.map {
      case "cpu" => Paths.get("bench-results/bench_sentinel_history.csv")
      case n     => Paths.get(s"bench-results/bench_sentinel_history_$n.csv")
    }
    Files.createDirectories(histPaths.head.getParent)
    histPaths.zipWithIndex.foreach { case (p, k) =>
      if (!Files.exists(p))
        Files.writeString(p, "epoch_ms,sentinel_baseline_s\n")
      Files.writeString(p,
        f"${System.currentTimeMillis()}%d,${sentinelBaselines(k)}%.4f\n",
        java.nio.file.StandardOpenOption.APPEND)
    }
    // Floor = the 10th percentile of recorded baselines (current run
    // included via the file append above — do NOT add it again; the
    // double-count biased p10 toward the current reading), not the raw
    // min: this box's history carries one-off fast flukes (0.190 vs
    // p10 0.236) that would read a quiet run as 1.7× "slow".
    val kernelFloors: IndexedSeq[Double] = histPaths.map { p =>
      BenchNoise.robustFloor(
        scala.jdk.CollectionConverters
          .IteratorHasAsScala(Files.lines(p).iterator).asScala.drop(1)
          .flatMap(_.split(",").lift(1)).map(_.toDouble).toSeq)
    }
    // One checkpoint = min-of-2 of ONE kernel (rotating), expressed as
    // a DRIFT RATIO vs that kernel's baseline — the series is
    // ratio-valued so heterogeneous kernels share one timeline.
    var sentinelRotation = 0
    def sentinelCheckpointRatio(): Double = {
      val k = sentinelRotation % sentinelKernelNames.size
      sentinelRotation += 1
      val m = sentinelKernelMin2(spark, k)
      if (sentinelBaselines(k) > 0) m / sentinelBaselines(k) else 1.0
    }
    val sentinelSeries = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = names.zipWithIndex.map { case (n, i) =>
      if (i > 0 && i % sentinelEvery == 0)
        sentinelSeries += ((i, sentinelCheckpointRatio()))
      val reps = if (runOnce(n)) 1 else repeats
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          materialize(SparkEntry.queries(n)(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors(n) = e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)
            None
        }
      }
      n -> (if (times.isEmpty) -1.0 else times.sorted.apply(times.size / 2))
    }
    sentinelSeries += ((names.size, sentinelCheckpointRatio()))
    // series values are already baseline-relative ratios
    val maxDrift = sentinelSeries.map(_._2).max
    val baselineVsBest =
      (0 until sentinelKernelNames.size).map { k =>
        if (kernelFloors(k) > 0) sentinelBaselines(k) / kernelFloors(k) else 1.0
      }.max
    val contended = maxDrift > 2.0 || baselineVsBest > 2.0

    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val json = new ObjectMapper()
    val errorsNode = json.createObjectNode()
    errors.foreach { case (k, v) => errorsNode.put(k, v) }

    val full = json.createObjectNode()
      .put("metric", "total").put("value", total).put("unit", "sec")
    val qs = full.putObject("queries")
    results.foreach { case (k, v) => qs.put(k, v) }
    full.set[ObjectNode]("errors", errorsNode)
    full.put("repeats", repeats)
    val sentinel = full.putObject("sentinel")
      .put("baseline", dec(sentinelBaseline, 3))
    val baselinesNode = sentinel.putObject("baselines")
    val floorsNode = sentinel.putObject("floors")
    sentinelKernelNames.indices.foreach { k =>
      baselinesNode.put(sentinelKernelNames(k), dec(sentinelBaselines(k), 3))
      floorsNode.put(sentinelKernelNames(k), dec(kernelFloors(k), 3))
    }
    // series entries are [query_index, drift_ratio] — ratio vs the
    // rotating kernel's own baseline (kernel = index order cpu,
    // shuffle, scan, repeating)
    sentinel.put("series_unit", "ratio")
    val seriesNode = sentinel.putArray("series")
    sentinelSeries.foreach { case (i, t) => seriesNode.addArray().add(i).add(dec(t, 3)) }
    sentinel.put("max_drift", dec(maxDrift, 2))
      .put("baseline_vs_best_floor", dec(baselineVsBest, 2))
      .put("contended", contended)
    full.put("sf", sfDir)
    val line = json.writeValueAsString(full)
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), line + "\n")
    Files.createDirectories(Paths.get("bench-results"))
    Files.writeString(Paths.get("bench-results/BENCH_FULL.json"), line + "\n")
    println(line)

    // The digest carries the previous full sweep's digest keys
    // (bench-results/DIGEST_KEYS.txt) so a query the last digest showed
    // does not vanish from it because it got faster.
    val keysPath = Paths.get("bench-results/DIGEST_KEYS.txt")
    val carry: Set[String] =
      if (Files.exists(keysPath))
        scala.jdk.CollectionConverters
          .IteratorHasAsScala(Files.lines(keysPath).iterator).asScala
          .map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val head = json.createObjectNode()
      .put("metric", "total").put("value", dec(total, 3)).put("unit", "sec")
      .put("repeats", repeats).put("sf", sfDir).put("contended", contended)
      .put("sentinel_drift", dec(maxDrift, 2)).put("floor_ratio", dec(baselineVsBest, 2))
      .put("full_map", "bench-results/BENCH_FULL.json")
    head.set[ObjectNode]("errors", errorsNode)
    val (digest, digestKeys) = BenchNoise.digest(head, results, carry)
    // full sweeps only: a SPARK_GRAFT_BENCH_ONLY subset would shrink the
    // carry and drop the keys it leaves out
    if (only.isEmpty)
      Files.writeString(keysPath, digestKeys.mkString("", "\n", "\n"))
    println(digest)
    spark.stop()
  }

  /** `v` rounded half-up to `places` decimals, as the JSON lines print it. */
  private[graft] def dec(v: Double, places: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(places, java.math.RoundingMode.HALF_UP)
}

private[graft] object BenchNoise {

  /** The historical sentinel floor, robust to one-off fast flukes: the
    * 10th percentile of all recorded baselines (raw min with <5
    * samples, where a percentile is meaningless).
    */
  def robustFloor(baselines: Seq[Double]): Double = {
    val s = baselines.filter(_ > 0).sorted
    if (s.isEmpty) 0.0
    else if (s.size < 5) s.head
    else s((s.size * 0.1).toInt)
  }

  /** Stdout tail budget for the digest line, in chars. */
  val DigestBudget = 1700

  /** Digest slots kept for the slowest queries outside the carry. */
  val DigestReserve = 5

  /** The tail-safe digest: `head` plus as many 3-decimal query medians
    * as fit [[DigestBudget]], and `omitted` when some did not fit.
    *
    * Entries rank as: the [[DigestReserve]] slowest queries outside
    * `carry` (a new slow query always shows), then the carried keys,
    * then everything else, each group slowest first. Trimming cuts from
    * the end of that ranking. Returns the line and its query keys, which
    * become the next sweep's carry — so newcomers rotate in and the
    * fastest carried keys rotate out.
    */
  def digest(
      head: ObjectNode,
      results: Seq[(String, Double)],
      carry: Set[String]): (String, Seq[String]) = {
    val (carried, fresh) = results.sortBy(-_._2).partition(e => carry(e._1))
    val ranked = fresh.take(DigestReserve) ++ carried ++ fresh.drop(DigestReserve)
    def render(n: Int): String = {
      val line = head.deepCopy()
      val qs = line.putObject("queries")
      ranked.take(n).foreach { case (k, v) =>
        if (v < 0) qs.put(k, -1) else qs.put(k, Bench.dec(v, 3))
      }
      if (n < ranked.size) line.put("omitted", ranked.size - n)
      line.toString
    }
    val n = (ranked.size to 2 by -1).find(render(_).length <= DigestBudget)
      .getOrElse(math.min(1, ranked.size))
    (render(n), ranked.take(n).map(_._1))
  }
}
