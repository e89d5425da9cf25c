package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(s"local[$cpus]", cpus)
    // Warm the JVM (codegen, parquet reader, shuffle machinery) before any
    // query is timed, so single-iteration timings measure the queries and
    // not first-touch JIT.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().write.format("noop").mode("overwrite").save()
    // Contention sentinel: a fixed, data-independent workload timed before
    // and after the sweep. Its cost depends only on this JVM and the box —
    // not on sf or the query set — so a loaded machine shows up as an
    // inflated sentinel (round 6's driver run was ~2x slow across the board
    // with q24 at 20x; nothing in the JSON could prove it was the box and
    // not the code). Median-of-3 per probe: min would mask sustained load,
    // a single shot is a fluke magnet. Readers compare sentinel_before /
    // sentinel_after across rounds — a round whose sentinel is far above
    // its predecessors' is a contended measurement, not a regression.
    def sentinel(): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // Double arithmetic: sum(id*id) over 5e7 rows is ~4.2e22, far past
        // Long.MaxValue — under Spark 4's default ANSI mode a Long product
        // would throw ARITHMETIC_OVERFLOW and kill the whole bench run.
        spark.range(50000000L).selectExpr("sum(cast(id as double) * id) as s", "count(if(id % 7 = 0, 1, null)) as c")
          .write.format("noop").mode("overwrite").save()
        spark.read.parquet(s"$sfDir/nation.parquet")
          .groupBy("n_regionkey").count().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    // A sentinel failure must never take down the bench artifact (round 7's
    // JSON was lost to an uncaught sentinel error): report -1 and move on.
    def sentinelSafe(): Double =
      try sentinel() catch { case e: Throwable =>
        System.err.println(s"[bench] sentinel failed: ${e.getMessage}"); -1.0 }
    // IO sentinel (round 20): the compute sentinel above is CPU-bound and
    // stayed in band (0.145/0.199) on a day the shuffle/scratch-heavy
    // lanes read 2-4x their round-18 record values — an interleaved
    // r18-jar vs r19-jar A/B (5 reps/JVM, alternating) showed NO
    // code-level difference, so the drift is the box's IO side, which
    // the compute sentinel cannot see. This probe times a fixed
    // write+read parquet round trip; it is RECORDED (sentinel_io_*) for
    // cross-round reading, not gated on — no trusted band exists yet.
    def ioSentinelSafe(): Double =
      try {
        val dir = "/tmp/graft_bench_io_sentinel"
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.range(2000000L)
            .selectExpr("id", "cast(id % 97 as string) s")
            .write.mode("overwrite").parquet(dir)
          spark.read.parquet(dir).groupBy("s").count()
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        ts(1)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] io sentinel failed: ${e.getMessage}"); -1.0 }
    // One discarded warm probe first: the before/after pair must differ
    // only by machine load, not by which one paid the sentinel plan's
    // first-touch codegen.
    sentinelSafe()
    // `probe` mode: time the two sentinels and exit without sweeping.
    // Used to read the box's state (is now a good time to record?) and to
    // calibrate the IO band below without paying a 15-minute sweep.
    if (args.contains("probe")) {
      ioSentinelSafe() // discard first-touch, like the compute sentinel
      (1 to 3).foreach { i =>
        println(f"probe $i: sentinel=${sentinelSafe()}%.3f s io=${ioSentinelSafe()}%.3f s")
      }
      spark.stop()
      return
    }
    // Time a full materialization of every column: the noop sink consumes
    // each row end-to-end (unlike count(), under which Catalyst prunes all
    // columns and skips projection/UDF work entirely). Each query runs
    // three times and reports the MINIMUM — a single-iteration timing is at
    // the mercy of machine contention (round 3's driver bench file measured
    // a busy box at ~3x, and round 6's at ~2x surviving min-of-2); min-of-3
    // damps that noise further while still charging any per-call
    // recomputation the query actually does.
    // A failed iteration contributes NO timing (a fast crash would
    // otherwise read as a small, legitimate-looking min); a query with no
    // successful iteration is reported in `failed`, not in `queries`.
    // Per-query statistic: min-of-3 for the sub-second majority (min damps
    // contention spikes and the lines are short enough that the 3 runs share
    // one JVM state), but MEDIAN-of-3 for the iterative heavyweights
    // (fixpoints, incremental dedup, stream-start floors). Their min is a
    // lucky-GC-window magnet — round 11's tri-run saw the same HEAD bounce
    // ±45% on graph_reachability_sql, and a min across sweeps compares two
    // different luck draws. The median charges the typical run.
    // The heavyweight set is STATIC (by name, the queries that are
    // multi-job by construction): the earlier value-dependent ">1 s"
    // classification flipped lines between min and median as box speed
    // drifted round to round, which itself added cross-round noise. With
    // iterations lost to failures the LOWER median is used — for n=2 the
    // upper element is a max, not a median, and charging a max to a line
    // that just lost an iteration compounds the penalty.
    val heavyweights = Set(
      "dedup_incremental_near", "dedup_incremental_near_idx",
      "dedup_corpus_near", "dedup_corpus_sql",
      "graph_reachability", "graph_reachability_sql",
      "recursive_cte_native_sql", "pipeline_end_to_end",
      "dedup_semantic", "embed_clusters",
      "events_stream_hourly", "events_stream_enriched",
      "events_stream_dedup", "events_stream_attrib",
      "events_stream_sessions", "quality_classifier",
      // round-15 additions that are multi-job by construction (scratch
      // materialization inside the operator)
      "graph_triangles", "dedup_containment", "graph_pagerank",
      // round-16: stream-start floors + per-batch writes; fixpoint rounds
      "dedup_streaming_near", "q132_recursive_union")
    def sweep(): Map[String, Option[Double]] = SparkEntry.queries.map { case (name, fn) =>
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      val sorted = times.sorted
      name -> (sorted.length match {
        case 0 => None
        case n if heavyweights(name) => Some(sorted((n - 1) / 2)) // lower median
        case _ => Some(sorted.head)                               // min
      })
    }
    // Self-defense against a loaded box (round 8's driver run shipped with
    // sentinel_before at 2-3x healthy; round 9's slipped a ~26%-hot run
    // under the old 2x arms by 3 ms): a sweep is presumed contended and
    // re-run ONCE when EITHER sentinel is far above the pinned healthy
    // nominal (measured band on this box: 0.14-0.30 s, so nominal 0.20 and
    // an absolute arm at 2x), or when one sentinel is both above the band
    // (>1.5x nominal) and >1.5x its partner — the skew signature of load
    // that starts or stops mid-sweep. The >1.5x-nominal precondition on the
    // skew arm keeps in-band sentinel jitter (e.g. 0.28 vs 0.15, ratio
    // 1.87 but both healthy) from burning a retry. If the retry's
    // sentinels are still hot the JSON carries "contended": true so
    // readers discount the absolute numbers instead of mistaking load for
    // a regression. -1 (sentinel crash) never triggers a retry — it can't
    // distinguish load from code.
    // Round 11 postmortem: the committed sweep carried sentinel_before =
    // 0.368 — outside the trusted band (0.14-0.30, SCALE.md reading rule)
    // but under the old 2x arm (0.40), so a 1.30x overlap went on record
    // that two clean re-runs contradicted. The retry arm now IS the band
    // top: any sentinel above 0.30 is presumed contended. The skew arm
    // keeps its >1.5x-nominal precondition so in-band jitter never burns
    // the retry.
    val nominalSentinel = 0.20
    val sentinelBandTop = 0.30
    // IO band (pinned round 20): `graft.Bench probe` on a quiet box
    // (loadavg 0.04) read the IO sentinel at 0.59-0.71 s over three
    // median-of-3 probes → nominal 0.65, top 1.1 (~1.7x, mirroring the
    // compute band's 1.5x headroom). The contended run_002 read
    // io_after = 1.41 s (2.2x nominal) while its COMPUTE sentinels were
    // in band — exactly the blind spot the round-19/20 A/B established
    // (IO-side box drift the CPU probe cannot see). A reading outside
    // this band now triggers the retry and blocks promotion like a hot
    // compute sentinel.
    val nominalIo = 0.65
    val ioBandTop = 1.1
    def hotPair(before: Double, after: Double, nominal: Double, top: Double): Boolean = {
      def inflated(s: Double) = s > top
      def skewed(a: Double, b: Double) =
        a > 1.5 * nominal && b > 0 && a > 1.5 * b
      (before > 0 && (inflated(before) || skewed(before, after))) ||
        (after > 0 && (inflated(after) || skewed(after, before)))
    }
    def hot(before: Double, after: Double): Boolean =
      hotPair(before, after, nominalSentinel, sentinelBandTop)
    def hotIo(before: Double, after: Double): Boolean =
      hotPair(before, after, nominalIo, ioBandTop)
    var sentinelBefore = sentinelSafe()
    var ioBefore = ioSentinelSafe()
    var results = sweep()
    var sentinelAfter = sentinelSafe()
    var ioAfter = ioSentinelSafe()
    var retried = false
    if (hot(sentinelBefore, sentinelAfter) || hotIo(ioBefore, ioAfter)) {
      System.err.println(f"[bench] contended sweep detected (sentinel_before=$sentinelBefore%.3f s, sentinel_after=$sentinelAfter%.3f s, io_before=$ioBefore%.3f s, io_after=$ioAfter%.3f s) — retrying once")
      retried = true
      sentinelBefore = sentinelSafe()
      ioBefore = ioSentinelSafe()
      results = sweep()
      sentinelAfter = sentinelSafe()
      ioAfter = ioSentinelSafe()
    }
    val contended = hot(sentinelBefore, sentinelAfter) || hotIo(ioBefore, ioAfter)
    val ok = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // Round-over-round comparability: the query set GROWS every round, so
    // the headline total is not comparable across rounds and individual
    // small-query lines are at the mercy of the 132-query JVM's JIT/GC
    // state at their slot (the round-10 "embed_clusters regression" was
    // exactly that — SCALE.md round 11). Read the PREVIOUS round's
    // committed full map (the same file this run overwrites below) and
    // emit sum(now)/sum(prev) over the query-name intersection:
    // overlap_ratio < 1 is a genuine round-over-round improvement on
    // comparable work, independent of how many queries joined the sweep.
    // -1 = no prior map readable (first round on a machine).
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    val prior: Map[String, Double] =
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(benchOut)),
          java.nio.charset.StandardCharsets.UTF_8)
        val body = "\"queries\":\\{(.*?)\\}".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
        "\"([^\"]+)\":([-0-9.Ee+]+)".r.findAllMatchIn(body)
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val common = ok.keySet.intersect(prior.keySet)
    val overlapRatio =
      if (common.isEmpty) -1.0
      else common.toSeq.map(ok).sum / common.toSeq.map(prior).sum
    // Sum-weighted overlap is dominated by the ~6 iterative heavyweights —
    // exactly the highest-variance lines on this box (±45% same-HEAD,
    // SCALE.md). The median per-query ratio weights every query equally and
    // is what a reader should trust for "did the code get faster": round
    // 11's three same-HEAD sweeps read 0.95/1.19/1.30 sum-weighted but
    // ~1.07 median. Emit both; judge on the median, debug with the sum.
    val overlapMedian =
      if (common.isEmpty) -1.0
      else {
        val ratios = common.toSeq.map(k => ok(k) / prior(k)).sorted
        val n = ratios.length
        if (n % 2 == 1) ratios(n / 2) else (ratios(n / 2 - 1) + ratios(n / 2)) / 2
      }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"sentinel_before":$sentinelBefore,"sentinel_after":$sentinelAfter,"sentinel_io_before":$ioBefore,"sentinel_io_after":$ioAfter,"retried":$retried,"contended":$contended,"overlap_ratio":$overlapRatio,"overlap_median":$overlapMedian,"overlap_n":${common.size},"sf":"$sfDir"}"""
    println(json)
    // The full line above is one ~16 KB record; a bounded tail capture can
    // truncate it mid-map and lose EVERYTHING (that is what made round 19's
    // bench unparseable driver-side). This second, ~200-byte summary line
    // carries the headline numbers redundantly so any tail keeps them.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n_queries":${ok.size},"n_failed":${failed.size},"sentinel_before":$sentinelBefore,"sentinel_after":$sentinelAfter,"sentinel_io_before":$ioBefore,"sentinel_io_after":$ioAfter,"retried":$retried,"contended":$contended,"overlap_ratio":$overlapRatio,"overlap_median":$overlapMedian,"overlap_n":${common.size},"sf":"$sfDir"}""")
    // The driver captures stdout with a bounded tail, which truncates the
    // per-query map once the suite is large; a file sidesteps the tail so
    // every timing survives for round-over-round diffing.
    //
    // Self-protecting record (rounds 15-19 all closed with the visible
    // BENCH_full.json showing a contended run over the committed clean
    // record, because every run unconditionally rewrote the record file).
    // Now: every run lands in a run-stamped sibling
    // (BENCH_run_<n>.json, n = first free index) so no measurement is
    // ever lost, and the record at `benchOut` is rewritten ONLY when the
    // run is clean — contended=false, which by construction means both
    // the compute AND IO sentinel pairs are inside their trusted bands
    // (hot()/hotIo() arms above). A loaded
    // box can no longer clobber the record it failed to beat.
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets.UTF_8
    val recordPath = Paths.get(benchOut)
    val dir = Option(recordPath.toAbsolutePath.getParent).getOrElse(Paths.get("."))
    val stem = recordPath.getFileName.toString.stripSuffix(".json")
    val runPath = Iterator.from(1)
      .map(n => dir.resolve(f"${stem}_run_$n%03d.json"))
      .find(!Files.exists(_)).get
    def writeJson(p: java.nio.file.Path): Unit =
      try Files.write(p, (json + "\n").getBytes(UTF_8))
      catch { case e: Exception => System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    writeJson(runPath)
    if (!contended) writeJson(recordPath)
    else System.err.println(s"[bench] contended run NOT promoted to $benchOut — kept at $runPath")
    spark.stop()
  }
}
