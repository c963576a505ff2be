package graft

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * Forces full computation with a noop-sink write — a bare count()
  * would let Catalyst prune every computed column out of map-only
  * plans and benchmark nothing but the scan.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // JIT/codegen warmup so the first measured query isn't charged for
    // session bring-up (driver compares per-query numbers). One warmup
    // per major code path: q_rasterize covers the raster
    // tiling/aggregator stack, q_dedup_minhash the text
    // shingle/hash/window stack, q_focal_mean the halo-exchange focal
    // stack, q_catalog_roundtrip the parquet write/footer-prune read
    // stack (r11 run-total spread of ~25% traced to run-1 first-JIT on
    // the unwarmed paths; medians converge tighter with all four).
    // q_catalog_dsv2 warms the DataSource V2 scan/prune machinery and
    // q_flow_accum the iterative-join hydrology loop — the two paths
    // whose first-run JIT kept run 1 at ~2x the median in r12.
    Seq("q_rasterize", "q_dedup_minhash", "q_focal_mean", "q_catalog_roundtrip",
        "q_catalog_dsv2", "q_flow_accum").foreach { w =>
      try SparkEntry.queries(w)(spark, sfDir).write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Per-query isolation (r13: four late-suite queries regressed
    // 2.6-3.9x with no code change — accumulated localCheckpoint
    // blocks + heap pressure from the 300+ queries that ran before
    // them). Between timed queries, drop every persistent RDD (local
    // checkpoints register there), clear the SQL cache, and give the
    // JVM one GC breath so the ContextCleaner reclaims shuffle files.
    // Runs OUTSIDE the timed region: each query starts from the same
    // clean-session state no matter where it sits in the suite.
    // ... EXCEPT the SparkEntry sharedMemo checkpoints (the dedup
    // pair-graph reused by six reporting queries): their lineage is
    // truncated, so evicting them kills every later consumer with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of recomputing.
    def clearSessionState(): Unit = {
      spark.catalog.clearCache()
      val keep = SparkEntry.sharedRddIds
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep(r.id))
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    clearSessionState()
    // N full passes, per-query MEDIANS reported: single runs on this
    // box carry ~2x noise, so medians are the honest per-query signal
    // (judge-requested; per-run totals kept alongside as evidence)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional name-substring filters (builder-side iteration, same
    // contract as Verify's); the driver passes none and times all
    val only = args.toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.contains))
    val runs: Seq[Map[String, Double]] = (1 to nRuns).map { _ =>
      names.map { name =>
        val t0 = System.nanoTime()
        // A failed query records -1, NOT its fail-fast wall time — a
        // bogus ~0.05s entry reads as a 20x speedup in the artifacts
        // (that is how r10's 12 broken queries went unnoticed).
        val sec =
          try {
            SparkEntry.queries(name)(spark, sfDir).write
              .format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
        clearSessionState()
        name -> sec
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Any failed run poisons the query's reported time to -1 outright.
    val results = names.map { n =>
      val xs = runs.map(_(n))
      n -> (if (xs.exists(_ < 0)) -1.0 else median(xs))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val runTotals = runs.map(_.values.filter(_ >= 0).sum).mkString("[", ",", "]")
    // Ratio DISTRIBUTION vs the newest pin (BASELINE_r<N>.md), so the
    // median-shift-vs-lone-outlier diagnosis (CLAUDE.md: ambient box
    // load moves the whole suite uniformly; a plan problem moves one
    // query) is automatic instead of manual. Sub-0.2s pins are
    // excluded from the distribution (pure noise at this box's ~2x
    // single-run jitter) but still counted in over_2x when large.
    val pinDist: String = {
      val pinFile = new java.io.File(".").listFiles()
        .filter(f => f.getName.matches("BASELINE_r\\d+\\.md"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt).lastOption
      pinFile.map { pf =>
        val row = "\\| (q\\w+) \\| ([0-9.]+) \\|".r
        val src = scala.io.Source.fromFile(pf, "UTF-8") // JVM default may be ASCII
        val pins =
          try src.getLines().collect { case row(q, s) => q -> s.toDouble }.toMap
          finally src.close()
        val ratios = results.collect {
          case (n, v) if v >= 0 && pins.get(n).exists(_ >= 0.2) => (n, v / pins(n))
        }.sortBy(_._2)
        if (ratios.isEmpty) "null"
        else {
          def pct(p: Double) = ratios(math.min(ratios.size - 1,
            (p * ratios.size).toInt))._2
          val over = ratios.filter(_._2 > 2.0)
            .map { case (n, r) => "\"" + n + "\":" + f"$r%.2f" }
            .mkString("{", ",", "}")
          f"""{"pin":"${pf.getName}","n":${ratios.size},"median":${pct(0.5)}%.3f,"p90":${pct(0.9)}%.3f,"max":${ratios.last._2}%.3f,"max_query":"${ratios.last._1}","over_2x":$over}"""
        }
      }.getOrElse("null")
    }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":$total,"n_queries":${results.size},"n_failed":$nFailed,"n_runs":$nRuns,"stat":"median","run_totals":$runTotals,"pin_ratios":$pinDist,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // The full line above is ~20 KB at 425 queries and the driver's
    // bounded stdout tail has truncated its head two rounds running
    // (PERF r19/r20: parsed=null). ALSO print a compact summary line
    // (same metric/value contract, no per-query map) so a bounded tail
    // always ends with one parseable JSON object. Additions-only: the
    // timed region, the full line and BENCH_FULL.json are unchanged.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":$total,"n_queries":${results.size},"n_failed":$nFailed,"n_runs":$nRuns,"stat":"median","run_totals":$runTotals,"pin_ratios":$pinDist,"queries":{},"sf":"$sfDir","compact":true,"full_line_above":true}""")
    // The driver captures stdout with a bounded tail that has truncated
    // the per-query map two rounds running — persist the full evidence.
    // (Only for unfiltered runs: a subset must not clobber the record.)
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
