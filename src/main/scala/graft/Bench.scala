package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    // Optional args: query names to bench (default all) — local iteration
    // aid; the driver invokes with no args.
    // TWO always-on controls, each answering a different health question
    // (read protocol in PLANS.md):
    //  - ControlQuery (td_token_stats): BOOT health. Under the count()
    //    protocol it times a parquet METADATA row-count plus job overhead
    //    (Catalyst elides unused projections under a count — the r9
    //    measurement finding), so it moves when the JVM/IO boot is sick
    //    but NOT when the CPU is throttled.
    //  - the CPU control (below): fixed-size, in-memory, forced-evaluated
    //    arithmetic — spark.range(1B) folded through a codegen'd
    //    mod-square sum, timed via toRdd.count() so nothing elides. A
    //    thermally throttled or contended-CPU boot inflates it
    //    proportionally (VERDICT r9 #3: without it, every real-work row
    //    inflates on a throttled boot and the regression read blames
    //    plans). Healthy boot + healthy CPU + slow query => plan
    //    regression; slow CPU control => machine, not plans.
    val ControlQuery = "td_token_stats"
    val wanted = if (args.isEmpty) SparkEntry.queries
                 else SparkEntry.queries.filter { case (n, _) =>
                   args.contains(n) || n == ControlQuery }
    // JVM warm-up: classloader + first janino compile land on whichever
    // query runs first otherwise. Tolerant of partial datasets (the
    // embeddings-only sf100emb decade dir has no lineitem table).
    Seq("q1_agg", "td_fingerprint").foreach { n =>
      SparkEntry.queries.get(n).foreach(fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () })
    }
    // SPARK_GRAFT_FORCED=1 times queryExecution.toRdd.count() instead of
    // count(): the query's own optimized plan, projections and final
    // sort included. count() lets Catalyst elide pure projections,
    // sorts, and left joins against provably-unique right sides (the r9
    // measurement finding — see BENCH_SF100_TEXT.json's protocol note),
    // which is the right default for cross-round comparability but the
    // wrong tool for scan-throughput or decade claims. The decade files
    // use the forced protocol; the 17 known elision-affected queries
    // additionally get standing per-round forced rows (below).
    val forced = sys.env.get("SPARK_GRAFT_FORCED").contains("1")
    def consumeWith(forceEval: Boolean)(df: org.apache.spark.sql.DataFrame): Long =
      if (forceEval) df.queryExecution.toRdd.count() else df.count()
    // Repetitions per query (median reported): single-shot timings proved
    // noisy at the 160-query scale — r3's one-run numbers showed 3-5×
    // "regressions" on queries whose plans had not changed, an artifact of
    // GC pauses and codegen-cache pressure accumulating over the long
    // in-process sweep. The median of n>=3 is robust to one bad draw.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // Steady-state measurement, per query: run once untimed (pays this
    // plan's janino codegen compilation — measured 4.8s first run vs
    // 1.5s steady for td_lsh_candidates; pure JVM startup cost that a
    // long-lived cluster never re-pays), drop any data cache the
    // operator materialized, then time full re-executions from the
    // parquet scan up. Warm-up and timed runs are ADJACENT so the
    // compiled classes are still resident — a single global warm-up
    // pass over all queries thrashes the ~100-entry codegen cache
    // and times recompilation anyway (measured: total got WORSE).
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  forceEval: Boolean): Double = {
      try { consumeWith(forceEval)(fn(spark, sfDir)) }
      catch { case _: Throwable => () }
      val times = (0 until reps).map { _ =>
        LocalSpark.dropStorage(spark)
        val t0 = System.nanoTime()
        // a query that THROWS must be loud, not a fast-looking near-zero
        // timing — surface it on stderr and in the metric line
        val failed =
          try { consumeWith(forceEval)(fn(spark, sfDir)); false }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            true
          }
        if (failed) -1.0 else (System.nanoTime() - t0) / 1e9
      }
      // Isolate queries: drop caches again and give the cleaner a chance
      // to free accumulated broadcasts before the next query's timing.
      LocalSpark.dropStorage(spark)
      System.gc()
      if (times.exists(_ < 0)) -1.0
      else times.sorted.apply(times.size / 2) // median
    }
    val results = wanted.map { case (name, fn) =>
      name -> timeQuery(name, fn, forced)
    }
    // Standing forced-protocol rows (VERDICT r9 #2): the 17 queries
    // BENCH_PROTOCOL_DIFF.json found >2× count()-elision-affected at
    // sf0.01 — their DEFAULT rows under-time their own plan's
    // projection/sort/left-join tails, so a regression there is
    // invisible to the round-over-round read. Each full run re-benches
    // exactly these under toRdd.count(); the VERDICT-facing comparison
    // for them is forced-to-forced. The default protocol (and `total`)
    // stays count() for cross-round comparability.
    val ElisionAffected = Seq(
      "emb_ann_recall", "emb_centroid_drift", "q20_approx_distinct",
      "q46_winsorize", "q53_conversion", "q57_array_hof", "q60_variant",
      "td_contamination_report", "td_corpus_stats", "td_delta_substring",
      "td_distinct_sketch", "td_line_dedup", "td_ngram_diversity",
      "td_repetition", "td_split_coverage", "td_substring_dedup",
      "txt_gopher_full")
    val forcedResults: Seq[(String, Double)] =
      if (forced || args.nonEmpty) Nil // already forced / subset iteration
      else ElisionAffected.flatMap { name =>
        SparkEntry.queries.get(name).map(fn =>
          name -> timeQuery(name, fn, forceEval = true))
      }
    // CPU control: warm once (codegen), then reps, median — same
    // discipline as the queries. Fixed shape, no IO, forced evaluation.
    // Skipped in arg-filtered subset runs (the forcedResults gating,
    // ADVICE r10): subset runs are local iteration aids that don't feed
    // the cross-round regression read, and the 1B-row fold is a fixed
    // multi-second tax per invocation. SPARK_GRAFT_CPU_CONTROL=1
    // overrides the skip: decade probes are arg-filtered subset runs
    // that DO need the same-boot CPU calibration for their artifact.
    def cpuControlOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000000L, 1L, 32)
        .select(sum(pmod(col("id") * col("id"), lit(1000000007L))).as("s"))
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val cpuSecOpt: Option[Double] =
      if (args.nonEmpty && !sys.env.get("SPARK_GRAFT_CPU_CONTROL").contains("1")) None
      else {
        cpuControlOnce()
        val cpuTimes = (0 until reps).map(_ => cpuControlOnce())
        Some(cpuTimes.sorted.apply(cpuTimes.size / 2))
      }
    val failures = results.collect { case (n, d) if d < 0 => n }.toSeq.sorted
    // total covers the REQUESTED queries only: in an arg-filtered run the
    // control is force-added for calibration, and folding its time into
    // `total` would skew a filtered total against a full run's
    val requested = if (args.isEmpty) results
                    else results.filter { case (n, _) => args.contains(n) }
    val total = requested.values.filter(_ >= 0).sum
    // The harness that collects this line keeps only the last ~2000 chars
    // of output, and sbt appends a "[success]" line after us — a full
    // 70-query map at double precision (~2.9 KB in round 1) pushes the
    // line's start out of that window and the metric is lost. Emit a
    // compact machine line: total over ALL queries, but only the heaviest
    // 25 in the per-query map, 2-decimal values. The complete per-query
    // detail (and the full forced block) goes to BENCH_DETAIL.json next
    // to the build instead; stdout carries only forced_total_sec.
    def f2(v: Double) = f"$v%.2f"
    val detail = results.toSeq.sortBy(-_._2)
    val qs = detail.take(25).map { case (k, v) => s"\"$k\":${f2(v)}" }
      .mkString("{", ",", "}")
    val sfName = sfDir.split('/').last
    val forcedTotal = forcedResults.map(_._2).filter(_ >= 0).sum
    // Write the detail artifact only for FULL runs (or an explicit
    // SPARK_GRAFT_DETAIL path): a subset run used for local iteration
    // must not clobber the committed full-run detail with a fragment.
    if (args.isEmpty || sys.env.contains("SPARK_GRAFT_DETAIL")) try {
      val full = detail.map { case (k, v) => s"  \"$k\": ${f2(v)}" }
        .mkString("{\n", ",\n", "\n}\n")
      val forcedJson =
        if (forcedResults.isEmpty) ""
        else forcedResults.map { case (k, v) => s"  \"$k\": ${f2(v)}" }
          .mkString("\"forced\": {\n", ",\n", "\n},\n")
      // Boot-normalized view (VERDICT r10 #5): each query's median over
      // the SAME boot's CPU-control median. The r10 three-boot study
      // showed raw medians carry a boot-wide band (common-244 ratios
      // 1.049–1.19× across boots with DISJOINT >1.3× flag sets); dividing
      // by the same-boot CPU control cancels the boot-wide component, so
      // the round-over-round read adjudicates >1.3× moves on THESE
      // numbers (a move that survives normalization is plan-shaped; one
      // that normalizes away was the boot). Raw medians stay the
      // cross-round comparability record.
      def f3(v: Double) = f"$v%.3f"
      val normJson = cpuSecOpt.map { cpu =>
        detail.filter(_._2 >= 0)
          .map { case (k, v) => s"  \"$k\": ${f3(v / cpu)}" }
          .mkString("\"queries_cpu_normalized\": {\n", ",\n", "\n},\n")
      }.getOrElse("")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_DETAIL",
          "/root/repo/BENCH_DETAIL.json")),
        (s"""{"sf":"$sfName","total_sec":${f2(total)},""" +
          // control objects present iff each control ran (same rule as
          // the stdout line) — never a "sec":-1.0 placeholder
          results.get(ControlQuery).map(t =>
            s""""control":{"name":"$ControlQuery","sec":${f2(t)}},""")
            .getOrElse("") +
          cpuSecOpt.map(c =>
            s""""control_cpu":{"name":"range_modsq_fold_1b","sec":${f2(c)}},""")
            .getOrElse("") +
          forcedJson + normJson +
          s""""queries":$full}""").getBytes)
    } catch { case _: Throwable => () }
    val failedPart =
      if (failures.isEmpty) ""
      else s""","failed":${failures.mkString("[\"", "\",\"", "\"]")}"""
    val controlPart = results.get(ControlQuery)
      .map(t => s""","control":{"name":"$ControlQuery","sec":${f2(t)}}""")
      .getOrElse("")
    val cpuPart = cpuSecOpt.map(c =>
      s""","control_cpu":{"name":"range_modsq_fold_1b","sec":${f2(c)}}""")
      .getOrElse("")
    val forcedPart =
      if (forcedResults.isEmpty) ""
      else s""","forced_total_sec":${f2(forcedTotal)}"""
    println(s"""{"metric":"total","value":${f2(total)},"unit":"sec","reps":$reps,"queries":$qs$failedPart$controlPart$cpuPart$forcedPart,"sf":"$sfName"}""")
    spark.stop()
  }
}
