package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Materialize every row AND every column of the physical plan —
    * unlike count(), which lets Catalyst prune pure-projection work,
    * this forces the full InternalRow stream (judge round-2 finding). */
  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** The host-factor canary set (see main): anchor medians captured
    * 2026-08-16 (round 14 RE-PIN) on the build host at local[32],
    * sf0.1 — per-query mean of the MID and END samples of a
    * canary-only run (SPARK_GRAFT_ONLY=__none__; start samples in a
    * fresh JVM are JIT/page-cache-inflated and excluded). Do NOT
    * re-pin unless a canary query's plan changes: the whole point is
    * a fixed reference across rounds.
    *
    * r14 CUT-OVER (closing the r12 watch item): the r12 anchors read
    * host_factor ≥ 1.15 in EVERY sample across four rounds (1.41,
    * 1.17, 1.27, 1.21, 1.155, and 1.163 on a calm-disk day with
    * io_factor 0.90) — the capture window was unusually fast, so the
    * factor never centered at 1.0 and every round's normalized total
    * carried a ~1.16 constant bias. These anchors re-center it.
    * CROSS-PIN COMPARISON: r13-and-earlier normalized totals divide
    * by old-anchor factors — to compare, recompute from the raw
    * canary samples the artifact records (canary_start/mid/end +
    * canary_pinned), or scale old normalized totals by ≈ 1/1.16.
    * Old pins: q1_agg 1.355, report_cooler_period_trend 1.645,
    * trgx_tree_ops 1.245, semantic_dedup_kmeans 1.192,
    * multimodal_audio 1.326, corpus_token_budget 0.429.
    *
    * Top-level so EntrySpec can assert every name stays registered
    * (a silent rename would null the host factor). */
  val canaryPinned: Seq[(String, Double)] = Seq(
    "q1_agg" -> 1.263,
    "report_cooler_period_trend" -> 1.551,
    "trgx_tree_ops" -> 1.506,
    "semantic_dedup_kmeans" -> 1.330,
    "multimodal_audio" -> 1.498,
    "corpus_token_budget" -> 0.538
  )

  /** I/O-canary anchor (seconds): median of the staged-parquet
    * write/read pass ([[ioCanaryPass]]). The six CPU canaries above
    * are all compute-bound, so `host_factor` corrects CPU weather
    * ONLY — the r12 driver sample ran the staging-dominated
    * `report_family_full` 1.7× slower than the builder's same-commit
    * run at near-identical CPU factors (disk weather). This anchor
    * normalizes that axis:
    * `io_factor = median(io_canary_median / pinned)`. Same re-pin
    * discipline as canaryPinned.
    *
    * r14 RE-PIN (same cut-over as canaryPinned): median of the 10
    * MID+END passes of the 2026-08-16 canary-only run (start passes
    * page-cache-cold in a fresh JVM, excluded). The r13 anchor
    * (1.137) was captured on a 1.41×-CPU day and read 0.90 on the r14
    * calm day — ~11% off-center the fast direction. Old pin: 1.137. */
  val ioCanaryPinned: Double = 1.011

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      // UTC is the correctness precondition Tables.events' NTZ cast
      // documents — without it the events bench queries would time a
      // DIFFERENT workload (zone-shifted timestamps) than Verify gates
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A failing query must be visibly RED in the artifact, not a phantom
    // sub-second timing row (round 6: twelve analysis-time failures
    // benched as ~0.05 s and the totals silently included them). Failed
    // queries land in `failed`, are excluded from every timing map, and
    // None propagates so warm passes skip them.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // canary-pass failures get their OWN map: reusing `failed` made the
    // artifact internally inconsistent (an end-canary failure landed
    // after warmRuns was computed, so the query dropped from cold
    // totals but stayed in queries_warm; a start-canary transient
    // permanently excluded the query from the suite)
    val canaryFailed = scala.collection.mutable.LinkedHashMap[String, String]()
    // GC time spent INSIDE each timing window (summed across all
    // collectors, captured before the inter-window System.gc() so the
    // forced cleanup collection is excluded): the r12→r13 forensics
    // pattern is "query X reads slow mid-suite, plan unchanged" — a
    // per-query gc_ms column separates JVM memory weather (a natural
    // collection landing mid-window) from disk/CPU weather without
    // re-running anything.
    def gcMsNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    var lastGcMs = 0L
    // wall-clock epoch (seconds, 1 decimal) of the last timed pass's
    // START, plus per-phase boundary stamps: three rounds of bench
    // forensics (r11 CPU, r12 disk, r13 mid-walk storm) ended at "a
    // contiguous block reads slow, plans unchanged" with NOTHING in the
    // artifact to correlate the block against a time window. Stamps are
    // zero-perturbation (captured outside every timing window) and make
    // any storm attributable by the artifact alone.
    def epochS(): Double = math.rint(System.currentTimeMillis() / 100.0) / 10.0
    var lastPassTs = 0.0
    // extra disk-bound jobs the pass performed beyond its final
    // materialize: each Tables.staged parquet write is one write+read
    // boundary, each two-phase prefix kernel is two jobs over one
    // shuffled RDD — the structural markers of the
    // many-small-disk-jobs class
    var lastStaged = 0L
    // generated classes Spark compiled during the pass (a miss in the
    // JVM-wide codegen cache, 12–19 ms each): a warm pass that still
    // compiles most of its classes means the cache is too small for the
    // working set (see GraftExtensions), not a plan change
    def compilesNow(): Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    var lastCompiles = 0L
    val phaseTs = scala.collection.mutable.LinkedHashMap[String, Double]()
    phaseTs("run_start") = epochS()
    def timeInto(sink: scala.collection.mutable.LinkedHashMap[String, String])
        (name: String, fn: (SparkSession, String) => DataFrame)
        : Option[Double] = {
      lastPassTs = epochS()
      val s0 = graft.core.Tables.stagedWriteCount
      val p0 = graft.ops.Relational.twoPhaseRunCount
      val c0 = compilesNow()
      val t0 = System.nanoTime()
      val g0 = gcMsNow()
      val ok =
        try { materialize(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          sink.getOrElseUpdate(name,
            s"${e.getClass.getName}: ${e.getMessage}".take(400))
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      lastGcMs = gcMsNow() - g0
      lastStaged = (graft.core.Tables.stagedWriteCount - s0) +
        2L * (graft.ops.Relational.twoPhaseRunCount - p0)
      lastCompiles = compilesNow() - c0
      // drop cached tables the query persisted so runs stay independent
      // (accumulated cache + block-manager state was measured to slow
      // unrelated queries later in the pass); also reap the staging
      // dirs the query's operators materialized
      spark.catalog.clearCache()
      graft.core.Tables.clearStaged()
      // Broadcast/shuffle state is only reclaimed when the JVM GCs the
      // weak refs feeding ContextCleaner (its own periodic GC fires
      // every 30 min — never, at bench timescales). Left alone, ~560
      // timed runs accumulate state until a natural GC fires MID-QUERY
      // and the cleaner's bulk file deletes land in whichever timing
      // window happens to be open: r6 charged ~13 s of it to
      // text_langid, r7 put 2 of benchmark_decontaminate's 3 warm
      // passes at ~25 s vs 2.4 s isolated (warm_spread 8.1 in the
      // artifact; the 24 s median alone was ~14% of total_warm).
      // Forcing the collection HERE — between timing windows — makes
      // the reclaim deterministic and keeps it out of every dt.
      System.gc()
      if (ok) Some(dt) else None
    }
    val time = timeInto(failed) _
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // --- host-factor canary ---------------------------------------------
    // Three rounds of judging (r5/r6, r9/r10, r10/r11) were spent
    // disproving phantom regressions caused by ±30% whole-host speed
    // swings between bench sessions. The fix: time a fixed six-query
    // canary set — stable CPU-bound queries spanning the suite's work
    // classes (scan+agg, report join/window, tree scalar fns, vector
    // k-means, binary kernels, two-phase cumsum) — in ISOLATION at the
    // start and end of the run, and derive
    //   host_factor = median(canary_median_i / pinned_i)
    // where pinned_i are medians captured once on the round-12 anchor
    // host. Every per-query warm median is then also reported as
    // normalized = warm / host_factor, so round-over-round diffs compare
    // work, not machine weather. Pinned values are valid ONLY for the
    // standard sf0.1 bench dir; on any other input the factor is skipped
    // (null in the artifact) rather than silently wrong.
    val canaryEnabled = sfDir.replaceAll("/+$", "").endsWith("sf0.1") &&
      !sys.env.contains("SPARK_GRAFT_NO_CANARY")
    def canaryRun(tag: String): Seq[(String, Double)] =
      if (!canaryEnabled) Seq.empty
      else canaryPinned.flatMap { case (name, _) =>
        SparkEntry.queries.get(name).flatMap { fn =>
          // one untimed warm-up pass (codegen/JIT), then 5 timed passes;
          // failures land in canaryFailed (NOT the suite map — a canary
          // transient must not evict the query from the suite timings)
          timeInto(canaryFailed)(name, fn)
          val ds = (1 to 5).flatMap(_ => timeInto(canaryFailed)(name, fn))
          if (ds.isEmpty) None
          else {
            val m = medianOf(ds)
            System.err.println(f"[bench] canary($tag) $name%-28s $m%6.3f s")
            Some(name -> m)
          }
        }
      }
    // --- I/O canary -------------------------------------------------------
    // The six CPU canaries cannot see DISK weather, and the suite's
    // heaviest query (report_family_full: 31 pipelines over one staged
    // star) is staging-dominated — the r12 round closed with the driver
    // sample 1.7× the builder's same-commit run on exactly that query at
    // near-identical CPU factors. This canary times the staging idiom
    // itself at a fixed size: read an (untimed, once-per-run) ~150 MB
    // deterministic parquet base, write a copy, read the copy back fully
    // — the encode+write+read+decode mix every Tables.staged boundary
    // pays. io_factor = median(pass medians / ioCanaryPinned).
    val ioBase = graft.core.Tables.tmpDir + "/io_canary_base"
    def ioCanaryPrep(): Unit = {
      import org.apache.spark.sql.functions.{col, md5, concat_ws}
      graft.streaming.StreamOps.deletePath(spark, ioBase)
      // md5-derived strings compress poorly, so the written bytes are
      // honest; generation cost lands HERE, outside every timed pass
      spark.range(0, 1500000, 1, 8)
        .select(col("id"),
          md5(col("id").cast("string")).as("s1"),
          md5(concat_ws("_", col("id"), col("id") + 1)).as("s2"),
          md5(concat_ws("-", col("id"), col("id") + 2)).as("s3"))
        .write.mode("overwrite").parquet(ioBase)
    }
    def ioCanaryPass(): Double = {
      val copy = ioBase + "_copy"
      val t0 = System.nanoTime()
      spark.read.parquet(ioBase).write.mode("overwrite").parquet(copy)
      materialize(spark.read.parquet(copy))
      val dt = (System.nanoTime() - t0) / 1e9
      graft.streaming.StreamOps.deletePath(spark, copy)
      System.gc()
      dt
    }
    def ioCanaryRun(tag: String): Seq[Double] =
      if (!canaryEnabled) Seq.empty
      else {
        ioCanaryPass() // untimed warm-up (JIT, page-cache steady state)
        val ds = (1 to 5).map(_ => ioCanaryPass())
        System.err.println(
          f"[bench] io_canary($tag) median ${medianOf(ds)}%6.3f s")
        ds
      }
    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // a SINGLE warm pass is not a trustworthy per-query signal: the
    // round-4 artifact had six queries reporting warm > cold (GC, and
    // recompiled generated code: at Spark's default 100-entry codegen
    // cache a query needing more classes than that evicts its own and
    // recompiles them on every pass; the session now installs
    // GraftExtensions, which sizes the cache at 1000, and
    // queries_warm_compiles / queries_cold_compiles record the misses),
    // poisoning round-over-round comparison. Median of ≥3 back-to-back
    // passes per query is robust to one outlier pass; all passes land in
    // the artifact so the spread itself is inspectable.
    //
    // Parsed + validated BEFORE the cold pass runs: discovering a bad
    // pass count after ~2.5 min of cold timings would discard them all.
    val warmPasses =
      sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "3").toInt
    require(warmPasses >= 1,
      s"SPARK_GRAFT_WARM_PASSES must be >= 1, got $warmPasses")
    // the multi-batch streaming drives and the staged-machinery queries
    // are disk-bound with ~2× day-to-day spread at 3 passes — twice a
    // round-over-round bench diff read their noise as a regression
    // (r9→r10 A/B re-benched identical; the r12 driver sample showed
    // 2.1-3.0× warm spreads on sub-second two-phase staged queries).
    // Median over 5 passes pins their round-over-round delta on
    // unchanged code under 10%. Membership is DERIVED, not named
    // (r11→r13 the name list was reactive — queries joined one round
    // AFTER their spread burned a comparison): a query whose cold pass
    // performed ≥2 Tables.staged parquet writes is structurally in the
    // many-small-disk-jobs class, and every streaming_ drive is
    // (foreachBatch sinks write outside Tables.staged's counter). The
    // derived set and counts land in the artifact (noisy_derived):
    // count = staged writes + 2 · two-phase kernel runs in the cold
    // pass; ≥2 extra disk jobs ⇒ 5-pass median. The derivation covers
    // every r13 name-list member except report_score_gt_rural_period_bg
    // — structurally a plain star join + windows (0 extra disk jobs),
    // so its one noisy r12 driver sample was machine weather; storms on
    // structurally-quiet queries are now adjudicated by
    // queries_isolated instead of by widening this set.
    val coldStaged = scala.collection.mutable.LinkedHashMap[String, Long]()
    val noisyStagedMin = 2L
    def passesFor(name: String): Int =
      if (name.startsWith("streaming_") ||
          coldStaged.getOrElse(name, 0L) >= noisyStagedMin)
        math.max(warmPasses, 5)
      else warmPasses
    // base table built once per run, untimed, before any canary sample
    if (canaryEnabled) ioCanaryPrep()
    phaseTs("io_canary_start") = epochS()
    val ioStart = ioCanaryRun("start")
    phaseTs("canary_start") = epochS()
    val canaryStart = canaryRun("start")
    val coldGc = scala.collection.mutable.LinkedHashMap[String, Long]()
    val coldCompiles = scala.collection.mutable.LinkedHashMap[String, Long]()
    val coldTs = scala.collection.mutable.LinkedHashMap[String, Double]()
    phaseTs("cold") = epochS()
    val cold = sorted.flatMap { case (name, fn) =>
      time(name, fn).map { dt =>
        System.err.println(f"[bench] cold $name%-28s $dt%8.2f s")
        coldGc(name) = lastGcMs
        coldCompiles(name) = lastCompiles
        coldTs(name) = lastPassTs
        coldStaged(name) = lastStaged
        name -> dt
      }
    }
    // MID-RUN samples (between the cold and warm phases): endpoint-only
    // sampling left a ~40-min blind window — the r13 closing run hit a
    // sustained mid-suite disk storm (report_family_full passes 36/97/54
    // s) that neither endpoint factor saw. Three samples make the
    // median factor representative of the run, not just its edges.
    phaseTs("canary_mid") = epochS()
    val canaryMid = canaryRun("mid")
    phaseTs("io_canary_mid") = epochS()
    val ioMid = ioCanaryRun("mid")
    val warmGcRuns =
      scala.collection.mutable.LinkedHashMap[String, List[Long]]()
    val warmTsRuns =
      scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val warmCompileRuns =
      scala.collection.mutable.LinkedHashMap[String, List[Long]]()
    phaseTs("warm") = epochS()
    val warmRuns = sorted
      .filter { case (name, _) => !failed.contains(name) }
      .flatMap { case (name, fn) =>
        val passes = passesFor(name)
        val ds = (1 to passes).flatMap { i =>
          time(name, fn).map { dt =>
            System.err.println(f"[bench] warm#$i $name%-26s $dt%8.2f s")
            warmGcRuns(name) =
              warmGcRuns.getOrElse(name, Nil) :+ lastGcMs
            warmTsRuns(name) =
              warmTsRuns.getOrElse(name, Nil) :+ lastPassTs
            warmCompileRuns(name) =
              warmCompileRuns.getOrElse(name, Nil) :+ lastCompiles
            dt
          }
        }
        // a query that failed mid-warm is dropped from timing entirely
        // (it is already recorded in `failed`)
        if (ds.size == passes) Some(name -> ds) else None
      }
    // second canary sample AFTER the suite: the host can drift over the
    // ~45-min run, so the factor is the median over BOTH samples' ratios
    phaseTs("canary_end") = epochS()
    val canaryEnd = canaryRun("end")
    phaseTs("io_canary_end") = epochS()
    val ioEnd = ioCanaryRun("end")
    // --- post-suite isolated re-measure ---------------------------------
    // The artifact's own storm adjudicator: the queries that moved most
    // this run are re-run once each after the whole suite (cache
    // cleared + GC between, same JVM — the "isolated" condition the r13
    // forensics had to reproduce manually). A mid-walk disk storm
    // inflates a contiguous block's warm medians while its members'
    // isolated re-measures return to cold level; a genuine plan
    // regression stays slow here too. The judge-on-isolated rule
    // becomes data in the artifact, not prose.
    //
    // TWO triggers (r14 used warm-median/cold alone, which misses a
    // storm that hits the COLD pass — the ratio DEFLATES — and storms
    // wider than the top 5):
    //   "ratio":  top 5 by warm_median / cold (a sustained warm-phase
    //             slowdown);
    //   "spread": warm max/min > 2 across the passes (a transient
    //             storm hitting SOME passes — including one that hit
    //             cold, leaving warm spread as the only signal).
    // Capped at 8 total (ratio picks first, then spread by descending
    // spread); each entry records which trigger(s) fired
    // (isolated_trigger in the artifact).
    val isolatedFailed =
      scala.collection.mutable.LinkedHashMap[String, String]()
    val warmMedPre = warmRuns.map { case (n, ds) => n -> medianOf(ds) }.toMap
    val coldByName = cold.toMap
    val spreadPre = warmRuns.map { case (n, ds) =>
      n -> (if (ds.min > 0) ds.max / ds.min else 1.0) }.toMap
    val ratioPicks = warmRuns.map(_._1)
      .filter(n => coldByName.contains(n) && coldByName(n) > 0)
      .sortBy(n => -(warmMedPre(n) / coldByName(n)))
      .take(5)
    val isolatedCap = 8
    val spreadPicks = warmRuns.map(_._1)
      .filterNot(ratioPicks.contains)
      .filter(n => spreadPre(n) > 2.0)
      .sortBy(n => -spreadPre(n))
      .take(isolatedCap - ratioPicks.size)
    val isolatedTrigger =
      ratioPicks.map(n =>
        n -> (if (spreadPre.getOrElse(n, 1.0) > 2.0) "both" else "ratio")) ++
      spreadPicks.map(_ -> "spread")
    phaseTs("isolated") = epochS()
    val isolated = isolatedTrigger.flatMap { case (n, trig) =>
      SparkEntry.queries.get(n).flatMap { fn =>
        timeInto(isolatedFailed)(n, fn).map { dt =>
          System.err.println(f"[bench] isolated $n%-24s $dt%8.2f s " +
            f"(cold ${coldByName(n)}%.2f, warm med ${warmMedPre(n)}%.2f, " +
            s"trigger $trig)")
          n -> dt
        }
      }
    }
    phaseTs("done") = epochS()
    val pinnedMap = canaryPinned.toMap
    val canaryRatios = (canaryStart ++ canaryMid ++ canaryEnd)
      .flatMap { case (n, m) => pinnedMap.get(n).map(m / _) }
    // every pinned canary NAME must appear in at least one sample: a
    // size-only gate accepted a lopsided set (3 of 6 canaries at both
    // ends = 6 ratios) and presented a half-coverage factor as valid
    val namesSeen = (canaryStart ++ canaryMid ++ canaryEnd).map(_._1).toSet
    val hostFactor: Option[Double] =
      if (canaryRatios.nonEmpty && canaryPinned.forall(p => namesSeen(p._1)))
        Some(medianOf(canaryRatios))
      else None
    hostFactor.foreach { f =>
      System.err.println(f"[bench] host_factor $f%.3f (1.0 = r12 anchor host; >1 = slower host)")
    }
    val ioFactor: Option[Double] = {
      val meds = Seq(ioStart, ioMid, ioEnd).filter(_.nonEmpty).map(medianOf)
      if (meds.size == 3) Some(medianOf(meds.map(_ / ioCanaryPinned)))
      else None
    }
    ioFactor.foreach { f =>
      System.err.println(f"[bench] io_factor $f%.3f (1.0 = r13 anchor disk; >1 = slower staging I/O)")
    }
    val warm = warmRuns.map { case (n, ds) => n -> medianOf(ds) }
    val warmMin = warmRuns.map { case (n, ds) => n -> ds.min }
    // per-query noise indicator: max/min over the warm passes. r5 vs r6
    // moved 37% in total warm on byte-identical code, so the artifact
    // itself must carry enough spread data to tell noise from
    // regression without diffing raw passes across rounds.
    val warmSpread = warmRuns.map { case (n, ds) =>
      n -> (if (ds.min > 0) ds.max / ds.min else 1.0)
    }
    // flag residual anomalies loudly instead of leaving them to the
    // next round's diff: a MEDIAN warm slower than 1.2x cold is a real
    // signal (plan re-derivation cost or a caching assumption), not
    // single-pass noise
    val warmByName = warm.toMap
    cold.foreach { case (n, c) =>
      warmByName.get(n).foreach { w =>
        if (w > 1.2 * c)
          System.err.println(f"[bench] WARN warm median > 1.2x cold: $n ($c%.2f cold, $w%.2f warm)")
      }
    }
    def js(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsArr(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, vs) =>
        "\"" + k + "\":" + vs.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // a query that ran cold but failed during a warm pass landed in
    // `failed` AFTER its cold row was recorded — drop it here so the
    // `failed` keys are disjoint from every timing map and the totals
    // exclude it (the artifact contract)
    val coldOk = cold.filter { case (n, _) => !failed.contains(n) }
    val total = coldOk.map(_._2).sum
    val totalWarm = warm.map(_._2).sum
    val hfJson = hostFactor.map(_.toString).getOrElse("null")
    val warmNormalized = hostFactor
      .map(f => warm.map { case (n, v) => n -> v / f })
      .getOrElse(Seq.empty)
    val totalWarmNormJson = hostFactor
      .map(f => (totalWarm / f).toString).getOrElse("null")
    // staging-dominated queries: warm cost is mostly the parquet
    // write/read boundary (Tables.staged / per-iteration PageRank
    // staging / foreachBatch sinks / the family sink append), so DISK
    // weather, not CPU weather, moves them — the dual-normalized total
    // divides these by io_factor and everything else by host_factor.
    // Pinned by name (a heuristic; membership is part of the metric's
    // definition and changes re-pin the comparison baseline).
    def isIoBound(n: String): Boolean =
      n.startsWith("streaming_") || n.startsWith("link_") ||
        Set("report_family_full", "report_family_run",
          "ccnet_perplexity_buckets", "corpus_shard",
          "quality_quantiles", "quality_percentile_filter",
          "corpus_card", "report_score_gt_rural_period_bg",
          "dedup_components",
          // r15 additions (new keys — no prior-round baseline to
          // re-pin): both are staged-iteration queries (per-round
          // vocab restage / persisted sketch table)
          "bpe_train_distributed", "corpus_card_merged")(n)
    val ioBoundTimed = warm.map(_._1).filter(isIoBound)
    // First-order two-factor cost model: an io-bound query's time is
    // raw ≈ base·((1−s)·host_factor + s·io_factor), s the query's
    // staging share. Dividing by io_factor alone OVER-corrects (the
    // r13 calibration A/B: report_family_full raw 32.0 s at factors
    // (1.17, 0.96) vs 60.7 s under deliberate fdatasync disk load at
    // (1.42, 3.37) — the pure-division normals read 33.3 vs 18.0 s,
    // while solving the pair gives cpu 19.2 s + io 9.9 s ⇒ s ≈ 0.35
    // and a stable 29.1 s). The class-wide s = 0.35 is a pinned model
    // parameter like the anchors; non-io-bound queries use host_factor
    // alone.
    val ioShare = 0.35
    val warmDual = (hostFactor, ioFactor) match {
      case (Some(hf), Some(iof)) =>
        warm.map { case (n, v) =>
          n -> v / (if (isIoBound(n)) (1 - ioShare) * hf + ioShare * iof
                    else hf)
        }
      case _ => Seq.empty
    }
    val totalWarmDualJson =
      if (warmDual.nonEmpty) warmDual.map(_._2).sum.toString else "null"
    val iofJson = ioFactor.map(_.toString).getOrElse("null")
    val failedJson = failed
      .map { case (k, v) =>
        s"${graft.core.Json.quote(k)}:${graft.core.Json.quote(v)}" }
      .mkString("{", ",", "}")
    val canaryFailedJson = canaryFailed
      .map { case (k, v) =>
        s"${graft.core.Json.quote(k)}:${graft.core.Json.quote(v)}" }
      .mkString("{", ",", "}")
    val ioBoundJson = ioBoundTimed
      .map(graft.core.Json.quote).mkString("[", ",", "]")
    // per-query GC forensics: median in-window GC ms over the warm
    // passes (keys restricted to queries that completed all passes),
    // plus the cold-pass value — a mid-suite slowdown whose gc_ms also
    // jumped is JVM memory weather, not a plan regression
    val warmNames = warm.map(_._1).toSet
    def jsL(rs: Seq[(String, Long)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val warmGcMed = warmGcRuns.toSeq
      .filter { case (n, _) => warmNames(n) }
      .map { case (n, gs) =>
        n -> math.round(medianOf(gs.map(_.toDouble))) }
    val coldGcJson = jsL(coldGc.toSeq
      .filter { case (n, _) => !failed.contains(n) })
    // same shape for generated-class compilations per pass
    val warmCompilesMed = warmCompileRuns.toSeq
      .filter { case (n, _) => warmNames(n) }
      .map { case (n, cs) =>
        n -> math.round(medianOf(cs.map(_.toDouble))) }
    val coldCompilesJson = jsL(coldCompiles.toSeq
      .filter { case (n, _) => !failed.contains(n) })
    // "cold_canary_prewarmed": the start canary runs its six queries
    // 6× each BEFORE the cold loop, so those queries' cold timings are
    // systematically warmer than pre-r12 artifacts' — the flag makes
    // the artifact state that instead of leaving cold diffs silently
    // incomparable across the r12 boundary
    val isolatedFailedJson = isolatedFailed
      .map { case (k, v) =>
        s"${graft.core.Json.quote(k)}:${graft.core.Json.quote(v)}" }
      .mkString("{", ",", "}")
    val isolatedTriggerJson = isolatedTrigger
      .map { case (k, v) =>
        s"${graft.core.Json.quote(k)}:${graft.core.Json.quote(v)}" }
      .mkString("{", ",", "}")
    val noisyDerivedJson = jsL(coldStaged.toSeq
      .filter { case (_, c) => c >= noisyStagedMin })
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${js(coldOk)},"queries_warm":${js(warm)},"queries_warm_min":${js(warmMin)},"warm_passes":${jsArr(warmRuns)},"warm_pass_count":$warmPasses,"warm_spread":${js(warmSpread)},"failed":$failedJson,"canary_failed":$canaryFailedJson,"cold_canary_prewarmed":${canaryEnabled},"total_warm":$totalWarm,"host_factor":$hfJson,"canary_start":${js(canaryStart)},"canary_mid":${js(canaryMid)},"canary_end":${js(canaryEnd)},"canary_pinned":${js(canaryPinned)},"io_factor":$iofJson,"io_canary_start":${ioStart.mkString("[", ",", "]")},"io_canary_mid":${ioMid.mkString("[", ",", "]")},"io_canary_end":${ioEnd.mkString("[", ",", "]")},"io_canary_pinned":$ioCanaryPinned,"io_share":$ioShare,"io_bound_queries":$ioBoundJson,"total_warm_normalized":$totalWarmNormJson,"total_warm_normalized_dual":$totalWarmDualJson,"queries_warm_normalized":${js(warmNormalized)},"queries_warm_normalized_dual":${js(warmDual)},"queries_warm_gc_ms":${jsL(warmGcMed)},"queries_cold_gc_ms":$coldGcJson,"queries_warm_compiles":${jsL(warmCompilesMed)},"queries_cold_compiles":$coldCompilesJson,"phase_ts":${js(phaseTs.toSeq)},"queries_cold_ts":${js(coldTs.toSeq)},"warm_pass_ts":${jsArr(warmTsRuns.toSeq)},"queries_isolated":${js(isolated)},"isolated_trigger":$isolatedTriggerJson,"isolated_failed":$isolatedFailedJson,"noisy_derived":$noisyDerivedJson,"noisy_rule":"staged_writes+2*two_phase>=${noisyStagedMin}|streaming_*","sf":"$sfDir"}"""
    if (failed.nonEmpty)
      System.err.println(
        s"[bench] ${failed.size} queries FAILED (excluded from timings): " +
          failed.keys.mkString(", "))
    println(line)
    // the driver preserves only a short stdout tail (round 3 lost the
    // per-query cold map to truncation) — mirror the full JSON into the
    // working directory (the checkout, under sbt) so rounds stay
    // diffable. A SPARK_GRAFT_ONLY-filtered run goes to a sibling file:
    // a 3-query iteration must never clobber the full-suite artifact (it
    // silently did once).
    val outDefault =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) "BENCH_PARTIAL.json"
      else "BENCH_LOCAL.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_BENCH_OUT", outDefault)),
      line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_LOCAL write failed: ${e.getMessage}")
    }
    // The driver keeps only the last ~2000 bytes of stdout and parses a
    // JSON line out of that window. The full line above is ~25 KB, so
    // its head (the `{"metric"` anchor) never survives the window —
    // seven rounds of BENCH_r*.json carry `parsed: null`. Emit a
    // second, SHORT summary line LAST so one complete JSON object is
    // always inside the window; per-query detail stays in the big line
    // and BENCH_LOCAL.json. `queries` here is deliberately only the
    // slowest few (marked by queries_truncated_to) to stay under the
    // window even if names grow.
    val slowest = warm.sortBy(-_._2).take(12)
      .map { case (k, v) => k -> math.rint(v * 1000) / 1000 }
    val hfShort = hostFactor
      .map(f => math.rint(f * 1000) / 1000).map(_.toString).getOrElse("null")
    val twnShort = hostFactor
      .map(f => math.rint(totalWarm / f * 1000) / 1000)
      .map(_.toString).getOrElse("null")
    val iofShort = ioFactor
      .map(f => math.rint(f * 1000) / 1000).map(_.toString).getOrElse("null")
    val shortLine =
      s"""{"metric":"total_warm","value":${math.rint(totalWarm * 1000) / 1000},"unit":"sec","host_factor":$hfShort,"io_factor":$iofShort,"total_warm_normalized":$twnShort,"queries":${js(slowest)},"queries_n":${warm.size},"queries_truncated_to":${slowest.size},"failed_n":${failed.size},"full":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    println(shortLine)
    if (canaryEnabled)
      graft.streaming.StreamOps.deletePath(spark, ioBase)
    spark.stop()
  }
}
