package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Corpus-preparation operators for LLM training pipelines: context-window
  * chunking, concat-and-chunk sequence packing, and stratified sampling.
  * All three are pure projections or single-window plans — no self-joins,
  * no driver collects — and every rule is engine-portable (md5 routing,
  * integer arithmetic) so results are reproducible across re-runs,
  * repartitioning, and engines.
  */
object Corpus {

  /** Split each document into overlapping token-window chunks (the
    * context-window preprocessing step before tokenized training).
    *
    * Chunk i covers tokens [i·stride, i·stride + window); the number of
    * chunks is ceil((n − window) / stride) + 1 (minimum 1), so the final
    * chunk always reaches the last token and every token is covered.
    * Implemented as sequence → transform → posexplode: a pure per-row
    * projection — no shuffle, scales linearly, and the explode factor is
    * bounded by n/stride per document.
    *
    * Output: (idCol, chunk_idx, chunk_text, n_tokens).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be > 0, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window], got $stride")
    // null text behaves like empty text (one empty chunk), not a null
    // row silently dropped by size(null) = -1 arithmetic. The empty
    // doc's chunk reports n_tokens = 0, matching tokenCountWs('') = 0 —
    // split('', ' ') yields [''], whose phantom token would otherwise
    // leak into packSequences bin offsets and defeat n_tokens>0 filters
    // normTokens = split(normalizeText(·), " ") minus the ['']
    // empty-doc artifact — the exact staged-toks value the HOF form
    // computed with a when() guard; chunking runs as ONE native pass
    // (TextKernels.ChunkTokens) instead of an interpreted
    // slice+join+size lambda per chunk (~1.3× the token count of
    // interpreted work per document). HOF form retained below.
    df.select(col(idCol),
        posexplode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.ChunkTokens(
            org.apache.spark.sql.GraftBridge.expression(
              TextAnalysis.normTokens(coalesce(col(textCol), lit("")))),
            window, stride))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col.chunk_text"), col("col.n_tokens"))
  }

  /** HOF parity baseline for [[chunkDocuments]] (CorpusSpec). */
  private[graft] def chunkDocumentsHof(df: DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): DataFrame = {
    val rawToks = split(TextAnalysis.normalizeText(
      coalesce(col(textCol), lit(""))), " ")
    val toks = when(size(rawToks) === 1 && rawToks.getItem(0) === "",
      array().cast("array<string>")).otherwise(rawToks)
    val staged = df.select(col(idCol), toks.as("__toks"))
      .withColumn("__nchunks",
        when(size(col("__toks")) <= window, lit(1))
          .otherwise(ceil((size(col("__toks")) - window)
            .cast("double") / stride).cast("int") + 1))
    staged
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__nchunks") - 1),
          i => {
            val piece = slice(col("__toks"), i * stride + 1, lit(window))
            struct(array_join(piece, " ").as("chunk_text"),
                   size(piece).as("n_tokens"))
          })))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col.chunk_text"), col("col.n_tokens"))
  }

  /** Concat-and-chunk sequence packing: documents are laid end-to-end in
    * (bucket, id) order and the concatenated token stream is sliced into
    * fixed `budget`-token bins — the standard packing used to fill
    * training context windows without padding (document boundaries may
    * cross bins; `crosses_bin` marks those rows for mask handling).
    *
    * The running offset is a window sum PARTITIONED BY a deterministic
    * `id % nBuckets` bucket, so no single task sees more than 1/nBuckets
    * of the data — the 100 TB-safe form of the global-cumsum packing
    * (one bucket = one independent packing stream, exactly how a
    * multi-writer pipeline shards anyway). Assignment is a pure function
    * of (id, tokens) — stable under re-runs and repartitioning.
    *
    * Output: idCol, bucket, bin, offset_in_bin, crosses_bin.
    */
  def packSequences(df: DataFrame, idCol: String, tokCol: String,
                    budget: Int, nBuckets: Int): DataFrame = {
    require(budget > 0 && nBuckets > 0)
    val w = Window.partitionBy("bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("bucket", pmod(col(idCol), lit(nBuckets.toLong)))
      .withColumn("__off", coalesce(sum(col(tokCol)).over(w), lit(0L)))
      .select(col(idCol), col("bucket"),
        floor(col("__off") / budget).as("bin"),
        pmod(col("__off"), lit(budget.toLong)).as("offset_in_bin"),
        (pmod(col("__off"), lit(budget.toLong)) + col(tokCol) > budget)
          .as("crosses_bin"))
  }

  /** Per-stratum deterministic sampling: a row survives iff the first 4
    * hex chars of md5(key ‖ seed) fall under its stratum's rate
    * threshold (granularity 1/65536) — [[graft.ops.Relational.hashSplit]]
    * routing generalized to a rate per stratum (e.g. downsample English,
    * keep all of a rare language). Shuffle-free pure filter; a given key
    * NEVER migrates in or out of the sample as the corpus grows.
    *
    * Strata absent from `rates` fall back to `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, keyCol: Column, stratumCol: Column,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0,
                       seed: String = "graft"): DataFrame = {
    // "g000" sorts after every 4-hex-char hash ('g' > 'f') — the
    // rate-1.0 threshold, since "10000" would compare LESS than most
    // hashes lexicographically. Rate 0 gets "0000": no hash sorts
    // below it.
    def hexThreshold(rate: Double): String = {
      require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
      val t = math.round(rate * 65536).toInt
      if (t >= 65536) "g000" else f"$t%04x"
    }
    // One MAP-literal lookup, not a per-stratum CASE chain: a CASE
    // referencing stratumCol k times gets the stratum EXPRESSION
    // inlined k times when the filter pushes through the projection
    // that computes it (measured 6× query time with a langid stratum)
    val thrMap = typedLit(rates.map { case (k, v) => k -> hexThreshold(v) })
    val thr = coalesce(element_at(thrMap, stratumCol),
      lit(hexThreshold(defaultRate)))
    df.filter(
      substring(md5(concat(keyCol.cast("string"), lit(seed))), 1, 4) < thr)
  }

  /** Domain-weighted mixture resampling (training-data mixing): keep a
    * deterministic subset of each listed source so the KEPT token mass
    * follows the target `weights`, without upsampling — the feasible
    * total is N = min over sources of tokens_s / w_s, and source s
    * samples at rate w_s·N / tokens_s (the binding source keeps
    * everything; unlisted sources drop entirely).
    *
    * Unlike [[stratifiedSample]] the rates are DERIVED FROM THE DATA:
    * per-source token totals are a tiny aggregate (|sources| rows)
    * broadcast back onto the corpus — the corpus itself never shuffles,
    * and selection stays the md5-threshold rule (re-run / growth /
    * repartition stable given fixed totals). Rate comparison is on the
    * integer value of the 4-hex-char prefix so the data-dependent
    * threshold needs no driver-side formatting.
    *
    * Output: input columns + round(rate, 6) for the kept rows.
    */
  def mixtureSample(df: DataFrame, keyCol: Column, sourceCol: Column,
                    tokCol: Column, weights: Map[String, Double],
                    seed: String = "graft"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val wmap = typedLit(weights)
    // a listed source whose rows sum to ZERO tokens contributes no
    // token mass: drop it from both N and the rates (it would divide
    // by zero under ANSI and poison N = min(tok/w) to 0 for everyone)
    val totals = df.filter(sourceCol.isin(weights.keys.toSeq: _*))
      .groupBy(sourceCol.as("__src"))
      .agg(sum(tokCol).as("__tok"))
      .filter(col("__tok") > 0)
      .withColumn("__w", element_at(wmap, col("__src")))
    // N — one-row aggregate of the tiny totals table
    val nmax = totals.agg(min(col("__tok") / col("__w")).as("__nmax"))
    val rates = totals.crossJoin(nmax)
      .select(col("__src"),
        (col("__w") * col("__nmax") / col("__tok")).as("__rate"))
    rateSample(df.join(broadcast(rates), sourceCol === col("__src")),
        keyCol, col("__rate"), seed)
      .withColumn("rate", round(col("__rate"), 6))
      .drop("__src", "__rate")
  }

  /** Temperature-scaled mixture resampling (the multilingual/domain
    * α-sampling rule): target weights derive FROM THE DATA as
    * tokens_s^α — α < 1 upweights rare sources relative to their
    * natural share, α = 1 keeps natural proportions. Weights enter the
    * rate formula UNNORMALIZED — rates are invariant under scaling all
    * weights (N = min tok/w shrinks as w grows), which removes the one
    * non-reproducible float op a normalizer would need (a cross-engine
    * sum of doubles has no defined order). At the default α = 0.5 the
    * weight is `sqrt`, correctly rounded in IEEE-754, so every step
    * (sqrt, divide, min, multiply) is bit-identical in any engine;
    * other α use `pow`, which may differ by an ulp across libm
    * implementations (fine for sampling, stated for oracle work).
    * Selection is the md5-threshold rule of [[rateSample]] — re-runs,
    * growth, and repartitioning never migrate a row. Output: kept rows
    * + round(rate, 6). */
  def temperatureMixture(df: DataFrame, keyCol: Column,
                         sourceCol: Column, tokCol: Column,
                         alpha: Double = 0.5,
                         seed: String = "graft"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    def u(c: Column): Column = if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    // zero-token sources drop (see mixtureSample): 0/u(0) would divide
    // by zero under ANSI and zero out N for every other source
    val totals = df.groupBy(sourceCol.as("__src"))
      .agg(sum(tokCol).as("__tok"))
      .filter(col("__tok") > 0)
      .withColumn("__u", u(col("__tok")))
    val nmax = totals.agg(min(col("__tok") / col("__u")).as("__nmax"))
    val rates = totals.crossJoin(nmax)
      .select(col("__src"),
        least(lit(1.0), col("__u") * col("__nmax") / col("__tok"))
          .as("__rate"))
    rateSample(df.join(broadcast(rates), sourceCol === col("__src")),
        keyCol, col("__rate"), seed)
      .withColumn("rate", round(col("__rate"), 6))
      .drop("__src", "__rate")
  }

  /** Per-row hash sampling at an arbitrary rate EXPRESSION:
    * [[stratifiedSample]] generalized from per-stratum literal rates to
    * a data-computed rate per row (quality-weighted corpus sampling,
    * mixture rates, …). Keep iff the integer value of the 4-hex-char
    * md5(key ‖ seed) prefix < floor(rate·65536), rate ≥ 1 keeps
    * unconditionally — deterministic in (key, seed): re-runs, corpus
    * growth, and repartitioning never migrate a row in or out. */
  def rateSample(df: DataFrame, keyCol: Column, rate: Column,
                 seed: String = "graft"): DataFrame = {
    val prefixInt = conv(
      substring(md5(concat(keyCol.cast("string"), lit(seed))), 1, 4),
      16, 10).cast("int")
    df.filter(rate >= 1.0 || prefixInt < floor(rate * 65536).cast("int"))
  }

  /** Reproducible corpus shuffle + round-robin sharding: the global
    * training order is the md5(key ‖ seed) sort (the deterministic
    * "shuffle" every epoch/restart must agree on), `pos` its
    * distributed global row number, and shard = (pos − 1) mod nShards —
    * shards balanced to within one row, and a shard's rows in pos order
    * ARE the training order (a writer partitionBy(shard) +
    * sortWithinPartitions(pos) emits ready-to-stream shards). Built on
    * [[graft.ops.Relational.globalRowNumber]]: range-repartition +
    * two-phase offsets, NO single-partition window.
    *
    * Output: input columns + (pos: long starting at 1, shard: long).
    */
  def shuffleShard(df: DataFrame, keyCol: Column, nShards: Int,
                   seed: String = "graft"): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val staged = df.withColumn("__h",
      md5(concat(keyCol.cast("string"), lit(seed))))
    // the range-repartitioned numbering stage runs at the session's
    // shuffle width — raise spark.sql.shuffle.partitions with the
    // corpus so no task sorts more than ~a few GB
    Relational.globalRowNumber(staged, Seq(col("__h"), keyCol), "pos")
      .withColumn("shard", pmod(col("pos") - 1, lit(nShards.toLong)))
      .drop("__h")
  }

  /** Materialize [[shuffleShard]] as ready-to-stream training shards:
    * `path/shard=K/` holds shard K's rows in training (pos) order —
    * one repartition on the shard key + a within-partition sort, then
    * a partitioned write (the layout a data loader consumes
    * sequentially per worker). */
  def writeShards(df: DataFrame, keyCol: Column, nShards: Int,
                  path: String, seed: String = "graft"): Unit = {
    val sharded = shuffleShard(df, keyCol, nShards, seed)
    sharded
      // RANGE repartition on the shard key ALONE: equal keys always
      // land in one task, so each shard=K dir gets exactly ONE file
      // whose row order is the training order (adding pos as a range
      // key would let a sampled boundary split a shard across two
      // files; hashing would collide ~1/e of the writer tasks empty)
      .repartitionByRange(nShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // completeness manifest NEXT TO the shards, derived by re-reading
    // what was actually written (not what was intended): per-shard row
    // count and pos range. A training job can assert coverage —
    // Σ n_rows = corpus size, pos ranges partition 1..N — before any
    // epoch starts instead of discovering a short shard mid-run. The
    // read-back supplies the known schema explicitly: an EMPTY corpus
    // writes no parquet files, and schema inference over the bare
    // _SUCCESS dir would throw where an empty manifest is correct.
    val sp = df.sparkSession
    sp.read.schema(sharded.schema).parquet(path)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), min("pos").as("min_pos"),
           max("pos").as("max_pos"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifest")
  }

  /** Read back a [[writeShards]] manifest. */
  def shardManifest(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(s"$path/_manifest")

  /** Population-stability-index distribution drift between two slices
    * of a corpus — the monitoring step run between crawl snapshots to
    * catch a source mix or language mix shifting under the pipeline
    * (PSI is the standard banking/ML-monitoring drift measure; > 0.1
    * per key is the conventional "investigate" line). Rows with
    * `inA` true form slice A, the rest slice B; each (dimension,
    * key) emits its slice shares and its PSI term
    * (p_a − p_b)·ln(p_a/p_b), Laplace-smoothed by +1 over the
    * dimension's key count so a key present in only one slice stays
    * finite. Callers sum psi_term per dimension for the headline
    * number.
    *
    * Scale shape: ONE hash aggregation over (dimension, key) with
    * conditional counts (map-side combine collapses the corpus to
    * dims × keys rows before the shuffle); the per-dimension totals
    * table is dims-sized and broadcast back. The PSI arithmetic is
    * per-ROW over exact integer counts — no cross-row double
    * summation, so round(...,6) is engine-exact.
    *
    * Output: dim, key (stringified; null keys group as null), n_a,
    * n_b, p_a, p_b, psi_term. */
  def distributionDrift(df: DataFrame, inA: Column,
                        dims: Seq[(String, Column)]): DataFrame = {
    require(dims.nonEmpty, "distributionDrift needs at least one dim")
    val rows = dimKeyRows(df.withColumn("__a", inA), dims,
      carry = Seq(col("__a")))
    // counts feeds BOTH the totals aggregate and the output join —
    // without a staging boundary the physical plan duplicates the
    // whole corpus-scan subtree (PLANFP showed scan: 2). The staged
    // table is dims × keys rows, trivially small.
    val counts = graft.core.Tables.staged(
      rows.groupBy("dim", "key").agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b")),
      "drift_counts")
    val totals = counts.groupBy("dim").agg(
      sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"),
      count(lit(1)).as("__k"))
    val pa = (col("n_a") + lit(1L)).cast("double") /
      (col("__ta") + col("__k")).cast("double")
    val pb = (col("n_b") + lit(1L)).cast("double") /
      (col("__tb") + col("__k")).cast("double")
    counts.join(broadcast(totals), Seq("dim"))
      .select(col("dim"), col("key"), col("n_a"), col("n_b"),
        round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
        round((pa - pb) * log(pa / pb), 6).as("psi_term"))
  }

  /** One (dim, key) row per input row per dimension — the shared
    * expansion under [[dimProfile]], [[driftVsProfile]] and
    * [[distributionDrift]] (one body so the key stringification can't
    * drift between the join sides). Extra columns pass through. */
  private def dimKeyRows(df: DataFrame, dims: Seq[(String, Column)],
                         carry: Seq[Column] = Nil): DataFrame =
    df.select(carry :+ explode(array(dims.map { case (n, c) =>
        struct(lit(n).as("dim"), c.cast("string").as("key"))
      }: _*)).as("dk"): _*)
      .withColumn("dim", col("dk.dim")).withColumn("key", col("dk.key"))
      .drop("dk")

  /** Dimension-mix profile of a corpus: one (dim, key, n_ref) row per
    * dimension value — the reference side of [[driftVsProfile]],
    * computed once from a trusted snapshot. Same single-shuffle shape
    * as [[distributionDrift]]'s counts. */
  def dimProfile(df: DataFrame,
                 dims: Seq[(String, Column)]): DataFrame =
    dimKeyRows(df, dims)
      .groupBy("dim", "key").agg(count(lit(1)).as("n_ref"))

  /** PSI of a batch's dimension mixes against a FIXED reference
    * profile — the per-batch form of [[distributionDrift]] for
    * streaming monitors ([[graft.streaming.StreamOps]]
    * `continuousDriftMonitor`): the profile is computed once via
    * [[dimProfile]]; every arriving batch is scored against it.
    * Full-outer NULL-SAFE join on (dim, key) (a null key must meet
    * its null-key profile row, not fork into two half-rows — plain
    * equi-join null semantics would, identically in both engines, and
    * identically wrong); +1 smoothing over the UNION key count keeps
    * one-sided keys finite. The joined table is dims × keys rows and
    * crosses a staging boundary before feeding both the totals and
    * the output (the distributionDrift scan-duplication argument).
    *
    * Output: dim, key, n_batch, n_ref, p_batch, p_ref, psi_term. */
  def driftVsProfile(batch: DataFrame, dims: Seq[(String, Column)],
                     profile: DataFrame): DataFrame = {
    require(dims.nonEmpty, "driftVsProfile needs at least one dim")
    val counts = dimProfile(batch, dims)
      .withColumnRenamed("n_ref", "n_batch")
    val p = profile.select(col("dim").as("__rd"), col("key").as("__rk"),
      col("n_ref"))
    val joined = graft.core.Tables.staged(
      counts.join(p,
          counts("dim") === col("__rd") && counts("key") <=> col("__rk"),
          "full_outer")
        .select(
          coalesce(counts("dim"), col("__rd")).as("dim"),
          coalesce(counts("key"), col("__rk")).as("key"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref")),
      "drift_profile_join")
    val totals = joined.groupBy("dim").agg(
      sum(col("n_batch")).as("__tb"), sum(col("n_ref")).as("__tr"),
      count(lit(1)).as("__k"))
    val pb = (col("n_batch") + lit(1L)).cast("double") /
      (col("__tb") + col("__k")).cast("double")
    val pr = (col("n_ref") + lit(1L)).cast("double") /
      (col("__tr") + col("__k")).cast("double")
    joined.join(broadcast(totals), Seq("dim"))
      .select(col("dim"), col("key"), col("n_batch"), col("n_ref"),
        round(pb, 6).as("p_batch"), round(pr, 6).as("p_ref"),
        round((pb - pr) * log(pb / pr), 6).as("psi_term"))
  }

  /** Token-budget-constrained selection: per source, keep the PREFIX of
    * the longest-first ordering (ties broken by id ascending) whose
    * running token total stays ≤ `budget` — the "fill each domain's
    * token quota" step of mixture assembly when the quota is a hard
    * token count rather than a sampling rate ([[mixtureSample]]'s
    * regime). Prefix semantics, not knapsack: the first doc that
    * crosses the budget is dropped AND ends its source's intake (no
    * skip-and-refill), so the kept set is order-defined and
    * deterministic.
    *
    * Scale shape: token counts are a codegen size(split(...)) — no
    * explode; the running total is the TWO-PHASE per-group cumsum
    * ([[graft.ops.Relational.groupedCumSum]]), NOT `sum() OVER
    * (PARTITION BY source ORDER BY ...)` — the window form funnels
    * each source through one task, and at 100 TB one source IS the
    * corpus (a CommonCrawl-shaped mix is >90% one source): that would
    * be a single-task sort+scan of ~90 TB. The range partitioner keys
    * on (source, n_tok DESC, id), so a dominant source spans many
    * partitions and its prefix offsets come from the driver-side
    * per-partition subtotals.
    *
    * Output: srcCol, idCol, n_tok, cum_tok for the kept rows. */
  def tokenBudgetSelect(df: DataFrame, idCol: String, textCol: String,
                        srcCol: String, budget: Long): DataFrame = {
    val toks = df.select(col(idCol), col(srcCol),
      size(split(TextAnalysis.normalizeText(col(textCol)), " "))
        .cast("long").as("n_tok"))
    graft.ops.Relational.groupedCumSum(toks, Seq(srcCol),
        Seq(col("n_tok").desc, col(idCol)), "n_tok", "cum_tok")
      .filter(col("cum_tok") <= lit(budget))
      .select(col(srcCol), col(idCol), col("n_tok"), col("cum_tok"))
  }

  /** Per-group token-budget selection — [[tokenBudgetSelect]] with a
    * BUDGET TABLE instead of one global budget: each group keeps its
    * longest-first document prefix up to ITS OWN token budget. This is
    * the consumption side of
    * [[graft.ops.Apportion.cappedLargestRemainder]]'s quota artifact:
    * the scheduler stages (source, quota) once, this op enacts it.
    * Same two-phase per-group cumsum (a dominant source spans many
    * range partitions, no single-partition window); the budget join is
    * one (key, long) equi-join, NULL-SAFE so a null-keyed group still
    * receives its budget row instead of silently vanishing.
    * `budgets`: (group, budget) — first two columns positional.
    * Output: srcCol, idCol, n_tok, cum_tok. */
  def tokenBudgetSelectPerGroup(df: DataFrame, idCol: String,
                                textCol: String, srcCol: String,
                                budgets: DataFrame): DataFrame = {
    val b = budgets.select(col(budgets.columns(0)).as("__src"),
      col(budgets.columns(1)).cast("long").as("__budget"))
    val toks = df.select(col(idCol), col(srcCol),
      size(split(TextAnalysis.normalizeText(col(textCol)), " "))
        .cast("long").as("n_tok"))
    graft.ops.Relational.groupedCumSum(toks, Seq(srcCol),
        Seq(col("n_tok").desc, col(idCol)), "n_tok", "cum_tok")
      .join(b, col(srcCol) <=> col("__src"))
      .filter(col("cum_tok") <= col("__budget"))
      .select(col(srcCol), col(idCol), col("n_tok"), col("cum_tok"))
  }

  /** Release diff between two corpus snapshots (dataset versioning):
    * which documents were `added`, `removed`, `changed`, or
    * `unchanged` between release A and release B, judged by a content
    * fingerprint over `contentCols`.
    *
    * Scale shape: the fingerprint (md5 over the U+0001-joined columns,
    * nulls marked with U+0000 so null ≠ empty) is computed MAP-SIDE on
    * each snapshot, so the one full-outer key shuffle carries
    * (key, 32-hex fp) per row — keys-sized, never corpus-sized; at
    * 100 TB the diff costs two scans plus a shuffle of ~50 bytes/doc.
    * Keys are expected unique per snapshot (document ids); a null key
    * never matches across sides in either engine, so a null-keyed row
    * surfaces as removed/added rather than silently pairing.
    *
    * Output: keyCol (coalesced across sides), status, fp_a, fp_b. */
  def releaseDiff(a: DataFrame, b: DataFrame, keyCol: String,
                  contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "releaseDiff needs content columns")
    def fp(df: DataFrame, out: String): DataFrame =
      df.select(col(keyCol), md5(concat_ws("\u0001",
        contentCols.map(c =>
          coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as(out))
    fp(a, "fp_a").join(fp(b, "fp_b"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_b").isNull, lit("removed"))
          .when(col("fp_a") === col("fp_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("fp_a"), col("fp_b"))
  }

  /** Exact-k per-group deterministic sample — the eval-holdout carve
    * ("exactly 10k docs per language, reproducibly"). Rate-based
    * sampling ([[stratifiedSample]]) can only hit a count in
    * expectation; this takes the first k rows of each group in
    * md5(keyCols ‖ seed) order: exactly k where the group has ≥ k
    * rows, the whole group otherwise, and membership is a pure
    * function of (row keys, seed, group contents) — stable across
    * re-runs and repartitioning.
    *
    * `keyCols` must distinguish rows up to interchangeability (rows
    * identical in every keyCol may swap ranks; if they are also
    * identical in every OUTPUT column the result multiset is
    * unaffected — pass the full row when in doubt).
    *
    * Scale shape: [[Relational.groupedRowNumber]] two-phase rank, NOT
    * `row_number() OVER (PARTITION BY group)` — the window form
    * funnels each group through one task and the dominant language IS
    * most of a web corpus. Output: input columns + LongType `rankCol`
    * (1-based within group, hash order). */
  def groupSampleExactK(df: DataFrame, keyCols: Seq[String],
                        groupCols: Seq[String], k: Int,
                        seed: String = "graft",
                        rankCol: String = "rk"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(keyCols.nonEmpty, "groupSampleExactK needs key columns")
    val h = md5(concat_ws("\u0001",
      keyCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))) :+ lit(seed): _*))
    graft.ops.Relational.groupedRowNumber(df.withColumn("__h", h),
        groupCols, col("__h") +: keyCols.map(col), rankCol, "__tot")
      .filter(col(rankCol) <= k)
      .drop("__h", "__tot")
  }

  /** Per-shard MERGEABLE card-sketch state — the release-over-release
    * dataset card as a metadata read instead of a corpus re-scan: each
    * (shard, lang) row carries everything [[cardFromSketches]] needs,
    * and every column MERGES exactly across shards (and across
    * releases, by unioning sketch tables):
    *   - n_docs / n_tokens: Long counters (merge = sum);
    *   - src_set: the shard's distinct source set (merge = set union —
    *     exact because source is a curated low-cardinality dimension;
    *     at an unbounded-cardinality dimension swap in an HLL sketch
    *     column and accept approximate n_sources);
    *   - hist: the shard's (value, count) histogram over the non-null
    *     chars column, sorted (merge = per-value count sum — exact
    *     because n_chars is a bounded-cardinality integer; at an
    *     unbounded continuous column swap in a KLL sketch and accept
    *     approximate quantiles).
    * Sketch size is shards × langs × distinct values — independent of
    * document count, which is the entire point: persist this once per
    * shard write, and the card never touches the corpus again.
    * CorpusSpec + the corpus_card_merged oracle pin card-from-sketch ≡
    * card-from-re-scan bit-for-bit on the fixture. */
  def cardSketch(df: DataFrame, idCol: String, langCol: String,
                 sourceCol: String, textCol: String, charsCol: String,
                 nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val shard = pmod(xxhash64(col(idCol)), lit(nShards.toLong))
    val counts = df.groupBy(shard.as("shard"),
        col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCountWs(coalesce(col(textCol), lit("")))
          .cast("long")).as("n_tokens"),
        sort_array(collect_set(col(sourceCol))).as("src_set"))
    val hist = df.filter(col(charsCol).isNotNull)
      .groupBy(shard.as("shard"), col(langCol).as("lang"),
        col(charsCol).cast("double").as("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy("shard", "lang")
      .agg(sort_array(collect_list(struct(col("v"), col("c"))))
        .as("hist"))
    // plain (null-rejecting) join: a null-lang group's quantiles are
    // dropped by the CARD join in both engines anyway (SQL USING and
    // Seq-join agree), so losing its hist here changes nothing
    counts.join(hist, Seq("shard", "lang"), "left")
  }

  /** The dataset card derived from [[cardSketch]] state ALONE — reads
    * the sketch table, never the corpus. Bit-identical to the re-scan
    * card (corpus_card): counters sum, source sets union, and the
    * quantiles replay [[graft.ops.Quantiles.groupedQuantileCont]]'s
    * exact percentile_cont arithmetic from the merged histogram —
    * the same h = p·(n−1), f = h−⌊h⌋, and the same two IEEE products
    * v_lo·(1−f) + v_hi·f summed in a 2-row aggregate, so not even an
    * ulp moves. The per-lang cumulative rank runs over DISTINCT
    * values of the histogram (sketch-sized), not rows.
    * Output: (lang, n_docs, n_tokens, n_sources, p50_chars,
    * p90_chars) — corpus_card's exact schema. */
  def cardFromSketches(sk: DataFrame,
                       probs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val base = sk.groupBy("lang").agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      size(array_distinct(flatten(collect_list(col("src_set")))))
        .cast("long").as("n_sources"))
    val mergedHist = sk.select(col("lang"), explode(col("hist")).as("h"))
      .groupBy(col("lang"), col("h.v").as("v"))
      .agg(sum(col("h.c")).as("c"))
    val wCum = Window.partitionBy("lang").orderBy("v")
    val e = mergedHist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("v"), col("c"), col("cum"), col("n"),
        explode(array(probs.map(lit(_)): _*)).as("prob"))
    val h = col("prob") * (col("n") - lit(1L)).cast("double")
    val f = h - floor(h)
    val lo = floor(h).cast("long") + lit(1L)
    val first = col("cum") - col("c") + lit(1L)
    val c1 = e.filter(lo >= first && lo <= col("cum"))
      .select(col("lang"), col("prob"),
        (col("v") * (lit(1.0) - f)).as("__c"))
    val c2 = e.filter(f > lit(0.0) &&
        lo + lit(1L) >= first && lo + lit(1L) <= col("cum"))
      .select(col("lang"), col("prob"), (col("v") * f).as("__c"))
    val qs = c1.unionByName(c2)
      .groupBy("lang", "prob").agg(sum(col("__c")).as("quantile"))
      .groupBy("lang").agg(
        round(sum(when(col("prob") === 0.5, col("quantile"))), 6)
          .as("p50_chars"),
        round(sum(when(col("prob") === 0.9, col("quantile"))), 6)
          .as("p90_chars"))
    base.join(broadcast(qs), Seq("lang"), "left")
  }

  /** Per-(shard, lang) KLL quantile-sketch state — [[cardSketch]]'s
    * documented swap-in for UNBOUNDED continuous columns (its exact
    * (value, count) histogram is only metadata-sized because n_chars
    * is a bounded integer; a score/perplexity column would grow it
    * with the corpus). Each row carries a serialized
    * KllFloatsSketch (a few KB at ANY row count — CorpusSpec probes
    * size independence) plus the non-null row count; sketches merge
    * exactly like the other card columns: across shards AND across
    * releases by unioning sketch tables. Null values are excluded,
    * matching the histogram/quantile_cont convention. */
  def cardKllSketch(df: DataFrame, idCol: String, langCol: String,
                    valueCol: String, nShards: Int,
                    k: Int = 200): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    df.filter(col(valueCol).isNotNull)
      .groupBy(pmod(xxhash64(col(idCol)), lit(nShards.toLong))
          .as("shard"),
        col(langCol).as("lang"))
      .agg(graft.agg.Aggregators.kllSketch(
          col(valueCol).cast("double"), k).as("kll"),
        count(lit(1)).as("n_rows"))
  }

  /** Quantile estimates from merged [[cardKllSketch]] state ALONE —
    * (lang, prob, q_est) for each requested rank, never touching the
    * rows. The estimate carries the sketch's normalized rank-error
    * guarantee (ε(k) ≈ 2.446/k^0.9433, ~1.65% at k = 200): the true
    * rank of q_est lies within prob ± ε, so verification compares
    * against a TOLERANCE BAND of exact quantiles at prob ± margin
    * (KLL compaction is randomized — the VALUE is not replay-stable,
    * the band is; see corpus_card_kll's oracle). Languages whose
    * sketch is empty return null q_est. */
  def cardKllQuantiles(sk: DataFrame,
                       probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "cardKllQuantiles needs probs")
    val q = udf { (bytes: Array[Byte], p: Double) =>
      val s = org.apache.datasketches.kll.KllFloatsSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(bytes))
      if (s.isEmpty) None else Some(s.getQuantile(p).toDouble)
    }
    sk.groupBy("lang")
      .agg(graft.agg.Aggregators.kllMerge(col("kll")).as("kll"))
      .select(col("lang"),
        explode(array(probs.map(lit(_)): _*)).as("prob"),
        col("kll"))
      .select(col("lang"), col("prob"),
        q(col("kll"), col("prob")).as("q_est"))
  }
}
