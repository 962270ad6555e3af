package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer (Sennrich et al. 2016,
  * arXiv:1508.07909) — the real merge-learning form of what
  * [[TextAnalysis.tokenCountBpe]] only approximates with a regex.
  *
  * Scale split (the part that matters at 100 TB): merge LEARNING is
  * driver-side over a BOUNDED word-frequency table (top `maxWords`
  * words — the standard practice; tokenizers train on samples, and the
  * frequency table is the sufficient statistic BPE needs), while
  * ENCODING is distributed over DISTINCT words only: the per-word
  * subword decomposition is a pure function of the word, so the UDF
  * runs once per distinct word — cost proportional to vocabulary size,
  * not corpus size — and token counts flow back to documents through a
  * plain equi-join + weighted sum. A boilerplate-heavy 100 TB corpus
  * with a 10M-word vocabulary pays 10M encode calls, not 10^13.
  *
  * The reference has no subword tokenizer (its token grain is the
  * whitespace/regex split, `trgx.clj` string ops); this is
  * pipeline-completion surface, not a port.
  */
object Bpe {

  /** Distributed word-frequency collection over the normalized corpus:
    * top `maxWords` by (freq desc, word asc) — a deterministic, bounded
    * driver fetch (same class as the 100k-guarded config fetches). */
  def wordFrequencies(df: DataFrame, textCol: String,
      maxWords: Int): Seq[(String, Long)] = {
    require(maxWords > 0 && maxWords <= 200000,
      s"maxWords must be in (0, 200000], got $maxWords")
    df.select(explode(split(TextAnalysis.normalizeText(
        coalesce(col(textCol), lit(""))), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** Seed symbols for a word: one symbol per Unicode CODE POINT, not
    * per UTF-16 char — `length()`/`length(w)` in both Spark and DuckDB
    * count code points, and the oracle's tokens<=chars bound only holds
    * if a non-BMP character (emoji, rare CJK) seeds ONE symbol, not a
    * surrogate pair of two. */
  private def seedSymbols(word: String): Array[String] = {
    val out = mutable.ArrayBuilder.make[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** UTF-8 byte-order string comparison — the collation BOTH engines
    * this module must agree with already use: Spark's UTF8String
    * binary ordering (what [[trainDistributed]]'s orderBy compares)
    * and DuckDB's memcmp (what the bpe_train_distributed oracle's
    * ORDER BY compares). UTF-8 byte order equals Unicode CODE-POINT
    * order; Java's String.compareTo is UTF-16 CODE-UNIT order, which
    * disagrees for symbols mixing supplementary code points (emoji,
    * U+10000+) with BMP chars ≥ U+E000 — a count tie between such
    * pairs would have selected different argmaxes in the two learners
    * (ADVICE r15 #4). Comparing the UTF-8 bytes unsigned keeps all
    * three sides bit-identical on ANY vocabulary. */
  private def utf8Compare(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Classic BPE merge learning: `nMerges` rounds of "merge the most
    * frequent adjacent symbol pair" over the (bounded) word-frequency
    * table. Fully deterministic: ties break on the smallest pair in
    * UTF-8 BYTE order ([[utf8Compare]] — identical to
    * [[trainDistributed]]'s Spark binary-string tie-break and the
    * DuckDB oracle's, including on supplementary-plane symbols). No
    * end-of-word marker — merges never cross word boundaries here
    * because encoding operates per word, so concatenating a word's
    * tokens reproduces the word exactly (the round-trip property the
    * oracle checks). */
  def learnMerges(wordFreqs: Seq[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    var vocab: Array[(Array[String], Long)] =
      wordFreqs.map { case (w, f) =>
        (seedSymbols(w), f)
      }.toArray
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // explicit fold, not minBy: deterministic regardless of hash
        // iteration order, and the pair tie-break is UTF-8 byte order
        var best: ((String, String), Long) = null
        counts.foreach { case (p, c) =>
          if (best == null || c > best._2 || (c == best._2 && {
            val ca = utf8Compare(p._1, best._1._1)
            ca < 0 || (ca == 0 && utf8Compare(p._2, best._1._2) < 0)
          })) best = (p, c)
        }
        merges += best._1
        vocab = vocab.map { case (syms, f) =>
          (mergePair(syms, best._1), f) }
        i += 1
      }
    }
    merges.result()
  }

  /** One merge round over a symbol sequence: replace every
    * non-overlapping left-to-right occurrence of the pair. */
  private def mergePair(syms: Array[String],
      p: (String, String)): Array[String] = {
    val out = mutable.ArrayBuilder.make[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == p._1 && syms(j + 1) == p._2) {
        out += syms(j) + syms(j + 1); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Learn a merge table from the corpus itself. */
  def train(df: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int = 20000): Seq[(String, String)] =
    learnMerges(wordFrequencies(df, textCol, maxWords), nMerges)

  /** DISTRIBUTED merge learning — removes [[train]]'s 200k-word bound
    * (the r14 "what's missing" item): the vocabulary table (word, cnt,
    * current symbol array) stays distributed; each merge round is ONE
    * adjacent-pair hash aggregation over it and the ONLY driver fetch
    * is the argmax pair (`limit(1).collect()`) — O(rounds) rows to the
    * driver total, never O(vocab). A 100-language 100 TB corpus with a
    * 100M-word vocabulary pays 100M-row aggregations per round (the
    * same (key, long) shuffle class as PageRank's in-sums), while the
    * driver sees `nMerges` single rows.
    *
    * Semantics are bit-identical to [[learnMerges]] on the same word
    * frequencies (BpeSpec pins it): same pair counting over adjacent
    * symbols weighted by word frequency, same (count desc, pair asc)
    * argmax tie-break — pair order is UTF-8 BYTE order on all three
    * sides (Spark binary strings here, [[utf8Compare]] in the driver
    * learner, memcmp in the DuckDB oracle), so the equivalence holds
    * even for vocabularies mixing supplementary-plane symbols with
    * BMP chars ≥ U+E000 (ADVICE r15 #4) — same non-overlapping
    * left-to-right merge application, same exhaustion stop. Integer
    * counts + string ordering only ⇒ engine-exact, so a DuckDB oracle
    * can unroll the rounds (bpe_train_distributed).
    *
    * Scale shape: merge APPLICATION is a narrow per-row map (no
    * shuffle), so the working table does NOT re-stage per round — the
    * pending merges since the last staging boundary ride the argmax
    * scan as one chained UDF, and the table re-stages only every
    * `restageEvery` rounds to bound lineage/per-scan CPU (the r16
    * shape staged the full vocab once per round: a disk write+read
    * boundary per merge bought nothing, because the only shuffle is
    * the pair aggregation, which must re-run per round regardless).
    * Two further diets, both pair-count-invariant: the word string is
    * dropped after seeding (syms concatenate back to it — the staged
    * rows carry (cnt, syms) only), and single-symbol rows are dropped
    * at every staging boundary (a word reduced to one symbol can
    * never contribute an adjacent pair again). Pair extraction is a
    * vocab-sized transform + explode; the argmax stays a tiny
    * total-order fetch — O(rounds) rows to the driver total. */
  def trainDistributed(df: DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1 && nMerges <= 4096,
      s"nMerges must be in [1, 4096], got $nMerges")
    // both UDFs are pure functions, but they are MARKED nondeterministic
    // so the optimizer cannot clone them into a pushed-down filter
    // (guide §4.4): the `size(syms) >= 2` filters below reference the
    // UDF's output column, and predicate pushdown would otherwise
    // substitute the UDF into the filter and evaluate every merge
    // application TWICE per row — the r17 plan dump showed exactly
    // that (Filter(size(UDF(syms)) >= 2) under Project(UDF(syms))).
    val seedUdf = udf { (w: String) => seedSymbols(w).toSeq }
      .asNondeterministic()
    var base = graft.core.Tables.staged(
      df.select(explode(split(TextAnalysis.normalizeText(
          coalesce(col(textCol), lit(""))), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), seedUdf(col("w")).as("syms"))
        .filter(size(col("syms")) >= 2), "bpe_v0")
    // merges accepted since the last staging boundary, oldest first —
    // applied in-plan as ONE chained UDF (left-to-right application of
    // each pair in order = exactly the per-round mergePair sequence)
    var pending = Vector.empty[(String, String)]
    def withPending(): DataFrame =
      if (pending.isEmpty) base
      else {
        val ps = pending
        val applyUdf = udf { (syms: Seq[String]) =>
          var a = syms.toArray
          ps.foreach(p => a = mergePair(a, p))
          a.toSeq
        }.asNondeterministic() // see seedUdf — blocks filter cloning
        base.withColumn("syms", applyUdf(col("syms")))
      }
    val restageEvery = 8
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      // adjacent pairs as (a, b) STRUCT columns (not a joined string:
      // tuple ordering must match learnMerges' (a, b) tie-break
      // exactly, and a separator char could sort differently)
      val argmax = withPending()
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, " +
            "element_at(syms, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1)
      val best = argmax.collect()
      if (best.isEmpty) exhausted = true
      else {
        round += 1
        val pair = (best(0).getString(0), best(0).getString(1))
        merges += pair
        pending = pending :+ pair
        if (pending.size >= restageEvery) {
          base = graft.core.Tables.staged(
            withPending().filter(size(col("syms")) >= 2),
            s"bpe_v$round")
          pending = Vector.empty
        }
      }
    }
    merges.result()
  }

  /** Encode one word under a learned merge ranking: repeatedly apply
    * the lowest-rank merge present (the standard inference loop —
    * replays training order, so training words decompose exactly as
    * trained). Words longer than `maxWordLen` chars come back as a
    * single token: the loop is O(len²) and a pathological "word" (URL,
    * DNA string, minified JS) would stall a task; one opaque token
    * keeps the round-trip property and bounds the cost. The length is
    * measured in CODE POINTS — the module's symbol grain — so a
    * ≤512-code-point word of non-BMP chars (emoji, rare CJK) is not
    * misclassified as pathological by its doubled UTF-16 length. */
  def encodeWord(word: String, ranks: Map[(String, String), Int],
      maxWordLen: Int = 512): Array[String] = {
    if (word.isEmpty) return Array.empty
    if (word.codePointCount(0, word.length) > maxWordLen) return Array(word)
    var syms: Array[String] = seedSymbols(word)
    var continue = true
    while (continue && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(j), syms(j + 1)) }
        j += 1
      }
      if (bestPair == null) continue = false
      else syms = mergePair(syms, bestPair)
    }
    syms
  }

  /** Per-document BPE statistics, distributed over distinct words:
    * (id, n_words, n_chars, n_bpe_tokens, roundtrip_ok) where
    * `n_chars` is the non-space char count of the normalized text
    * (= sum of word lengths — the oracle recomputes it independently),
    * `n_bpe_tokens` the summed subword count, and `roundtrip_ok` that
    * every distinct word's tokens concatenate back to the word.
    * Documents with no words (empty/null text) come back with zero
    * counts, not dropped. */
  def encodeStats(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val enc = udf { (w: String) =>
      val toks = encodeWord(w, ranks)
      (toks.length, toks.mkString("") == w)
    }
    // staged: the corpus-wide explode + (id, w) aggregate feeds BOTH the
    // distinct-word encode branch and the per-doc join-back — Spark
    // does not dedupe shared subplans, so without the boundary the
    // most expensive stage of the query would run twice
    val words = graft.core.Tables.staged(df
      .select(col(idCol).as("id"),
        explode(split(TextAnalysis.normalizeText(
          coalesce(col(textCol), lit(""))), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("id", "w").agg(count(lit(1)).as("cnt")), "bpewords")
    // the encode UDF touches DISTINCT words only — vocabulary-sized
    // work; AQE picks broadcast vs shuffle for the join back
    val wordStats = words.select("w").distinct()
      .withColumn("e", enc(col("w")))
      .select(col("w"), col("e._1").as("n_sub"), col("e._2").as("rt"))
    val perDoc = words.join(wordStats, Seq("w"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("w"))).as("n_chars"),
        sum(col("cnt") * col("n_sub")).as("n_bpe_tokens"),
        (min(when(col("rt"), 1).otherwise(0)) === 1).as("roundtrip_ok"))
    df.select(col(idCol).as("id")).distinct()
      .join(perDoc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("roundtrip_ok"), lit(true)).as("roundtrip_ok"))
  }
}
