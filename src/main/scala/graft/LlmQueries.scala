package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Bpe, Corpus, Dedup, Multimodal, Robots, Similarity, TextAnalysis}
import graft.trgx.Trgx

/** LLM training-data pipeline probes (builder-brief north star):
  * dedup / similarity search / text analysis / multimodal plumbing,
  * plus the trgx tree queries. Dedup corpora are the documents table
  * unioned with an id-shifted copy so duplicate machinery provably finds
  * non-empty, oracle-checkable pairs at every scale factor.
  */
object LlmQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** documents ∪ exact copy with doc_id + 1,000,000. */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    // null text ≡ empty text (the library-wide convention, cf.
    // chunkDocuments/c4Signals): a null-text doc would otherwise be
    // unmatchable by every normalized-text relation — no shingles, no
    // fingerprint, SQL equality never matching NULL — so its planted
    // copy silently vanishes from planted-recall counts on both the
    // LSH and the oracle side, and differently on each
    val d = t(s, dir, "documents").select(col("doc_id"),
      coalesce(col("text"), lit("")).as("text"))
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
                           col("text")))
  }

  /** SQL twin of dupCorpus. */
  private val dupCorpusSql =
    """SELECT doc_id, coalesce(text, '') AS text FROM documents
       UNION ALL
       SELECT doc_id + 1000000, coalesce(text, '') AS text FROM documents"""

  /** embeddings ∪ exact copy with vec_id + 100,000. */
  private def dupVectors(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionByName(e.select((col("vec_id") + 100000L).as("vec_id"),
                           col("embedding")))
  }

  /** TextAnalysis.normalizeText's exact SQL twin — the ONE copy every
    * oracle (here and in CorpusQueries) must reference: an inlined
    * duplicate drifting from a regex fix is a silent oracle fork. */
  private[graft] val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** TextAnalysis.tokenCountWs's exact SQL twin — single shared copy
    * for the same drift reason (was inlined at three sites here plus
    * one in CorpusQueries). */
  private[graft] val tokWsSql =
    """CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\s+')) END AS INT)"""

  /** C4-signal CTE chain over a (doc_id, text) relation named u —
    * yields `sig` with the per-doc heuristics (TextAnalysis.c4Signals
    * twin). Shared by text_c4_filters and the composed pipeline. */
  private[graft] val c4SigCtes =
    s"""base AS (SELECT doc_id, text AS raw,
           string_split($normSql, ' ') AS toks,
           list_filter(list_transform(string_split(text, chr(10)),
             l -> trim(l)), l -> len(l) > 0) AS lines
         FROM u),
       st AS (SELECT doc_id, raw, toks, lines,
           CASE WHEN len(raw) = 0 OR (len(toks) = 1 AND toks[1] = '')
                THEN 0 ELSE len(toks) END AS n_words FROM base),
       sig AS (SELECT doc_id,
         CAST(n_words AS INT) AS n_words,
         round(CASE WHEN n_words = 0 THEN 0.0
           ELSE CAST(list_sum(list_transform(toks, t -> len(t)))
             AS DOUBLE) / n_words END, 6) AS mean_word_len,
         round(CASE WHEN n_words = 0 THEN 0.0
           ELSE CAST(len(list_filter(toks,
             t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / n_words
           END, 6) AS alpha_ratio,
         round(CASE WHEN n_words = 0 THEN 0.0
           ELSE CAST(len(regexp_extract_all(raw,
             '#|' || chr(8230) || '|\\.\\.\\.')) AS DOUBLE)
             / n_words END, 6) AS symbol_ratio,
         CAST(len(regexp_extract_all(raw, '[.!?]')) AS INT)
           AS sent_marks,
         round(CASE WHEN len(lines) = 0 THEN 0.0
           ELSE CAST(len(list_filter(lines,
             l -> regexp_matches(l, '[.!?"]$$'))) AS DOUBLE)
             / len(lines) END, 6) AS term_line_ratio,
         round(CASE WHEN len(lines) = 0 THEN 0.0
           ELSE CAST(len(list_filter(lines, l -> regexp_matches(l,
             '^[-*' || chr(8226) || ']'))) AS DOUBLE)
             / len(lines) END, 6) AS bullet_line_ratio,
         round(CASE WHEN len(lines) = 0 THEN 0.0
           ELSE CAST(len(list_filter(lines, l -> regexp_matches(l,
             '(\\.\\.\\.|' || chr(8230) || ')$$'))) AS DOUBLE)
             / len(lines) END, 6) AS ellipsis_line_ratio,
         contains(lower(raw), 'lorem ipsum') AS has_lorem,
         contains(raw, '{') AS has_curly,
         contains(lower(raw), 'javascript') AS has_js
         FROM st)"""

  /** The keep decision over `sig` columns (c4Signals twin). */
  private[graft] val c4KeepPred =
    """n_words BETWEEN 50 AND 100000
       AND mean_word_len BETWEEN 3.0 AND 10.0
       AND alpha_ratio >= 0.8 AND symbol_ratio <= 0.1
       AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3
       AND NOT has_lorem AND NOT has_curly"""

  /** DuckDB replica of the spherical k-means centroid TRAINING
    * (Similarity.kmeansCentroids) — the piece that used to force
    * ann_ivf_kmeans/semantic_dedup_kmeans/ann_pq onto summary oracles.
    * Every step is deterministic AND bit-replicable: the sample is the
    * md5-ordered head (md5 + row_number in both engines); every float
    * reduction (norms, dots, Lloyd sums) is a SEQUENTIAL left-to-right
    * loop on the Spark side, and DuckDB's list_sum / list_dot_product
    * over a `list(x ORDER BY ord)` aggregate reduce in exactly that
    * order (probed bit-equal on adversarial 2048-element mixes), so
    * the trained centroids match to the last bit.
    *
    * Emits CTEs ending in `cents$iters(c, v)`:
    *  - samp/sn: md5-ordered 2048-head, L2-normalized;
    *  - ff chain: farthest-first seeding — chosen(0) = first sample,
    *    each next = argmin over running max-dot (ties to the earliest
    *    sample, the Scala scan order);
    *  - 5 unrolled Lloyd rounds: assign by (dot DESC, c ASC),
    *    re-center = normalize(per-dim sums in SAMPLE order), empty
    *    clusters keep their previous centroid. */
  private def kmeansCentsCtes(k: Int, iters: Int): String = {
    val ff = (1 until k).map { c =>
      s"""bs$c AS MATERIALIZED (SELECT ord, v,
           ${if (c == 1) "" else s"greatest(bs, "}list_dot_product(v,
             (SELECT v FROM ch$c))${if (c == 1) "" else ")"} AS bs
           FROM ${if (c == 1) "sn" else s"bs${c - 1}"}),
       ch${c + 1} AS MATERIALIZED (SELECT ord, v FROM bs$c
           ORDER BY bs ASC, ord ASC LIMIT 1)"""
    }.mkString(",\n       ")
    val cents0 = (0 until k)
      .map(c => s"SELECT $c AS c, v FROM ch${c + 1}")
      .mkString(" UNION ALL ")
    val lloyd = (1 to iters).map { i =>
      val prev = s"cents${i - 1}"
      s"""asg$i AS MATERIALIZED (SELECT ord, v, c FROM
           (SELECT s.ord, s.v, ct.c,
              row_number() OVER (PARTITION BY s.ord
                ORDER BY list_dot_product(s.v, ct.v) DESC, ct.c ASC)
                AS rn
            FROM sn s CROSS JOIN $prev ct) WHERE rn = 1),
       upd$i AS MATERIALIZED (SELECT c, dim, list_sum(list(x ORDER BY ord)) AS sm
           FROM (SELECT c, ord, unnest(v) AS x,
                   unnest(range(1, len(v) + 1)) AS dim FROM asg$i)
           GROUP BY c, dim),
       nc$i AS MATERIALIZED (SELECT c, CASE WHEN nrm = 0 THEN sv
             ELSE list_transform(sv, x -> x / nrm) END AS v
           FROM (SELECT c, sv,
                   sqrt(list_sum(list_transform(sv, x -> x * x))) AS nrm
                 FROM (SELECT c, list(sm ORDER BY dim) AS sv
                       FROM upd$i GROUP BY c))),
       cents$i AS MATERIALIZED (SELECT ct.c, coalesce(n.v, ct.v) AS v
           FROM $prev ct LEFT JOIN nc$i n USING (c))"""
    }.mkString(",\n       ")
    s"""samp AS MATERIALIZED (SELECT id, v FROM
           (SELECT id, v, row_number() OVER
              (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
            FROM corpus WHERE v IS NOT NULL AND len(v) > 0)
           WHERE rn <= 2048),
       sn AS MATERIALIZED (SELECT row_number() OVER
              (ORDER BY md5(CAST(id AS VARCHAR)), id) AS ord,
            CASE WHEN nrm = 0 THEN v
              ELSE list_transform(v, x -> x / nrm) END AS v
           FROM (SELECT id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
             FROM samp)),
       ch1 AS MATERIALIZED (SELECT ord, v FROM sn WHERE ord = 1),
       $ff,
       cents0 AS MATERIALIZED ($cents0),
       $lloyd"""
  }

  /** Exact oracle for semantic_dedup_kmeans: k-means training CTEs +
    * cell assignment by (dot DESC, cell DESC) + unit-vector pair dots
    * within cells at the 0.85 threshold — the full SemDeDup verdict
    * table, hash-checked (was a recall-floor summary before r10). */
  private def semanticKmeansOracleSql: String =
    s"""WITH corpus AS MATERIALIZED (
         SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS id,
           list_prepend(CAST(embedding[1] AS DOUBLE) + 0.1,
             (CAST(embedding AS DOUBLE[]))[2:]) AS v
         FROM embeddings),
       ${kmeansCentsCtes(8, 5)},
       asgc AS MATERIALIZED (SELECT id, v, cell,
           CASE WHEN nrm = 0 THEN v
             ELSE list_transform(v, x -> x / nrm) END AS vecn
           FROM (SELECT id, v, CAST(c AS INT) AS cell, nrm,
               row_number() OVER (PARTITION BY id
                 ORDER BY d DESC, c DESC) AS rn
             FROM (SELECT cp.id, cp.v, ct.c,
                 list_dot_product(cp.v, ct.v) AS d,
                 sqrt(list_dot_product(cp.v, cp.v)) AS nrm
               FROM corpus cp CROSS JOIN cents5 ct))
           WHERE rn = 1),
       rm AS MATERIALIZED (SELECT b.id AS id, min(a.id) AS removed_by
           FROM asgc a JOIN asgc b
             ON a.cell = b.cell AND a.id < b.id
           WHERE list_dot_product(a.vecn, b.vecn) >= 0.85
           GROUP BY b.id)
       SELECT g.id, g.cell, rm.removed_by IS NULL AS keep,
         rm.removed_by
       FROM asgc g LEFT JOIN rm USING (id)
       ORDER BY id"""

  /** Spark `Similarity.cosine` twin: denom = sqrt(dot(a,a)) *
    * sqrt(dot(b,b)); NULL (not NaN) for a zero denominator — DuckDB's
    * list_cosine_similarity differs on both the op order and the
    * zero-vector result, so the replica is explicit. */
  private def cosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) *
           sqrt(list_dot_product($b, $b)) > 0
         THEN list_dot_product($a, $b) /
           (sqrt(list_dot_product($a, $a)) *
            sqrt(list_dot_product($b, $b))) END"""

  /** Sequential-order L2 distance as an explicit left-associated sum
    * (matches the Scala `d += (a(i)-b(i))²` ascending loop bit-for-
    * bit; a lambda/range form would too, but the explicit terms are
    * ~10× faster in DuckDB at the encode join's row counts). */
  private def l2Sql(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
      .mkString(" + ")

  /** Exact oracle for ann_pq — the full Jégou et al. decomposition
    * replicated in DuckDB: per-subspace L2 k-means codebook training
    * (md5-ordered 2048-sample, farthest-first seeding with the
    * duplicate-centroid pad guard, 5 Lloyd mean rounds), corpus
    * encode (argmin L2, ties to the lowest code), reconstruction,
    * a 50-candidate shortlist ranked on reconstructions, and the
    * exact cosine re-rank. Bit parity rests on the same facts as
    * kmeansCentsCtes (sequential float reductions both sides; the
    * explicit l2Sql sum is left-associated like the Scala loop).
    * Ragged/null vectors are excluded from the encode — Spark gives
    * them NULL codes/recon so they can never out-rank a real
    * candidate; divergence would need a query with fewer than
    * `shortlist` valid candidates, which the len-64 corpus contract
    * excludes. (Doc for [[pqOracleSql]] below.) */
  /** PQ codebook training + corpus encode + reconstruction as reusable
    * CTE text over a source relation `$src(id, v)` — shared verbatim by
    * [[pqOracleSql]] (src = the raw corpus) and [[ivfPqOracleSql]]
    * (src = the per-cell residuals), so the bit-parity argument is made
    * once. Emits CTEs ending in `recon(id, rv)`. */
  private def pqTrainEncodeCtes(src: String, m: Int, kCodes: Int,
                                subDim: Int, iters: Int,
                                pfx: String = ""): String = {
    val dims = m * subDim
    val ff = (1 to kCodes - 1).map { c =>
      val bdExpr =
        if (c == 1) l2Sql("s.sv", "c.sv", subDim)
        else s"least(s.bd, ${l2Sql("s.sv", "c.sv", subDim)})"
      s"""${pfx}fb$c AS MATERIALIZED (SELECT s.ord, s.mi, s.sv, $bdExpr AS bd
           FROM ${if (c == 1) s"${pfx}sub" else s"${pfx}fb${c - 1}"} s
           JOIN ${pfx}ch$c c USING (mi)),
       ${pfx}ch${c + 1} AS MATERIALIZED (SELECT mi, sv, bd FROM
           (SELECT mi, sv, bd, row_number() OVER (PARTITION BY mi
              ORDER BY bd DESC, ord ASC) AS rn FROM ${pfx}fb$c)
           WHERE rn = 1)"""
    }.mkString(",\n       ")
    // slot j > 0 pads back to the subspace's first centroid when its
    // selection-time farthest distance was 0 (fewer distinct
    // subvectors than codes — the Scala guard's pad-with-chosen(0))
    val cents0 = (s"SELECT mi, 0 AS code, sv FROM ${pfx}ch1" +:
      (1 until kCodes).map(j =>
        s"""SELECT c.mi, $j AS code,
            CASE WHEN c.bd > 0 THEN c.sv ELSE f.sv END AS sv
            FROM ${pfx}ch${j + 1} c JOIN ${pfx}ch1 f USING (mi)"""))
      .mkString(" UNION ALL ")
    val lloyd = (1 to iters).map { i =>
      val prev = s"pcents${i - 1}"
      s"""pasg$i AS MATERIALIZED (SELECT ord, mi, sv, code FROM
           (SELECT s.ord, s.mi, s.sv, ct.code,
              row_number() OVER (PARTITION BY s.mi, s.ord
                ORDER BY ${l2Sql("s.sv", "ct.sv", subDim)} ASC,
                  ct.code ASC) AS rn
            FROM ${pfx}sub s JOIN $prev ct USING (mi)) WHERE rn = 1),
       pupd$i AS MATERIALIZED (SELECT mi, code, dim,
           list_sum(list(x ORDER BY ord)) AS sm, count(*) AS cnt
           FROM (SELECT mi, code, ord, unnest(sv) AS x,
                   unnest(range(1, len(sv) + 1)) AS dim FROM pasg$i)
           GROUP BY mi, code, dim),
       pnc$i AS MATERIALIZED (SELECT mi, code,
           list(sm / cnt ORDER BY dim) AS sv
           FROM pupd$i GROUP BY mi, code),
       pcents$i AS MATERIALIZED (SELECT ct.mi, ct.code,
           coalesce(n.sv, ct.sv) AS sv
           FROM $prev ct LEFT JOIN pnc$i n
             ON ct.mi = n.mi AND ct.code = n.code)"""
    }.mkString(",\n       ")
    s"""mis AS (SELECT unnest(range(0, $m)) AS mi),
       ${pfx}samp AS MATERIALIZED (SELECT id, v, rn AS ord FROM
           (SELECT id, v, row_number() OVER
              (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
            FROM $src WHERE v IS NOT NULL AND len(v) > 0)
           WHERE rn <= 2048),
       ${pfx}sub AS MATERIALIZED (SELECT s.ord, g.mi,
           s.v[g.mi * $subDim + 1 : g.mi * $subDim + $subDim] AS sv
           FROM ${pfx}samp s CROSS JOIN mis g),
       ${pfx}ch1 AS MATERIALIZED (SELECT mi, sv FROM ${pfx}sub WHERE ord = 1),
       $ff,
       pcents0 AS MATERIALIZED ($cents0),
       $lloyd,
       csub AS MATERIALIZED (SELECT cp.id, g.mi,
           cp.v[g.mi * $subDim + 1 : g.mi * $subDim + $subDim] AS sv
           FROM $src cp CROSS JOIN mis g
           WHERE cp.v IS NOT NULL AND len(cp.v) = $dims),
       enc AS MATERIALIZED (SELECT id, mi, code FROM
           (SELECT s.id, s.mi, ct.code,
              row_number() OVER (PARTITION BY s.id, s.mi
                ORDER BY ${l2Sql("s.sv", "ct.sv", subDim)} ASC,
                  ct.code ASC) AS rn
            FROM csub s JOIN pcents$iters ct USING (mi)) WHERE rn = 1),
       recon AS MATERIALIZED (SELECT e.id,
           flatten(list(ct.sv ORDER BY e.mi)) AS rv
           FROM enc e JOIN pcents$iters ct
             ON e.mi = ct.mi AND e.code = ct.code
           GROUP BY e.id)"""
  }

  private def pqOracleSql(m: Int = 16, kCodes: Int = 64,
                          subDim: Int = 4, iters: Int = 5,
                          shortlist: Int = 50, k: Int = 10): String = {
    s"""WITH corpus AS MATERIALIZED (
         SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ${pqTrainEncodeCtes("corpus", m, kCodes, subDim, iters)},
       q AS MATERIALIZED (SELECT vec_id AS query_id,
           CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
       sl AS MATERIALIZED (SELECT query_id, corpus_id FROM
           (SELECT query_id, corpus_id, row_number() OVER
              (PARTITION BY query_id
               ORDER BY cos DESC NULLS LAST, corpus_id ASC) AS rn
            FROM (SELECT qq.query_id, r.id AS corpus_id,
                ${cosSql("r.rv", "qq.qv")} AS cos
              FROM recon r CROSS JOIN q qq
              WHERE r.id <> qq.query_id))
           WHERE rn <= $shortlist),
       rr AS (SELECT s.query_id, s.corpus_id,
           ${cosSql("cp.v", "qq.qv")} AS cos
           FROM sl s JOIN corpus cp ON cp.id = s.corpus_id
           JOIN q qq ON qq.query_id = s.query_id)
       SELECT query_id, corpus_id, CAST(rank AS INT) AS rank,
         round(cos, 4) + 0.0 AS cos
       FROM (SELECT query_id, corpus_id, cos, row_number() OVER
               (PARTITION BY query_id
                ORDER BY cos DESC NULLS LAST, corpus_id ASC) AS rank
             FROM rr)
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Exact oracle for ann_ivf_kmeans: k-means training CTEs + the IVF
    * probe — corpus assigned to its (dot DESC, cell DESC) top cell,
    * each query probing its top-3 cells, candidates ranked by the
    * exact cosine (cos DESC, corpus_id). Upgraded r10 from a
    * recall-floor summary. */
  private def ivfKmeansOracleSql: String =
    s"""WITH corpus AS MATERIALIZED (
         SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ${kmeansCentsCtes(8, 5)},
       cidx AS MATERIALIZED (SELECT id AS corpus_id, v AS cvec,
           CAST(c AS INT) AS cell FROM
           (SELECT cp.id, cp.v, ct.c, row_number() OVER
              (PARTITION BY cp.id
               ORDER BY list_dot_product(cp.v, ct.v) DESC, ct.c DESC)
              AS rn
            FROM corpus cp CROSS JOIN cents5 ct) WHERE rn = 1),
       qc AS MATERIALIZED (SELECT id AS query_id, v AS qvec,
           CAST(c AS INT) AS cell FROM
           (SELECT q.id, q.v, ct.c, row_number() OVER
              (PARTITION BY q.id
               ORDER BY list_dot_product(q.v, ct.v) DESC, ct.c DESC)
              AS rn
            FROM (SELECT id, v FROM corpus WHERE id < 5) q
            CROSS JOIN cents5 ct) WHERE rn <= 3),
       scored AS (SELECT qc.query_id, cidx.corpus_id,
           ${cosSql("cidx.cvec", "qc.qvec")} AS cos
           FROM cidx JOIN qc USING (cell)
           WHERE cidx.corpus_id <> qc.query_id)
       SELECT query_id, corpus_id, CAST(rank AS INT) AS rank,
         round(cos, 4) + 0.0 AS cos
       FROM (SELECT query_id, corpus_id, cos, row_number() OVER
               (PARTITION BY query_id
                ORDER BY cos DESC NULLS LAST, corpus_id ASC) AS rank
             FROM scored)
       WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Exact oracle for ann_ivfpq — the composed FAISS-IVFPQ shape,
    * every stage bit-replicated: spherical k-means coarse training
    * (kmeansCentsCtes), corpus cell assignment by (dot DESC, cell
    * DESC), per-cell residuals (elementwise IEEE subtract — order-free,
    * exact in any engine), PQ codebook training + encode + recon ON THE
    * RESIDUALS (pqTrainEncodeCtes, verbatim the ann_pq machinery over a
    * different source relation), reconstructed candidates = centroid +
    * decoded residual, shortlist ranked on reconstructions inside the
    * query's top-`nProbe` cells, exact cosine re-rank. Null/ragged
    * vectors never encode (the CASE len-guard twins Spark's
    * CellCentroidCombine null contract), so they are absent from the
    * index on both sides. */
  // shortlist default re-pinned 50 → 100 with ivfPqTopK's (r13 sweep:
  // recovers the PQ-shortlist error up to the nProbe-3 cell-recall
  // ceiling at no cost); the persisted-index queries pass 50 explicitly
  private def ivfPqOracleSql(nCells: Int = 8, nProbe: Int = 3,
                             m: Int = 16, kCodes: Int = 64,
                             subDim: Int = 4, iters: Int = 5,
                             shortlist: Int = 100, k: Int = 10,
                             queryPred: String = "vec_id < 5"): String = {
    val dims = m * subDim
    s"""WITH corpus AS MATERIALIZED (
         SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ${kmeansCentsCtes(nCells, 5)},
       casg AS MATERIALIZED (SELECT id, v, cell FROM
           (SELECT cp.id, cp.v, CAST(ct.c AS INT) AS cell,
              row_number() OVER (PARTITION BY cp.id
                ORDER BY list_dot_product(cp.v, ct.v) DESC, ct.c DESC)
                AS rn
            FROM corpus cp CROSS JOIN cents5 ct) WHERE rn = 1),
       rcorpus AS MATERIALIZED (SELECT a.id, a.cell,
           CASE WHEN a.v IS NOT NULL AND len(a.v) = $dims
             THEN list_transform(range(1, $dims + 1),
                    i -> a.v[i] - ct.v[i]) END AS v
           FROM casg a JOIN cents5 ct ON ct.c = a.cell),
       ${pqTrainEncodeCtes("rcorpus", m, kCodes, subDim, iters, "pq")},
       rfull AS MATERIALIZED (SELECT r.id, rc.cell,
           list_transform(range(1, $dims + 1),
             i -> r.rv[i] + ct.v[i]) AS rv
           FROM recon r JOIN rcorpus rc ON rc.id = r.id
           JOIN cents5 ct ON ct.c = rc.cell),
       q AS MATERIALIZED (SELECT vec_id AS query_id,
           CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE $queryPred),
       qcells AS MATERIALIZED (SELECT query_id, qv, cell FROM
           (SELECT qq.query_id, qq.qv, CAST(ct.c AS INT) AS cell,
              row_number() OVER (PARTITION BY qq.query_id
                ORDER BY list_dot_product(qq.qv, ct.v) DESC, ct.c DESC)
                AS rn
            FROM q qq CROSS JOIN cents5 ct) WHERE rn <= $nProbe),
       sl AS MATERIALIZED (SELECT query_id, corpus_id FROM
           (SELECT query_id, corpus_id, row_number() OVER
              (PARTITION BY query_id
               ORDER BY cos DESC NULLS LAST, corpus_id ASC) AS rn
            FROM (SELECT qc.query_id, f.id AS corpus_id,
                ${cosSql("f.rv", "qc.qv")} AS cos
              FROM rfull f JOIN qcells qc ON qc.cell = f.cell
              WHERE f.id <> qc.query_id))
           WHERE rn <= $shortlist),
       rr AS (SELECT s.query_id, s.corpus_id,
           ${cosSql("cp.v", "qq.qv")} AS cos
           FROM sl s JOIN corpus cp ON cp.id = s.corpus_id
           JOIN q qq ON qq.query_id = s.query_id)
       SELECT query_id, corpus_id, CAST(rank AS INT) AS rank,
         round(cos, 4) + 0.0 AS cos
       FROM (SELECT query_id, corpus_id, cos, row_number() OVER
               (PARTITION BY query_id
                ORDER BY cos DESC NULLS LAST, corpus_id ASC) AS rank
             FROM rr)
       WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replica of the deterministic IVF path (same Rademacher
    * centroids — dims fixed at 64 across all SFs —, same (dot DESC,
    * cell DESC) probe order, same (cos DESC, corpus_id) ranking): the
    * approximate result is a pure function of the data, so it
    * oracle-checks exactly. `queryPred` selects the query batch. */
  private def ivfOracleSql(queryPred: String): String = {
    val cents = Similarity.rademacherPlanes(8, 64).zipWithIndex
      .map { case (p, i) =>
        s"($i, [${p.map(v => if (v > 0) "1.0" else "-1.0").mkString(",")}])"
      }.mkString(",\n           ")
    s"""WITH cents(cell, w) AS (VALUES $cents),
       c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[])
           AS v FROM embeddings),
       cd AS (SELECT corpus_id, v, cell, list_dot_product(v, w) AS d
           FROM c CROSS JOIN cents),
       cc AS (SELECT corpus_id, v, cell FROM
           (SELECT *, row_number() OVER (PARTITION BY corpus_id
              ORDER BY d DESC, cell DESC) AS rn FROM cd)
           WHERE rn = 1),
       q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[])
           AS v FROM embeddings WHERE $queryPred),
       qd AS (SELECT query_id, v, cell, list_dot_product(v, w) AS d
           FROM q CROSS JOIN cents),
       qc AS (SELECT query_id, v, cell FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY d DESC, cell DESC) AS rn FROM qd)
           WHERE rn <= 2),
       scored AS (SELECT qc.query_id, cc.corpus_id,
           list_cosine_similarity(cc.v, qc.v) AS cos
           FROM cc JOIN qc ON cc.cell = qc.cell
             AND cc.corpus_id <> qc.query_id)
       SELECT query_id, corpus_id, rank, round(cos, 4) + 0.0 AS cos FROM
         (SELECT query_id, corpus_id,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, corpus_id) AS INT) AS rank, cos
          FROM scored)
       WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** word-3-shingle CTE over a (doc_id, text) relation named u —
    * single shared copy (CorpusQueries' dup-ngram oracle reuses it). */
  private[graft] val shingleCte =
    s"""w AS (SELECT doc_id AS id, $normSql AS norm,
           string_split($normSql, ' ') AS ws FROM u),
       s AS (SELECT id, unnest(CASE WHEN len(ws) >= 3
             THEN list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             ELSE [norm] END) AS g FROM w),
       sd AS (SELECT DISTINCT id, g FROM s)"""

  /** Shared by benchmark_decontaminate and its bloom-prefiltered twin —
    * the two plans must produce identical rows. */
  /** Unrolled scaled-integer PageRank oracle (Graph.pageRankScaled
    * twin): r_0 = Scale div N per node; each iteration is
    * base + (85 · (Σ_in (rank div outdeg) + dang div N)) div 100,
    * `dang` the summed rank of out-edge-less nodes (uniform
    * dangling-mass redistribution, matching the Spark side) — all
    * BIGINT division/sums (non-negative, so DuckDB's floor `//`
    * equals Spark's truncating `div`), so the replica is bit-exact
    * by construction. CTE names are suffixed (`e$sfx`, `r${sfx}_$i`)
    * so the incremental oracle can unroll TWO graph snapshots in one
    * WITH block. */
  /** The planted domain link graph both pagerank queries rank:
    * source-domains → language-domains for every kept doc, every 2nd
    * doc's language-domain → a hub, the hub → every 5th doc's
    * source-domain. `keep` restricts to a crawl snapshot (lit(true)
    * = the full graph; the incremental query's v1 is
    * doc_id % 3 =!= 0). */
  private def linkGraphEdges(s: SparkSession, dir: String,
      keep: org.apache.spark.sql.Column): DataFrame = {
    val d = t(s, dir, "documents").filter(keep).select(col("doc_id"),
      concat(coalesce(col("source"), lit("unk")), lit(".com"))
        .as("sdom"),
      concat(coalesce(col("lang"), lit("und")), lit(".org"))
        .as("ldom"))
    d.select(col("sdom").as("src"), col("ldom").as("dst"))
      .unionByName(d.filter(col("doc_id") % 2 === 0)
        .select(col("ldom").as("src"),
          lit("hub.example.net").as("dst")))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select(lit("hub.example.net").as("src"),
          col("sdom").as("dst")))
  }

  /** [[linkGraphEdges]] plus planted periphery arms that give the
    * graph a full bow-tie shape (the core alone is one big SCC):
    * in-feeder domains (`in<k>.net` → source domains — reach the core,
    * unreached), out-sink domains (lang domains → `out<k>.net`),
    * tendril pages hanging off the in-feeders (`in<k>` → `tend<k>` —
    * weakly connected, no core reachability either way), tube chains
    * threading an in-feeder to an out-sink around the core
    * (`in<k>` → `tube<k>` → `out<k>`, both arms keyed to the same
    * doc), and fully disconnected `disc*.iso` pairs. Arm membership
    * keys on doc_id residues so every SF populates every class
    * deterministically. */
  private def bowtieEdges(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sdom = concat(coalesce(col("source"), lit("unk")), lit(".com"))
    val ldom = concat(coalesce(col("lang"), lit("und")), lit(".org"))
    def nm(pre: String, m: Int, suf: String) =
      concat(lit(pre), pmod(col("doc_id"), lit(m.toLong)).cast("string"),
        lit(suf))
    linkGraphEdges(s, dir, lit(true))
      .unionByName(d.filter(col("doc_id") % 7 === 0)
        .select(nm("in", 89, ".net").as("src"), sdom.as("dst")))
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .select(ldom.as("src"), nm("out", 83, ".net").as("dst")))
      .unionByName(
        d.filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 === 0)
          .select(nm("in", 89, ".net").as("src"),
            nm("tend", 79, ".net").as("dst")))
      .unionByName(d.filter(col("doc_id") % 19 === 0)
        .select(nm("in", 89, ".net").as("src"),
          nm("tube", 71, ".net").as("dst")))
      .unionByName(d.filter(col("doc_id") % 19 === 0)
        .select(nm("tube", 71, ".net").as("src"),
          nm("out", 83, ".net").as("dst")))
      .unionByName(d.filter(col("doc_id") % 17 === 0)
        .select(nm("discA", 101, ".iso").as("src"),
          nm("discB", 103, ".iso").as("dst")))
  }

  /** The trusted seed set every personalized-rank consumer shares:
    * the corpus's source domains. */
  private def trustedSeeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(concat(coalesce(col("source"), lit("unk")),
        lit(".com")).as("node"))

  private def pagerankGraphCtes(sfx: String, where: String,
                                extraArm: String = ""): String =
    s"""e$sfx AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT coalesce(source, 'unk') || '.com' AS src,
                  coalesce(lang, 'und') || '.org' AS dst
             FROM documents WHERE $where
           UNION ALL
           SELECT coalesce(lang, 'und') || '.org', 'hub.example.net'
             FROM documents WHERE doc_id % 2 = 0 AND ($where)
           UNION ALL
           SELECT 'hub.example.net', coalesce(source, 'unk') || '.com'
             FROM documents WHERE doc_id % 5 = 0 AND ($where)
           $extraArm)),
         nodes$sfx AS MATERIALIZED (SELECT DISTINCT node FROM (
           SELECT src AS node FROM e$sfx
           UNION ALL SELECT dst FROM e$sfx)),
         od$sfx AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e$sfx
           GROUP BY src),
         nn$sfx AS MATERIALIZED (SELECT count(*) AS n,
             CAST((1000000000000 * 15) // (100 * count(*)) AS BIGINT)
               AS base
           FROM nodes$sfx)"""

  private def pagerankFreshSeed(sfx: String): String =
    s"""r${sfx}_0 AS MATERIALIZED (SELECT node,
           CAST(1000000000000 // nn$sfx.n AS BIGINT) AS rank_s
         FROM nodes$sfx CROSS JOIN nn$sfx)"""

  private def pagerankIterCtes(sfx: String, iters: Int): String =
    (1 to iters).map { i =>
      s"""d${sfx}_$i AS MATERIALIZED (SELECT CAST(coalesce(sum(r.rank_s), 0)
             AS BIGINT) AS dang
           FROM r${sfx}_${i - 1} r
           WHERE NOT EXISTS (SELECT 1 FROM od$sfx o
                             WHERE o.src = r.node)),
         r${sfx}_$i AS MATERIALIZED (SELECT nodes$sfx.node,
           CAST(nn$sfx.base +
               (85 * (coalesce(i${sfx}_$i.in_s, 0)
                      + d${sfx}_$i.dang // nn$sfx.n)) // 100
             AS BIGINT) AS rank_s
         FROM nodes$sfx CROSS JOIN nn$sfx CROSS JOIN d${sfx}_$i
         LEFT JOIN (SELECT e.dst AS node,
               CAST(sum(r.rank_s // od.outdeg) AS BIGINT) AS in_s
             FROM e$sfx e JOIN r${sfx}_${i - 1} r ON r.node = e.src
             JOIN od$sfx od ON od.src = e.src
             GROUP BY e.dst) i${sfx}_$i
           ON i${sfx}_$i.node = nodes$sfx.node)"""
    }.mkString(",\n         ")

  private def pagerankOracleSql(iters: Int): String =
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pagerankFreshSeed("")},
         ${pagerankIterCtes("", iters)}
         SELECT node, rank_s FROM r_$iters ORDER BY node"""

  /** Weighted-PageRank oracle (Graph.pageRankScaledWeighted twin):
    * the same three edge arms WITHOUT the distinct — multiplicity
    * becomes the integer weight — then `iters` unrolled rounds of
    * base + (85·(Σ (rank·w) div W_out + dang div N)) div 100, all
    * BIGINT. */
  private def wpagerankOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""dw_$i AS MATERIALIZED (SELECT CAST(coalesce(sum(r.rank_s), 0)
             AS BIGINT) AS dang
           FROM rw_${i - 1} r
           WHERE NOT EXISTS (SELECT 1 FROM oww o
                             WHERE o.src = r.node)),
         rw_$i AS MATERIALIZED (SELECT nodesw.node,
           CAST(nnw.base +
               (85 * (coalesce(iw_$i.in_s, 0)
                      + dw_$i.dang // nnw.n)) // 100
             AS BIGINT) AS rank_s
         FROM nodesw CROSS JOIN nnw CROSS JOIN dw_$i
         LEFT JOIN (SELECT e.dst AS node,
               CAST(sum((r.rank_s * e.w) // o.ow) AS BIGINT) AS in_s
             FROM ew e JOIN rw_${i - 1} r ON r.node = e.src
             JOIN oww o ON o.src = e.src
             GROUP BY e.dst) iw_$i
           ON iw_$i.node = nodesw.node)"""
    }.mkString(",\n         ")
    s"""WITH ew AS MATERIALIZED (SELECT src, dst,
             CAST(count(*) AS BIGINT) AS w FROM (
           SELECT coalesce(source, 'unk') || '.com' AS src,
                  coalesce(lang, 'und') || '.org' AS dst
             FROM documents
           UNION ALL
           SELECT coalesce(lang, 'und') || '.org', 'hub.example.net'
             FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'hub.example.net', coalesce(source, 'unk') || '.com'
             FROM documents WHERE doc_id % 5 = 0)
           GROUP BY src, dst),
         nodesw AS MATERIALIZED (SELECT DISTINCT node FROM (
           SELECT src AS node FROM ew
           UNION ALL SELECT dst FROM ew)),
         oww AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow
           FROM ew GROUP BY src),
         nnw AS MATERIALIZED (SELECT count(*) AS n,
             CAST((1000000000000 * 15) // (100 * count(*)) AS BIGINT)
               AS base
           FROM nodesw),
         rw_0 AS MATERIALIZED (SELECT node,
             CAST(1000000000000 // nnw.n AS BIGINT) AS rank_s
           FROM nodesw CROSS JOIN nnw),
         $iterCtes
         SELECT node, rank_s FROM rw_$iters ORDER BY node"""
  }

  /** Exact n-gram decontamination oracle
    * (Dedup.exactNgramContamination twin at n = 13): 13-token grams
    * over the normalized split (whole normalized text when the doc is
    * under 13 words — the wordShingles convention), benchmark grams
    * from the doc_id % 97 slice, per-train-doc distinct-gram hit
    * counts joined on gram TEXT (the Spark side joins on xxhash64 of
    * the same grams — identical result short of a 64-bit collision).
    * Zero-token docs (empty norm) are filtered from both gram sides,
    * mirroring the Spark-side guard against the empty-string-gram
    * false positive. */
  private def exactDecontaminateOracleSql: String =
    s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
             FROM documents),
         w AS (SELECT doc_id AS id, $normSql AS norm,
             string_split($normSql, ' ') AS ws FROM u
           WHERE len($normSql) > 0),
         s13 AS (SELECT id, unnest(CASE WHEN len(ws) >= 13
               THEN list_transform(range(1, len(ws) - 11),
                    i -> array_to_string(ws[i:i+12], ' '))
               ELSE [norm] END) AS g FROM w),
         sd AS (SELECT DISTINCT id, g FROM s13),
         tr AS (SELECT id AS train_id, g FROM sd),
         be AS (SELECT DISTINCT g FROM sd WHERE id % 97 = 0),
         ng AS (SELECT train_id, CAST(count(*) AS BIGINT) AS n_grams
           FROM tr GROUP BY train_id),
         ht AS (SELECT train_id, CAST(count(*) AS BIGINT) AS n_hits
           FROM tr JOIN be USING (g) GROUP BY train_id)
         SELECT h.train_id, h.n_hits, n.n_grams,
           round(CAST(h.n_hits AS DOUBLE) / CAST(n.n_grams AS DOUBLE),
             6) + 0.0 AS frac
         FROM ht h JOIN ng n USING (train_id)
         ORDER BY h.train_id"""

  /** Convergence-stopped oracle (Graph.pageRankScaledConverged twin):
    * unrolls all `maxIters` candidate iterations, computes each
    * integer L1 delta dl_i = Σ|r_i − r_{i−1}| (BIGINT-exact, so the
    * stop point is engine-independent by construction), CASE-selects
    * the first iteration whose delta < eps (else maxIters), and emits
    * that iteration's ranks plus the stop index as `iters`. */
  /** The delta/stop/selection tail shared by the two converged oracles:
    * per-iteration BIGINT L1 deltas, the CASE-selected first iteration
    * under eps (else maxIters), that iteration's ranks + the stop
    * index. Assumes r_0..r_maxIters precede it in the WITH block. */
  private def pagerankConvergedTail(eps: Long, maxIters: Int): String = {
    val deltas = (1 to maxIters).map { i =>
      s"""dl_$i AS (SELECT CAST(sum(abs(a.rank_s - b.rank_s)) AS BIGINT)
             AS d
           FROM r_$i a JOIN r_${i - 1} b ON a.node = b.node)"""
    }.mkString(",\n         ")
    val stopCase = (1 until maxIters).map { i =>
      s"WHEN (SELECT d FROM dl_$i) < $eps THEN $i"
    }.mkString(" ")
    val sel = (1 to maxIters).map { i =>
      s"SELECT $i AS i, node, rank_s FROM r_$i"
    }.mkString(" UNION ALL ")
    s"""$deltas,
         stop AS (SELECT CAST(CASE $stopCase ELSE $maxIters END AS INT)
             AS j),
         sel AS ($sel)
         SELECT s.node, s.rank_s, st.j AS iters
         FROM sel s CROSS JOIN stop st WHERE s.i = st.j
         ORDER BY node"""
  }

  private def pagerankConvergedOracleSql(eps: Long,
                                         maxIters: Int): String =
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pagerankFreshSeed("")},
         ${pagerankIterCtes("", maxIters)},
         ${pagerankConvergedTail(eps, maxIters)}"""

  /** Warm-started + convergence-stopped oracle
    * (Graph.pageRankScaledResumeConverged twin): the incremental
    * oracle's warm seed (v1 = doc_id % 3 <> 0 fresh for `v1Iters`,
    * full graph seeded from it) followed by the converged tail — the
    * stop point itself is the warm-start saving, pinned in the
    * artifact's `iters` column. Same nonempty-v1 precondition as
    * [[pagerankIncrementalOracleSql]]. */
  private def pagerankResumeConvergedOracleSql(v1Iters: Int, eps: Long,
                                               maxIters: Int): String =
    s"""WITH ${pagerankGraphCtes("1", "doc_id % 3 <> 0")},
         ${pagerankFreshSeed("1")},
         ${pagerankIterCtes("1", v1Iters)},
         ${pagerankGraphCtes("", "TRUE")},
         r_0 AS MATERIALIZED (SELECT nodes.node,
             CAST(coalesce(p.rank_s, 1000000000000 // nn.n) AS BIGINT)
               AS rank_s
           FROM nodes CROSS JOIN nn
           LEFT JOIN r1_$v1Iters p ON p.node = nodes.node),
         ${pagerankIterCtes("", maxIters)},
         ${pagerankConvergedTail(eps, maxIters)}"""

  /** Warm-start oracle (Graph.pageRankScaledResume twin): v1 graph =
    * docs with doc_id % 3 <> 0 run fresh for `v1Iters`, then the FULL
    * graph seeded with v1's final ranks (uniform Scale div N for new
    * nodes) for `v2Iters` more.
    *
    * PRECONDITION (here and in [[pagerankStreamingOracleSql]]): the v1
    * snapshot must be NONEMPTY. If every doc_id were divisible by 3,
    * nn1's `n` would be 0 (division by zero in the seed CTE) and the
    * Spark fixture would rank the full graph FRESH for v1Iters instead
    * of resuming — the two sides would diverge. Unreachable on the
    * generated testdata (doc_ids are dense from 0, so any corpus with
    * ≥ 2 docs has a % 3 ≠ 0 row) and guarded implicitly by the empty-
    * documents case both sides special-case to empty output. */
  private def pagerankIncrementalOracleSql(v1Iters: Int,
                                           v2Iters: Int): String =
    s"""WITH ${pagerankGraphCtes("1", "doc_id % 3 <> 0")},
         ${pagerankFreshSeed("1")},
         ${pagerankIterCtes("1", v1Iters)},
         ${pagerankGraphCtes("", "TRUE")},
         r_0 AS (SELECT nodes.node,
             CAST(coalesce(p.rank_s, 1000000000000 // nn.n) AS BIGINT)
               AS rank_s
           FROM nodes CROSS JOIN nn
           LEFT JOIN r1_$v1Iters p ON p.node = nodes.node),
         ${pagerankIterCtes("", v2Iters)}
         SELECT node, rank_s FROM r_$v2Iters ORDER BY node"""

  /** Personalized-PageRank oracle (Graph.personalizedPageRankScaled
    * twin): seeds = the source-domain nodes; the 15% teleport and the
    * dangling mass both return to seeds uniformly; r0 = Scale div |S|
    * on seeds, 0 elsewhere. Same all-BIGINT exactness. */
  /** The personalized-PageRank CTE chain (seeds/mm/pr_0/pd_i/pr_i)
    * shared by [[pprOracleSql]] and [[spamMassOracleSql]]; assumes
    * pagerankGraphCtes("") precedes it in the WITH block. */
  private def pprCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""pd_$i AS MATERIALIZED (SELECT CAST(coalesce(sum(r.rank_s), 0) AS BIGINT)
             AS dang
           FROM pr_${i - 1} r
           WHERE NOT EXISTS (SELECT 1 FROM od o WHERE o.src = r.node)),
         pr_$i AS MATERIALIZED (SELECT nodes.node,
           CAST(CASE WHEN sd.node IS NOT NULL THEN mm.base ELSE 0 END +
               (85 * (coalesce(ii_$i.in_s, 0) +
                  CASE WHEN sd.node IS NOT NULL
                       THEN pd_$i.dang // mm.m ELSE 0 END)) // 100
             AS BIGINT) AS rank_s
         FROM nodes CROSS JOIN mm CROSS JOIN pd_$i
         LEFT JOIN seeds sd ON sd.node = nodes.node
         LEFT JOIN (SELECT e2.dst AS node,
               CAST(sum(r.rank_s // od.outdeg) AS BIGINT) AS in_s
             FROM e e2 JOIN pr_${i - 1} r ON r.node = e2.src
             JOIN od ON od.src = e2.src
             GROUP BY e2.dst) ii_$i ON ii_$i.node = nodes.node)"""
    }.mkString(",\n         ")
    s"""seeds AS MATERIALIZED (SELECT node FROM nodes WHERE node IN (
           SELECT coalesce(source, 'unk') || '.com' FROM documents)),
         mm AS MATERIALIZED (SELECT count(*) AS m,
             CAST((1000000000000 * 15) // (100 * count(*)) AS BIGINT)
               AS base
           FROM seeds),
         pr_0 AS MATERIALIZED (SELECT nodes.node,
             CAST(CASE WHEN sd.node IS NOT NULL
                  THEN 1000000000000 // mm.m ELSE 0 END AS BIGINT)
               AS rank_s
           FROM nodes CROSS JOIN mm
           LEFT JOIN seeds sd ON sd.node = nodes.node),
         $iterCtes"""
  }

  /** Personalized-PageRank oracle (Graph.personalizedPageRankScaled
    * twin) — see [[pprCtes]]. */
  private def pprOracleSql(iters: Int): String =
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pprCtes(iters)}
         SELECT node, rank_s FROM pr_$iters ORDER BY node"""

  /** Spam-mass oracle (Gyongyi et al., "Link Spam Detection Based on
    * Mass Estimation"): spam_mass = (pr − ppr_trusted) / pr per node —
    * the fraction of a node's rank NOT reachable from the trusted seed
    * set. Composes the two unrolled rank chains in one WITH block
    * (CTE families are disjoint: r_i/d_i/nn vs pr_i/pd_i/mm); the
    * division is IEEE over exactly-representable Longs (< 2^53), so
    * bit parity holds; `+ 0.0` guards the signed-zero round trap on
    * seed nodes whose ppr exceeds pr. */
  private def spamMassOracleSql(iters: Int): String =
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pagerankFreshSeed("")},
         ${pagerankIterCtes("", iters)},
         ${pprCtes(iters)}
         SELECT r.node, r.rank_s, p.rank_s AS ppr_s,
           round(CAST(r.rank_s - p.rank_s AS DOUBLE) /
                 CAST(r.rank_s AS DOUBLE), 6) + 0.0 AS spam_mass
         FROM r_$iters r JOIN pr_$iters p ON p.node = r.node
         ORDER BY r.node"""

  /** Oracle for link_rank_tables — spamMassOracleSql's chains, emitted
    * as the bare (node, rank_s, ppr_s) artifact the link family
    * derives from. */
  private def rankTablesOracleSql(iters: Int): String =
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pagerankFreshSeed("")},
         ${pagerankIterCtes("", iters)},
         ${pprCtes(iters)}
         SELECT r.node, r.rank_s, p.rank_s AS ppr_s
         FROM r_$iters r JOIN pr_$iters p ON p.node = r.node
         ORDER BY r.node"""

  /** Unrolled HITS oracle (Graph.hitsScaled twin): h_0 = HitsScale per
    * node; each iteration's authority is the in-neighbor hub sum
    * L1-normalized by truncating division (divisor max(total div S, 1)),
    * then hubs symmetrically from out-neighbor authority sums. All
    * non-negative BIGINT sums and floor divisions — bit-exact by the
    * pagerank-oracle argument. */
  private def hitsOracleSql(iters: Int): String = {
    val s0 = graft.ops.Graph.HitsScale
    val iterCtes = (1 to iters).map { i =>
      s"""ar_$i AS MATERIALIZED (SELECT e.dst AS node,
             CAST(sum(h.hub_s) AS BIGINT) AS a_raw
           FROM e JOIN h_${i - 1} h ON h.node = e.src GROUP BY e.dst),
         ta_$i AS (SELECT greatest(
             CAST(coalesce(sum(a_raw), 0) AS BIGINT) // $s0, 1) AS d
           FROM ar_$i),
         a_$i AS MATERIALIZED (SELECT nodes.node,
             CAST(coalesce(ar.a_raw, 0) // ta_$i.d AS BIGINT) AS auth_s
           FROM nodes CROSS JOIN ta_$i
           LEFT JOIN ar_$i ar ON ar.node = nodes.node),
         hr_$i AS MATERIALIZED (SELECT e.src AS node,
             CAST(sum(a.auth_s) AS BIGINT) AS h_raw
           FROM e JOIN a_$i a ON a.node = e.dst GROUP BY e.src),
         th_$i AS (SELECT greatest(
             CAST(coalesce(sum(h_raw), 0) AS BIGINT) // $s0, 1) AS d
           FROM hr_$i),
         h_$i AS MATERIALIZED (SELECT nodes.node,
             CAST(coalesce(hr.h_raw, 0) // th_$i.d AS BIGINT) AS hub_s
           FROM nodes CROSS JOIN th_$i
           LEFT JOIN hr_$i hr ON hr.node = nodes.node)"""
    }.mkString(",\n         ")
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         h_0 AS MATERIALIZED (SELECT node, CAST($s0 AS BIGINT) AS hub_s
           FROM nodes),
         $iterCtes
         SELECT a.node, a.auth_s, h.hub_s
         FROM a_$iters a JOIN h_$iters h ON h.node = a.node
         ORDER BY a.node"""
  }

  /** Degree-oriented triangle-count oracle (Graph.triangleCounts twin):
    * undirected simplification, orientation from the smaller
    * (degree, node) key, wedges at the minimum vertex closed by the
    * oriented (v1, v2) edge, per-node counts via the 3-arm unpivot.
    * Counts exact integers; lcc is one IEEE divide of small ints. */
  private val trianglesOracleSql: String =
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b
           FROM e WHERE src <> dst),
         dg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT)
             AS degree
           FROM (SELECT a AS node FROM und
                 UNION ALL SELECT b FROM und)
           GROUP BY node),
         ori AS MATERIALIZED (SELECT
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v,
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND u.a < u.b)
                  THEN db.degree ELSE da.degree END AS dv
           FROM und u
           JOIN dg da ON da.node = u.a
           JOIN dg db ON db.node = u.b),
         tri AS MATERIALIZED (SELECT w1.u, w1.v AS v1, w2.v AS v2
           FROM ori w1
           JOIN ori w2 ON w1.u = w2.u
             AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
           JOIN ori c ON c.u = w1.v AND c.v = w2.v),
         pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
           FROM (SELECT u AS node FROM tri
                 UNION ALL SELECT v1 FROM tri
                 UNION ALL SELECT v2 FROM tri)
           GROUP BY node)
         SELECT dg.node, dg.degree,
           CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN dg.degree >= 2
             THEN round(2.0 * coalesce(pn.triangles, 0) /
               (dg.degree * (dg.degree - 1)), 6) + 0.0
             ELSE 0.0 END AS lcc
         FROM dg LEFT JOIN pn ON pn.node = dg.node
         ORDER BY dg.node"""

  /** Unrolled seeded-label-propagation oracle
    * (Graph.seededLabelPropagation twin): doubled undirected edges,
    * per-round (node, label) vote counts, the Long-max election
    * votes·2²⁰ + (2²⁰−1−label) whose residue is the winner, seeds
    * clamped by anti-membership. All BIGINT. */
  private def labelPropOracleSql(iters: Int): String = {
    val cap = 1048576L
    val iterCtes = (1 to iters).map { i =>
      s"""v_$i AS (SELECT u.dst AS node, l.label,
             CAST(count(*) AS BIGINT) AS votes
           FROM und u JOIN l_${i - 1} l ON l.node = u.src
           GROUP BY u.dst, l.label),
         el_$i AS (SELECT node, CAST(${cap - 1} -
             max(votes * $cap + (${cap - 1} - label)) % $cap
               AS BIGINT) AS label
           FROM v_$i GROUP BY node),
         l_$i AS MATERIALIZED (SELECT node, label FROM seeds
           UNION ALL
           SELECT e2.node, e2.label FROM el_$i e2
           WHERE e2.node NOT IN (SELECT node FROM seeds))"""
    }.mkString(",\n         ")
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM e WHERE src <> dst
           UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
         lnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
         seeds AS MATERIALIZED (SELECT DISTINCT
             coalesce(source, 'unk') || '.com' AS node,
             CAST(length(coalesce(source, 'unk')) % 5 AS BIGINT)
               AS label
           FROM documents
           WHERE coalesce(source, 'unk') || '.com'
             IN (SELECT node FROM lnodes)),
         l_0 AS MATERIALIZED (SELECT node, label FROM seeds),
         $iterCtes
         SELECT n.node, l.label FROM lnodes n
         LEFT JOIN l_$iters l ON l.node = n.node
         ORDER BY n.node"""
  }

  /** Unrolled k-core oracle (Graph.kCore twin): doubled undirected
    * edges, per-round double-semi-join + HAVING count ≥ k peel,
    * CASE-selected stop at the first equal consecutive count (monotone
    * shrink ⇒ fixpoint ⇒ the final unrolled round equals the stopped
    * one, so rows come from a_max and only `rounds` needs the CASE). */
  private def kCoreOracleSql(k: Int, maxRounds: Int): String = {
    val rounds = (1 to maxRounds).map { i =>
      s"""a_$i AS MATERIALIZED (SELECT u.src AS node FROM und u
           JOIN a_${i - 1} s ON s.node = u.src
           JOIN a_${i - 1} d ON d.node = u.dst
           GROUP BY u.src HAVING count(*) >= $k),
         c_$i AS (SELECT count(*) AS c FROM a_$i)"""
    }.mkString(",\n         ")
    val stopCase = (1 to maxRounds).map { i =>
      s"WHEN (SELECT c FROM c_$i) = (SELECT c FROM c_${i - 1}) THEN $i"
    }.mkString(" ")
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM e WHERE src <> dst
           UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
         a_0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
         c_0 AS (SELECT count(*) AS c FROM a_0),
         $rounds,
         stop AS (SELECT CAST(CASE $stopCase ELSE $maxRounds END
             AS INT) AS j)
         SELECT a.node, st.j AS rounds
         FROM a_$maxRounds a CROSS JOIN stop st
         ORDER BY a.node"""
  }

  /** Bow-tie oracle (Graph.bowTie twin): the same seven-arm edge
    * fixture ([[bowtieEdges]]), the same max-degree/min-node pivot
    * election, then true-fixpoint reachability as recursive CTEs
    * (UNION-dedup recursion terminates at the fixpoint the query's
    * capped BFS reaches well inside maxRounds = 64 on this graph) and
    * the identical CASE classification — pure set algebra, so any
    * divergence is a real reachability bug, not arithmetic drift. */
  /** The [[bowtieEdges]] fixture graph as a DuckDB CTE pair (e,
    * bnodes) — shared by the bow-tie and SCC-census oracles (a def,
    * per the shared-oracle-fragment init-order discipline). */
  private def bowtieEdgesSqlCtes: String = bowtieEdgesSqlCtesWith("")

  /** [[bowtieEdgesSqlCtes]] with an extra UNION ALL arm spliced into
    * the edge CTE — the pagerankGraphCtes `extraArm` pattern, used by
    * the streaming census oracle to plant its sentinel component. */
  private def bowtieEdgesSqlCtesWith(extraArm: String): String =
    s"""e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT coalesce(source, 'unk') || '.com' AS src,
                  coalesce(lang, 'und') || '.org' AS dst
             FROM documents
           UNION ALL
           SELECT coalesce(lang, 'und') || '.org', 'hub.example.net'
             FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'hub.example.net', coalesce(source, 'unk') || '.com'
             FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT 'in' || CAST(doc_id % 89 AS VARCHAR) || '.net',
                  coalesce(source, 'unk') || '.com'
             FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT coalesce(lang, 'und') || '.org',
                  'out' || CAST(doc_id % 83 AS VARCHAR) || '.net'
             FROM documents WHERE doc_id % 11 = 0
           UNION ALL
           SELECT 'in' || CAST(doc_id % 89 AS VARCHAR) || '.net',
                  'tend' || CAST(doc_id % 79 AS VARCHAR) || '.net'
             FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 = 0
           UNION ALL
           SELECT 'in' || CAST(doc_id % 89 AS VARCHAR) || '.net',
                  'tube' || CAST(doc_id % 71 AS VARCHAR) || '.net'
             FROM documents WHERE doc_id % 19 = 0
           UNION ALL
           SELECT 'tube' || CAST(doc_id % 71 AS VARCHAR) || '.net',
                  'out' || CAST(doc_id % 83 AS VARCHAR) || '.net'
             FROM documents WHERE doc_id % 19 = 0
           UNION ALL
           SELECT 'discA' || CAST(doc_id % 101 AS VARCHAR) || '.iso',
                  'discB' || CAST(doc_id % 103 AS VARCHAR) || '.iso'
             FROM documents WHERE doc_id % 17 = 0
           $extraArm)),
         bnodes AS MATERIALIZED (SELECT DISTINCT node FROM (
           SELECT src AS node FROM e UNION ALL SELECT dst FROM e))"""

  private def bowtieOracleSql: String =
    s"""WITH RECURSIVE $bowtieEdgesSqlCtes,
         dg AS (SELECT node, count(*) AS deg FROM (
           SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
           GROUP BY node),
         pv AS (SELECT node FROM dg ORDER BY deg DESC, node LIMIT 1),
         fwd AS (SELECT node FROM pv
           UNION
           SELECT e.dst FROM e JOIN fwd ON e.src = fwd.node),
         bwd AS (SELECT node FROM pv
           UNION
           SELECT e.src FROM e JOIN bwd ON e.dst = bwd.node),
         scc AS (SELECT f.node FROM fwd f
           JOIN bwd b ON b.node = f.node),
         inn AS (SELECT b.node FROM bwd b
           LEFT JOIN fwd f ON f.node = b.node WHERE f.node IS NULL),
         outn AS (SELECT f.node FROM fwd f
           LEFT JOIN bwd b ON b.node = f.node WHERE b.node IS NULL),
         ep AS (SELECT src, dst FROM e
           WHERE src NOT IN (SELECT node FROM scc)
             AND dst NOT IN (SELECT node FROM scc)),
         fin AS (SELECT node FROM inn
           UNION
           SELECT ep.dst FROM ep JOIN fin ON ep.src = fin.node),
         tou AS (SELECT node FROM outn
           UNION
           SELECT ep.src FROM ep JOIN tou ON ep.dst = tou.node),
         und AS (SELECT src AS a, dst AS b FROM e
           UNION SELECT dst, src FROM e),
         wk AS (SELECT node FROM pv
           UNION
           SELECT u.b FROM und u JOIN wk ON u.a = wk.node)
         SELECT n.node,
           CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL
                  THEN 'SCC'
                WHEN b.node IS NOT NULL THEN 'IN'
                WHEN f.node IS NOT NULL THEN 'OUT'
                WHEN fi.node IS NOT NULL AND t2.node IS NOT NULL
                  THEN 'TUBE'
                WHEN w.node IS NOT NULL THEN 'TENDRIL'
                ELSE 'DISC' END AS cls
         FROM bnodes n
         LEFT JOIN fwd f ON f.node = n.node
         LEFT JOIN bwd b ON b.node = n.node
         LEFT JOIN fin fi ON fi.node = n.node
         LEFT JOIN tou t2 ON t2.node = n.node
         LEFT JOIN wk w ON w.node = n.node
         ORDER BY n.node"""

  /** Distributed-BPE-training oracle (Bpe.trainDistributed twin):
    * unrolls every merge round in SQL. Word symbol state is a STRING
    * with each symbol individually wrapped in chr(31) — so the merge
    * of pair (a, b) is one non-overlapping left-to-right
    * replace('␟a␟␟b␟' → '␟ab␟'), exactly [[Bpe.mergePair]]'s
    * semantics, with full-symbol anchoring (a symbol SUFFIX can never
    * false-match: the char before it is text, not the wrap char). The
    * encoding assumes symbols never contain chr(31) — true for the
    * whitespace-split fixture vocabulary; the Spark side carries real
    * arrays and has no such constraint. Pair counts are BIGINT, the
    * argmax tie-break (count desc, a, b) and the per-round vocab
    * rewrite mirror the Spark loop — bit-replica by construction. */
  private def bpeTrainOracleSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { i =>
      s"""pr_$i AS (SELECT p.a AS a, p.b AS b,
             CAST(sum(cnt) AS BIGINT) AS c
           FROM (SELECT cnt, unnest(list_transform(range(1, len(ws)),
               j -> {'a': ws[j], 'b': ws[j+1]})) AS p
             FROM (SELECT cnt, string_split(trim(st, chr(31)),
                 chr(31)||chr(31)) AS ws FROM v_${i - 1}
               WHERE len(st) > 0))
           GROUP BY a, b),
         bs_$i AS (SELECT a, b FROM pr_$i ORDER BY c DESC, a, b
           LIMIT 1),
         v_$i AS MATERIALIZED (SELECT w, cnt, replace(st,
             chr(31)||bs.a||chr(31)||chr(31)||bs.b||chr(31),
             chr(31)||bs.a||bs.b||chr(31)) AS st
           FROM v_${i - 1} CROSS JOIN bs_$i bs)"""
    }.mkString(",\n         ")
    val sel = (1 to nMerges).map { i =>
      s"SELECT CAST($i AS INT) AS rank, a AS lhs, b AS rhs FROM bs_$i"
    }.mkString(" UNION ALL ")
    s"""WITH u AS (SELECT $normSql AS nrm FROM (
             SELECT coalesce(text, '') AS text FROM documents
             WHERE doc_id < 64) x),
         wd AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest(string_split(nrm, ' ')) AS w FROM u)
           WHERE length(w) > 0 GROUP BY w),
         v_0 AS MATERIALIZED (SELECT w, cnt,
             chr(31) || array_to_string(
               list_transform(range(1, length(w)+1), i -> w[i]),
               chr(31)||chr(31)) || chr(31) AS st
           FROM wd),
         $rounds
         SELECT * FROM ($sel) ORDER BY rank"""
  }

  /** SCC-census oracle (Graph.sccCensus twin): both ids are SEMANTIC
    * (min node of the strongly / weakly connected component), so the
    * oracle computes them straight from reflexive-transitive closure
    * — a recursive CTE over the directed edges for scc_id (mutual
    * pairs = closure ⋈ reversed closure), another over the doubled
    * undirected edges for wcc_id — while the Spark side runs the
    * iterative forward-backward coloring. Any divergence is a real
    * partition bug, not arithmetic drift. Closure is O(n·m) — fine at
    * the fixture graph's ~constant few-hundred domain nodes. */
  private def sccCensusOracleSql: String = sccCensusOracleSqlWith("")

  /** [[sccCensusOracleSql]] over the fixture graph plus an extra edge
    * arm — the streaming census oracle plants its sentinel component
    * this way (one row iff documents is nonempty, matching the
    * query's empty guard — the pagerank-streaming sentinel trick). */
  private def sccCensusOracleSqlWith(extraArm: String): String =
    s"""WITH RECURSIVE ${bowtieEdgesSqlCtesWith(extraArm)},
         rp AS (SELECT node AS a, node AS b FROM bnodes
           UNION
           SELECT r.a, e.dst FROM rp r JOIN e ON e.src = r.b),
         scc AS (SELECT f.a AS node, min(f.b) AS scc_id
           FROM rp f JOIN rp r ON r.a = f.b AND r.b = f.a
           GROUP BY f.a),
         ue AS (SELECT src AS a, dst AS b FROM e
           UNION SELECT dst, src FROM e),
         up AS (SELECT node AS a, node AS b FROM bnodes
           UNION
           SELECT r.a, u.b FROM up r JOIN ue u ON u.a = r.b),
         wcc AS (SELECT a AS node, min(b) AS wcc_id FROM up
           GROUP BY a)
         SELECT n.node, w.wcc_id, s.scc_id
         FROM bnodes n
         JOIN wcc w ON w.node = n.node
         JOIN scc s ON s.node = n.node
         ORDER BY n.node"""

  /** Neighborhood-function oracle (Graph.neighborhoodFunction twin):
    * min-distance closure via a bounded recursive CTE over the
    * bow-tie fixture edges (UNION-deduped (a, b, t) triples, t ≤ 40
    * ≫ the fixture diameter), then N(t) = pairs with d ≤ t for
    * t = 0..max-eccentricity, frac = one IEEE divide of exact BIGINTs
    * rounded at 6, and the effective diameter by the same integer
    * pairs·10 ≥ 9·total compare the Spark side uses. Valid because
    * the Spark side's sketches are EXACT at the fixture's bounded
    * node count (coupon mode at lgK = 12) — any divergence is a real
    * reachability bug, not sketch noise. */
  private def neighborhoodOracleSql: String =
    s"""WITH RECURSIVE $bowtieEdgesSqlCtes,
         r AS (SELECT node AS a, node AS b, 0 AS t FROM bnodes
           UNION
           SELECT r.a, e.dst, r.t + 1 FROM r JOIN e ON e.src = r.b
           WHERE r.t < 40),
         d AS (SELECT a, b, min(t) AS d FROM r GROUP BY a, b),
         tm AS (SELECT CAST(max(d) AS INT) AS t_max,
             CAST(count(*) AS BIGINT) AS total FROM d),
         nt AS (SELECT CAST(ts.t AS INT) AS t,
             (SELECT CAST(count(*) AS BIGINT) FROM d
              WHERE d.d <= ts.t) AS pairs
           FROM (SELECT unnest(range(0,
             (SELECT t_max + 1 FROM tm))) AS t) ts),
         eff AS (SELECT min(t) AS eff_t FROM nt CROSS JOIN tm
           WHERE pairs * 10 >= 9 * tm.total)
         SELECT nt.t, nt.pairs,
           round(CAST(nt.pairs AS DOUBLE) / CAST(tm.total AS DOUBLE),
             6) AS frac,
           nt.t = eff.eff_t AS is_eff_diameter
         FROM nt CROSS JOIN tm CROSS JOIN eff
         ORDER BY nt.t"""

  /** Unseeded label-propagation oracle
    * (Graph.labelPropagationCommunities twin): init labels are the
    * 0-based dense rank over ascending node order, then `iters`
    * unrolled rounds of the identical packed-Long election (votes ·
    * 2²⁰ + residue) with NO seed clamp — every node re-elects every
    * round. */
  private def communitiesOracleSql(iters: Int): String = {
    val cap = 1048576L
    val iterCtes = (1 to iters).map { i =>
      s"""v_$i AS (SELECT u.dst AS node, l.label,
             CAST(count(*) AS BIGINT) AS votes
           FROM und u JOIN l_${i - 1} l ON l.node = u.src
           GROUP BY u.dst, l.label),
         l_$i AS MATERIALIZED (SELECT node, CAST(${cap - 1} -
             max(votes * $cap + (${cap - 1} - label)) % $cap
               AS BIGINT) AS label
           FROM v_$i GROUP BY node)"""
    }.mkString(",\n         ")
    s"""WITH ${pagerankGraphCtes("", "TRUE")},
         und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM e WHERE src <> dst
           UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
         lnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
         l_0 AS MATERIALIZED (SELECT node,
             CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT)
               AS label
           FROM lnodes),
         $iterCtes
         SELECT n.node, l.label FROM lnodes n
         JOIN l_$iters l ON l.node = n.node
         ORDER BY n.node"""
  }

  /** Streaming-ingest twin of [[pagerankIncrementalOracleSql]]: the v2
    * snapshot carries the sentinel edge the streaming fixture plants
    * so the version guard always sees the graph grow (one row iff
    * documents is nonempty, matching the query's empty guard). */
  private def pagerankStreamingOracleSql(v1Iters: Int,
                                         v2Iters: Int): String =
    s"""WITH ${pagerankGraphCtes("1", "doc_id % 3 <> 0")},
         ${pagerankFreshSeed("1")},
         ${pagerankIterCtes("1", v1Iters)},
         ${pagerankGraphCtes("", "TRUE",
           """UNION ALL
              SELECT DISTINCT 'newdomain.test', 'hub.example.net'
                FROM documents""")},
         r_0 AS (SELECT nodes.node,
             CAST(coalesce(p.rank_s, 1000000000000 // nn.n) AS BIGINT)
               AS rank_s
           FROM nodes CROSS JOIN nn
           LEFT JOIN r1_$v1Iters p ON p.node = nodes.node),
         ${pagerankIterCtes("", v2Iters)}
         SELECT node, rank_s FROM r_$v2Iters ORDER BY node"""

  private val decontaminateOracle =
    s"""WITH u AS (SELECT doc_id, text FROM documents),
       $shingleCte,
       tr AS (SELECT id AS train_id, g FROM sd),
       be AS (SELECT id + 5000000 AS bench_id, g FROM sd
           WHERE id % 97 = 0),
       bn AS (SELECT bench_id, count(*) AS bench_n FROM be GROUP BY 1),
       ov AS (SELECT train_id, bench_id, count(*) AS overlap
           FROM tr JOIN be USING (g) GROUP BY 1, 2)
       SELECT train_id, bench_id, overlap,
         round(overlap / CAST(bench_n AS DOUBLE), 6) AS containment
       FROM ov JOIN bn USING (bench_id)
       WHERE round(overlap / CAST(bench_n AS DOUBLE), 6) >= 0.5
       ORDER BY train_id, bench_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: hash-groupBy on content fingerprint
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDupPairs(dupCorpus(s, dir), "text", "doc_id")
        .orderBy("id1", "id2")),

    // exact dedup group stats (canonical id + dup count per content)
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactDedup(dupCorpus(s, dir), "text", "doc_id")
        .select("fp", "canonical_id", "dup_count")
        .orderBy("canonical_id")),

    // MinHash-LSH banded near-dup (threshold 1.0 ⇒ exact recall ⇒
    // oracle = identical distinct-shingle sets)
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minHashDedupPairs(dupCorpus(s, dir), "text", "doc_id",
          threshold = 1.0, numHashes = 32, bands = 8)
        .orderBy("id1", "id2")),

    // MinHash-LSH at a realistic near-dup threshold. The borderline
    // (0.8 ≤ j < 1) pair set is probabilistic (b=8, r=4: P(detect) =
    // 1-(1-0.8^4)^8 ≈ 0.985), so the registered output is the
    // DETERMINISTIC validation summary: planted (id, id+1e6) exact dups
    // are always recalled (j=1 ⇒ identical signatures ⇒ every band
    // matches), as is every identical-shingle-set pair, and no reported
    // pair may fall below the exact-Jaccard threshold.
    "dedup_minhash_near" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val pairs = Dedup.minHashDedupPairs(corpus, "text", "doc_id",
        threshold = 0.8, numHashes = 32, bands = 8)
      // precision re-checked INDEPENDENTLY of the pipeline: Jaccard
      // recomputed from the string shingle sets, not the hashed-set
      // path the pipeline verified with — a hashing bug shows up here
      val sh = corpus.select(col("doc_id"),
        array_distinct(TextAnalysis.wordShingles(col("text"))).as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("id1"), col("sh").as("s1")),
          Seq("id1"))
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("s2")),
          Seq("id2"))
        .withColumn("jac2",
          size(array_intersect(col("s1"), col("s2"))).cast("double") /
            size(array_union(col("s1"), col("s2"))))
        .agg(
          count(when(col("id2") === col("id1") + 1000000L, 1))
            .as("planted_found"),
          count(when(col("jac2") >= 1.0, 1)).as("exact_found"),
          count(when(col("jac2") < 0.8, 1))
            .as("precision_violations"))
    }),

    // SimHash near-dup. The hamming ∈ [1,3] pair set depends on the
    // hash function, so (as above) the registered output is the
    // deterministic summary: pigeonhole banding (4×16-bit chunks)
    // guarantees recall of every hamming ≤ 3 pair, hence of every
    // identical-normalized-text pair (hamming 0); no reported pair may
    // exceed maxHamming.
    "dedup_simhash" -> ((s, dir) => {
      val pairs = Dedup.simHashDedupPairs(dupCorpus(s, dir), "text",
        "doc_id", maxHamming = 3)
      // equal-norm tested via the md5 content fingerprint: the summary
      // joins then shuffle 16-byte digests instead of document text
      // (exactly the oracle's identical-normalized-text relation)
      val fp = dupCorpus(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      pairs
        .join(fp.select(col("doc_id").as("id1"),
          col("fp").as("fp1")), Seq("id1"))
        .join(fp.select(col("doc_id").as("id2"),
          col("fp").as("fp2")), Seq("id2"))
        .agg(
          count(when(col("id2") === col("id1") + 1000000L, 1))
            .as("planted_found"),
          count(when(col("fp1") === col("fp2"), 1)).as("exact_found"),
          // independent invariant: identical token sequences MUST
          // simhash identically — nonzero hamming on an equal-norm
          // pair means the fingerprint expression is nondeterministic
          count(when(col("fp1") === col("fp2") &&
                     col("hamming") =!= 0, 1))
            .as("exact_nonzero_hamming"))
    }),

    // dedup GROUPS: connected components over the exact-recall
    // (threshold 1.0) minhash pair graph — identical-shingle-set
    // equality is transitive, so components are the identical-content
    // classes and the oracle recomputes them relationally; the CC
    // operator itself handles arbitrary pair graphs
    "dedup_components" -> ((s, dir) => {
      // via the collapse-first structure (Dedup.dedupGroups): exact
      // dups never enter the LSH; emit only docs with a real dup
      // (group size > 1), matching the pair-derived CC output
      val g = Dedup.dedupGroups(dupCorpus(s, dir), "text", "doc_id",
        threshold = 1.0, numHashes = 32, bands = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("group_id")
      g.withColumn("n", count(lit(1)).over(w))
        .filter(col("n") > 1)
        .select(col("id"), col("group_id").as("comp"))
        .orderBy("id")
    }),

    // incremental dedup: a re-crawled batch (every 3rd doc under a new
    // id) matched against the standing corpus through its band index —
    // only the batch is shingled/shuffled, the corpus contributes the
    // (id, band, bh) index + candidate-id shingle lookups
    "dedup_incremental" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val index = Dedup.minHashBandTable(corpus, "text", "doc_id")
      val shingles = Dedup.hashedShingleTable(corpus, "text", "doc_id")
      val batch = corpus.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.dedupAgainstIndex(batch, "text", "doc_id", index, shingles,
          threshold = 1.0, numHashes = 32, bands = 8)
        .orderBy("new_id", "corpus_id")
    }),

    // driver-visible CORRECTNESS row for the NEAR-dup streaming ingest
    // (StreamOps.continuousDedupIngest) — the streaming_rng_ingest
    // pattern: two AvailableNow batches into table-backed
    // corpus/index/shingle state. Batch 1 carries each doc plus an
    // exact in-batch copy (+3M ids — the keep-min collapse drops
    // them); batch 2 carries an exact copy of every standing doc
    // (+1M — suppressed through the band index + shingle verify) and a
    // nonsense-suffixed variant (+2M — novel at threshold 1.0). The
    // full-outer join exposes the auxiliary-table invariant the
    // replay-heal guarantees (every corpus doc has index AND shingle
    // rows, and no orphans) as oracle-checked booleans.
    "streaming_dedup_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_dedup_q"
      StreamOps.deletePath(s, base)
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          length(trim(col("text"))) > 0 && col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val empty = d.select(col("doc_id"), lit(true).as("in_corpus"),
        lit(true).as("in_index"), lit(true).as("in_shingles")).limit(0)
      val probe = d.agg(max("doc_id")).first()
      // no qualifying docs: every batch is empty, the ingest writes no
      // tables, and reading the never-created paths would throw — the
      // correct result is an empty frame (oracle agrees)
      if (probe.isNullAt(0)) empty else {
      // the synthetic +1M/+2M/+3M ids must not collide with real ones:
      // a collision silently drops a novel doc via the id anti-join
      require(probe.getLong(0) < 1000000L,
        "streaming_dedup_ingest: documents doc_id reaches the " +
          "synthetic +1M id band; raise the offsets")
      d.unionByName(d.select((col("doc_id") + 3000000L).as("doc_id"),
          col("text")))
        .coalesce(4).write.parquet(s"$base/in1")
      d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(d.select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zq xv qj")).as("text")))
        .coalesce(4).write.parquet(s"$base/in2")
      val schema = s.read.parquet(s"$base/in1").schema
      StreamOps.continuousDedupIngest(
        StreamOps.readTableStream(s, s"$base/in1", schema),
        "text", "doc_id",
        s"$base/corpus", s"$base/index", s"$base/shingles")
      StreamOps.continuousDedupIngest(
        StreamOps.readTableStream(s, s"$base/in2", schema),
        "text", "doc_id",
        s"$base/corpus", s"$base/index", s"$base/shingles")
      val corpus = s.read.parquet(s"$base/corpus")
        .select("doc_id").withColumn("in_corpus", lit(true))
      val idxIds = s.read.parquet(s"$base/index")
        .select(col("id").as("doc_id")).distinct()
        .withColumn("in_index", lit(true))
      val shIds = s.read.parquet(s"$base/shingles")
        .select(col("id").as("doc_id")).distinct()
        .withColumn("in_shingles", lit(true))
      corpus.join(idxIds, Seq("doc_id"), "full_outer")
        .join(shIds, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("in_corpus"), lit(false)).as("in_corpus"),
          coalesce(col("in_index"), lit(false)).as("in_index"),
          coalesce(col("in_shingles"), lit(false)).as("in_shingles"))
        .orderBy("doc_id")
      }
    }),

    // driver-visible CORRECTNESS rows for the continuous DRIFT monitor
    // (StreamOps.continuousDriftMonitor — the fourth continuous
    // ingest): even-id docs arrive as batch b1, odd-id docs as b2,
    // each scored against the full-corpus reference profile. Each
    // call processes its files as ONE AvailableNow micro-batch
    // (batchId 0 → partition tags b1_0 / b2_0), so the oracle
    // replicates exact per-batch PSI: batch keys are always a subset
    // of the reference here, so a reference-keys grid left-joined
    // with batch counts reproduces driftVsProfile's full outer.
    "streaming_drift_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_drift_q"
      StreamOps.deletePath(s, base)
      val dims = Seq("source" -> col("source"), "lang" -> col("lang"))
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      val empty = d.select(lit("").as("tag"), lit("").as("dim"),
        lit("").as("key"), lit(0L).as("n_batch"), lit(0L).as("n_ref"),
        lit(0d).as("p_batch"), lit(0d).as("p_ref"),
        lit(0d).as("psi_term")).limit(0)
      // no batchable docs (empty corpus, or every doc_id null /
      // negative-odd — outside both `% 2 === k` filters): no batch
      // fires, the drift dir is never created, and reading it would
      // throw — the correct result is an empty frame. Guard on the
      // BATCHABLE set, not d.isEmpty: an all-null-id corpus is
      // non-empty but still creates no drift partition.
      val batchable = d.filter(col("doc_id") % 2 === 0 ||
        col("doc_id") % 2 === 1)
      if (batchable.isEmpty) empty else {
        d.filter(col("doc_id") % 2 === 0).coalesce(4)
          .write.parquet(s"$base/in1")
        d.filter(col("doc_id") % 2 === 1).coalesce(4)
          .write.parquet(s"$base/in2")
        val profile = Corpus.dimProfile(d, dims)
        val schema = s.read.parquet(s"$base/in1").schema
        StreamOps.continuousDriftMonitor(
          StreamOps.readTableStream(s, s"$base/in1", schema),
          dims, profile, s"$base/drift", "b1")
        StreamOps.continuousDriftMonitor(
          StreamOps.readTableStream(s, s"$base/in2", schema),
          dims, profile, s"$base/drift", "b2")
        s.read.parquet(s"$base/drift")
          .select(col("tag").cast("string").as("tag"), col("dim"),
            col("key"), col("n_batch"), col("n_ref"), col("p_batch"),
            col("p_ref"), col("psi_term"))
          .orderBy("tag", "dim", "key")
      }
    }),

    // driver-visible CORRECTNESS row for the continuous SEMANTIC
    // ingest (StreamOps.continuousSemanticIngest) — completes the
    // streaming trilogy (rng bookkeeping, minhash near-dup, embedding
    // near-dup). Batch 1: each vector plus a ×2-scaled copy (+3M —
    // same cell, cosine 1, within-batch keep-min drops it); batch 2: a
    // ×0.5 copy of every original (+1M — suppressed through the
    // standing IVF index) and a first-component +0.5 bump (+2M — the
    // semantic_dedup probe geometry, cos ≈ 0.5-0.77 < the 0.85
    // threshold). Each call processes its 4 input files as ONE
    // micro-batch (AvailableNow, no maxFilesPerTrigger), so the oracle
    // replicates exact single-batch semantics: within-batch removal by
    // ANY smaller-id same-cell neighbor (survivor or not), then index
    // suppression of the survivors — full cell + cosine replication.
    "streaming_semantic_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_sem_q"
      StreamOps.deletePath(s, base)
      val cents = Similarity.rademacherPlanes(8, 64)
      val e = t(s, dir, "embeddings")
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val empty = e.select(col("vec_id"), lit(true).as("in_corpus"),
        lit(true).as("in_index")).limit(0)
      val probe = e.agg(max("vec_id")).first()
      if (probe.isNullAt(0)) empty else {
      require(probe.getLong(0) < 1000000L,
        "streaming_semantic_ingest: embeddings vec_id reaches the " +
          "synthetic +1M id band; raise the offsets")
      // native power-of-two scales (Similarity.vecScale): these fixture
      // writes execute inside the fingerprinted construction window, and
      // the transform-lambda form was the suite's last 2 hof_fallback
      // nodes (bit-identical values — see the vecScale exactness note —
      // so the oracle's list_transform(v, x -> x * s) is unchanged)
      e.unionByName(e.select((col("vec_id") + 3000000L).as("vec_id"),
          Similarity.vecScale(col("v"), 2.0).as("v")))
        .coalesce(4).write.parquet(s"$base/in1")
      e.select((col("vec_id") + 1000000L).as("vec_id"),
          Similarity.vecScale(col("v"), 0.5).as("v"))
        .unionByName(e.select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(element_at(col("v"), 1) + 0.5),
                 slice(col("v"), 2, 63)).as("v")))
        .coalesce(4).write.parquet(s"$base/in2")
      val schema = s.read.parquet(s"$base/in1").schema
      StreamOps.continuousSemanticIngest(
        StreamOps.readTableStream(s, s"$base/in1", schema),
        "v", "vec_id", s"$base/corpus", s"$base/index", cents,
        threshold = 0.85)
      StreamOps.continuousSemanticIngest(
        StreamOps.readTableStream(s, s"$base/in2", schema),
        "v", "vec_id", s"$base/corpus", s"$base/index", cents,
        threshold = 0.85)
      val corpus = s.read.parquet(s"$base/corpus")
        .select("vec_id").withColumn("in_corpus", lit(true))
      val idxIds = s.read.parquet(s"$base/index")
        .select(col("corpus_id").as("vec_id")).distinct()
        .withColumn("in_index", lit(true))
      corpus.join(idxIds, Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          coalesce(col("in_corpus"), lit(false)).as("in_corpus"),
          coalesce(col("in_index"), lit(false)).as("in_index"))
        .orderBy("vec_id")
      }
    }),

    // streaming IVF-PQ index maintenance
    // (StreamOps.continuousIvfPqIngest): the codes-state upgrade of
    // streaming_semantic_ingest — standing index rows are (cell, id,
    // codes), ~16× smaller than raw vectors. The quantizer is trained
    // once on the historical corpus (identical training to
    // ann_ivfpq_incremental, bit-shared with its oracle CTEs); the
    // stream then re-ingests that corpus as two micro-batch waves —
    // wave 1 the even ids, wave 2 the FULL table (an at-least-once
    // redelivery of every even id plus the novel odd ids, which the
    // id-guarded appends must absorb without duplicating). The
    // registered output probes the ACCUMULATED index with the standing
    // query batch against the accumulated raw-corpus archive — so the
    // oracle is EXACTLY ann_ivfpq_incremental's (the streaming path
    // must converge to the same persisted index the batch path writes).
    "streaming_ivfpq_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_ivfpq_q"
      StreamOps.deletePath(s, base)
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id", 8)
      val cb = {
        val asg = e.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("cell", Similarity.cellsFor(col("v"), cents, 1)
            .getItem(0))
          .withColumn("rv",
            Similarity.cellCombine(col("v"), col("cell"), cents, -1.0))
        Similarity.pqCodebooks(
          asg.select(col("id"), col("rv").as("v")), "v", "id", 16, 64)
      }
      e.filter(col("vec_id") % 2 === 0).coalesce(4)
        .write.parquet(s"$base/in1")
      e.coalesce(4).write.parquet(s"$base/in2")
      val schema = s.read.parquet(s"$base/in1").schema
      StreamOps.continuousIvfPqIngest(
        StreamOps.readTableStream(s, s"$base/in1", schema),
        "embedding", "vec_id", s"$base/corpus", s"$base/index",
        cents, cb)
      StreamOps.continuousIvfPqIngest(
        StreamOps.readTableStream(s, s"$base/in2", schema),
        "embedding", "vec_id", s"$base/corpus", s"$base/index",
        cents, cb)
      Similarity.annAgainstIvfPqIndex(
          s.read.parquet(s"$base/index"),
          e.filter(col("vec_id") >= 5 && col("vec_id") < 10),
          s.read.parquet(s"$base/corpus"),
          "embedding", "vec_id", 10, cents, cb, nProbe = 3,
          shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    // corpus-scale dedup grouping: exact-collapse → LSH on canonicals
    // → attach members (bounded buckets, linear output — see Scaladoc)
    "dedup_groups_full" -> ((s, dir) =>
      Dedup.dedupGroups(dupCorpus(s, dir), "text", "doc_id",
          threshold = 1.0, numHashes = 32, bands = 8)
        .orderBy("id")),

    // quality-aware keeper election: among each duplicate group keep
    // the LONGEST raw capture, not the smallest id. Planted variants
    // double every space — normalized-identical (same group) but
    // raw-longer — so spaced docs elect the shifted-id variant and
    // spaceless docs exercise the min-id tie path.
    "dedup_best_keeper" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
      val corpus = graft.core.Tables.staged(
        base.unionByName(base.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), " ", "  ").as("text"))),
        "keeper_corpus")
      Dedup.keepBestPerGroup(corpus, "doc_id", length(col("text")),
          Dedup.dedupGroups(corpus, "text", "doc_id",
            threshold = 1.0, numHashes = 32, bands = 8))
        .orderBy("group_id")
    }),

    // n-gram Jaccard similarity over adjacent doc pairs; shingle sets
    // staged before the join so each document is shingled once, not
    // once per pair side
    "ngram_jaccard" -> ((s, dir) => {
      // intersect/union over xxhash64'd shingles, not strings — same
      // values (a collision would need two distinct shingles of one
      // pair hashing equal: ~10⁻¹³ at this corpus), 1.5× faster
      // (long compares vs string compares in the set ops)
      // null text ≡ empty text on BOTH sides: a null norm has no
      // shingles in Spark (null array) but one NULL g row in the
      // DuckDB CTE — the pair scores null vs 0.0. Coalescing makes a
      // null doc shingle as [''] like an empty doc, same both engines.
      val d = t(s, dir, "documents").select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.HashedShingles(
            org.apache.spark.sql.GraftBridge.expression(
              coalesce(col("text"), lit(""))),
            3, outerDistinct = true)).as("sh"))
      val a = d.alias("a"); val b = d.alias("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          round(size(array_intersect(col("a.sh"), col("b.sh")))
              .cast("double") /
            size(array_union(col("a.sh"), col("b.sh"))), 6)
            .as("jaccard"))
        .orderBy("id1")
    }),

    // passage-level exact dedup: 8-token windows, stride 4, cross-doc
    // repeats — runs on the GENUINE corpus (the planted borderline
    // near-dup pairs share long spans, so the result is non-empty at
    // every SF without a synthetic union)
    "passage_dedup" -> ((s, dir) =>
      Dedup.duplicatePassages(t(s, dir, "documents"), "text", "doc_id",
          window = 8, stride = 4)
        .orderBy("passage")),

    // sentence-level boilerplate detection: cross-doc repeated
    // normalized sentences through the same two-phase fp kernel —
    // over dupCorpus (the genuine corpus repeats token windows but no
    // FULL sentence, so the planted copies make the probe non-empty)
    "sentence_dedup" -> ((s, dir) =>
      Dedup.duplicateSentences(dupCorpus(s, dir), "text", "doc_id")
        .orderBy("sentence")),

    // exact substring duplicate SPANS (Lee et al. 2021): stride-1
    // k-token windows, within+cross-doc occurrence counting, per-doc
    // gaps-and-islands merge into maximal spans with token offsets —
    // the cut/rewrite-ready form (passage_dedup above is the
    // strided DETECTION listing). Genuine corpus: the generator's
    // shared boilerplate repeats 8-token windows naturally at every SF
    "substring_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "text", "doc_id",
          k = 8)
        .orderBy("doc_id", "span_start")),

    // the cut pass over the same spans (Lee et al. "all but one
    // occurrence"): globally-first occurrence per window key survives,
    // every other covered token position is cut unless a keeper window
    // also covers it; rewritten docs over the normalized tokenization
    "substring_dedup_rewrite" -> ((s, dir) =>
      Dedup.cutDuplicatedSpans(t(s, dir, "documents"), "text", "doc_id",
          k = 8)
        .orderBy("doc_id")),

    // embedding near-dup via random-hyperplane LSH + cosine verify
    "embedding_dedup" -> ((s, dir) =>
      Dedup.embeddingDedupPairs(dupVectors(s, dir), "embedding", "vec_id",
          threshold = 0.95, planes = 16)
        .orderBy("id1", "id2")),

    // SemDeDup-style cluster-then-dedup: nearest-cell assignment +
    // within-cell cosine keep-min. The probe plants near-dup copies
    // (vec_id + 1,000,000, first component bumped by 0.5 → cosine
    // 0.86–0.93 vs the source, while genuine pairwise cosine tops out
    // at 0.51) so threshold 0.85 separates them cleanly. Rademacher
    // cells keep the whole path a pure function of the data → full
    // DuckDB replication.
    "semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planted = e.select((col("vec_id") + 1000000L).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 0.5),
               slice(col("v"), 2, 63)).as("v"))
      Dedup.semanticDedup(e.unionByName(planted), "v", "vec_id",
          Similarity.rademacherPlanes(8, 64), threshold = 0.85)
        .orderBy("id")
    }),

    // semantic dedup with spherical k-means cells — the production
    // centroid choice. Cell assignment depends on the (deterministic)
    // clustering, so the registered output is the validation summary:
    // structurally no original can be removed (planted ids are larger,
    // removal needs a smaller-id neighbor), and planted-copy recall
    // must clear an 80% floor. The bump here is +0.1 (cos ≈ 0.995 —
    // "nearly identical" semantic dups, the case the operator exists
    // for); k-means cells are TIGHT, so the +0.5 bump the Rademacher
    // probe uses crosses cell boundaries for 2/3 of pairs (measured
    // 32% recall) while +0.1 recovers 96% — boundary-pair misses are
    // SemDeDup's documented approximation, not a pipeline bug
    "semantic_dedup_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planted = e.select((col("vec_id") + 1000000L).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 0.1),
               slice(col("v"), 2, 63)).as("v"))
      val corpus = e.unionByName(planted)
      val cents = Similarity.kmeansCentroids(corpus, "v", "vec_id", 8)
      // full verdict table, hash-checked: r10 upgraded this from a
      // recall-floor summary — the k-means training is bit-replicated
      // in DuckDB (kmeansCentsCtes scaladoc), so every keep/removed_by
      // decision oracle-checks exactly
      Dedup.semanticDedup(corpus, "v", "vec_id", cents, threshold = 0.85)
        .orderBy("id")
    }),

    // brute-force cosine top-k ANN baseline
    "embedding_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10)
        .orderBy("query_id", "rank")
    }),

    // IVF-bucketed approximate ANN (scale path; approximate → rows-only)
    "ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10, nCells = 8)
        .orderBy("query_id", "rank")
    }),

    // hard-negative mining: per query, top-10 most-similar vectors with
    // a DIFFERENT label (contrastive-training negatives)
    "hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", "label", 10)
        .orderBy("query_id", "rank")
    }),

    // kNN label purity: embedding-quality diagnostic — per label, the
    // mean fraction of a query's top-10 neighbors sharing its label
    // (queries = deterministic vec_id<100 sample; corpus streamed)
    "embedding_label_purity" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val topk = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 100),
        "embedding", "vec_id", 10)
      val lbl = e.select(col("vec_id"), col("label"))
      // label-level integer counts, not avg-of-per-query doubles: every
      // query contributes exactly k neighbors, so micro = macro average
      // and the single exact division is engine-order-safe
      topk
        .join(lbl.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), Seq("query_id"))
        .join(lbl.select(col("vec_id").as("corpus_id"),
          col("label").as("c_label")), Seq("corpus_id"))
        .groupBy(col("q_label").as("label"))
        .agg(countDistinct(col("query_id")).as("n_queries"),
             round(count(when(col("c_label") === col("q_label"), 1))
               .cast("double") / count(lit(1)), 6).as("avg_purity"))
        .orderBy("label")
    }),

    // ANN against the persisted IVF index table (the similarity twin of
    // dedup_incremental): a NEW query batch probes the standing corpus
    // through its (cell, corpus_id, cvec) index — the corpus is never
    // re-assigned
    "ann_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.rademacherPlanes(8, 64)
      val index = Similarity.ivfIndexTable(e, "embedding", "vec_id", cents)
      Similarity.annAgainstIndex(index,
          e.filter(col("vec_id") >= 5 && col("vec_id") < 10),
          "embedding", "vec_id", 10, cents, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    // IVF with spherical k-means centroids (md5-spread sample +
    // farthest-first init — Similarity.kmeansCentroids scaladoc).
    // Recall on THIS corpus is probe-fraction-bound (the synthetic
    // embeddings cluster weakly), so the fair claim is k-means vs
    // Rademacher at EQUAL nProbe: at 3/8 cells probed, recall@10 is
    // 60/60/72% (sf0.001/0.01/0.1) vs 42/54/52% for Rademacher planes;
    // at 2/8, 50/52/56% vs 32/38/34%. Registered output is the
    // validation summary: every query returns exactly k rows and
    // recall clears the 56% floor (measured 30/30/36 of 50).
    "ann_ivf_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // full top-k table, hash-checked: r10 upgraded this from a
      // recall-floor summary — the k-means training is bit-replicated
      // in DuckDB (kmeansCentsCtes); the honest recall-vs-Rademacher
      // numbers from the old summary stay in the comment above
      Similarity.ivfTopKKMeans(e, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10, nCells = 8, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    // product-quantization ANN with exact re-rank (Jégou et al. 2011;
    // Similarity.pqTopK scaladoc for why rerank is load-bearing on
    // near-isotropic embeddings): 16 subspaces × 64 codes = a 16×
    // smaller scan artifact. Summary oracle (ann_ivf_kmeans
    // convention — driver-trained codebooks aren't engine-replicable):
    // structural k-rows-per-query + a recall floor vs the exact
    // top-10, measured 46-50/50 at every SF and pinned at 40.
    "ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // full top-k table, hash-checked: r10 upgraded this from a
      // recall-floor summary — codebook training, encode, shortlist
      // and re-rank are all bit-replicated in DuckDB (pqOracleSql)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5), "embedding",
          "vec_id", 10)
        .orderBy("query_id", "rank")
    }),

    // BM25 top-k retrieval (retrieval-based data selection: score
    // every document against seed queries, keep the most relevant —
    // the targeted-crawl shape). Per-term contributions enter the
    // per-(query, doc) sum as round-6 integer micros so the aggregate
    // is an order-free Long sum; ranking reads the micros. Terms are
    // fixture vocabulary present at every SF — and COMMON there (the
    // synthetic texts draw from a tiny vocabulary, so every seed term
    // has df > 0.5·N), so maxDfFrac is pinned to 1.0: the r14 default
    // guard dropped all eight terms and the oracle comparison matched
    // vacuously on two empty sets (ADVICE r14 #1). The guard itself is
    // pinned non-vacuously by LlmSpec's stopword fixture.
    "text_bm25" -> ((s, dir) => {
      import s.implicits._
      val qt = Seq((0L, "fast"), (0L, "join"), (0L, "merge"),
        (1L, "slow"), (1L, "scan"),
        (2L, "spark"), (2L, "window"), (2L, "agg"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          qt, 10, maxDfFrac = 1.0)
        .orderBy("query_id", "rank")
    }),

    // bitext margin mining (Artetxe & Schwenk ratio margin — the
    // CCMatrix parallel-corpus extraction): label-parity halves of the
    // embeddings table stand in for the two languages; each A-side
    // query's best B-side candidate by margin = cos normalized by both
    // neighborhoods' mean cosine (hub suppression). Neighborhood sums
    // are round-4 integer cosines (order-free Long sums), the margin
    // one IEEE divide — the per-query argmax ranks on the ROUNDED
    // margin, so the extraction is engine-exact.
    "bitext_margin_mine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val aSide = e.filter(col("label") % 2 === 0)
      val bSide = e.filter(col("label") % 2 === 1)
      val m = Similarity.marginMine(aSide, bSide,
        aSide.filter(col("vec_id") < 8), "embedding", "vec_id", 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id_a").orderBy(col("margin").desc, col("id_b"))
      m.withColumn("mrk", row_number().over(w))
        .filter(col("mrk") === 1)
        .select("id_a", "id_b", "cos", "margin")
        .orderBy("id_a")
    }),

    // SQ8 scalar-quantized ANN with exact re-rank — the train-nothing
    // index tier below PQ (FAISS SQ8): per-vector symmetric int8 codes
    // are the 8×-smaller scan artifact; the shortlist ranks on the
    // codes DIRECTLY (the per-vector scale cancels from the cosine
    // ratio, so the scan reads neither raw vectors nor scales) and
    // only shortlist rows per query fetch raw vectors for the exact
    // top-k. Quantization, code-domain shortlist, and re-rank all
    // bit-replicated in DuckDB.
    "ann_sq8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sqTopK(e, e.filter(col("vec_id") < 5), "embedding",
          "vec_id", 10)
        .orderBy("query_id", "rank")
    }),

    // composed IVF-PQ (the FAISS IVFPQ production shape): coarse
    // k-means cells + PQ codes on WITHIN-CELL residuals + code-domain
    // shortlist inside the probed cells + exact re-rank. The persisted
    // artifact is (cell, corpus_id, codes): ~16× smaller than raw
    // vectors AND probed at nProbe/nCells of it per query — the two
    // savings the separate ann_ivf_kmeans / ann_pq paths each
    // demonstrate alone. Every stage bit-replicated in DuckDB
    // (ivfPqOracleSql; recall-vs-ann_pq numbers in PLANS.md).
    "ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // nCells pinned at the fixture-scale 8 the bit-replica oracle
      // bakes in; production default-calls auto-size to ceil(√N)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), "embedding",
          "vec_id", 10, nCells = 8)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ against a PERSISTED codes index (the ann_incremental /
    // dedup_incremental daily shape): the (cell, corpus_id, codes)
    // table — 16× smaller than raw vectors — is written once (staged
    // parquet round-trip makes the persistence real), then a NEW query
    // batch probes it; candidates decode from codes ONLY in probed
    // cells (native PqDecode) and the corpus is never re-encoded.
    "ann_ivfpq_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id", 8)
      val cb = {
        val asg = e.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("cell", Similarity.cellsFor(col("v"), cents, 1)
            .getItem(0))
          .withColumn("rv",
            Similarity.cellCombine(col("v"), col("cell"), cents, -1.0))
        Similarity.pqCodebooks(
          asg.select(col("id"), col("rv").as("v")), "v", "id", 16, 64)
      }
      val index = graft.core.Tables.staged(
        Similarity.ivfPqIndexTable(e, "embedding", "vec_id", cents, cb),
        "ivfpq_index")
      Similarity.annAgainstIvfPqIndex(index,
          e.filter(col("vec_id") >= 5 && col("vec_id") < 10), e,
          "embedding", "vec_id", 10, cents, cb, nProbe = 3,
          shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    // cross-doc line-dedup rewrite (the C4 cleaning rule): duplicated
    // trimmed lines keep only their first (doc, idx) occurrence
    // corpus-wide, blank lines always survive, docs reassemble in
    // original order. The corpus carries no naturally repeated lines
    // at test SFs, so clone docs are PLANTED (every 37th doc repeated
    // under a high id) — the clones must come back stripped to their
    // blank lines while the originals keep everything.
    "text_dedup_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.unionByName(
        docs.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      Dedup.dedupLinesAcrossDocs(planted, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // count-min-sketch heavy hitters: the approximate twin of
    // text_token_topk for vocabularies too large to exact-count — the
    // sketch is a fixed-size array regardless of cardinality. Output is
    // the exact heavy-hitter table plus two CMS guarantees evaluated
    // against it: per-row, estimates never undercount (structural);
    // in AGGREGATE, at most 2% of queried tokens may exceed the eps·N
    // slack (the per-token bound holds only at the sketch's 0.99
    // confidence, so pinning it TRUE per row would eventually fail on
    // a large heavy-hitter set behaving exactly as specified). Both
    // deterministic given the fixed seed; oracle replays the exact side
    // and expects TRUE — the approx_stats pattern. Output rows are
    // sorted by Spark (UTF8 byte order, matching DuckDB collation),
    // never driver-side String order (UTF-16 diverges above the BMP).
    "text_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.normTokens(col("text"))).as("tok"))
      val agg = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val heavy = agg.filter(col("cnt") >= 200)
        .limit(100001).collect()
      require(heavy.length <= 100000,
        "text_heavy_hitters: heavy-hitter set exceeds the driver bound")
      val stats = toks.agg(count(lit(1)).as("n"),
        expr("count_min_sketch(tok, 0.001d, 0.99d, 42)").as("sk")).first()
      val total = stats.getLong(0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(stats.getAs[Array[Byte]](1)))
      val slack = math.ceil(0.001 * total).toLong
      val checked = heavy.toSeq.map { r =>
        val tok = r.getString(0); val cnt = r.getLong(1)
        val est = cms.estimateCount(tok)
        (tok, cnt, est >= cnt, est <= cnt + slack)
      }
      val inBound = checked.count(_._4)
      val boundOk = inBound * 50 >= checked.size * 49 // ≥98% within eps·N
      checked.map { case (tok, cnt, ge, _) => (tok, cnt, ge, boundOk) }
        .toDF("tok", "cnt", "est_ge_exact", "bound_ok")
        .orderBy("tok")
    }),

    // model-based quality scoring (the fastText/classifier-filter
    // shape): hashed token features → exact LONG activation sum →
    // logistic. One pure projection over the scan; the md5-derived
    // weights stand in for a trained artifact (TextAnalysis.tokenWeight
    // scaladoc) so the inference plumbing is fully oracle-checked.
    "text_model_score" -> ((s, dir) => {
      val toks = TextAnalysis.normTokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_toks"),
          // null text: the split chain yields a null token array, so
          // raw must coalesce to 0 (score 0.5) to match the oracle's
          // coalesce(list_sum(...), 0); n_toks stays NULL both sides
          // (size(null)=null, len(NULL)=NULL)
          coalesce(TextAnalysis.linearScoreRaw(col("toks")), lit(0L))
            .as("raw"))
        .withColumn("score",
          round(TextAnalysis.logistic(col("raw"), 1000.0), 6))
        .orderBy("doc_id")
    }),

    // JL random projection: 64 → 8 dims, long-form output. The
    // deterministic Rademacher signs are re-generated into the oracle
    // SQL as literals, so DuckDB replicates the projection exactly.
    "embedding_project" -> ((s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), "embedding",
          "vec_id", 8)
        .orderBy("id", "dim")),

    // language-ID heuristic (stopword argmax + CJK short-circuit);
    // token array staged once — see langIdStaged scaladoc
    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          split(TextAnalysis.normalizeText(col("text")), " ").as("toks"))
        .select(col("doc_id"),
          TextAnalysis.langIdStaged(col("toks"), col("text"))
            .as("lang_id"))
        .orderBy("doc_id")),

    // Unicode NFC canonicalization (native NormalizeNFC expression):
    // corpus text plus planted decomposed/compatibility forms — the
    // changed flag proves the normalizer fires exactly where it should
    "text_normalize" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (2000001L, "cafe\u0301 latte"),          // e + combining acute
        (2000002L, "\u212bngstr\u00f6m"),        // angstrom sign U+212B
        (2000003L, "\u1112\u1161\u11ab"),        // decomposed Hangul jamo
        (2000004L, "plain ascii")).toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .unionByName(planted)
        .select(col("doc_id"), col("text"),
          Dedup.nfcNormalize(col("text")).as("nfc_text"))
        .select(col("doc_id"), col("nfc_text"),
          (col("text") =!= col("nfc_text")).as("changed"))
        .orderBy("doc_id")
    }),

    // quality scoring: length/punct/stopword signals, each regex run
    // once in a staging projection and reused across output columns
    "text_quality" -> ((s, dir) => {
      val c = col("text")
      val en = TextAnalysis.langStopwords.toMap.apply("en")
      t(s, dir, "documents").select(col("doc_id"),
          length(c).as("n_chars_calc"),
          TextAnalysis.tokenCountWs(c).as("tok_ws"),
          TextAnalysis.tokenCountBpe(c).as("tok_bpe"),
          TextAnalysis.punctCount(c).as("punct_cnt"),
          TextAnalysis.stopwordCount(c, en).as("sw_cnt"))
        .select(col("doc_id"), col("n_chars_calc"), col("tok_ws"),
          col("tok_bpe"), col("punct_cnt"),
          round(when(col("tok_ws") === 0, lit(0.0))
            .otherwise(col("sw_cnt").cast("double") / col("tok_ws")), 6)
            .as("sw_ratio"),
          TextAnalysis.qualityScoreStaged(col("n_chars_calc"),
            col("punct_cnt"), col("tok_ws"), col("sw_cnt"))
            .as("quality"))
        .orderBy("doc_id")
    }),

    // C4/Gopher heuristic filter rules: token shape + raw-line shape +
    // content flags, one pure projection; planted rows exercise each
    // flag (lorem/curly/bullets/ellipsis) the genuine corpus lacks
    "text_c4_filters" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (3000001L, "lorem ipsum dolor sit amet\nthis is filler."),
        (3000002L, "function() { return 1; }"),
        (3000003L, "- item one\n- item two\n- item three"),
        (3000004L, "to be continued...\nand more\u2026"))
        .toDF("doc_id", "text")
      TextAnalysis.c4Signals(
          t(s, dir, "documents").select("doc_id", "text")
            .unionByName(planted),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // sentence segmentation: posexplode of the RE2-portable split —
    // pure projection, the unit feeding sentence-level dedup/packing
    "text_sentences" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(TextAnalysis.sentences(col("text"))))
        .select(col("doc_id"), col("pos").as("sent_idx"),
          col("col").as("sentence"))
        .orderBy("doc_id", "sent_idx")),

    // bigram collocations by PMI: count shuffles carry (token, partial
    // count) only; min-count filter shrinks the join input
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5L, topK = 50)),

    // quality-weighted sampling: keep probability-by-hash equal to the
    // (deterministic, rounded) quality score — Corpus.rateSample with a
    // data-computed per-row rate
    "corpus_quality_sample" -> ((s, dir) => {
      val staged = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.llm.Corpus.rateSample(staged, col("doc_id"), col("quality"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals: per-row token stats + exploded
    // bigram counts (shuffles carry (id, bigram, cnt), never text)
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy("doc_id")),

    // benchmark decontamination: n-gram containment of a small bench
    // set (broadcast) inside the train corpus — train side never
    // shuffles pre-agg. The bench set is planted leakage: every 97th
    // doc re-issued under a new id, so each has a containment-1.0 hit
    // at its source (the realistic eval-set-leaked-into-corpus case)
    "benchmark_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Dedup.ngramContainment(docs, bench, "text", "doc_id",
          threshold = 0.5)
        .orderBy("train_id", "bench_id")
    }),

    // fuzzy decontamination through a PERSISTED benchmark LSH index —
    // the ingest-time shape: benchmark band index + shingle table
    // built once, the training stream probes it per batch (the
    // dedup_incremental machinery pointed at a benchmark). Threshold
    // 1.0 ⇒ exact recall ⇒ oracle = identical distinct-shingle sets
    // between train docs and the planted verbatim benchmark copies.
    "benchmark_decontaminate_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Dedup.minhashDecontaminate(docs, bench, "text", "doc_id",
          threshold = 1.0)
        .orderBy("train_id", "bench_id")
    }),

    // exact n-gram decontamination (GPT-3 appendix-C discipline): a
    // train doc is contaminated iff it shares ONE exact 13-gram with
    // the benchmark — catches a quoted benchmark question inside an
    // otherwise-novel page, which whole-doc Jaccard misses. Benchmark
    // grams broadcast as 8-byte hashes; corpus side is one map-side
    // semi-join, zero corpus-text shuffle.
    "benchmark_decontaminate_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Dedup.exactNgramContamination(docs, bench, "text", "doc_id",
          n = 13)
        .orderBy("train_id")
    }),

    // the SAME exact-decontamination screen as an INGEST-TIME property
    // (StreamOps.continuousDecontamIngest — the eighth continuous
    // probe): the benchmark gram table persists once, the corpus
    // arrives as two AvailableNow batches (odd ids, then even),
    // verdicts append idempotently. A per-doc verdict is a pure
    // function of (doc, benchmark), so any split converges to the
    // batch result — the oracle IS benchmark_decontaminate_exact's.
    "streaming_decontaminate_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_decontam_q"
      StreamOps.deletePath(s, base)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 1)
        .coalesce(4).write.parquet(s"$base/in1")
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(4).write.parquet(s"$base/in2")
      val schema = s.read.parquet(s"$base/in1").schema
      StreamOps.continuousDecontamIngest(
        StreamOps.readTableStream(s, s"$base/in1", schema),
        "text", "doc_id", bench, s"$base/grams", s"$base/verdicts")
      StreamOps.continuousDecontamIngest(
        StreamOps.readTableStream(s, s"$base/in2", schema),
        "text", "doc_id", bench, s"$base/grams", s"$base/verdicts")
      s.read.parquet(s"$base/verdicts").orderBy("train_id")
    }),

    // release novelty: per-doc fraction of shingles a new crawl adds
    // over the previous release (both sides corpus-sized — shuffle
    // join on 8-byte shingle hashes, nothing broadcast). New release:
    // even ids re-crawled verbatim (novelty ≈ 0), odd ids extended
    // with a fresh trailing sentence (partial novelty > 0).
    "corpus_novelty" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
      val newRel = d.select((col("doc_id") + 5000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"),
            lit(" entirely novel trailing sentence number "),
            col("doc_id").cast("string"))).as("text"))
      Dedup.ngramNovelty(d, newRel, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // bloom-prefiltered decontamination: same OUTPUT as
    // benchmark_decontaminate (bloom = no false negatives; exact join
    // kills the fpp extras), same oracle — registered separately
    // because the 100 TB plan differs: a bits-sized blob replaces the
    // broadcast hash table and non-members drop map-side pre-join
    "benchmark_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Dedup.ngramContainmentBloom(docs, bench, "text", "doc_id",
          threshold = 0.5)
        .orderBy("train_id", "bench_id")
    }),

    // flagship training-data cleaning composition: language + quality
    // + repetition gates + exact-dedup keep-min survivor set, in ONE
    // pipeline (each signal staged once; one narrow fp shuffle)
    "corpus_filter" -> ((s, dir) => {
      val c = col("text")
      val en = TextAnalysis.langStopwords.toMap.apply("en")
      // normalize ONCE; tokens/fingerprint/stopword count all derive
      // from the staged norm (the whitespace regex is the dominant
      // per-row cost — running it 3× was measured at +40% query time)
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), c,
          TextAnalysis.normalizeText(c).as("norm"),
          length(c).as("n_chars"),
          TextAnalysis.tokenCountWs(c).as("tok_ws"),
          TextAnalysis.punctCount(c).as("punct_cnt"))
        .select(col("doc_id"), col("text"), col("n_chars"), col("tok_ws"),
          col("punct_cnt"), split(col("norm"), " ").as("toks"),
          md5(col("norm")).as("fp"))
        // native TokenStopHits — same count as
        // size(filter(toks, isInCollection(en))), no interpreted lambda
        .withColumn("sw_cnt",
          TextAnalysis.stopwordCountStaged(col("toks"), en))
        .select(col("doc_id"), col("fp"),
          TextAnalysis.langIdStaged(col("toks"), col("text")).as("lang"),
          TextAnalysis.qualityScoreStaged(col("n_chars"),
            col("punct_cnt"), col("tok_ws"), col("sw_cnt")).as("quality"),
          round(lit(1.0) - size(array_distinct(col("toks"))).cast("double")
            / size(col("toks")), 6).as("dup_token_ratio"))
      // survivor = min doc_id per fingerprint via a window over fp —
      // NOT a groupBy+self-join, which would recompute the whole
      // signal chain for the keep side (measured 2× query time)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      staged.withColumn("keep_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep_id") &&
          col("lang") === "en" && col("quality") >= 0.55 &&
          col("dup_token_ratio") <= 0.55)
        .select(col("doc_id"), col("lang"), col("quality"),
          col("dup_token_ratio"))
        .orderBy("doc_id")
    }),

    // PII redaction: plant deterministic PII (email/IP/phone derived
    // from doc_id) into each doc, then redact — proves the masking
    // patterns, not just identity on PII-free text
    "text_redact_pii" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .as("redacted"))
        .orderBy("doc_id")),

    // deterministic md5-threshold train/test split (stable under
    // re-runs/growth/repartition; granularity 1/65536)
    "corpus_split" -> ((s, dir) =>
      graft.ops.Relational.hashSplit(
        t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), 0.8)
        .orderBy("doc_id")),

    // document fingerprinting: content md5 + rolling min-shingle hash
    "doc_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp"))
        .orderBy("doc_id")),

    // multimodal: REAL javax.imageio decode over real PNG payloads —
    // geometry and band values are pure functions of the id, so the
    // oracle predicts the decoded width/height/mean without a codec
    "multimodal_features" -> ((s, dir) => {
      val media = Multimodal.asPngTable(t(s, dir, "documents"), "doc_id")
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
                col("mean_px"), col("decoded"))
        .orderBy("media_id")
    }),

    // perceptual-hash image near-dup (r10): gradient-pattern PNGs with
    // planted near-duplicates (2× resize → Hamming 0; one-cell +50
    // perturbation → a small exact Hamming shift), REAL ImageIO decode
    // → 8×8 average-hash → the shared 4×16-bit-chunk banded pair join
    // (Dedup.hamming64Pairs — no all-pairs). Every aHash cell mean is
    // a dyadic rational, so the oracle reproduces the hash and the
    // pair set from id arithmetic alone, exactly.
    "image_phash_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .filter(col("id") >= 0 && col("id") < 48)
      val media = Multimodal.asPatternPngTable(ids)
      Dedup.hamming64Pairs(Multimodal.imageAHash(media),
          "media_id", "ahash", 3)
        .orderBy("id1", "id2")
    }),

    // the audio twin of image_phash_dedup: amplitude-ramp WAVs with
    // planted near-duplicates (sample-doubled resample → Hamming 0;
    // +4000 on envelope cell 0), REAL javax.sound decode → 64-cell
    // envelope average-hash → the same banded Hamming pair join. The
    // oracle reproduces the hash from the closed-form |sample| ramp.
    "audio_phash_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .filter(col("id") >= 0 && col("id") < 48)
      val media = Multimodal.asPatternWavTable(ids)
      Dedup.hamming64Pairs(Multimodal.audioEnvelopeHash(media),
          "media_id", "ahash", 3)
        .orderBy("id1", "id2")
    }),

    // the video member of the near-dup triad: temporal delta-signature
    // pairs over REAL Y4M parses — a byte-level re-encode and a +25
    // brightness shift both collapse onto their original (the delta
    // signature is invariant to both); oracle replays the signature
    // from the closed-form frame-luma ramp
    "video_signature_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .filter(col("id") >= 0 && col("id") < 48)
      Multimodal.videoSignatureDedup(Multimodal.asPatternY4mTable(ids))
        .orderBy("id1", "id2")
    }),

    // the real binaryFile SOURCE path end-to-end: real .png files on
    // disk → spark.read.format("binaryFile") → id parsed from the
    // path → the same javax.imageio decode as multimodal_features.
    // The in-memory media tables stand in for this source everywhere
    // else; this probe closes the loop (Multimodal.writePngDir
    // scaladoc for the fixture-vs-production split). Oracle predicts
    // the decoded geometry/mean as pure functions of the id.
    "source_binaryfile_media" -> ((s, dir) => {
      val mediaDir = Multimodal.writePngDir(s, 64)
      val files = s.read.format("binaryFile").load(mediaDir)
        .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("long").as("media_id"), col("content").as("payload"))
      Multimodal.extractFeatures(files)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_px"), col("decoded"))
        .orderBy("media_id")
    }),

    // multimodal: REAL javax.sound.sampled decode over real WAV
    // payloads — rate/sample-count/mean-amplitude are pure functions of
    // the id (the PNG pattern), so the oracle predicts the decoded
    // features without parsing RIFF. n_bytes is dropped like the image
    // probe (header size is an encoder detail, not a decode output).
    "multimodal_audio" -> ((s, dir) => {
      val media = Multimodal.asWavTable(t(s, dir, "documents"), "doc_id")
      Multimodal.audioFeatures(media)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
                col("duration_ms"), col("mean_amp"), col("decoded"))
        .orderBy("media_id")
    }),

    // multimodal: REAL Y4M (YUV4MPEG2) container parse over real video
    // payloads — geometry, frame count, frame rate and per-frame luma
    // are pure functions of the id (the PNG/WAV pattern), so the
    // oracle predicts the decoded features without a demuxer
    "multimodal_video" -> ((s, dir) => {
      val media = Multimodal.asY4mTable(t(s, dir, "documents"), "doc_id")
      Multimodal.videoFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"), col("mean_y"),
          col("decoded"))
        .orderBy("media_id")
    }),

    // frame sampling driven by the REAL parsed Y4M frame count
    // (stride 2 over 3..8-frame clips exercises several indices per
    // clip; contrast multimodal_frame_sample, which exercises the
    // size-derived stub path for payloads no demuxer can read)
    "multimodal_video_frames" -> ((s, dir) => {
      val media = Multimodal.asY4mTable(t(s, dir, "documents"), "doc_id")
      Multimodal.sampleFrames(media, stride = 2)
        .orderBy("media_id", "frame_idx")
    }),

    // multimodal: frame-sampling plumbing over OPAQUE (non-Y4M)
    // payloads — exercises the labeled size-derived stub count
    "multimodal_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"),
        "doc_id", "text")
      Multimodal.sampleFrames(media, stride = 10)
        .orderBy("media_id", "frame_idx")
    }),

    // trgx tree: build per-customer order tree, serialize through the
    // JSON TEXT boundary, round-trip (hard failure on codec mismatch),
    // report structural stats the oracle can recompute relationally
    "trgx_tree_ops" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), date_format(col("o_orderdate"),
            "yyyy-MM-dd").as("dt"), col("o_orderkey").cast("string"),
          col("o_totalprice").cast("decimal(18,2)").cast("string")
            .as("price"))
        .as[(Long, String, String, String)]
      o.groupByKey(_._1)
        .mapGroups { (ck, rows) =>
          val tree = rows.foldLeft(Map.empty: Trgx.Tree) {
            case (acc, (_, dt, okey, price)) =>
              Trgx.assocIn(acc, Seq(dt, okey), Map("price" -> price))
          }
          val back = Trgx.fromJson(Trgx.toJson(tree))
          require(back == tree, s"trgx codec round-trip broke for $ck")
          (ck, Trgx.depth(back), Trgx.pathSeq(back).size.toLong,
            Trgx.query(back, Seq(Trgx.Wildcard)).size.toLong)
        }
        .toDF("custkey", "depth", "n_paths", "n_days")
        .orderBy("custkey")
    }),

    // corpus vocabulary stats: top-50 tokens by frequency
    "text_token_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(TextAnalysis.normalizeText(col("text")),
          " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(50)),

    // real learned-merge BPE subword tokenization (Bpe.scala): train a
    // 200-merge vocab on the corpus's own word-frequency table, encode
    // every document distributed over DISTINCT words. The oracle
    // independently recomputes n_words and n_chars (the word-explosion
    // pipeline's exact sufficient statistics) and pins three
    // distributed-wide properties: every word >= 1 subword token,
    // tokens never exceed characters, and every word's tokens
    // concatenate back to the word (lossless round-trip).
    "bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", nMerges = 200)
      Bpe.encodeStats(docs, "text", "doc_id", merges)
        .select(col("id").as("doc_id"), col("n_words"), col("n_chars"),
          (col("n_bpe_tokens") >= col("n_words")).as("ge_words_ok"),
          (col("n_bpe_tokens") <= col("n_chars")).as("le_chars_ok"),
          col("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    // DISTRIBUTED BPE merge learning (Bpe.trainDistributed): the
    // vocabulary table stays distributed, each round is one adjacent-
    // pair aggregation, and the driver fetches ONLY the argmax pair —
    // O(rounds) rows total, removing bpe_tokenize's 200k-word training
    // bound. Fixture: 12 merges over the doc_id < 64 slice so the
    // DuckDB oracle can unroll every round as a bit-replica (pair
    // counts are integer, the tie-break is (count desc, a, b), and the
    // merge application is the same non-overlapping left-to-right
    // replace).
    "bpe_train_distributed" -> ((s, dir) => {
      import s.implicits._
      Bpe.trainDistributed(
          t(s, dir, "documents").filter(col("doc_id") < 64),
          "text", nMerges = 12)
        .zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "lhs", "rhs")
        .orderBy("rank")
    }),

    // trgx shift-cut: the full mlvar pipeline — build date-keyed order
    // trees (JSON TEXT storage boundary), then windowed feature sums
    "trgx_shift_cut" -> ((s, dir) => {
      import s.implicits._
      val asOf = t(s, dir, "orders")
        .agg(max(date_format(col("o_orderdate"), "yyyy-MM-dd")))
        .first().getString(0)
      val o = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
        col("o_orderkey").as("okey"),
        col("o_totalprice").cast("decimal(18,2)").cast("string")
          .as("price"))
      val trees = graft.etl.Pipelines.mlvarUserOrderTrees(
        o, "custkey", Seq("dt", "okey"), Seq("price"))
      graft.etl.Pipelines.shiftCutFeatures(trees, "custkey", asOf,
          365, 3, "price")
        .select(col("custkey"), col("w"),
          col("price_sum").cast("decimal(38,2)").cast("string")
            .as("price_sum"))
        .orderBy("custkey", "w")
    }),

    // the Common Crawl ingest shape end-to-end: documents → HTML
    // pages → real .warc/.warc.gz segment files on disk (warcinfo +
    // request records interleaved, per-record gzip members on even
    // segments) → binaryFile scan → Content-Length record walk → HTTP
    // split → HTML extraction. The oracle predicts the whole loop
    // from the source table: status/type are constants of the
    // synthesis and the extracted text is the whitespace-collapsed
    // original (escape→embed→strip→decode is identity on body text).
    "source_warc_scan" -> ((s, dir) => {
      import graft.llm.HtmlText
      import graft.sources.Warc
      val pages = t(s, dir, "documents")
        .filter(col("doc_id") < 192)
        .select(col("doc_id").cast("long"),
          HtmlText.wrapPage(col("doc_id").cast("string"),
            HtmlText.escapeHtml(coalesce(col("text"), lit("")))))
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      val warcDir = Warc.writeWarcDir(s, pages, 32)
      Warc.responses(s, warcDir)
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)\\.html$", 1)
            .cast("long").as("doc_id"),
          col("http_status"), col("content_type"),
          HtmlText.htmlToText(col("html")).as("text"))
        .orderBy("doc_id")
    }),

    // HTML → text extraction alone, both DIRECTIONS replicated by the
    // oracle under a different regex engine (RE2 vs java.util.regex —
    // the patterns are pinned to the common subset, HtmlText
    // scaladoc): wrap + escape in SQL, then the same 4-stage strip +
    // entity decode + collapse. Machine blocks (script with a bare
    // `<`, style, comments) are planted by the shared template.
    "html_text_extract" -> ((s, dir) => {
      import graft.llm.HtmlText
      t(s, dir, "documents")
        .select(col("doc_id"),
          HtmlText.htmlToText(HtmlText.wrapPage(
            col("doc_id").cast("string"),
            HtmlText.escapeHtml(coalesce(col("text"), lit("")))))
            .as("text"))
        .orderBy("doc_id")
    }),

    // out-link extraction over synthesized pages: one anchor per doc,
    // a second UPPERCASE anchor on every third doc, and a PLANTED TRAP
    // — an <a name="no-href"> anchor whose attribute VALUE contains
    // the substring "href" but no href attribute; both regex engines
    // must skip it. Pure codegen projection + posexplode.
    "html_links" -> ((s, dir) => {
      import graft.llm.HtmlText
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("source"), lit("unk")),
          lit(".example.com")).as("sdom"),
        concat(coalesce(col("lang"), lit("und")),
          lit(".example.org")).as("ldom"))
      val url1 = concat(lit("https://"), col("sdom"), lit("/doc/"),
        col("doc_id").cast("string"))
      val url2 = concat(lit("HTTP://WWW."), col("ldom"),
        lit("/p?id="), col("doc_id").cast("string"),
        lit("&utm_source=x"))
      val html = concat(
        lit("<html><body><p>intro <a class=\"x\" href=\""), url1,
        lit("\">one</a> mid"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" <A HREF=\""), url2, lit("\">two</A>")))
          .otherwise(lit("")),
        lit(" <a name=\"no-href\">skip</a> tail</p></body></html>"))
      d.select(col("doc_id"), posexplode(HtmlText.extractLinks(html)))
        .select(col("doc_id"), col("pos").cast("long").as("link_idx"),
          col("col").as("href"))
        .orderBy("doc_id", "link_idx")
    }),

    // robots-exclusion filter: longest-prefix wins, equal-length
    // Allow beats Disallow, unlisted hosts default to allowed. Rules
    // are data-derived per host (4 lines each: disallow-all, allow
    // /doc, disallow /private, allow /private/public) so every
    // precedence path gets URLs.
    "robots_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("source"), lit("unk")).as("src0"))
      val idStr = col("doc_id").cast("string")
      val urls = d.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("unlisted.example.net"))
          .otherwise(concat(col("src0"), lit(".example.com")))
          .as("host"),
        when(col("doc_id") % 4 === 0, concat(lit("/doc/"), idStr))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/private/x"), idStr))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/private/public/y"), idStr))
          .otherwise(concat(lit("/other/"), idStr)).as("path"))
      // staged: the 4-arm rules union would otherwise re-scan and
      // re-distinct the documents table once per arm
      val hosts = graft.core.Tables.staged(
        d.select(concat(col("src0"), lit(".example.com"))
          .as("host")).distinct(), "robots_hosts")
      def rule(allow: Boolean, prefix: String) =
        hosts.select(col("host"), lit(allow).as("allow"),
          lit(prefix).as("prefix"))
      val rules = rule(false, "/private")
        .unionByName(rule(true, "/private/public"))
        .unionByName(rule(false, ""))
        .unionByName(rule(true, "/doc"))
      Robots.robotsFilter(urls, "doc_id", rules).orderBy("doc_id")
    }),

    // exact integer PageRank over a planted domain link graph
    // (source-domains → language-domains → a hub and back): 5
    // iterations of scaled-Long arithmetic — bit-identical across
    // engines because every step is integer division and Long sums
    // are order-free (Graph.pageRankScaled scaladoc).
    "link_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pageRankScaled(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", 5)
        .orderBy("node")),

    // convergence-stopped PageRank: iterate until the integer L1 delta
    // Σ|r_i − r_{i−1}| < 5·10^11 (half a Scale unit of total movement),
    // capped at 10. The delta is exact Long arithmetic, so the stop
    // iteration is a pure function of the graph — the oracle unrolls
    // all 10 candidate iterations, computes the same deltas, and
    // CASE-selects the same stop (measured: iteration 7 at every SF
    // and the edge corpus). Output carries `iters` so the artifact
    // itself pins the stop point.
    "link_pagerank_converged" -> ((s, dir) =>
      graft.ops.Graph.pageRankScaledConverged(
        linkGraphEdges(s, dir, lit(true)), "src", "dst",
        eps = 500000000000L, maxIters = 10)
        .orderBy("node")),

    // warm-start PageRank — the daily-crawl shape: yesterday's graph
    // (docs with doc_id % 3 <> 0) ranked fresh for 3 iterations, then
    // today's FULL graph re-ranked for 2 more seeded with those ranks
    // (new nodes get the uniform seed). Same scaled-Long exactness;
    // oracle unrolls both snapshots in one WITH block.
    // personalized (topic-sensitive) PageRank: teleport + dangling
    // mass return to the SEED set (the source domains — the curated
    // "trusted domain" shape) instead of all nodes; a domain's rank
    // reads as reachability from trust. Same scaled-Long exactness.
    "link_pagerank_personalized" -> ((s, dir) =>
      graft.ops.Graph.personalizedPageRankScaled(
        linkGraphEdges(s, dir, lit(true)), "src", "dst",
        trustedSeeds(s, dir), 5)
        .orderBy("node")),

    // HITS hubs & authorities (Kleinberg) over the same domain graph,
    // in the PageRank family's scaled-Long exact arithmetic: authority
    // = L1-normalized in-neighbor hub sum, hub = out-neighbor authority
    // sum, 3 iterations — the crawl layer's complement to the single
    // PageRank score (authorities = pages worth fetching, hubs =
    // directory pages worth re-crawling for link discovery). Every
    // step a non-negative Long sum or truncating division, so the
    // oracle unrolls the identical BIGINT arithmetic.
    "link_hits" -> ((s, dir) =>
      graft.ops.Graph.hitsScaled(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", 3)
        .orderBy("node")),

    // per-node triangle counts + local clustering coefficient over the
    // undirected domain graph — the community-cohesion signal link
    // farms fail (high degree, near-zero closure). Degree-oriented
    // wedge enumeration (Suri & Vassilvitskii): wedges only at a
    // triangle's minimum-(degree,node) vertex, closing edge confirmed
    // by one equi-join — hub fan-out bounded by forward degree O(√E).
    "link_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleCounts(
        linkGraphEdges(s, dir, lit(true)), "src", "dst")
        .orderBy("node")),

    // seeded label propagation (community/category segmentation):
    // source domains carry planted category labels, 3 rounds of
    // majority voting spread them over the undirected graph (most
    // votes, tie → smallest label; seeds clamped; unreached nodes
    // null). Every election is ONE Long max (votes·2²⁰ + residue), so
    // the result is integer-exact and the oracle unrolls identically.
    "link_label_prop" -> ((s, dir) => {
      val seeds = t(s, dir, "documents")
        .select(concat(coalesce(col("source"), lit("unk")),
            lit(".com")).as("node"),
          (length(coalesce(col("source"), lit("unk"))) % 5)
            .cast("long").as("label"))
      graft.ops.Graph.seededLabelPropagation(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", seeds, 3)
        .orderBy("node")
    }),

    // one-row webgraph health summary: reciprocity (directed edges
    // whose reverse exists — link rings trend toward 1.0) and Newman
    // degree assortativity (Pearson of endpoint degrees over the
    // doubled undirected edges; organic web graphs are disassortative).
    // All Pearson components exact decimal/HUGEINT; only the final
    // covariance/variance arithmetic is double, on correctly-rounded
    // casts — engine-exact.
    "link_graph_stats" -> ((s, dir) =>
      graft.ops.Graph.graphStats(
        linkGraphEdges(s, dir, lit(true)), "src", "dst")),

    // k-core peeling (k=2, capped at 8 rounds): strip the pendant /
    // chain periphery until the densely-interlinked residue remains —
    // link-farm rings live in high cores; the structural complement to
    // spam-mass. Monotone set peeling ⇒ the stop round is a pure
    // function of the graph; the artifact's `rounds` column pins it
    // (the converged-PageRank pattern).
    "link_kcore" -> ((s, dir) =>
      graft.ops.Graph.kCore(
        linkGraphEdges(s, dir, lit(true)), "src", "dst",
        k = 2, maxRounds = 8)
        .orderBy("node")),

    // bow-tie decomposition (Broder et al.) around the deterministic
    // max-degree pivot: SCC core vs IN feeders vs OUT sinks vs
    // TENDRIL periphery vs DISConnected — the crawl-frontier analysis
    // (IN is where new content enters; a crawler seeds there). Runs on
    // the link graph plus planted periphery arms (bowtieEdges) so
    // every class is populated; pure set algebra over exact
    // reachability, so the recursive-CTE oracle matches bit-for-bit.
    "link_bowtie" -> ((s, dir) =>
      graft.ops.Graph.bowTie(bowtieEdges(s, dir), "src", "dst")
        .orderBy("node")),

    // full SCC + weak-component census over the same bow-tie fixture
    // graph (≥2 disjoint components by construction — the disc*.iso
    // pairs — each containing known SCCs): wcc_id/scc_id = min node of
    // the weak / strong component, the link-farm census ("how many
    // disjoint mutual-link rings, how big" = GROUP BY wcc_id, scc_id)
    // that bowTie's single-pivot view lumps into DISC. Semantic ids ⇒
    // the oracle is pure recursive-CTE closure while the Spark side
    // runs the multi-round forward-backward coloring.
    "link_scc_census" -> ((s, dir) =>
      graft.ops.Graph.sccCensus(bowtieEdges(s, dir), "src", "dst")
        .orderBy("node")),

    // HyperBall neighborhood function + 90% effective diameter over
    // the same bow-tie fixture graph: per-node HLL registers iterated
    // over the edge table, N(t) = reachable ordered pairs within t
    // hops. At lgK = 12 the per-node sketches stay in exact coupon
    // mode (node count bounded by the planted-arm moduli at every
    // SF), so the oracle replays N(t) from a recursive-CTE min-
    // distance closure — the exact-regime pin; the approximate
    // production regime carries the corpus_sources_hll_approx band
    // discipline.
    "link_neighborhood_function" -> ((s, dir) =>
      graft.ops.Graph.neighborhoodFunction(bowtieEdges(s, dir),
        "src", "dst")
        .orderBy("t")),

    // weighted PageRank: rank mass splits proportional to the LINK
    // COUNT between two domains (the edge multiset's multiplicity,
    // which the uniform variant's distinct() throws away) — a domain
    // linking another 500 times endorses it more than one footer
    // link. Same scaled-Long exact arithmetic; oracle unrolls the
    // identical (rank·w) div W_out BIGINT chain.
    "link_pagerank_weighted" -> ((s, dir) =>
      graft.ops.Graph.pageRankScaledWeighted(
        linkGraphEdges(s, dir, lit(true))
          .groupBy("src", "dst").agg(count(lit(1)).as("w")),
        "src", "dst", "w", 5)
        .orderBy("node")),

    // unseeded label propagation (Raghavan et al.) — community
    // discovery with zero curation: init label = dense node rank, 4
    // synchronous rounds of the packed-Long majority election (most
    // votes, tie → smallest label; fixed round count for determinism
    // — synchronous LPA has no well-defined fixpoint). Complements
    // link_label_prop (seeded) and link_kcore for link-farm discovery.
    "link_communities" -> ((s, dir) =>
      graft.ops.Graph.labelPropagationCommunities(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", 4)
        .orderBy("node")),

    // spam-mass score (Gyöngyi et al.): spam_mass =
    // (pr − ppr_trusted) / pr — the fraction of a domain's PageRank
    // NOT explainable by reachability from the trusted seed set; the
    // crawl layer's actionable downweight signal. Pure composition of
    // the two rank outputs above: one join + integer-exact subtract +
    // one IEEE divide of < 2^53 Longs (bit-replicable). Seed nodes can
    // go negative (ppr concentrates mass on them) — meaningful, kept.
    "link_spam_mass" -> ((s, dir) => {
      val edges = linkGraphEdges(s, dir, lit(true))
      val pr = graft.ops.Graph.pageRankScaled(edges, "src", "dst", 5)
      val ppr = graft.ops.Graph.personalizedPageRankScaled(edges, "src",
        "dst", trustedSeeds(s, dir), 5)
      pr.join(ppr.select(col("node"), col("rank_s").as("ppr_s")),
          Seq("node"))
        .select(col("node"), col("rank_s"), col("ppr_s"),
          round((col("rank_s") - col("ppr_s")).cast("double") /
            col("rank_s").cast("double"), 6).as("spam_mass"))
        .orderBy("node")
    }),

    // the rank table every derived link query (spam mass, both
    // budgets) composes, hash-checked on its own: (node, rank_s, ppr_s)
    // from the two 5-iteration chains, independent of any consumer's
    // own derivation.
    "link_rank_tables" -> ((s, dir) => {
      val edges = linkGraphEdges(s, dir, lit(true))
      val pr = graft.ops.Graph.pageRankScaled(edges, "src", "dst", 5)
      val ppr = graft.ops.Graph.personalizedPageRankScaled(edges, "src",
        "dst", trustedSeeds(s, dir), 5)
      pr.join(ppr.select(col("node"), col("rank_s").as("ppr_s")),
          Seq("node"))
        .select(col("node"), col("rank_s"), col("ppr_s"))
        .orderBy("node")
    }),

    "link_pagerank_incremental" -> ((s, dir) => {
      val prior = graft.ops.Graph.pageRankScaled(
        linkGraphEdges(s, dir, col("doc_id") % 3 =!= 0),
        "src", "dst", 3)
      graft.ops.Graph.pageRankScaledResume(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", prior, 2)
        .orderBy("node")
    }),

    // crawl-budget allocation — the loop-closing composition: rank
    // domains (link_pagerank's 5-iteration chain), then split an
    // integer fetch budget of 100k across them EXACTLY proportional to
    // rank via Hamilton largest-remainder (Apportion.largestRemainder:
    // Σ quota = total, floors + largest remainders, all-Long). This is
    // what a crawl scheduler actually consumes: not scores, fetch
    // counts. total·W = 10^5 · 10^12 stays far inside Long.
    "link_crawl_budget" -> ((s, dir) => {
      val pr = graft.ops.Graph.pageRankScaled(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", 5)
      graft.ops.Apportion.largestRemainder(
          pr.select(col("node"), col("rank_s")),
          Seq("node"), "rank_s", 100000L)
        .orderBy("node")
    }),

    // crawl budget by TRUSTED mass — the actionable form of the
    // spam-mass signal: allocate fetches proportional to each domain's
    // trust-reachable rank share, least(ppr_trusted, pr) clamped at 0
    // (ppr can exceed pr on seed nodes — the cap keeps the weight a
    // share of the domain's own rank). All-Long weights keep Apportion
    // exact; a domain whose rank is pure spam mass (ppr = 0) gets
    // quota 0 by construction — the downweight link_spam_mass scores,
    // enacted.
    "link_crawl_budget_trusted" -> ((s, dir) => {
      val edges = linkGraphEdges(s, dir, lit(true))
      val pr = graft.ops.Graph.pageRankScaled(edges, "src", "dst", 5)
      val ppr = graft.ops.Graph.personalizedPageRankScaled(edges, "src",
        "dst", trustedSeeds(s, dir), 5)
      val w = pr.join(ppr.select(col("node"), col("rank_s").as("ppr_s")),
          Seq("node"))
        .select(col("node"),
          greatest(least(col("ppr_s"), col("rank_s")), lit(0L))
            .as("trusted_s"))
      graft.ops.Apportion.largestRemainder(w, Seq("node"), "trusted_s",
          100000L)
        .orderBy("node")
    }),

    // the production incremental re-rank loop proper: warm seed from
    // yesterday's 3-iteration ranks + the SAME eps stop as
    // link_pagerank_converged. The artifact's `iters` column IS the
    // warm-start saving: the cold converged run stops at 7, this one
    // at ~4 — same threshold, same graph, 3 iterations bought by the
    // seed (the daily-crawl economics, pinned in data).
    "link_pagerank_resume_converged" -> ((s, dir) => {
      val prior = graft.ops.Graph.pageRankScaled(
        linkGraphEdges(s, dir, col("doc_id") % 3 =!= 0),
        "src", "dst", 3)
      graft.ops.Graph.pageRankScaledResumeConverged(
        linkGraphEdges(s, dir, lit(true)), "src", "dst", prior,
        eps = 500000000000L, maxIters = 8)
        .orderBy("node")
    }),

    // the same two crawl snapshots as a STREAM
    // (StreamOps.continuousPageRankIngest): wave 1 = yesterday's
    // edges (fresh 3 iters at version |E1|), wave 2 = the FULL edge
    // set — a redelivery of every wave-1 edge (the (src,dst)
    // anti-join suppresses them) plus a sentinel edge from a brand-new
    // domain (seeds uniform through the resume's new-node path). The
    // sentinel guarantees the graph GROWS at wave 2: the doc_id%3
    // delta alone adds no new distinct domain edge at some scales
    // (measured at sf0.1: |E1| = |E2| = 109), and an unchanged
    // version correctly SKIPS the re-rank — right for production,
    // wrong for a fixture that must exercise the warm start.
    "streaming_pagerank_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_pagerank_q"
      StreamOps.deletePath(s, base)
      val e2 = linkGraphEdges(s, dir, lit(true))
      val empty = e2.select(col("src").as("node"), lit(0L).as("rank_s"))
        .limit(0)
      // an empty documents table yields zero edges: no batch fires,
      // the rank table is never created — the correct result is an
      // empty frame (the oracle agrees: no rows survive its CTEs)
      if (e2.isEmpty) empty else {
        val e1 = linkGraphEdges(s, dir, col("doc_id") % 3 =!= 0)
        e1.coalesce(4).write.parquet(s"$base/in1")
        e2.unionByName(s.range(1)
            .select(lit("newdomain.test").as("src"),
              lit("hub.example.net").as("dst")))
          .coalesce(4).write.parquet(s"$base/in2")
        val schema = s.read.parquet(s"$base/in1").schema
        StreamOps.continuousPageRankIngest(
          StreamOps.readTableStream(s, s"$base/in1", schema),
          "src", "dst", s"$base/edges", s"$base/ranks",
          freshIters = 3, resumeIters = 2)
        StreamOps.continuousPageRankIngest(
          StreamOps.readTableStream(s, s"$base/in2", schema),
          "src", "dst", s"$base/edges", s"$base/ranks",
          freshIters = 3, resumeIters = 2)
        val ranks = s.read.parquet(s"$base/ranks")
        // non-null int64 column ⇒ footer max = max(graph_version)
        // exactly; the agg job is only the stats-absent fallback
        val latest = graft.core.Tables.parquetLongMax(s"$base/ranks",
            s.sessionState.newHadoopConf(), "graph_version")
          .getOrElse(ranks.agg(max("graph_version")).first().getLong(0))
        ranks.filter(col("graph_version") === latest)
          .select("node", "rank_s").orderBy("node")
      }
    }),

    // the census as a STREAM with incremental recomputation
    // (StreamOps.continuousSccIngest): wave 1 = the full bow-tie
    // fixture (full census at version |E1| — the standing cold-start
    // unit, link_scc_census's own work), wave 2 = a redelivery of
    // every wave-1 edge (suppressed) plus ONE sentinel edge forming a
    // brand-new 2-node component — the daily-crawl shape where the
    // delta touches a sliver of the component space: the incremental
    // pass recomputes ONLY the sentinel pair while the core and every
    // disc pair CARRY from version 1 (StreamingSpec proves the carry
    // with a poisoned-prior arm; the r16 first cut delivered the arm
    // edges in wave 2 instead, which recomputed ~the whole graph and
    // doubled the census bill for zero carried demonstration). Final
    // table = batch census of fixture + sentinel — the oracle is
    // link_scc_census's recursive-CTE closure with the sentinel arm
    // spliced in.
    "streaming_scc_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_scc_q"
      StreamOps.deletePath(s, base)
      val full = bowtieEdges(s, dir)
      val empty = full.select(col("src").as("node"),
        col("src").as("wcc_id"), col("src").as("scc_id")).limit(0)
      if (full.isEmpty) empty else {
        full.coalesce(4).write.parquet(s"$base/in1")
        full.unionByName(s.range(1)
            .select(lit("newa.test").as("src"),
              lit("newb.test").as("dst")))
          .coalesce(4).write.parquet(s"$base/in2")
        val schema = s.read.parquet(s"$base/in1").schema
        StreamOps.continuousSccIngest(
          StreamOps.readTableStream(s, s"$base/in1", schema),
          "src", "dst", s"$base/edges", s"$base/census")
        StreamOps.continuousSccIngest(
          StreamOps.readTableStream(s, s"$base/in2", schema),
          "src", "dst", s"$base/edges", s"$base/census")
        val cen = s.read.parquet(s"$base/census")
        // non-null int64 column ⇒ footer max = max(graph_version)
        // exactly; the agg job is only the stats-absent fallback
        val latest = graft.core.Tables.parquetLongMax(s"$base/census",
            s.sessionState.newHadoopConf(), "graph_version")
          .getOrElse(cen.agg(max("graph_version")).first().getLong(0))
        cen.filter(col("graph_version") === latest)
          .select("node", "wcc_id", "scc_id").orderBy("node")
      }
    }),

    // continuous crawl ingest: wave 1 of segments lands and drains;
    // wave 2 (new docs) plus a RE-CRAWL of wave 1's head land and
    // drain incrementally off the same checkpoint — the re-crawled
    // URIs must not duplicate (URI-keyed guarded append), and the
    // final corpus must equal the batch scan of all 96 docs.
    "streaming_warc_ingest" -> ((s, dir) => {
      import graft.llm.HtmlText
      import graft.sources.Warc
      import graft.streaming.StreamOps
      val base = graft.core.Tables.tmpDir + "/stream_warc_q"
      StreamOps.deletePath(s, base)
      val pages = t(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id").cast("long"),
          HtmlText.wrapPage(col("doc_id").cast("string"),
            HtmlText.escapeHtml(coalesce(col("text"), lit("")))))
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      val empty = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        lit(200).as("http_status"), lit("text/html").as("content_type"),
        lit("").as("text")).limit(0)
      if (pages.isEmpty) empty else {
        val (wave1, wave2) = pages.partition(_._1 < 48)
        Warc.writeWarcInto(s, s"$base/crawl", wave1, 16, segOffset = 0)
        StreamOps.streamingWarcIngest(s, s"$base/crawl",
          s"$base/corpus", Some(s"$base/ckpt"))
        Warc.writeWarcInto(s, s"$base/crawl", wave2, 16,
          segOffset = 100)
        Warc.writeWarcInto(s, s"$base/crawl", wave1.take(16), 16,
          segOffset = 200)
        StreamOps.streamingWarcIngest(s, s"$base/crawl",
          s"$base/corpus", Some(s"$base/ckpt"))
        s.read.parquet(s"$base/corpus")
          .select(regexp_extract(col("target_uri"),
              "/(\\d+)\\.html$", 1).cast("long").as("doc_id"),
            col("http_status"), col("content_type"), col("text"))
          .orderBy("doc_id")
      }
    }),

    // the composed crawl head of a training pipeline end-to-end:
    // WARC segments (with 32 planted RE-HOST duplicates — same
    // content under different URIs, the classic crawl dup) → record
    // walk → HTML extraction → content-fingerprint exact dedup
    // (canonical = min doc id, so originals win over re-hosts) →
    // empty-document cut. The oracle replays extraction, the re-host
    // union, the fingerprint grouping (lower(xt): extraction already
    // collapsed whitespace, so normalizeText degenerates to lower)
    // and the cut, all from the source table.
    "crawl_pipeline" -> ((s, dir) => {
      import graft.llm.{Dedup, HtmlText}
      import graft.sources.Warc
      val src = t(s, dir, "documents").filter(col("doc_id") < 192)
        .select(col("doc_id").cast("long").as("doc_id"),
          HtmlText.wrapPage(col("doc_id").cast("string"),
            HtmlText.escapeHtml(coalesce(col("text"), lit(""))))
            .as("html"))
      val rehost = src.filter(col("doc_id") < 32)
        .select((col("doc_id") + 10000L).as("doc_id"), col("html"))
      val pages = src.unionByName(rehost).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1)))
      val warcDir = Warc.writeWarcDir(s, pages, 32)
      val docs = Warc.responses(s, warcDir).select(
        regexp_extract(col("target_uri"), "/(\\d+)\\.html$", 1)
          .cast("long").as("doc_id"),
        HtmlText.htmlToText(col("html")).as("text"))
      val ded = Dedup.exactDedup(docs, "text", "doc_id")
        .select(col("canonical_id").as("doc_id"), col("dup_count"))
      ded.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("dup_count"),
          length(col("text")).cast("int").as("n_chars"))
        .filter(col("n_chars") > 0)
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH u AS ($dupCorpusSql),
         n AS (SELECT doc_id, $normSql AS norm FROM u)
         SELECT a.doc_id AS id1, b.doc_id AS id2
         FROM n a JOIN n b ON a.norm = b.norm AND a.doc_id < b.doc_id
         ORDER BY id1, id2""",
    "dedup_exact_groups" ->
      s"""WITH u AS ($dupCorpusSql),
         n AS (SELECT doc_id, md5($normSql) AS fp FROM u)
         SELECT fp, min(doc_id) AS canonical_id, count(*) AS dup_count
         FROM n GROUP BY fp ORDER BY canonical_id""",
    // identical-shingle-set train↔bench pairs (threshold-1.0 exact
    // recall through the persisted benchmark index — dedup_minhash's
    // canon pattern across the two sides)
    "benchmark_decontaminate_lsh" ->
      s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
             FROM documents),
         $shingleCte,
         tc AS (SELECT id AS train_id,
             string_agg(g, chr(1) ORDER BY g) AS cs
           FROM sd GROUP BY id),
         bc AS (SELECT id + 5000000 AS bench_id,
             string_agg(g, chr(1) ORDER BY g) AS cs
           FROM sd WHERE id % 97 = 0 GROUP BY id)
         SELECT t.train_id, b.bench_id, CAST(1.0 AS DOUBLE) AS jaccard
         FROM tc t JOIN bc b ON t.cs = b.cs
         ORDER BY train_id, bench_id""",
    "dedup_minhash" ->
      s"""WITH u AS ($dupCorpusSql),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id)
         SELECT a.id AS id1, b.id AS id2, CAST(1.0 AS DOUBLE) AS jaccard
         FROM canon a JOIN canon b ON a.cs = b.cs AND a.id < b.id
         ORDER BY id1, id2""",
    "dedup_minhash_near" ->
      s"""WITH u AS ($dupCorpusSql),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id)
         SELECT (SELECT count(*) FROM documents) AS planted_found,
           (SELECT count(*) FROM canon a JOIN canon b
              ON a.cs = b.cs AND a.id < b.id) AS exact_found,
           CAST(0 AS BIGINT) AS precision_violations""",
    "dedup_simhash" ->
      s"""WITH u AS ($dupCorpusSql),
         n AS (SELECT doc_id, $normSql AS norm FROM u)
         SELECT (SELECT count(*) FROM documents) AS planted_found,
           (SELECT count(*) FROM n a JOIN n b
              ON a.norm = b.norm AND a.doc_id < b.doc_id) AS exact_found,
           CAST(0 AS BIGINT) AS exact_nonzero_hamming""",
    "embedding_label_purity" ->
      """WITH topk AS (
           SELECT query_id, corpus_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(c.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
             FROM embeddings c, embeddings q
             WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id)
           WHERE rank <= 10)
         SELECT ql.label AS label,
           CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
           round(CAST(count(CASE WHEN cl.label = ql.label THEN 1 END)
             AS DOUBLE) / count(*), 6) AS avg_purity
         FROM topk t
         JOIN embeddings ql ON ql.vec_id = t.query_id
         JOIN embeddings cl ON cl.vec_id = t.corpus_id
         GROUP BY ql.label ORDER BY label""",
    "hard_negatives" ->
      """SELECT query_id, corpus_id, rank, cos FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(c.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS INT)
               AS rank,
             round(CAST(list_cosine_similarity(
               CAST(c.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS DOUBLE), 4) + 0.0 AS cos
           FROM embeddings c, embeddings q
           WHERE q.vec_id < 5 AND c.label <> q.label)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "semantic_dedup_kmeans" -> semanticKmeansOracleSql,
    "ann_ivf_topk" -> ivfOracleSql("vec_id < 5"),
    "ann_incremental" -> ivfOracleSql("vec_id >= 5 AND vec_id < 10"),
    "dedup_components" ->
      s"""WITH u AS ($dupCorpusSql),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id),
         comps AS (SELECT cs, min(id) AS comp, count(*) AS n
                   FROM canon GROUP BY cs)
         SELECT canon.id AS id, comps.comp AS comp
         FROM canon JOIN comps USING (cs)
         WHERE comps.n > 1 ORDER BY id""",
    "dedup_incremental" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id),
         b AS (SELECT id + 1000000 AS new_id, cs FROM canon
               WHERE id % 3 = 0)
         SELECT b.new_id, c.id AS corpus_id, CAST(1.0 AS DOUBLE) AS jaccard
         FROM b JOIN canon c ON b.cs = c.cs
         ORDER BY new_id, corpus_id""",
    // engine-faithful twin: the within-batch collapse groups by
    // NORMALIZED text (fingerprint = md5(normalizeText)), and
    // cross-batch suppression at threshold 1.0 is exact SHINGLE-SET
    // equality — both replicated below ($normSql grouping + the shared
    // shingle/canon CTEs), so the oracle stays right even if testdata
    // ever gains case-/whitespace-only near-twins or set-equal texts
    "streaming_dedup_ingest" ->
      s"""WITH d AS (SELECT doc_id, $normSql AS nt FROM documents
             WHERE text IS NOT NULL AND length(trim(text)) > 0
               AND doc_id % 5 = 0),
         k1 AS (SELECT min(doc_id) AS doc_id, nt FROM d GROUP BY nt),
         u AS (SELECT doc_id, nt AS text FROM k1
               UNION ALL
               SELECT doc_id + 2000000, nt || ' zq xv qj' FROM k1),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id)
         SELECT doc_id, TRUE AS in_corpus, TRUE AS in_index,
           TRUE AS in_shingles
         FROM (SELECT doc_id FROM k1
               UNION ALL
               SELECT c2.id AS doc_id FROM canon c2
               WHERE c2.id >= 2000000 AND c2.cs NOT IN
                 (SELECT cs FROM canon WHERE id < 2000000)) t
         ORDER BY doc_id""",
    "streaming_drift_ingest" ->
      """WITH docs AS (SELECT doc_id, source, lang FROM documents),
         u AS (SELECT 'source' AS dim, source AS key, doc_id FROM docs
           UNION ALL
           SELECT 'lang' AS dim, lang AS key, doc_id FROM docs),
         ref AS (SELECT dim, key, CAST(count(*) AS BIGINT) AS n_ref
           FROM u GROUP BY dim, key),
         -- no ELSE: a null or negative-odd doc_id is in NEITHER Spark
         -- batch (both `% 2 === k` filters exclude it), so it must tag
         -- to NULL here and be dropped — an ELSE 'b2_0' silently
         -- counted such rows into batch 2 on the oracle side only
         b AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'b1_0'
             WHEN doc_id % 2 = 1 THEN 'b2_0' END AS tag, dim, key
           FROM u),
         bc AS (SELECT tag, dim, key, CAST(count(*) AS BIGINT)
             AS n_batch FROM b WHERE tag IS NOT NULL
           GROUP BY tag, dim, key),
         tags AS (SELECT DISTINCT tag FROM bc),
         grid AS (SELECT t.tag, r.dim, r.key, r.n_ref
           FROM tags t CROSS JOIN ref r),
         j AS (SELECT g.tag, g.dim, g.key,
             coalesce(bc.n_batch, 0) AS n_batch, g.n_ref
           FROM grid g LEFT JOIN bc ON bc.tag = g.tag
             AND bc.dim = g.dim AND bc.key IS NOT DISTINCT FROM g.key),
         tot AS (SELECT tag, dim, sum(n_batch) AS tb, sum(n_ref) AS tr,
             count(*) AS k FROM j GROUP BY tag, dim),
         f AS (SELECT j.tag, j.dim, j.key, j.n_batch, j.n_ref,
             (j.n_batch + 1) / CAST(tot.tb + tot.k AS DOUBLE) AS pb,
             (j.n_ref + 1) / CAST(tot.tr + tot.k AS DOUBLE) AS pr
           FROM j JOIN tot ON j.tag = tot.tag AND j.dim = tot.dim)
         SELECT tag, dim, key, n_batch, n_ref,
           round(pb, 6) AS p_batch, round(pr, 6) AS p_ref,
           round((pb - pr) * ln(pb / pr), 6) + 0.0 AS psi_term
         FROM f ORDER BY tag, dim, key NULLS FIRST""",
    "streaming_semantic_ingest" -> {
      // same deterministic Rademacher cells and (dot DESC, cell DESC)
      // tie-break as semantic_dedup; within-batch removal counts
      // non-survivor neighbors (the semanticDedup rule), index
      // suppression only standing survivors
      val cents = Similarity.rademacherPlanes(8, 64).zipWithIndex
        .map { case (p, i) =>
          s"($i, [${p.map(v => if (v > 0) "1.0" else "-1.0").mkString(",")}])"
        }.mkString(",\n           ")
      s"""WITH cents(cell, w) AS (VALUES $cents),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 5 = 0),
         av AS (SELECT * FROM e
                UNION ALL
                SELECT vec_id + 3000000, list_transform(v, x -> x * 2)
                FROM e
                UNION ALL
                SELECT vec_id + 1000000, list_transform(v, x -> x * 0.5)
                FROM e
                UNION ALL
                SELECT vec_id + 2000000, list_concat([v[1] + 0.5], v[2:])
                FROM e),
         cd AS (SELECT vec_id, v, cell, list_dot_product(v, w) AS d
                FROM av CROSS JOIN cents),
         cc AS (SELECT vec_id, v, cell FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY d DESC, cell DESC) AS rn FROM cd)
                WHERE rn = 1),
         c1 AS (SELECT * FROM cc
                WHERE vec_id < 1000000 OR vec_id >= 3000000),
         c2 AS (SELECT * FROM cc
                WHERE vec_id >= 1000000 AND vec_id < 3000000),
         s1 AS (SELECT * FROM c1 x WHERE NOT EXISTS
                (SELECT 1 FROM c1 a WHERE a.cell = x.cell
                   AND a.vec_id < x.vec_id
                   AND list_cosine_similarity(a.v, x.v) >= 0.85)),
         k2 AS (SELECT * FROM c2 x WHERE NOT EXISTS
                (SELECT 1 FROM c2 a WHERE a.cell = x.cell
                   AND a.vec_id < x.vec_id
                   AND list_cosine_similarity(a.v, x.v) >= 0.85)),
         n2 AS (SELECT * FROM k2 x WHERE NOT EXISTS
                (SELECT 1 FROM s1 WHERE s1.cell = x.cell
                   AND list_cosine_similarity(s1.v, x.v) >= 0.85))
         SELECT vec_id, TRUE AS in_corpus, TRUE AS in_index
         FROM (SELECT vec_id FROM s1
               UNION ALL SELECT vec_id FROM n2) t
         ORDER BY vec_id"""
    },
    "dedup_groups_full" ->
      s"""WITH u AS ($dupCorpusSql),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id)
         SELECT id, min(id) OVER (PARTITION BY cs) AS group_id
         FROM canon ORDER BY id""",
    "dedup_best_keeper" ->
      s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
                     FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             replace(coalesce(text, ''), ' ', '  ') FROM documents),
         $shingleCte,
         canon AS (SELECT id, string_agg(g, chr(1) ORDER BY g) AS cs
                   FROM sd GROUP BY id),
         grp AS (SELECT id, min(id) OVER (PARTITION BY cs) AS group_id
                 FROM canon),
         m AS (SELECT grp.group_id, grp.id,
                 CAST(len(u.text) AS INT) AS score
               FROM grp JOIN u ON u.doc_id = grp.id),
         b AS (SELECT group_id, max(score) AS keeper_score,
                 count(*) AS n_members FROM m GROUP BY group_id)
         SELECT m.group_id, min(m.id) AS keeper_id,
           max(b.keeper_score) AS keeper_score,
           max(b.n_members) AS n_members
         FROM m JOIN b USING (group_id)
         WHERE m.score IS NOT DISTINCT FROM b.keeper_score
         GROUP BY m.group_id ORDER BY m.group_id""",
    "ngram_jaccard" ->
      s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
                     FROM documents),
         $shingleCte,
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
                   FROM documents a JOIN documents b
                   ON b.doc_id = a.doc_id + 1),
         inter AS (SELECT p.id1, p.id2, count(*) AS n
                   FROM pairs p
                   JOIN sd x ON x.id = p.id1
                   JOIN sd y ON y.id = p.id2 AND y.g = x.g
                   GROUP BY p.id1, p.id2),
         sizes AS (SELECT id, count(*) AS n FROM sd GROUP BY id)
         SELECT p.id1 AS id1, p.id2 AS id2,
           round(CAST(coalesce(i.n, 0) AS DOUBLE) /
                 (sa.n + sb.n - coalesce(i.n, 0)), 6) AS jaccard
         FROM pairs p
         LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
         JOIN sizes sa ON sa.id = p.id1
         JOIN sizes sb ON sb.id = p.id2
         ORDER BY p.id1""",
    "sentence_dedup" ->
      s"""WITH u AS ($dupCorpusSql),
         sl AS (SELECT doc_id, list_distinct(list_transform(
           list_filter(list_transform(
             string_split_regex(text, '[.!?]+'), x -> trim(x)),
             x -> len(x) > 0),
           x -> trim(regexp_replace(lower(x), '\\s+', ' ', 'g')))) AS ss
           FROM u),
         d AS (SELECT doc_id, unnest(ss) AS s FROM sl)
         SELECT s AS sentence, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
         FROM d GROUP BY s HAVING count(*) >= 2
         ORDER BY sentence""",
    "passage_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
             FROM documents),
         n AS (SELECT doc_id, ws, CASE WHEN len(ws) >= 8
               THEN (len(ws) - 8) // 4 + 1 ELSE 0 END AS nw FROM w),
         p AS (SELECT doc_id,
               array_to_string(list_slice(ws, i * 4 + 1, i * 4 + 8), ' ')
                 AS passage
               FROM (SELECT doc_id, ws,
                     unnest(generate_series(0, CAST(nw - 1 AS INT))) AS i
                     FROM n)),
         d AS (SELECT DISTINCT doc_id, passage FROM p)
         SELECT passage, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
         FROM d GROUP BY passage HAVING count(*) >= 2
         ORDER BY passage""",
    "substring_dedup" ->
      s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
             FROM documents),
         t AS (SELECT doc_id, string_split($normSql, ' ') AS toks
             FROM u),
         w AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
               array_to_string(toks[i:i+7], ' ') AS win
             FROM t, LATERAL unnest(range(1, len(toks) - 8 + 2)) AS r(i)
             WHERE len(toks) >= 8),
         d AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
         p AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
         b AS (SELECT doc_id, pos, CASE WHEN
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                 + 8 THEN 1 ELSE 0 END AS brk FROM p),
         s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid FROM b)
         SELECT doc_id, min(pos) AS span_start,
           max(pos) + 7 AS span_end, count(*) AS n_windows
         FROM s GROUP BY doc_id, sid
         ORDER BY doc_id, span_start""",
    "substring_dedup_rewrite" ->
      s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
             FROM documents),
         t AS (SELECT doc_id, string_split($normSql, ' ') AS toks
             FROM u),
         w AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
               array_to_string(toks[i:i+7], ' ') AS win
             FROM t, LATERAL unnest(range(1, len(toks) - 8 + 2)) AS r(i)
             WHERE len(toks) >= 8),
         m AS (SELECT doc_id, pos,
               count(*) OVER (PARTITION BY win) AS occ,
               row_number() OVER (PARTITION BY win
                 ORDER BY doc_id, pos) AS rn
             FROM w),
         cutp AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS tp
             FROM m, LATERAL unnest(range(0, 8)) AS r(j)
             WHERE occ > 1 AND rn > 1),
         keepp AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS tp
             FROM m, LATERAL unnest(range(0, 8)) AS r(j)
             WHERE occ > 1 AND rn = 1),
         cut AS (SELECT doc_id, tp FROM cutp x WHERE NOT EXISTS
             (SELECT 1 FROM keepp y
              WHERE y.doc_id = x.doc_id AND y.tp = x.tp)),
         tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS tp, toks[i] AS tok
             FROM t, LATERAL unnest(range(1, len(toks) + 1)) AS r(i)),
         kept AS (SELECT doc_id, tp, tok FROM tok x WHERE NOT EXISTS
             (SELECT 1 FROM cut y
              WHERE y.doc_id = x.doc_id AND y.tp = x.tp)),
         r AS (SELECT doc_id,
               string_agg(tok, ' ' ORDER BY tp) AS clean_text,
               count(*) AS n_kept
             FROM kept GROUP BY doc_id)
         SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
           CAST(len(t.toks) AS INT) AS n_tokens,
           len(t.toks) - coalesce(r.n_kept, 0) AS n_cut
         FROM t LEFT JOIN r ON t.doc_id = r.doc_id
         ORDER BY t.doc_id""",
    "embedding_dedup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id + 100000, embedding FROM embeddings)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(CAST(list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             AS DOUBLE), 6) + 0.0 AS cos
         FROM u a JOIN u b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])) >= 0.95
         ORDER BY id1, id2""",
    "semantic_dedup" -> {
      // same deterministic Rademacher cells as ann_ivf_topk (dims fixed
      // at 64 across all SFs), same (dot DESC, cell DESC) tie-break
      val cents = Similarity.rademacherPlanes(8, 64).zipWithIndex
        .map { case (p, i) =>
          s"($i, [${p.map(v => if (v > 0) "1.0" else "-1.0").mkString(",")}])"
        }.mkString(",\n           ")
      s"""WITH cents(cell, w) AS (VALUES $cents),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         u AS (SELECT * FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_concat([v[1] + 0.5], v[2:])
               FROM e),
         cd AS (SELECT vec_id, v, cell, list_dot_product(v, w) AS d
                FROM u CROSS JOIN cents),
         cc AS (SELECT vec_id, v, cell FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY d DESC, cell DESC) AS rn FROM cd)
                WHERE rn = 1),
         rm AS (SELECT b.vec_id AS id, min(a.vec_id) AS removed_by
                FROM cc a JOIN cc b ON a.cell = b.cell
                  AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.v, b.v) >= 0.85
                GROUP BY b.vec_id)
         SELECT cc.vec_id AS id, CAST(cc.cell AS INT) AS cell,
           rm.removed_by IS NULL AS keep, rm.removed_by AS removed_by
         FROM cc LEFT JOIN rm ON cc.vec_id = rm.id
         ORDER BY id"""
    },
    "text_dedup_lines" ->
      """WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 7000000, text FROM documents
           WHERE doc_id % 37 = 0),
         l AS (SELECT doc_id, CAST(i - 1 AS INT) AS idx, ls[i]
             AS line
           FROM (SELECT doc_id,
                 string_split(coalesce(text, ''), chr(10)) AS ls,
                 unnest(range(1, len(ls) + 1)) AS i FROM u)),
         k AS (SELECT doc_id, idx, line,
             CASE WHEN len(trim(line)) > 0 THEN md5(trim(line)) END
               AS fp
           FROM l),
         r AS (SELECT *, row_number() OVER (PARTITION BY fp
               ORDER BY doc_id, idx) AS rn FROM k),
         kept AS (SELECT doc_id, idx, line FROM r
           WHERE fp IS NULL OR rn = 1),
         alln AS (SELECT doc_id, count(*) AS n_all FROM l GROUP BY 1),
         agg AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY idx) AS text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT alln.doc_id, coalesce(a.text, '') AS text,
           n_all - coalesce(n_kept, 0) AS n_removed
         FROM alln LEFT JOIN agg a USING (doc_id)
         ORDER BY alln.doc_id""",
    "text_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(list_filter(
             string_split($normSql, ' '), t -> len(t) > 0)) AS tok
           FROM documents)
         SELECT tok, count(*) AS cnt, TRUE AS est_ge_exact,
           TRUE AS bound_ok
         FROM toks GROUP BY tok HAVING count(*) >= 200
         ORDER BY tok""",
    "text_model_score" ->
      s"""WITH d AS (SELECT doc_id,
             list_filter(string_split($normSql, ' '), t -> len(t) > 0)
               AS toks
           FROM documents),
         w AS (SELECT doc_id, len(toks) AS n_toks,
             CAST(coalesce(list_sum(list_transform(toks, t ->
               (CAST(concat('0x', substr(md5(t), 1, 6)) AS BIGINT)
                 % 2001) - 1000)), 0) AS BIGINT) AS raw
           FROM d)
         SELECT doc_id, CAST(n_toks AS INT) AS n_toks, raw,
           round(1.0 / (1.0 + exp(-(CAST(raw AS DOUBLE) / 1000.0))), 6)
             AS score
         FROM w ORDER BY doc_id""",
    "embedding_project" -> {
      val rows = Similarity.rademacherPlanes(8, 64).zipWithIndex
        .map { case (p, j) =>
          s"($j, [${p.map(v => if (v > 0) "1.0" else "-1.0")
            .mkString(", ")}])"
        }.mkString(", ")
      s"""WITH pl AS (SELECT * FROM (VALUES $rows) t(dim, r))
         SELECT e.vec_id AS id, CAST(pl.dim AS INT) AS dim,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.r)
             / sqrt(8.0), 4) + 0.0 AS value
         FROM embeddings e CROSS JOIN pl ORDER BY id, dim"""
    },
    "embedding_cosine_topk" ->
      """SELECT query_id, corpus_id, rank, cos FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(c.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS INT)
               AS rank,
             round(CAST(list_cosine_similarity(
               CAST(c.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS DOUBLE), 4) + 0.0 AS cos
           FROM embeddings c, embeddings q
           WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "ann_ivf_kmeans" -> ivfKmeansOracleSql,
    "ann_pq" -> pqOracleSql(),
    // BM25 replica: the same left-associative double parse tree
    // (incl. (1.2 + 1.0) computed, not the 2.2 literal — one ulp of
    // constant drift would move micros at rounding boundaries),
    // micros-Long aggregation, micros-ranked top-k
    "text_bm25" ->
      s"""WITH qt AS (SELECT CAST(q AS BIGINT) AS query_id, term
           FROM (VALUES (0, 'fast'), (0, 'join'), (0, 'merge'),
             (1, 'slow'), (1, 'scan'),
             (2, 'spark'), (2, 'window'), (2, 'agg')) t(q, term)),
         w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           FROM documents),
         dlt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS avgdl
           FROM dlt),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(ws) AS term FROM w)
           WHERE term IN (SELECT DISTINCT term FROM qt)
           GROUP BY doc_id, term),
         dfr AS (SELECT term, df FROM
             (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY term) d, st
           WHERE CAST(d.df AS DOUBLE) <= 1.0 * st.n),
         sc AS (SELECT q.query_id, t.doc_id,
             CAST(round(
               ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
                 * t.tf * (1.2 + 1.0)
                 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dlt.dl
                     / st.avgdl))
                 * 1000000.0) AS BIGINT) AS micros
           FROM tf t
           JOIN qt q USING (term)
           JOIN dfr d USING (term)
           JOIN dlt USING (doc_id)
           CROSS JOIN st),
         ag AS (SELECT query_id, doc_id,
             CAST(sum(micros) AS BIGINT) AS su
           FROM sc GROUP BY query_id, doc_id)
         SELECT query_id, doc_id, rank, score FROM (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY su DESC, doc_id) AS INT) AS rank,
             round(su / 1000000.0, 6) + 0.0 AS score
           FROM ag)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // margin-mining replica: both k-NN windows, round-4 integer
    // neighborhood sums, the exact-integer margin divide, and the
    // per-query argmax on the ROUNDED margin
    "bitext_margin_mine" ->
      """WITH v AS (SELECT vec_id, label,
             CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         aa AS (SELECT vec_id, v FROM v WHERE label % 2 = 0),
         bb AS (SELECT vec_id, v FROM v WHERE label % 2 = 1),
         qa AS (SELECT vec_id, v FROM aa WHERE vec_id < 8),
         fwd AS (SELECT query_id, corpus_id, cos,
             CAST(round(cos * 10000) AS BIGINT) AS cos4
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               round(CAST(list_cosine_similarity(c.v, q.v) AS DOUBLE),
                 4) + 0.0 AS cos,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(c.v, q.v) DESC,
                   c.vec_id) AS rk
             FROM bb c JOIN qa q ON c.vec_id <> q.vec_id)
           WHERE rk <= 4),
         sa AS (SELECT query_id, CAST(sum(cos4) AS BIGINT) AS sum_a,
             CAST(count(*) AS BIGINT) AS n_a
           FROM fwd GROUP BY query_id),
         cand AS (SELECT DISTINCT corpus_id FROM fwd),
         bq AS (SELECT bb.vec_id, bb.v FROM bb
           JOIN cand ON cand.corpus_id = bb.vec_id),
         back AS (SELECT query_id, cos4 FROM (
             SELECT q.vec_id AS query_id,
               CAST(round((round(CAST(list_cosine_similarity(c.v, q.v)
                 AS DOUBLE), 4) + 0.0) * 10000) AS BIGINT) AS cos4,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(c.v, q.v) DESC,
                   c.vec_id) AS rk
             FROM aa c JOIN bq q ON c.vec_id <> q.vec_id)
           WHERE rk <= 4),
         sb AS (SELECT query_id AS corpus_id,
             CAST(sum(cos4) AS BIGINT) AS sum_b,
             CAST(count(*) AS BIGINT) AS n_b
           FROM back GROUP BY query_id),
         m AS (SELECT f.query_id AS id_a, f.corpus_id AS id_b, f.cos,
             round(CAST(2 * f.cos4 * sa.n_a * sb.n_b AS DOUBLE) /
               CAST(sb.sum_b * sa.n_a + sa.sum_a * sb.n_b AS DOUBLE),
               6) + 0.0 AS margin
           FROM fwd f
           JOIN sa USING (query_id)
           JOIN sb ON sb.corpus_id = f.corpus_id
           WHERE sb.sum_b * sa.n_a + sa.sum_a * sb.n_b > 0)
         SELECT id_a, id_b, cos, margin FROM (
           SELECT m.*, row_number() OVER (PARTITION BY id_a
             ORDER BY margin DESC, id_b) AS mrk FROM m)
         WHERE mrk = 1 ORDER BY id_a""",
    // SQ8 replica: the embedding_quantize codes CTE (same floor
    // round-half-up), code-domain cosine shortlist (scale cancels —
    // integer-valued doubles, so products are exact), exact re-rank
    "ann_sq8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
           FROM v WHERE v IS NOT NULL AND len(v) = 64),
         c AS (SELECT vec_id,
             CASE WHEN scale = 0
                  THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                  ELSE list_transform(v, x -> CAST(CAST(
                    floor(x / scale + 0.5) AS INT) AS DOUBLE))
             END AS codes
           FROM s),
         q AS (SELECT vec_id AS query_id, v AS qv FROM v
           WHERE vec_id < 5),
         sl AS (SELECT query_id, corpus_id FROM (
             SELECT q.query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(c.codes, q.qv) DESC,
                   c.vec_id) AS srk
             FROM c JOIN q ON c.vec_id <> q.query_id)
           WHERE srk <= 50),
         re AS (SELECT sl.query_id, sl.corpus_id,
             list_cosine_similarity(cv.v, qq.qv) AS cos
           FROM sl
           JOIN v cv ON cv.vec_id = sl.corpus_id
           JOIN q qq ON qq.query_id = sl.query_id)
         SELECT query_id, corpus_id, rank, cos FROM (
           SELECT query_id, corpus_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, corpus_id) AS INT) AS rank,
             round(CAST(cos AS DOUBLE), 4) + 0.0 AS cos
           FROM re)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "ann_ivfpq" -> ivfPqOracleSql(),
    "ann_ivfpq_incremental" ->
      ivfPqOracleSql(shortlist = 50,
        queryPred = "vec_id >= 5 AND vec_id < 10"),
    // the streaming ingest must converge to the batch path's index —
    // same oracle by construction (see the registration comment)
    "streaming_ivfpq_ingest" ->
      ivfPqOracleSql(shortlist = 50,
        queryPred = "vec_id >= 5 AND vec_id < 10"),
    "text_sentences" ->
      """WITH s AS (SELECT doc_id,
           list_filter(list_transform(
             string_split_regex(text, '[.!?]+'), x -> trim(x)),
             x -> len(x) > 0) AS ss FROM documents)
         SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, ss[i] AS sentence
         FROM (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS i
               FROM s)
         ORDER BY doc_id, sent_idx""",
    "text_collocations" ->
      s"""WITH w AS (SELECT string_split($normSql, ' ') AS ws
             FROM documents),
         uni AS (SELECT unnest(ws) AS tok FROM w),
         uc AS (SELECT tok, count(*) AS c_w FROM uni GROUP BY tok),
         bgs AS (SELECT ws[i] || ' ' || ws[i+1] AS bg
                 FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w)),
         bc AS (SELECT bg, count(*) AS c_bg FROM bgs GROUP BY bg),
         nu AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_u FROM uc),
         nb AS (SELECT CAST(sum(c_bg) AS BIGINT) AS n_bg FROM bc),
         j AS (SELECT bc.bg, bc.c_bg, u1.c_w AS c_w1, u2.c_w AS c_w2
               FROM bc
               JOIN uc u1 ON string_split(bc.bg, ' ')[1] = u1.tok
               JOIN uc u2 ON string_split(bc.bg, ' ')[2] = u2.tok
               WHERE bc.c_bg >= 5)
         SELECT bg, CAST(c_bg AS BIGINT) AS c_bg,
           round(ln(CAST(c_bg AS DOUBLE) * n_u * n_u /
             (CAST(n_bg AS DOUBLE) * c_w1 * c_w2)), 6) + 0.0 AS pmi
         FROM j CROSS JOIN nu CROSS JOIN nb
         ORDER BY pmi DESC, bg LIMIT 50""",
    "text_c4_filters" ->
      s"""WITH u AS (SELECT doc_id, coalesce(text, '') AS text
           FROM documents
           UNION ALL SELECT * FROM (VALUES
             (3000001, 'lorem ipsum dolor sit amet' || chr(10) ||
               'this is filler.'),
             (3000002, 'function() { return 1; }'),
             (3000003, '- item one' || chr(10) || '- item two' ||
               chr(10) || '- item three'),
             (3000004, 'to be continued...' || chr(10) || 'and more' ||
               chr(8230))) v(doc_id, text)),
         $c4SigCtes
         SELECT *, ($c4KeepPred) AS keep
         FROM sig ORDER BY doc_id""",
    "text_normalize" ->
      """WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (2000001, 'cafe' || chr(769) || ' latte'),
             (2000002, chr(8491) || 'ngstr' || chr(246) || 'm'),
             (2000003, chr(4370) || chr(4449) || chr(4523)),
             (2000004, 'plain ascii')) v(doc_id, text)),
         n AS (SELECT doc_id, text, nfc_normalize(text) AS nfc_text
               FROM u)
         SELECT doc_id, nfc_text, text <> nfc_text AS changed
         FROM n ORDER BY doc_id""",
    "text_langid" -> {
      val langs = TextAnalysis.langStopwords
      val counts = langs.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"count(CASE WHEN tok IN ($inList) THEN 1 END) AS c_$lang"
      }.mkString(", ")
      val langCodes = langs.map(_._1)
      val argmax = langCodes.map { l =>
        val geAll = langCodes.map(o => s"c_$l >= c_$o").mkString(" AND ")
        s"WHEN $geAll AND c_$l > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH toks AS (SELECT doc_id,
             unnest(string_split($normSql, ' ')) AS tok
           FROM (SELECT doc_id, coalesce(text, '') AS text
                 FROM documents)),
         cnt AS (SELECT doc_id, $counts FROM toks GROUP BY doc_id),
         cjk AS (SELECT doc_id,
             regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
           FROM documents)
         SELECT d.doc_id,
           CASE WHEN cjk.has_cjk THEN 'zh' $argmax ELSE 'und' END
             AS lang_id
         FROM documents d
         JOIN cnt ON cnt.doc_id = d.doc_id
         JOIN cjk ON cjk.doc_id = d.doc_id
         ORDER BY d.doc_id"""
    },
    "text_quality" -> {
      val en = TextAnalysis.langStopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, text,
             CAST(length(text) AS INT) AS n_chars_calc,
             $tokWsSql AS tok_ws,
             CAST(len(regexp_extract_all(text,
               '[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS INT) AS tok_bpe,
             CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))
               AS INT) AS punct_cnt,
             len(list_filter(string_split($normSql, ' '),
               t -> t IN ($en))) AS sw_cnt
           FROM documents)
         SELECT doc_id, n_chars_calc, tok_ws, tok_bpe, punct_cnt,
           round(CASE WHEN tok_ws = 0 THEN 0.0
                 ELSE CAST(sw_cnt AS DOUBLE) / tok_ws END, 6)
             AS sw_ratio,
           CASE WHEN n_chars_calc IS NULL THEN NULL ELSE
           round((least(CAST(n_chars_calc AS DOUBLE) / 500.0, 1.0)
             + greatest(0.0, 1.0 - (CASE WHEN n_chars_calc = 0 THEN 0.0
                 ELSE CAST(punct_cnt AS DOUBLE) / n_chars_calc END) * 5.0)
             + least((CASE WHEN tok_ws = 0 THEN 0.0
                 ELSE CAST(sw_cnt AS DOUBLE) / tok_ws END) * 4.0, 1.0))
             / 3.0, 6) END AS quality
         FROM base ORDER BY doc_id"""
    },
    "corpus_quality_sample" -> {
      val en = TextAnalysis.langStopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id,
             CAST(length(text) AS INT) AS n_chars,
             $tokWsSql AS tok_ws,
             CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))
               AS INT) AS punct_cnt,
             len(list_filter(string_split($normSql, ' '),
               t -> t IN ($en))) AS sw_cnt
           FROM documents),
         q AS (SELECT doc_id,
           CASE WHEN n_chars IS NULL THEN NULL ELSE
           round((least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
             + greatest(0.0, 1.0 - (CASE WHEN n_chars = 0 THEN 0.0
                 ELSE CAST(punct_cnt AS DOUBLE) / n_chars END) * 5.0)
             + least((CASE WHEN tok_ws = 0 THEN 0.0
                 ELSE CAST(sw_cnt AS DOUBLE) / tok_ws END) * 4.0, 1.0))
             / 3.0, 6) END AS quality
           FROM base)
         SELECT doc_id, quality FROM q
         WHERE quality >= 1.0 OR
           ('0x' || substr(md5(doc_id || 'graft'), 1, 4))::INT
             < CAST(floor(quality * 65536) AS INT)
         ORDER BY doc_id"""
    },
    "text_repetition" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS w
             FROM documents),
         tok_stats AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tok,
             len(list_distinct(w)) AS n_tok_distinct FROM toks),
         bg AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(w) - 1),
             i -> w[i] || ' ' || w[i + 1])) AS bg FROM toks),
         bg_cnt AS (SELECT doc_id, bg, count(*) AS cnt
             FROM bg GROUP BY 1, 2),
         bg_stats AS (SELECT doc_id, sum(cnt) AS total_bg,
             max(cnt) AS top_bg, count(*) AS distinct_bg
             FROM bg_cnt GROUP BY 1)
         SELECT t.doc_id, t.n_tok,
           round(1.0 - t.n_tok_distinct / CAST(t.n_tok AS DOUBLE), 6)
             AS dup_token_ratio,
           round(coalesce(1.0 - b.distinct_bg / CAST(b.total_bg AS DOUBLE),
             0.0), 6) AS dup_bigram_frac,
           round(coalesce(b.top_bg / CAST(b.total_bg AS DOUBLE), 0.0), 6)
             AS top_bigram_frac
         FROM tok_stats t LEFT JOIN bg_stats b ON t.doc_id = b.doc_id
         ORDER BY t.doc_id""",
    "benchmark_decontaminate" -> decontaminateOracle,
    "corpus_novelty" ->
      s"""WITH u AS (
           SELECT doc_id, coalesce(text, '') AS text FROM documents
           UNION ALL
           SELECT doc_id + 5000000,
             CASE WHEN doc_id % 2 = 0 THEN coalesce(text, '')
               ELSE coalesce(text, '') ||
                 ' entirely novel trailing sentence number ' ||
                 CAST(doc_id AS VARCHAR) END
           FROM documents),
         $shingleCte,
         old AS (SELECT DISTINCT g FROM sd WHERE id < 5000000),
         nw AS (SELECT id, g FROM sd WHERE id >= 5000000),
         j AS (SELECT nw.id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
           FROM nw LEFT JOIN old o USING (g) GROUP BY nw.id)
         SELECT id AS doc_id, n_shingles, n_novel,
           round(n_novel / CAST(n_shingles AS DOUBLE), 6) AS novelty
         FROM j ORDER BY doc_id""",
    // bit-identical result to the exact path (bloom adds no false
    // negatives and the exact join removes false positives) — the
    // SAME oracle checks both plans
    "benchmark_decontaminate_bloom" -> decontaminateOracle,
    "corpus_filter" -> {
      val langs = TextAnalysis.langStopwords
      val scoreCols = langs.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($inList))) AS c_$lang"
      }.mkString(", ")
      val langCodes = langs.map(_._1)
      val argmax = langCodes.map { l =>
        val geAll = langCodes.map(o => s"c_$l >= c_$o").mkString(" AND ")
        s"WHEN $geAll AND c_$l > 0 THEN '$l'"
      }.mkString(" ")
      val en = TextAnalysis.langStopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, text,
             md5($normSql) AS fp,
             string_split($normSql, ' ') AS toks,
             CAST(length(text) AS INT) AS n_chars,
             $tokWsSql AS tok_ws,
             CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))
               AS INT) AS punct_cnt,
             regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
           FROM documents),
         sig AS (SELECT doc_id, fp, toks, n_chars, tok_ws, punct_cnt,
             has_cjk, $scoreCols,
             len(list_filter(toks, t -> t IN ($en))) AS sw_cnt
           FROM base),
         scored AS (SELECT doc_id, fp,
             CASE WHEN has_cjk THEN 'zh' $argmax ELSE 'und' END AS lang,
             round((least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
               + greatest(0.0, 1.0 - (CASE WHEN n_chars = 0 THEN 0.0
                   ELSE CAST(punct_cnt AS DOUBLE) / n_chars END) * 5.0)
               + least((CASE WHEN tok_ws = 0 THEN 0.0
                   ELSE CAST(sw_cnt AS DOUBLE) / tok_ws END) * 4.0, 1.0))
               / 3.0, 6) AS quality,
             round(1.0 - len(list_distinct(toks))
               / CAST(len(toks) AS DOUBLE), 6) AS dup_token_ratio
           FROM sig),
         keep AS (SELECT fp, min(doc_id) AS keep_id
           FROM scored GROUP BY fp)
         SELECT s.doc_id, s.lang, s.quality, s.dup_token_ratio
         FROM scored s
         JOIN keep k ON s.fp = k.fp AND s.doc_id = k.keep_id
         WHERE s.lang = 'en' AND s.quality >= 0.55
           AND s.dup_token_ratio <= 0.55
         ORDER BY s.doc_id"""
    },
    "text_redact_pii" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           text || ' contact user' || doc_id || '@example.com at 10.0.'
             || (doc_id % 256) || '.7 or 555-867-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",
    "corpus_split" ->
      """SELECT doc_id,
         CASE WHEN substr(md5(doc_id || 'graft'), 1, 4) < 'cccd'
              THEN 'train' ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    "doc_fingerprint" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents),
         $shingleCte
         SELECT d.doc_id, md5($normSql) AS fp, mn.rolling_fp
         FROM documents d
         JOIN (SELECT id, min(md5(g)) AS rolling_fp FROM sd GROUP BY id)
           mn ON mn.id = d.doc_id
         ORDER BY d.doc_id""",
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
         CAST(16 + 2 * (doc_id % 8) AS INT) AS width,
         CAST(16 + (doc_id % 16) AS INT) AS height,
         CAST((doc_id % 256) + ((doc_id * 7 + 13) % 256) AS DOUBLE) / 2
           AS mean_px,
         TRUE AS decoded
         FROM documents ORDER BY media_id""",
    // signature replayed from the closed-form per-frame luma ramp —
    // the brightness shift cancels in the deltas, so every variant of
    // an id shares its signature and the pair set is the 3-choose-2
    // per id (plus any genuine cross-id ramp collisions, none at <48)
    "video_signature_dedup" ->
      """WITH ids AS MATERIALIZED (SELECT DISTINCT doc_id AS id
           FROM documents WHERE doc_id >= 0 AND doc_id < 48),
         var AS (SELECT id, unnest([0, 1, 2]) AS v,
           CAST(8 + id % 5 AS INT) AS nf FROM ids),
         sigs AS MATERIALIZED (SELECT
           CAST(id + CASE v WHEN 0 THEN 0 WHEN 1 THEN 5000000
             ELSE 6000000 END AS BIGINT) AS media_id,
           nf AS n_frames,
           (SELECT string_agg(CAST(
               (((id * 31 + k * k * 7 + k * 17) % 200)
                - ((id * 31 + (k-1) * (k-1) * 7 + (k-1) * 17) % 200))
               * 8 AS VARCHAR), ',' ORDER BY k)
            FROM unnest(range(1, nf)) AS t(k)) AS sig
           FROM var)
         SELECT a.media_id AS id1, b.media_id AS id2,
           a.n_frames AS n_frames
         FROM sigs a JOIN sigs b
           ON a.sig = b.sig AND a.n_frames = b.n_frames
             AND a.media_id < b.media_id
         ORDER BY id1, id2""",
    // envelope hash predicted arithmetically: cell mean = avg over 16
    // samples of ((id*13+7)%15000 + t*(1+id%9))%15000 + 1000 (+4000
    // for the perturbed variant's cell 0); the 2× resample has
    // identical cell means. Same dyadic-exactness and HUGEINT-cast
    // notes as image_phash_dedup below.
    "audio_phash_dedup" ->
      """WITH ids AS MATERIALIZED (SELECT DISTINCT doc_id AS id
           FROM documents WHERE doc_id >= 0 AND doc_id < 48),
         var AS (SELECT id, unnest([0, 1, 2]) AS v FROM ids),
         cells AS MATERIALIZED (SELECT id, v, c AS k,
           list_sum(list_transform(range(0, 16), dt ->
             CAST(((id * 13 + 7) % 15000 + (c * 16 + dt) * (1 + id % 9))
               % 15000 + 1000 AS DOUBLE))) / 16.0
           + CASE WHEN v = 2 AND c = 0 THEN 4000.0 ELSE 0.0 END AS m
           FROM var
           CROSS JOIN (SELECT unnest(range(0, 64)) AS c)),
         hashes AS MATERIALIZED (SELECT
           CAST(id + CASE v WHEN 0 THEN 0 WHEN 1 THEN 5000000
             ELSE 6000000 END AS BIGINT) AS media_id,
           CAST(sum(CASE WHEN m > g THEN
                 CASE WHEN k = 63 THEN -9223372036854775808
                   ELSE (CAST(1 AS BIGINT) << k) END
               ELSE 0 END) AS BIGINT) AS ahash
           FROM (SELECT *, sum(m) OVER (PARTITION BY id, v) / 64 AS g
                 FROM cells)
           GROUP BY id, v),
         ch AS MATERIALIZED (SELECT media_id, ahash, j,
           (ahash >> (j * 16)) & 65535 AS ck
           FROM hashes
           CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         p AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
           a.ahash AS h1, b.ahash AS h2
           FROM ch a JOIN ch b
             ON a.j = b.j AND a.ck = b.ck AND a.media_id < b.media_id)
         SELECT id1, id2,
           CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
         FROM p WHERE bit_count(xor(h1, h2)) <= 3
         ORDER BY id1, id2""",
    // the aHash is predicted arithmetically: cell mean = avg over the
    // 4×4 original block of (c + x·sx + y·sy) mod 200 (+50 for the
    // perturbed variant's cell (0,0)); the 2× resize has identical
    // cell means by construction. All means are dyadic rationals —
    // sums are exact in any order, so the comparison against the
    // global mean replicates the decode-side hash bit for bit. Bit 63
    // is added as the BIGINT min-value constant (1<<63 overflows).
    "image_phash_dedup" ->
      """WITH ids AS MATERIALIZED (SELECT DISTINCT doc_id AS id
           FROM documents WHERE doc_id >= 0 AND doc_id < 48),
         var AS (SELECT id, unnest([0, 1, 2]) AS v FROM ids),
         cells AS MATERIALIZED (SELECT id, v, cy * 8 + cx AS k,
           list_sum(flatten(list_transform(range(0, 4), dy ->
             list_transform(range(0, 4), dx ->
               CAST(((id * 11 + 3) % 200 + (cx * 4 + dx) * (1 + id % 7)
                 + (cy * 4 + dy) * (1 + id % 5)) % 200 AS DOUBLE)))))
             / 16.0
           + CASE WHEN v = 2 AND cy = 0 AND cx = 0
               THEN 50.0 ELSE 0.0 END AS m
           FROM var
           CROSS JOIN (SELECT unnest(range(0, 8)) AS cy)
           CROSS JOIN (SELECT unnest(range(0, 8)) AS cx)),
         hashes AS MATERIALIZED (SELECT
           CAST(id + CASE v WHEN 0 THEN 0 WHEN 1 THEN 5000000
             ELSE 6000000 END AS BIGINT) AS media_id,
           -- CAST back to BIGINT: sum(BIGINT) is HUGEINT in DuckDB,
           -- and xor/bit_count on a negative HUGEINT sign-extend to
           -- 128 bits (Hamming +64 for mixed-sign pairs)
           CAST(sum(CASE WHEN m > g THEN
                 CASE WHEN k = 63 THEN -9223372036854775808
                   ELSE (CAST(1 AS BIGINT) << k) END
               ELSE 0 END) AS BIGINT) AS ahash
           FROM (SELECT *, sum(m) OVER (PARTITION BY id, v) / 64 AS g
                 FROM cells)
           GROUP BY id, v),
         ch AS MATERIALIZED (SELECT media_id, ahash, j,
           (ahash >> (j * 16)) & 65535 AS ck
           FROM hashes
           CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         p AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
           a.ahash AS h1, b.ahash AS h2
           FROM ch a JOIN ch b
             ON a.j = b.j AND a.ck = b.ck AND a.media_id < b.media_id)
         SELECT id1, id2,
           CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
         FROM p WHERE bit_count(xor(h1, h2)) <= 3
         ORDER BY id1, id2""",
    "source_binaryfile_media" ->
      """SELECT doc_id AS media_id,
         CAST(16 + 2 * (doc_id % 8) AS INT) AS width,
         CAST(16 + (doc_id % 16) AS INT) AS height,
         CAST((doc_id % 256) + ((doc_id * 7 + 13) % 256) AS DOUBLE) / 2
           AS mean_px,
         TRUE AS decoded
         FROM range(64) t(doc_id) ORDER BY media_id""",
    "multimodal_audio" ->
      """SELECT doc_id AS media_id,
         CAST(CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
         CAST(800 + (doc_id % 50) * 16 AS BIGINT) AS n_samples,
         round((800 + (doc_id % 50) * 16) * 1000.0 /
           (CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                 WHEN 2 THEN 22050 ELSE 44100 END), 6) AS duration_ms,
         CAST((doc_id % 100) * 250 + ((doc_id * 7 + 13) % 100) * 250
           AS DOUBLE) / 2 AS mean_amp,
         TRUE AS decoded
         FROM documents ORDER BY media_id""",
    "multimodal_video" ->
      """WITH v AS (SELECT doc_id, CAST(3 + (doc_id % 6) AS INT)
           AS n_frames FROM documents)
         SELECT doc_id AS media_id,
         CAST(16 + 2 * (doc_id % 8) AS INT) AS width,
         CAST(16 + 2 * (doc_id % 12) AS INT) AS height,
         n_frames,
         round(n_frames * 1000.0 / 25, 6) AS duration_ms,
         round(CAST(list_sum(list_transform(
             range(0, CAST(n_frames AS BIGINT)),
             k -> (doc_id * 31 + k * 17) % 256)) AS DOUBLE) / n_frames,
           6) AS mean_y,
         TRUE AS decoded
         FROM v ORDER BY media_id""",
    "multimodal_video_frames" ->
      """WITH v AS (SELECT doc_id, CAST(3 + (doc_id % 6) AS INT)
           AS n_frames FROM documents)
         SELECT doc_id AS media_id,
         CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx,
         n_frames
         FROM v ORDER BY media_id, frame_idx""",
    "multimodal_frame_sample" ->
      """SELECT doc_id AS media_id,
         CAST(unnest(range(0, CAST(floor(octet_length(encode(text))
           / 16) AS INT) + 1, 10)) AS INT) AS frame_idx,
         CAST(floor(octet_length(encode(text)) / 16) + 1 AS INT)
           AS n_frames
         FROM documents ORDER BY media_id, frame_idx""",
    "trgx_tree_ops" ->
      """SELECT o_custkey AS custkey, CAST(2 AS INT) AS depth,
         count(*) AS n_paths,
         count(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS n_days
         FROM orders GROUP BY o_custkey ORDER BY custkey""",
    "text_token_topk" ->
      """SELECT tok, count(*) AS cnt FROM (
           SELECT unnest(string_split(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
             AS tok FROM documents)
         GROUP BY tok ORDER BY cnt DESC, tok LIMIT 50""",
    "bpe_tokenize" ->
      """SELECT doc_id,
           CASE WHEN nrm = '' THEN 0
                ELSE len(string_split(nrm, ' ')) END AS n_words,
           CAST(length(replace(nrm, ' ', '')) AS BIGINT) AS n_chars,
           true AS ge_words_ok, true AS le_chars_ok,
           true AS roundtrip_ok
         FROM (SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')),
             '\s+', ' ', 'g')) AS nrm FROM documents)
         ORDER BY doc_id""",
    "bpe_train_distributed" -> bpeTrainOracleSql(12),
    "trgx_shift_cut" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS asof
           FROM orders),
         d AS (SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE)
             AS dt, CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders),
         w AS (SELECT unnest([0, 1, 2]) AS w)
         SELECT custkey, CAST(w.w AS INT) AS w,
           CAST(CAST(sum(p) AS DECIMAL(38,2)) AS VARCHAR) AS price_sum
         FROM d CROSS JOIN w CROSS JOIN mx
         WHERE dt <= mx.asof - to_days(CAST(w.w * 365 AS INT))
           AND dt >= mx.asof - to_days(CAST(w.w * 365 + 364 AS INT))
         GROUP BY custkey, w.w
         ORDER BY custkey, w""",
    "source_warc_scan" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(200 AS INT) AS http_status,
           'text/html' AS content_type,
           trim(regexp_replace(coalesce(text, ''),
             '[ \t\r\n\f\x0B]+', ' ', 'g')) AS text
         FROM documents WHERE doc_id < 192 ORDER BY doc_id""",
    "html_text_extract" -> {
      import graft.llm.HtmlText
      val page = HtmlText.wrapPageSql("CAST(doc_id AS VARCHAR)",
        HtmlText.escapeHtmlSql("coalesce(text, '')"))
      s"""SELECT doc_id, ${HtmlText.htmlToTextSql(s"($page)")} AS text
         FROM documents ORDER BY doc_id"""
    },
    "html_links" -> {
      import graft.llm.HtmlText
      val links = HtmlText.extractLinksSql("html")
      """WITH d AS (SELECT doc_id,
             coalesce(source, 'unk') || '.example.com' AS sdom,
             coalesce(lang, 'und') || '.example.org' AS ldom
           FROM documents),
         h AS (SELECT doc_id,
             '<html><body><p>intro <a class="x" href="' ||
             'https://' || sdom || '/doc/' || CAST(doc_id AS VARCHAR) ||
             '">one</a> mid' ||
             CASE WHEN doc_id % 3 = 0 THEN
               ' <A HREF="HTTP://WWW.' || ldom || '/p?id=' ||
               CAST(doc_id AS VARCHAR) || '&utm_source=x">two</A>'
             ELSE '' END ||
             ' <a name="no-href">skip</a> tail</p></body></html>'
             AS html FROM d),
         l AS (SELECT doc_id, """ + links + """ AS ls FROM h)
         SELECT doc_id,
           unnest(range(0, len(ls))) AS link_idx,
           unnest(ls) AS href
         FROM l WHERE len(ls) > 0
         ORDER BY doc_id, link_idx"""
    },
    "link_pagerank" -> pagerankOracleSql(5),
    "link_pagerank_converged" ->
      pagerankConvergedOracleSql(500000000000L, 10),
    // Hamilton largest-remainder over the 5-iteration rank chain —
    // floors/remainders exact BIGINT, +1s by (rem DESC, node) like the
    // Spark two-phase rank (corpus_quota's replica over a rank source)
    "link_crawl_budget" ->
      s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pagerankFreshSeed("")},
         ${pagerankIterCtes("", 5)},
         t AS (SELECT sum(rank_s) AS W FROM r_5),
         f AS (SELECT node, rank_s,
             CAST((100000 * rank_s) // t.W AS BIGINT) AS fl,
             CAST((100000 * rank_s) % t.W AS BIGINT) AS rem
           FROM r_5 CROSS JOIN t),
         kk AS (SELECT 100000 - sum(fl) AS k FROM f),
         r AS (SELECT node, rank_s, fl, rem, row_number()
             OVER (ORDER BY rem DESC, node NULLS FIRST) AS rk FROM f)
         SELECT r.node, r.rank_s,
           CAST(r.fl + CASE WHEN r.rk <= kk.k THEN 1 ELSE 0 END
             AS BIGINT) AS quota
         FROM r CROSS JOIN kk ORDER BY node""",
    // Hamilton over the trust-reachable rank share least(ppr, pr)⁺ —
    // both unrolled chains + the BIGINT floor/remainder replica
    "link_crawl_budget_trusted" ->
      s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ${pagerankFreshSeed("")},
         ${pagerankIterCtes("", 5)},
         ${pprCtes(5)},
         wgt AS (SELECT r.node,
             greatest(least(p.rank_s, r.rank_s), 0) AS trusted_s
           FROM r_5 r JOIN pr_5 p ON p.node = r.node),
         t AS (SELECT sum(trusted_s) AS W FROM wgt),
         f AS (SELECT node, trusted_s,
             CAST((100000 * trusted_s) // t.W AS BIGINT) AS fl,
             CAST((100000 * trusted_s) % t.W AS BIGINT) AS rem
           FROM wgt CROSS JOIN t),
         kk AS (SELECT 100000 - sum(fl) AS k FROM f),
         rnk AS (SELECT node, trusted_s, fl, rem, row_number()
             OVER (ORDER BY rem DESC, node NULLS FIRST) AS rk FROM f)
         SELECT rnk.node, CAST(rnk.trusted_s AS BIGINT) AS trusted_s,
           CAST(rnk.fl + CASE WHEN rnk.rk <= kk.k THEN 1 ELSE 0 END
             AS BIGINT) AS quota
         FROM rnk CROSS JOIN kk ORDER BY node""",
    "link_pagerank_resume_converged" ->
      pagerankResumeConvergedOracleSql(3, 500000000000L, 8),
    "link_pagerank_incremental" -> pagerankIncrementalOracleSql(3, 2),
    "link_pagerank_personalized" -> pprOracleSql(5),
    "link_spam_mass" -> spamMassOracleSql(5),
    "link_rank_tables" -> rankTablesOracleSql(5),
    "link_hits" -> hitsOracleSql(3),
    "link_triangles" -> trianglesOracleSql,
    "link_label_prop" -> labelPropOracleSql(3),
    "link_kcore" -> kCoreOracleSql(2, 8),
    "link_bowtie" -> bowtieOracleSql,
    "link_scc_census" -> sccCensusOracleSql,
    "link_neighborhood_function" -> neighborhoodOracleSql,
    "link_communities" -> communitiesOracleSql(4),
    "link_pagerank_weighted" -> wpagerankOracleSql(5),
    "benchmark_decontaminate_exact" -> exactDecontaminateOracleSql,
    // the ingest-time screen must converge to the batch screen under
    // any batch split — same oracle by construction
    "streaming_decontaminate_ingest" -> exactDecontaminateOracleSql,
    // reciprocity + assortativity replica: HUGEINT Pearson components
    // (cast BEFORE multiplying, mirroring the decimal(38,0) side),
    // double arithmetic only in the final ratio
    "link_graph_stats" ->
      s"""WITH ${pagerankGraphCtes("", "TRUE")},
         ee AS MATERIALIZED (SELECT DISTINCT src, dst FROM e
           WHERE src <> dst),
         rc AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
           FROM ee a WHERE EXISTS (SELECT 1 FROM ee b
             WHERE b.src = a.dst AND b.dst = a.src)),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ee),
         und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b FROM ee),
         nu AS (SELECT CAST(count(*) AS BIGINT) AS n_und_edges
           FROM und),
         dg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
           FROM (SELECT a AS node FROM und
                 UNION ALL SELECT b FROM und) GROUP BY node),
         db AS (SELECT du.degree AS du, dv.degree AS dv
           FROM (SELECT a AS u, b AS v FROM und
                 UNION ALL SELECT b, a FROM und) d
           JOIN dg du ON du.node = d.u
           JOIN dg dv ON dv.node = d.v),
         cp AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(du) AS HUGEINT) AS sx,
             CAST(sum(CAST(du AS HUGEINT) * du) AS HUGEINT) AS sxx,
             CAST(sum(CAST(du AS HUGEINT) * dv) AS HUGEINT) AS sxy
           FROM db)
         SELECT ne.n_edges, rc.n_reciprocal,
           CASE WHEN ne.n_edges > 0 THEN
             round(CAST(rc.n_reciprocal AS DOUBLE) /
               CAST(ne.n_edges AS DOUBLE), 6) + 0.0 END AS reciprocity,
           nu.n_und_edges,
           CASE WHEN (CAST(cp.n AS DOUBLE) * CAST(cp.sxx AS DOUBLE) -
                      CAST(cp.sx AS DOUBLE) * CAST(cp.sx AS DOUBLE))
                     > 0
             THEN round(
               (CAST(cp.n AS DOUBLE) * CAST(cp.sxy AS DOUBLE) -
                CAST(cp.sx AS DOUBLE) * CAST(cp.sx AS DOUBLE)) /
               (CAST(cp.n AS DOUBLE) * CAST(cp.sxx AS DOUBLE) -
                CAST(cp.sx AS DOUBLE) * CAST(cp.sx AS DOUBLE)), 6)
               + 0.0 END AS assortativity
         FROM ne CROSS JOIN rc CROSS JOIN nu CROSS JOIN cp""",
    "streaming_pagerank_ingest" -> pagerankStreamingOracleSql(3, 2),
    // the incremental streaming census must converge to the batch
    // census of the full graph — the same pure recursive-CTE closure
    // oracle, verbatim
    "streaming_scc_ingest" -> sccCensusOracleSqlWith(
      """UNION ALL
         SELECT DISTINCT 'newa.test', 'newb.test' FROM documents"""),
    "robots_filter" ->
      """WITH d AS (SELECT doc_id, coalesce(source, 'unk') AS src0
             FROM documents),
         u AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'unlisted.example.net'
                  ELSE src0 || '.example.com' END AS host,
             CASE WHEN doc_id % 4 = 0
                    THEN '/doc/' || CAST(doc_id AS VARCHAR)
                  WHEN doc_id % 4 = 1
                    THEN '/private/x' || CAST(doc_id AS VARCHAR)
                  WHEN doc_id % 4 = 2
                    THEN '/private/public/y' || CAST(doc_id AS VARCHAR)
                  ELSE '/other/' || CAST(doc_id AS VARCHAR) END AS path
           FROM d),
         h AS (SELECT DISTINCT src0 || '.example.com' AS host FROM d),
         r AS (SELECT host, false AS allow, '/private' AS prefix FROM h
           UNION ALL SELECT host, true, '/private/public' FROM h
           UNION ALL SELECT host, false, '' FROM h
           UNION ALL SELECT host, true, '/doc' FROM h),
         m AS (SELECT u.doc_id, max(length(r.prefix) * 2 +
               CASE WHEN r.allow THEN 1 ELSE 0 END) AS s
           FROM u JOIN r ON r.host = u.host
             AND starts_with(u.path, r.prefix)
           GROUP BY u.doc_id)
         SELECT u.doc_id, u.host, u.path,
           coalesce(m.s % 2 = 1, true) AS allowed
         FROM u LEFT JOIN m USING (doc_id) ORDER BY doc_id""",
    "streaming_warc_ingest" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(200 AS INT) AS http_status,
           'text/html' AS content_type,
           trim(regexp_replace(coalesce(text, ''),
             '[ \t\r\n\f\x0B]+', ' ', 'g')) AS text
         FROM documents WHERE doc_id < 96 ORDER BY doc_id""",
    "crawl_pipeline" ->
      """WITH src AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
             trim(regexp_replace(coalesce(text, ''),
               '[ \t\r\n\f\x0B]+', ' ', 'g')) AS xt
           FROM documents WHERE doc_id < 192),
         uni AS (SELECT doc_id, xt FROM src
                 UNION ALL
                 SELECT doc_id + 10000, xt FROM src WHERE doc_id < 32),
         ded AS (SELECT min(doc_id) AS doc_id, count(*) AS dup_count
                 FROM uni GROUP BY lower(xt)),
         j AS (SELECT d.doc_id, d.dup_count, u.xt
               FROM ded d JOIN uni u ON u.doc_id = d.doc_id)
         SELECT doc_id, dup_count, CAST(length(xt) AS INT) AS n_chars
         FROM j WHERE length(xt) > 0 ORDER BY doc_id"""
  )
}
