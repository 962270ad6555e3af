package graft.sql

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Explode, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.types.IntegerType

import graft.agg.{CollectKvAgg, StrExtremumAgg, TrDimensionMetricsAgg}
import graft.functions.{DotProduct, MinHashSig, NormalizeNFC, SimHash64}

/** SQL surface for graft's native Catalyst expressions and aggregates —
  * the `SparkSessionExtensions` registration layer (SURVEY §2.9).
  *
  * Two entry points, same function set:
  *  - `spark.sql.extensions=graft.sql.GraftExtensions` at session build
  *    (the standard extension-library path), or
  *  - `GraftFunctions.register(spark)` on an existing session.
  *
  * Registered functions (all prefixed `graft_` to keep clear of
  * built-ins):
  *  - `graft_simhash64(tokens)` → BIGINT SimHash over an ARRAY<STRING>
  *    of tokens (SimHash64.scala)
  *  - `graft_nfc(text)` → STRING Unicode NFC canonicalization
  *    (NormalizeNFC.scala)
  *  - `graft_dot(a, b)` → DOUBLE native dot product over two
  *    ARRAY<DOUBLE> (DotProduct.scala)
  *  - `graft_minhash_sig(hashes, k)` → ARRAY<BIGINT> signature over an
  *    ARRAY<BIGINT> of shingle hashes; k must be a literal
  *    (MinHashSig.scala)
  *  - `graft_collect_kv(k, v)` → MAP<STRING,STRING> last-write-wins
  *    aggregate (reference trgx.clj:45; NativeAggs.scala)
  *  - `graft_tr_dimension_metrics(dims, metrics)` → pair-tree JSON
  *    aggregate (reference trgx.clj:72-79; NativeAggs.scala)
  *  - `graft_str_max(s)` / `graft_str_min(s)` → STRING extremum
  *    aggregates that plan as ObjectHashAggregate instead of the
  *    SortAggregate built-in min/max force on strings
  *    (NativeAggs.scala)
  */
object GraftFunctions {

  private def info(name: String, clazz: Class[_], usage: String) =
    new ExpressionInfo(clazz.getCanonicalName, null, name, usage, "")

  private def arityError(name: String, expected: String,
                         got: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(
      s"$name expects $expected, got ${got.length} argument(s)")

  /** (identifier, info, builder) triples — the exact shape
    * `SparkSessionExtensions.injectFunction` takes. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", classOf[SimHash64],
        "graft_simhash64(tokens) - 64-bit SimHash over an " +
          "array<string> of tokens"),
      {
        case Seq(e) => SimHash64(e)
        case other  => arityError("graft_simhash64", "1 argument", other)
      }),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", classOf[NormalizeNFC],
        "graft_nfc(text) - Unicode NFC canonical normalization"),
      {
        case Seq(e) => NormalizeNFC(e)
        case other  => arityError("graft_nfc", "1 argument", other)
      }),
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", classOf[DotProduct],
        "graft_dot(a, b) - dot product of two array<double> vectors"),
      {
        case Seq(a, b) => DotProduct(a, b)
        case other     => arityError("graft_dot", "2 arguments", other)
      }),
    (FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", classOf[MinHashSig],
        "graft_minhash_sig(hashes, k) - k-slot MinHash signature over " +
          "an array<bigint> of shingle hashes; k must be an int literal"),
      {
        case Seq(e, Literal(k: Int, IntegerType)) =>
          // validated HERE, not at execution: a negative k would throw
          // NegativeArraySizeException per row (a task-failure storm)
          // and k=0 would silently emit empty signatures that LSH
          // banding buckets into nothing
          if (k < 1) throw new IllegalArgumentException(
            s"graft_minhash_sig: k must be >= 1, got $k")
          MinHashSig(e, k)
        case Seq(_, bad) => throw new IllegalArgumentException(
          "graft_minhash_sig: k must be an INT literal (constant " +
            "expressions are not folded at resolution time), got " +
            bad.sql)
        case other =>
          arityError("graft_minhash_sig", "2 arguments", other)
      }),
    (FunctionIdentifier("graft_collect_kv"),
      info("graft_collect_kv", classOf[CollectKvAgg],
        "graft_collect_kv(k, v) - aggregate rows into a " +
          "map<string,string>; duplicate keys resolve to the binary-max " +
          "value (merge-order deterministic, NOT last-write-wins), " +
          "null keys skipped"),
      {
        case Seq(k, v) => CollectKvAgg(k, v)
        case other     => arityError("graft_collect_kv", "2 arguments", other)
      }),
    (FunctionIdentifier("graft_tr_dimension_metrics"),
      info("graft_tr_dimension_metrics", classOf[TrDimensionMetricsAgg],
        "graft_tr_dimension_metrics(dims, metrics) - aggregate " +
          "(array<string> path, map<string,string> metrics) rows into " +
          "the canonical pair-tree JSON"),
      {
        case Seq(d, m) => TrDimensionMetricsAgg(d, m)
        case other =>
          arityError("graft_tr_dimension_metrics", "2 arguments", other)
      }),
    (FunctionIdentifier("graft_str_max"),
      info("graft_str_max", classOf[StrExtremumAgg],
        "graft_str_max(s) - string maximum aggregate in binary UTF-8 " +
          "order; ObjectHashAggregate, no per-partition sort"),
      {
        case Seq(e) => StrExtremumAgg(e, isMax = true)
        case other  => arityError("graft_str_max", "1 argument", other)
      }),
    (FunctionIdentifier("graft_str_min"),
      info("graft_str_min", classOf[StrExtremumAgg],
        "graft_str_min(s) - string minimum aggregate in binary UTF-8 " +
          "order; ObjectHashAggregate, no per-partition sort"),
      {
        case Seq(e) => StrExtremumAgg(e, isMax = false)
        case other  => arityError("graft_str_min", "1 argument", other)
      }))

  /** Table functions (§2.9 UDTF surface): `graft_shingles(text)` —
    * word-3-gram shingles of a string as a one-column table, the
    * `mapcatfn` generator shape exposed as a SQL table function:
    * {{{ SELECT col FROM graft_shingles('a b c d') }}} */
  val tableDescriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles", classOf[Generate],
        "graft_shingles(text) - table of word-3-gram shingles of text"),
      {
        case Seq(e) =>
          val shingles = GraftBridge.eagerExpression(
            graft.llm.TextAnalysis.wordShingles(GraftBridge.column(e)))
          Generate(Explode(shingles), unrequiredChildIndex = Nil,
            outer = false, qualifier = None, generatorOutput = Nil,
            child = OneRowRelation())
        case other => arityError("graft_shingles", "1 argument", other)
      }))

  /** Idempotently register every graft function into an existing
    * session (replaces prior registrations of the same names). */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, inf, builder) =>
      GraftBridge.registerFunction(spark, id, inf, builder)
    }
    tableDescriptions.foreach { case (id, inf, builder) =>
      GraftBridge.registerTableFunction(spark, id, inf, builder)
    }
  }
}

/** `spark.sql.extensions` entry point:
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.sql.GraftExtensions")
  * }}}
  *
  * Besides the functions, the extension installs two defaults. An
  * explicit value for either key (builder `.config`, `--conf`, a
  * `-Dspark.*` property, spark-defaults, or for the second also
  * `spark.hadoop.*` and core-site.xml) always wins.
  *
  * 1. Spark's own static `spark.sql.codegen.cache.maxEntries` goes from
  *    100 to [[GraftExtensions.CodegenCacheEntries]]. Spark keeps
  *    compiled generated classes in one JVM-wide LRU cache of that many
  *    entries. A graft pipeline run as a repeated operation in one
  *    long-lived session (an ODS load + trgx + report window, or the
  *    corpus build) touches about 150–170 distinct classes per process,
  *    so at 100 every operation evicts the classes the next one needs
  *    and a warm operation recompiled ~120 of them (12–19 ms each); at
  *    1000 a warm operation compiles almost none. The default reaches
  *    the cache because extensions are applied after the SparkContext
  *    exists but before the session state copies the context's conf,
  *    and `CodeGenerator` sizes its cache once, at the JVM's first code
  *    generation.
  * 1. Hadoop's `fs.file.impl` on the SparkContext's live Hadoop conf
  *    becomes [[graft.core.LocalFs]], which sets local file permissions
  *    through java.nio. Without the native Hadoop library the stock
  *    local file system forks `chmod` (~3 ms) for every directory and
  *    file a write creates: ~90 launches per report_window operation.
  *
  * Both defaults are JVM-wide state that is fixed on first use: the
  * codegen cache at the first code generation, and the `file:`
  * FileSystem at the first lookup (Hadoop caches it per scheme,
  * authority and user, not per conf). If a session without this
  * extension got there first, the defaults change nothing, so install
  * the extension on the first session or set the confs yourself. For
  * the file system the extension logs a WARN in that case
  * ([[graft.core.LocalFs.installDefault]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    GraftFunctions.tableDescriptions.foreach(ext.injectTableFunction)
    GraftBridge.contextConfDefault(GraftExtensions.CodegenCacheKey,
      GraftExtensions.CodegenCacheEntries.toString)
    GraftBridge.activeHadoopConf.foreach(graft.core.LocalFs.installDefault)
  }
}

object GraftExtensions {
  /** Spark's static conf that sizes the JVM-wide generated-class cache. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  /** Default the extension gives [[CodegenCacheKey]]: room for the
    * ~150–170-class working set of a pipeline process several times
    * over. */
  val CodegenCacheEntries = 1000
}
