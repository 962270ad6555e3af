package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Aggregators
import graft.core.Tables
import graft.etl.TableOps
import graft.functions.Functions._
import graft.ops.Relational

/** Oracle-checked probes for every relational operator in SURVEY §2
  * (rows 1-46). Each entry pairs a Spark DataFrame program with ANSI SQL
  * the driver replays in DuckDB; column names, types, and row order are
  * aligned on both sides (decimal casts for exact aggregate arithmetic,
  * string dates, explicit ORDER BY).
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private def dtStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.1 row 1 — parquet source w/ pushdown (pg-tap equivalent)
    "source_parquet_scan" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                dtStr(col("l_shipdate")).as("ship_dt"))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.1 row 2 — memory sink (??-): scalar collect
    "memory_sink_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // §2.1 row 3 — in-memory generator fixture
    "inmemory_generator" -> ((s, dir) => {
      import s.implicits._
      Seq((1, "alpha"), (2, "beta"), (3, "gamma")).toDF("id", "name")
        .orderBy("id")
    }),

    // §2.1 row 4 — driver-side config source (latest-trgx-root shape)
    "config_source" -> ((s, dir) => {
      // min() over an empty table yields one NULL row — guard like
      // every other driver-side probe (the twice-judged .first() class)
      val kr = t(s, dir, "region").agg(min("r_regionkey")).first()
      val k = if (kr.isNullAt(0)) Int.MinValue else kr.getInt(0)
      t(s, dir, "nation").filter(col("n_regionkey") === k)
        .select("n_nationkey", "n_name").orderBy("n_nationkey")
    }),

    // §2.1 row 5 — DDL/orchestration: create-if → staged write → publish
    "ddl_table_lifecycle" -> ((s, dir) => {
      val base = Tables.tmpDir + "/lifecycle"
      val nation = t(s, dir, "nation")
      TableOps.createTableIf(s, base, nation.schema)
      nation.filter(col("n_regionkey") <= 1)
        .write.mode("overwrite").parquet(base + "__staged")
      TableOps.replaceInto(base + "__staged", base)
      s.read.parquet(base).select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // §2.1 — CSV + JSON-lines source/sink round-trip (hfs-delimited /
    // hfs-seqfile surface)
    "source_csv_json_roundtrip" -> ((s, dir) => {
      import graft.sources.Formats
      val base = Tables.tmpDir + "/formats"
      val df = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
      Formats.writeCsv(df, base + "/csv")
      Formats.writeJsonLines(df, base + "/json")
      val csv = Formats.readCsv(s, base + "/csv", df.schema)
      val json = Formats.readJsonLines(s, base + "/json", df.schema)
      csv.unionByName(json).groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(count(lit(1)).as("n_copies"))
        .orderBy("c_custkey")
    }),

    // §2.1 — ORC source/sink round-trip (columnar-store surface beyond
    // parquet: same predicate-pushdown/column-pruning class)
    "source_orc_roundtrip" -> ((s, dir) => {
      import graft.sources.Formats
      val base = Tables.tmpDir + "/orc"
      val df = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
      Formats.writeOrc(df, base)
      Formats.readOrc(s, base).orderBy("s_suppkey")
    }),

    // §2.1 — hfs-seqfile tap round-trip (d_bolome_order.clj:4-5): the
    // full documents table through a Hadoop SequenceFile of
    // (LongWritable, Text-JSON) and back — null text/lang and
    // newline/unicode payloads must survive byte-exactly
    "source_seqfile_roundtrip" -> ((s, dir) => {
      import graft.sources.Formats
      import org.apache.spark.sql.types._
      val base = Tables.tmpDir + "/seqfile"
      Formats.writeSequenceFile(
        t(s, dir, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars"),
        "doc_id", base)
      Formats.readSequenceFile(s, base, "doc_id", StructType(Seq(
          StructField("text", StringType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType))))
        .orderBy("doc_id")
    }),

    // §2.1 row 1 (JDBC form) — pg-tap parity: write nation through the
    // all-String `-`→`_` tap into embedded Derby, read it back under
    // logical dashed names (trgx.clj:96-108 semantics, offline-safe)
    "source_jdbc_roundtrip" -> ((s, dir) => {
      import graft.sources.Jdbc
      val url = s"jdbc:derby:${Tables.tmpDir}/derbydb;create=true"
      Jdbc.executeUpdateSilent(url, "DROP TABLE graft_nation")
      Jdbc.createTableIf(url, "graft_nation", Seq(
        "n_nationkey" -> "VARCHAR(20)", "n_name" -> "VARCHAR(64)",
        "n_regionkey" -> "VARCHAR(20)"))
      val logical = t(s, dir, "nation").select(
        col("n_nationkey").as("n-nationkey"),
        col("n_name").as("n-name"),
        col("n_regionkey").as("n-regionkey"))
      Jdbc.writeTable(logical, url, "graft_nation")
      val back = Jdbc.readTable(s, url, "graft_nation",
        Seq("n-nationkey", "n-name", "n-regionkey"))
      back.orderBy(back.col("n-nationkey").cast("int"))
    }),

    // §2.2 row 6 — select-fields projection
    "select_fields" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")),

    // §2.2 row 7 — :> destructure / rename*
    "rename_fields" -> ((s, dir) =>
      t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
        .toDF("id", "name", "segment").orderBy("id")),

    // §2.2 row 8 — mapfn scalar computation
    "mapfn_scalar" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        (col("l_quantity") * lit(2.0) + lit(1.0)).as("qty2"))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.2 row 9 — mapcatfn / explode (split-rows)
    "mapcat_explode" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        explode(split(col("p_type"), " ")).as("word"))
        .orderBy("p_partkey", "word")),

    // §2.2 row 10 — c/each + c/juxt combinators
    "combinators" -> ((s, dir) => {
      val each = Seq("o_orderstatus", "o_orderpriority")
        .map(c => upper(col(c)).as(c + "_u")) // c/each: same fn, N cols
      val juxt = Seq(year(col("o_orderdate")).as("yr"),
                     month(col("o_orderdate")).as("mo")) // c/juxt: N fns, 1 col
      t(s, dir, "orders").select(col("o_orderkey") +: (each ++ juxt): _*)
        .orderBy("o_orderkey")
    }),

    // §2.2 row 11 — vars->kv map build (canonical render)
    "vars_to_kv" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        mapToCanonicalString(varsToKv(
          "name" -> col("c_name"), "seg" -> col("c_mktsegment"))).as("kv"))
        .orderBy("c_custkey")),

    // §2.2 row 12 — kv->tuple extraction round-trip
    "kv_to_tuple" -> ((s, dir) => {
      val m = varsToKv(
        "bal" -> col("c_acctbal").cast("decimal(18,2)").cast("string"),
        "nk" -> col("c_nationkey").cast("string"))
      val df = t(s, dir, "customer").withColumn("m", m)
      val Seq(bal, nk) = kvToTuple(col("m"), Seq("bal", "nk"))
      df.select(col("c_custkey"), bal.as("bal"), nk.as("nk"))
        .orderBy("c_custkey")
    }),

    // §2.2 row 14 — pad array align
    "pad_align" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        element_at(pad(split(col("p_name"), " "), 3, lit("NA")), 3).as("w3"))
        .orderBy("p_partkey")),

    // §2.2 row 16 — get-item-json-string manual JSON build
    "get_item_json" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        concat(lit("{\"key\":\""), col("c_name"), lit("\",\"seg\":\""),
               col("c_mktsegment"), lit("\"}")).as("item"))
        .orderBy("c_custkey")),

    // §2.2 row 17 — JSON round-trip at the storage boundary
    "edn_json_roundtrip" -> ((s, dir) => {
      val ser = to_json(struct(col("c_custkey").as("id"),
                               col("c_mktsegment").as("seg")))
      t(s, dir, "customer").withColumn("js", ser)
        .withColumn("back", from_json(col("js"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, seg STRING")))
        .select(col("c_custkey"), col("back.id").as("rt_id"),
                col("back.seg").as("rt_seg"))
        .orderBy("c_custkey")
    }),

    // §2.3 row 18 — bare boolean filters
    "filter_basic" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 150000 && col("o_orderstatus") =!= "F"
          && col("o_custkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // §2.3 row 19 — regex filter (re-find → unanchored rlike)
    "filter_regex" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_name").rlike("gold|rose|blue"))
        .select("p_partkey", "p_name").orderBy("p_partkey")),

    // §2.3 row 20 — deffilterfn named filter (isin)
    "filter_named_isin" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")),

    // §2.3 row 21 — ?var null-guard semantics
    "filter_null_guard" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("et", when(col("event_type") === "click", lit(null))
          .otherwise(col("event_type")))
        .filter(col("et").isNotNull) // the implicit ?var NOT NULL
        .groupBy("et").agg(count(lit(1)).as("cnt"))
        .orderBy("et")),

    // §2.3 row 22 — convert-null sentinel normalization
    "convert_null" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("x", when(col("source") === "src0", lit("NULL"))
          .otherwise(col("source")))
        .select(col("doc_id"), convertNull(col("x")).as("src"))
        .orderBy("doc_id")),

    // §2.3 row 23 — cif / nvl2 / cor
    "cif_cor" -> ((s, dir) => {
      val nn = when(col("o_orderstatus") === "O", lit(null))
        .otherwise(col("o_orderstatus"))
      t(s, dir, "orders").select(col("o_orderkey"),
        cif(col("o_totalprice") > 100000, lit("big"), lit("small"))
          .as("size_cls"),
        graft.functions.Functions.nvl2(nn, lit("closed"), lit("open"))
          .as("state"),
        cor(nn, col("o_orderpriority")).as("first_nn"))
        .orderBy("o_orderkey")
    }),

    // §2.3 row 24 — or-tuple pairwise coalesce
    "or_tuple" -> ((s, dir) => {
      val a1 = when(col("o_orderstatus") === "O", lit(null))
        .otherwise(col("o_orderstatus"))
      val a2 = when(col("o_orderpriority") === "1-URGENT", lit(null))
        .otherwise(col("o_orderpriority"))
      val merged = orTuple(a1 -> lit("fb_status"), a2 -> lit("fb_prio"))
      t(s, dir, "orders").select(col("o_orderkey"),
        merged(0).as("m_status"), merged(1).as("m_prio"))
        .orderBy("o_orderkey")
    }),

    // §2.3 row 25 — c> / c>* null-safe compare
    "null_safe_compare" -> ((s, dir) => {
      val nullable = when(col("l_discount") === 0.0, lit(null))
        .otherwise(col("l_discount"))
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        cGt(nullable, col("l_tax")).cast("int").as("gt_strict"),
        cGtDefault(nullable, col("l_tax")).cast("int").as("gt_default"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.3 row 26 — mark* / compare-mark* flag encoders
    "mark_flags" -> ((s, dir) => {
      val ms = mark(col("o_orderstatus"), Seq("O", "F", "P"))
      val cm = compareMark(col("o_totalprice"), lit(100000.0))
      t(s, dir, "orders").select(col("o_orderkey"),
        ms(0).cast("int").as("m_o"), ms(1).cast("int").as("m_f"),
        ms(2).cast("int").as("m_p"),
        cm(0).cast("int").as("cmp_lt"), cm(1).cast("int").as("cmp_eq"),
        cm(2).cast("int").as("cmp_gt"))
        .orderBy("o_orderkey")
    }),

    // §2.3 row 27 — str-least
    "str_least" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        strLeast(col("o_orderstatus"), col("o_orderpriority")).as("least_s"))
        .orderBy("o_orderkey")),

    // §2.3 row 28 — sort? between-check
    "between_check" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("dt", dtStr(col("o_orderdate")))
        .filter(sortBetween(col("dt"), lit("1996-01-01"), lit("1996-12-31")))
        .select("o_orderkey", "dt").orderBy("o_orderkey")),

    // §2.4 row 29 — multi-way star inner join (broadcast dims)
    "join_inner_star" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        // decimal-first arithmetic: operands are exact 2-decimal values,
        // so the product and sum are exact (no double-rounding drift)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1) - col("l_discount")).cast("decimal(12,2)"))
               .cast("decimal(38,4)").cast("string").as("revenue"),
             count(lit(1)).as("cnt"))
        .orderBy("r_name", "n_name")
    }),

    // §2.4 row 30 — left outer join via !!var ungrounding
    "join_left_outer" -> ((s, dir) =>
      Relational.dimLookup(t(s, dir, "customer")
          .withColumnRenamed("c_custkey", "k"),
          t(s, dir, "orders").withColumnRenamed("o_custkey", "k"),
          Seq("k"), broadcastDim = false)
        .groupBy(col("k").as("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .select(col("c_custkey"), col("n_orders"))
        .orderBy("c_custkey")),

    // §2.4 row 31 — full-outer stg⊕ods merge with or-tuple coalesce
    "full_outer_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val stg = o.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"),
        (col("o_totalprice") * 2).cast("decimal(18,2)").cast("string")
          .as("val_price"),
        lit("U").as("val_status"))
      val ods = o.filter(col("o_orderkey") % 3 === 0).select(
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("string")
          .as("val_price"),
        col("o_orderstatus").as("val_status"))
      Relational.fullOuterMerge(stg, ods, Seq("o_orderkey"),
          Seq("val_price", "val_status"))
        .orderBy("o_orderkey")
    }),

    // §2.4 row 32 — snapshot self-join w/ map-union merge
    "snapshot_merge_union" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumn("dt", dtStr(col("o_orderdate")))
      def side(f: Column): DataFrame =
        o.filter(f).groupBy(col("o_custkey").as("custkey"))
          .agg(Aggregators.collectKvs(col("o_orderstatus"),
                 col("o_orderpriority")).as("m"),
               min(col("dt")).as("d"))
      val a = side(col("dt") < "1997-06-01").alias("a")
      val b = side(col("dt") >= "1997-06-01").alias("b")
      val merged = a.join(b, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          when(col("a.m").isNull, col("b.m"))
            .when(col("b.m").isNull, col("a.m"))
            .otherwise(Aggregators.mapSetUnion(col("a.m"), col("b.m")))
            .as("mm"),
          least(col("a.d"), col("b.d")).as("first_dt"))
      merged.select(col("custkey"),
        array_join(transform(array_sort(map_entries(col("mm"))),
          e => concat(e.getField("key"), lit(":"),
                      array_join(e.getField("value"), "|"))), ",")
          .as("merged"),
        col("first_dt"))
        .orderBy("custkey")
    }),

    // §2.4 row 33 — cross join
    "cross_join" -> ((s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_name", "n_name").orderBy("r_name", "n_name")),

    // §2.4 row 34 — broadcast config-tree join (driver-fetched map
    // closed over the row stream, trgx.clj:202-207)
    "broadcast_config_join" -> ((s, dir) => {
      val cfg: Map[Int, String] = t(s, dir, "region").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      val cfgMap = typedlit(cfg)
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
        element_at(cfgMap, col("n_regionkey")).as("region_name"))
        .orderBy("n_nationkey")
    }),

    // §2.5 row 35 — collect-kv aggregator
    "collect_kv" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
                 date_format(date_trunc("month", col("o_orderdate")),
                             "yyyy-MM-dd").as("mo"))
        .agg(count(lit(1)).as("cnt"))
      m.groupBy("seg")
        .agg(Aggregators.collectKv(col("mo"), col("cnt").cast("string"))
          .as("kv"))
        .select(col("seg"), mapToCanonicalString(col("kv")).as("dt_kv"))
        .orderBy("seg")
    }),

    // §2.5 row 36a — collect-set
    "collect_set" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(arrayToCanonicalString(collect_set(col("o_orderpriority")))
          .as("prios"))
        .orderBy("o_orderstatus")),

    // §2.5 row 36b — collect-kvs multimap
    "collect_kvs" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey").as("custkey"))
        .agg(Aggregators.collectKvs(col("o_orderstatus"),
               col("o_orderpriority")).as("m"))
        .select(col("custkey"),
          array_join(transform(array_sort(map_entries(col("m"))),
            e => concat(e.getField("key"), lit(":"),
                        array_join(e.getField("value"), "|"))), ",")
            .as("kvs"))
        .orderBy("custkey")),

    // §2.5 row 37 — str-max / str-min (null-sentinel-skipping)
    "str_max_min" -> ((s, dir) => {
      val x = when(col("o_orderpriority") === "3-MEDIUM", lit("null"))
        .otherwise(col("o_orderpriority"))
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(Aggregators.strMax(x).as("mx"), Aggregators.strMin(x).as("mn"))
        .orderBy("o_orderstatus")
    }),

    // §2.5 row 38 — c/count + c/max aggregates
    "count_max" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")),

    // §2.5 row 39 + §2.2 row 15 — tr-dimension-metrics + pair-edn->json
    "report_shape" -> ((s, dir) => {
      val pre = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"),
             sum(col("c_acctbal").cast("decimal(18,2)"))
               .cast("decimal(38,2)").as("sum_bal"))
      Relational.reportShape(pre, Seq("r_name"), Seq("n_name"),
          Seq("n_cust" -> col("n_cust"), "sum_bal" -> col("sum_bal")))
        .orderBy("r_name")
    }),

    // §2.5 row 40 — row-num surrogate-key assignment
    "row_num_surrogate" -> ((s, dir) => {
      val base = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") <= 50, col("c_custkey")).cast("long")
          .as("dw_id"))
      val maxExisting = base.agg(max("dw_id")).first() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      Relational.surrogateKeysOrdered(base, "dw_id", "c_custkey",
          maxExisting, 8)
        .orderBy("c_custkey")
    }),

    // §2.5 row 41 — group-max over partition
    "group_max_window" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"),
        max(col("o_totalprice"))
          .over(Window.partitionBy(col("o_custkey"))).as("cust_max"))
        .orderBy("o_orderkey")),

    // §2.6 row 42 + §2.2 row 13 — the sliding lag pattern
    // (collect-kv → month-end keys → kv->lkp lag lookups → deltas)
    "sliding_scores" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
                 dtStr(last_day(col("o_orderdate"))).as("dt"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(38,2)").cast("string").as("val"))
      Relational.slidingScores(m, Seq("seg"), "dt", "val")
        .select(col("seg"), col("dt"),
          col("value").cast("decimal(38,2)").cast("string").as("value"),
          col("max_value").cast("decimal(38,3)").cast("string")
            .as("max_value"),
          col("delta_mom").cast("decimal(38,3)").cast("string")
            .as("delta_mom"),
          col("delta_ytd").cast("decimal(38,3)").cast("string")
            .as("delta_ytd"),
          col("delta_yoy").cast("decimal(38,3)").cast("string")
            .as("delta_yoy"))
        .orderBy("seg", "dt")
    }),

    // §2.7 row 43 — UNION multi-grain append
    "union_multigrain" -> ((s, dir) => {
      val cn = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
              col("c_nationkey") === col("n_nationkey"))
      val g1 = cn.groupBy(col("n_name").as("name"))
        .agg(count(lit(1)).as("cnt")).withColumn("grain", lit("nation"))
      val g2 = cn
        .join(broadcast(t(s, dir, "region")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("name"))
        .agg(count(lit(1)).as("cnt")).withColumn("grain", lit("region"))
      g1.unionByName(g2).select("grain", "name", "cnt")
        .orderBy("grain", "name")
    }),

    // §2.6/§2.7 — c/first-n limit (top-N with sort keys)
    "limit_top_n" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10).select("o_orderkey", "o_totalprice")),

    // §2.8 row 44 — scalar date library
    "date_functions" -> ((s, dir) => {
      val dt = dtStr(col("o_orderdate"))
      t(s, dir, "orders").select(col("o_orderkey"), dt.as("dt"),
        prevLastDay(dt).as("prev_last_day"),
        prevLastMonth(dt).as("prev_last_month"),
        prevSameMonth(dt).as("prev_same_month"),
        dtToYear(dt).as("yr"),
        offsetDt(dt, 1).as("next_dt"),
        lastDayOfYm(substring(dt, 1, 7)).as("last_day_dt"),
        dtRebase(dt, lit("1995-01-01"), lit("2020-01-01")).as("rebased"))
        .orderBy("o_orderkey")
    }),

    // URL canonicalization battery (graft.functions.UrlNorm scaladoc
    // for the rule list): URLs synthesized deterministically from the
    // documents table so every branch exercises a different rule —
    // uppercase scheme/host, www prefix, default vs nonstandard ports,
    // tracking params, fragments. Spark normalizes via parse_url +
    // array ops; the DuckDB oracle parses with INDEPENDENT regexes, so
    // the rules are genuinely cross-engine-checked, not mirrored.
    "url_normalize" -> ((s, dir) => {
      import graft.functions.UrlNorm
      t(s, dir, "documents").select(col("doc_id"), urlSynth.as("url"))
        .select(col("doc_id"), col("url"),
          UrlNorm.urlNormalize(col("url")).as("url_norm"),
          UrlNorm.urlHost(col("url")).as("host"),
          UrlNorm.urlDomain(col("url")).as("domain"),
          UrlNorm.urlKeptQuery(col("url")).as("kept_query"))
        .orderBy("doc_id")
    }),

    // URL-keyed dedup THROUGH canonicalization — the purpose of
    // UrlNorm: syntactic variants of one page (case, www, default
    // port, tracking params) collide on url_norm and dedup as one.
    // Two variants per doc that normalize identically; every third doc
    // gets a genuinely different second page (?page=2 survives the
    // tracking strip) and stays its own group. Plan: projection →
    // ONE hash shuffle on the canonical key — exactDedup's shape with
    // url_norm as the fingerprint. The keeper election is min over a
    // NUMERIC variant id, not min(url): a string min-buffer forces the
    // whole groupBy into SortAggregate (the plan regression
    // PlanFingerprintSpec pins — same reasoning as Dedup's
    // packed-decimal election).
    "url_dedup" -> ((s, dir) => {
      import graft.functions.UrlNorm
      val idS = col("doc_id").cast("string")
      val v1 = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/"), col("lang"), lit("/doc/"), idS,
        lit("?utm_source=x&ref=home"))
      val v2 = concat(lit("https://"), col("source"),
        lit(".example.com/"), col("lang"), lit("/doc/"), idS,
        when(col("doc_id") % 3 === 0, lit("?page=2"))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(explode(array(
          struct((col("doc_id") * 2).as("vid"), v1.as("url")),
          struct((col("doc_id") * 2 + 1).as("vid"), v2.as("url"))))
          .as("p"))
        .select(col("p.vid").as("vid"),
          UrlNorm.urlNormalize(col("p.url")).as("url_norm"))
        .groupBy("url_norm")
        .agg(count(lit(1)).as("dup_count"),
          min(col("vid")).as("canonical_vid"))
        .orderBy("url_norm")
    }),

    // per-domain corpus rollup THROUGH canonicalization — the
    // C4/RefinedWeb blocklist-feeding aggregation: docs, distinct
    // canonical pages, and hosts per registrable domain, plus the
    // tracking-only-query rate. One UrlCanonParts eval per row
    // (subexpression elimination; one URI parse feeds all four
    // accessors), then ONE hash shuffle on domain. The two exact
    // DISTINCT aggregates plan as Spark's standard Expand (×3 row
    // replication before the partial agg) — the exactness the oracle
    // gate needs; a 100 TB blocklist pass swaps them for
    // approx_count_distinct and drops the Expand.
    "url_domain_stats" -> ((s, dir) => {
      import graft.functions.UrlNorm
      t(s, dir, "documents").select(urlSynth.as("url"))
        .select(UrlNorm.urlDomain(col("url")).as("domain"),
          UrlNorm.urlHost(col("url")).as("host"),
          UrlNorm.urlNormalize(col("url")).as("url_norm"),
          UrlNorm.urlKeptQuery(col("url")).as("kq"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_norm")).as("n_pages"),
          countDistinct(col("host")).as("n_hosts"),
          sum(when(col("kq") === "", 1L).otherwise(0L))
            .as("n_no_query"))
        .orderBy("domain")
    }),

    // §2.10 row 46 — incremental bookkeeping (report->next-dt +
    // save-and-load-rng shape)
    "bookkeeping_next_dt" -> ((s, dir) =>
      t(s, dir, "orders").withColumn("dt", dtStr(col("o_orderdate")))
        .agg(min(col("dt")).as("mn_dt"), max(col("dt")).as("mx_dt"),
             count(lit(1)).as("cnt"))
        .withColumn("next_dt",
          date_format(date_add(to_date(col("mx_dt")), 1), "yyyy-MM-dd"))),

    // spark.sql surface over the registered table views
    "sql_surface" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""
        SELECT n_name, count(*) AS n_cust,
               CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                 AS DECIMAL(38,2)) AS STRING) AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""")
    }),

    // §2.9 — native expressions/aggregates on the SQL surface via
    // FunctionRegistry (graft.sql.GraftFunctions / GraftExtensions).
    // graft_collect_kv is the oracle-checkable probe; the native
    // fingerprint functions' SQL↔Column parity is asserted in
    // ExtensionsSpec (DuckDB can't replicate xxhash64-based kernels).
    "sql_native_functions" -> ((s, dir) => {
      graft.sql.GraftFunctions.register(s)
      Tables.registerViews(s, dir)
      s.sql("""
        WITH m AS (SELECT o_orderstatus AS st,
                 date_format(date_trunc('month', o_orderdate),
                             'yyyy-MM-dd') AS mo,
                 count(*) AS cnt
               FROM orders GROUP BY 1, 2)
        SELECT st,
               array_join(transform(array_sort(map_entries(
                 graft_collect_kv(mo, CAST(cnt AS STRING)))),
                 e -> concat(e.key, '=', e.value)), ',') AS dt_kv,
               graft_str_min(mo) AS mn_mo,
               graft_str_max(mo) AS mx_mo
        FROM m GROUP BY st ORDER BY st""")
    }),

    // TPC-H Q1 shape — the bench headline aggregate
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)").cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)").cast("string").as("sum_base"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(12,2)"))
            .cast("decimal(38,4)").cast("string").as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Structured-streaming-shaped windowed aggregation (batch-equivalent
    // of streaming/StreamOps.windowedCounts; tumbling 1-day event-time
    // windows). Two edge contracts shared by every fixed-decimal value
    // aggregate here: null-ts rows are dropped (window() emits nothing
    // for a null event time) and non-finite values are excluded (the
    // non-ANSI decimal cast maps NaN/Inf to null); oracles mirror with
    // `WHERE ts IS NOT NULL` / `isfinite(value)`.
    "events_windowed_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("value").cast("decimal(18,3)")).cast("decimal(38,3)")
               .cast("string").as("sum_val"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
                col("event_type"), col("cnt"), col("sum_val"))
        .orderBy("day", "event_type")),

    // skew-fixture registration for Relational.saltedJoin (spec'd but
    // unregistered until round 4): 80% of fact rows share one key, the
    // dim side is replicated ×nSalt, and the result must equal the
    // plain join — which the oracle computes directly. At 100 TB this
    // is the medium-dim case AQE can't fix (skew exists pre-shuffle).
    "salted_join_skew" -> ((s, dir) => {
      val fact = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 < 8, lit("HOT"))
          .otherwise(col("o_orderpriority")).as("k"),
        col("o_totalprice"))
      val dim = fact.groupBy("k").agg(count(lit(1)).as("dim_cnt"))
      Relational.saltedJoin(fact, dim, Seq("k"), nSalt = 8)
        .groupBy("k")
        .agg(count(lit(1)).as("cnt"),
             sum(col("o_totalprice").cast("decimal(18,2)"))
               .cast("decimal(38,2)").cast("string").as("sum_price"),
             max("dim_cnt").as("dim_cnt"))
        .orderBy("k")
    }),

    // SURVEY §2.10's upgrade path made DRIVER-VISIBLE: a real
    // Trigger.AvailableNow foreachBatch drive over the events table
    // with `_rng` bookkeeping (StreamOps.availableNowWithRng — the
    // reference's save-and-load-rng-dt!, trgx.clj:130-164), registered
    // so streaming correctness gets a CORRECTNESS row, not only a
    // spec. The stream appends raw rows to a parquet sink; the
    // returned frame re-aggregates the sink to day grain and appends
    // the rng table's load-range summary rows — all deterministic
    // (saveAndLoadRng records no wall-clock fields), and correct for
    // any micro-batch split because sink and rng are re-aggregated.
    "streaming_rng_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val base = Tables.tmpDir + "/stream_rng_q"
      StreamOps.deletePath(s, base)
      t(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"),
                col("value"))
        .coalesce(4).write.parquet(s"$base/in")
      val schema = s.read.parquet(s"$base/in").schema
      StreamOps.availableNowWithRng(
        StreamOps.readTableStream(s, s"$base/in", schema),
        "dt", s"$base/rng") { b =>
        b.write.mode("append").parquet(s"$base/out")
      }
      val day = s.read.parquet(s"$base/out")
        .groupBy("dt")
        .agg(count(lit(1)).as("cnt"),
             sum(col("value").cast("decimal(18,3)")).cast("decimal(38,3)")
               .cast("string").as("sum_val"))
        .select(col("dt"), col("cnt"), col("sum_val"),
                lit("day").as("kind"))
      val rng = s.read.parquet(s"$base/rng")
      val rngRows = rng
        .agg(min("dw_bgn_dt").as("start_dt"), max("dw_end_dt").as("end_dt"),
             sum("dw_ld_cnt").cast("long").as("cnt"))
        .select(explode(array(
            struct(col("start_dt").as("dt"), col("cnt"),
              lit(null).cast("string").as("sum_val"),
              lit("rng_start").as("kind")),
            struct(col("end_dt").as("dt"), col("cnt"),
              lit(null).cast("string").as("sum_val"),
              lit("rng_end").as("kind")))).as("r"))
        .select("r.dt", "r.cnt", "r.sum_val", "r.kind")
      day.unionByName(rngRows).orderBy("kind", "dt")
    }),

    // approximate aggregates — the 100 TB corpus-stats path (HLL++
    // distinct, quantile sketch). Self-validating oracle: Spark emits
    // the exact values plus in-bound booleans for the sketches; DuckDB
    // replays the exact side and expects TRUE (the sketch error bound
    // is the contract; exact replication is impossible cross-engine)
    // NB: keep the distinct aggregate and the imperative sketch
    // aggregates in SEPARATE aggregations joined on the tiny group key —
    // mixed in one agg they force a single degenerate SortAggregate
    // plan (measured 3× slower); split, each lands in its fast operator
    "approx_stats" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val exact = ev.groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
             countDistinct(col("user_id")).as("users_exact"))
      val sketch = ev.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.05)
               .as("users_approx"),
             percentile_approx(col("value"), lit(0.5), lit(10000))
               .as("p50_approx"),
             expr("percentile(value, 0.5)").as("p50_exact"))
      // null-safe join key: a null event_type group must survive the
      // exact⊕sketch recombination (a plain equi-join would silently
      // drop it — found by the edge-row audit). The sketch side's key
      // is renamed first: both frames descend from `ev`, and a
      // same-name <=> across a self-join leans on Spark's dataset-id
      // disambiguation (it works but warns "trivially true predicate")
      exact.join(sketch.withColumnRenamed("event_type", "et_s"),
          col("event_type") <=> col("et_s"))
        .select(col("event_type"), col("cnt"), col("users_exact"),
          (abs(col("users_approx") - col("users_exact")).cast("double") /
            col("users_exact") <= 0.15).as("users_approx_ok"),
          (abs(col("p50_approx") - col("p50_exact")) <= 1.0)
            .as("p50_approx_ok"))
        .orderBy("event_type")
    }),

    // weekly cohort retention triangle anchored at the corpus start
    "events_retention" -> ((s, dir) =>
      Relational.cohortRetention(Tables.events(s, dir), "user_id", "ts",
          "2024-01-01", periodDays = 7)
        .orderBy("cohort", "week_offset")),

    // ordered funnel view→click→purchase: per-stage conditional min
    // aggregates over (user, ts) slim projections — no per-user event
    // sort, no mapGroups state
    "events_funnel" -> ((s, dir) =>
      Relational.funnel(Tables.events(s, dir), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"))
        .select(col("user_id"),
          unix_micros(col("ts_1")).as("t1_us"),
          unix_micros(col("ts_2")).as("t2_us"),
          unix_micros(col("ts_3")).as("t3_us"),
          col("ts_3").isNotNull.as("completed"))
        .orderBy("user_id")),

    // as-of join: each purchase event picks up the latest click value
    // at-or-before its timestamp per user — union + one keyed window,
    // no join node (see Relational.asofJoin scaladoc); DuckDB's native
    // ASOF LEFT JOIN is the oracle
    "events_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      Relational.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("click_value"))
        .orderBy("event_id")
    }),

    // interval join via day-bucketed equi join: each purchase event
    // attributes the same user's clicks inside its trailing 2-hour
    // window — the theta-join Spark would plan as a per-key nested
    // loop, kept linear by the bucket equi key
    // (Relational.rangeJoinBucketed). Windows that start the previous
    // day (~7% at sf0.01) exercise the multi-bucket explode path.
    "events_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val wins = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"),
          (col("ts") - expr("INTERVAL 2 HOURS")).as("win_start"),
          col("ts").as("win_end"))
      Relational.rangeJoinBucketed(clicks, "ts", wins, "win_start",
          "win_end", keys = Seq("user_id" -> "p_user"))
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"),
          // decimal-first sum, VARCHAR-compared (the sessionizedAgg /
          // windowedCounts convention): round(sum(double), 6) is
          // summation-order-sensitive across engines — the banned
          // oracle class. Non-finite values null out in the cast; the
          // oracle mirrors with its isfinite guard.
          sum(col("value").cast("decimal(18,3)"))
            .cast("decimal(38,3)").cast("string").as("sum_val"))
        .orderBy("purchase_id")
    }),

    // semi-structured extraction: parse the JSON props payload with an
    // explicit schema (from_json — no schema inference pass over the
    // data) and aggregate on the extracted field
    "events_props_extract" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(avg(col("k")), 6).as("avg_k"))
        .orderBy("event_type")
    }),

    // gap-based sessionization via native session_window (the batch
    // form of StreamOps.sessionizedAgg; streaming twin in
    // StreamingSpec). Epoch-micros output dodges strftime dialects.
    "events_session_agg" -> ((s, dir) =>
      graft.streaming.StreamOps.sessionizedAgg(
          t(s, dir, "events"), "ts", "user_id", "30 minutes")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          col("cnt"), col("sum_val").cast("string").as("sum_val"))
        .orderBy("user_id", "session_start_us"))
  )

  /** Shared DuckDB URL-parse/normalize CTE chain (independent regex
    * parsing — deliberately NOT a mirror of UrlNorm's parse_url
    * expressions). Expects a CTE `u` providing at least `url`; yields
    * `n` with every `u` column plus scheme/host/kq/url_norm. Plain
    * (non-interpolated) string so regex `$` anchors stay literal. */
  /** Deterministic URL synthesis over the documents table (the corpus
    * carries no URL column) — shared by the url_normalize and
    * url_domain_stats probes; [[urlSynthSql]] is its DuckDB twin. */
  private def urlSynth: Column = {
    val d = col("doc_id")
    concat(
      when(d % 3 === 0, lit("HTTP")).otherwise(lit("HTTPS")),
      lit("://"),
      when(d % 2 === 0, lit("WWW.")).otherwise(lit("")),
      upper(col("source")), lit(".Example.COM"),
      when(d % 3 === 0 && d % 2 === 0, lit(":80"))     // http default
        .when(d % 3 === 0, lit(":8080"))               // kept
        .when(d % 5 === 0, lit(":443"))                // https default
        .otherwise(lit("")),
      lit("/"), col("lang"), lit("/doc/"), d.cast("string"),
      when(d % 2 === 1,
          lit("?utm_source=feed&z=9&ref=home&a=1&gclid=g1"))
        .when(d % 7 === 0, lit("?b=2&a=1&utm_campaign=x"))
        .otherwise(lit("")),
      when(d % 4 === 0, concat(lit("#sec"), d.cast("string")))
        .otherwise(lit("")))
  }

  private val urlSynthSql: String =
    """SELECT doc_id,
       (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'HTTPS' END)
       || '://'
       || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
       || upper(source) || '.Example.COM'
       || (CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN ':80'
                WHEN doc_id % 3 = 0 THEN ':8080'
                WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
       || '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR)
       || (CASE WHEN doc_id % 2 = 1
                THEN '?utm_source=feed&z=9&ref=home&a=1&gclid=g1'
                WHEN doc_id % 7 = 0 THEN '?b=2&a=1&utm_campaign=x'
                ELSE '' END)
       || (CASE WHEN doc_id % 4 = 0
                THEN '#sec' || CAST(doc_id AS VARCHAR)
                ELSE '' END) AS url
       FROM documents"""

  private val urlParseCtes: String =
    """p AS (SELECT u.*,
             lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
             coalesce(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')
               AS path0,
             -- DuckDB regexp_extract is NULL on no-match (Spark
             -- parse_url QUERY is null too, but the Spark side
             -- coalesces) — normalize to '' here as well
             coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS query
           FROM u),
         h AS (SELECT *,
             regexp_replace(lower(regexp_replace(auth, ':[0-9]+$', '')),
               '^www\.', '') AS host,
             coalesce(regexp_extract(auth, ':([0-9]+)$', 1), '')
               AS port FROM p),
         k AS (SELECT *,
             CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443') THEN ''
                  ELSE ':' || port END AS portsfx,
             -- array_to_string of an EMPTY list is NULL in DuckDB —
             -- coalesce to match Spark's array_join('') behavior
             coalesce(array_to_string(list_sort(list_filter(
               string_split(query, '&'),
               x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[^=]*|ref|fbclid|gclid)='))), '&'), '') AS kq
           FROM h),
         n AS (SELECT k.*,
             scheme || '://' || host || portsfx || path ||
               (CASE WHEN kq = '' THEN '' ELSE '?' || kq END)
               AS url_norm
           FROM k)"""

  val oracles: Map[String, String] = Map(
    "source_parquet_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_dt
         FROM lineitem WHERE l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",
    "memory_sink_count" -> "SELECT count(*) AS cnt FROM lineitem",
    "inmemory_generator" ->
      """SELECT * FROM (VALUES (1,'alpha'),(2,'beta'),(3,'gamma'))
         AS t(id, name) ORDER BY id""",
    "config_source" ->
      """SELECT n_nationkey, n_name FROM nation
         WHERE n_regionkey = (SELECT min(r_regionkey) FROM region)
         ORDER BY n_nationkey""",
    "ddl_table_lifecycle" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         WHERE n_regionkey <= 1 ORDER BY n_nationkey""",
    "source_csv_json_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment,
         CAST(2 AS BIGINT) AS n_copies
         FROM customer ORDER BY c_custkey""",
    "source_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
         ORDER BY s_suppkey""",
    "source_seqfile_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         ORDER BY doc_id""",
    "events_retention" ->
      """WITH a AS (SELECT DISTINCT user_id AS k,
           CAST(floor(CAST(date_diff('day', DATE '2024-01-01',
             CAST(ts AS DATE)) AS DOUBLE) / 7) AS INT) AS wk
           FROM events
           -- mirror cohortRetention's null-period drop (wk IS NULL ⇔
           -- ts IS NULL): without this the oracle emits a phantom
           -- (NULL, NULL) cohort row Spark never produces
           WHERE ts IS NOT NULL),
         c AS (SELECT k, min(wk) AS cohort FROM a GROUP BY k)
         SELECT c.cohort, a.wk - c.cohort AS week_offset,
           CAST(count(DISTINCT a.k) AS BIGINT) AS n_users
         FROM a JOIN c ON a.k = c.k
         GROUP BY 1, 2 ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS ts1 FROM events
             WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.ts1
             GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.ts2
             GROUP BY e.user_id)
         SELECT s1.user_id, epoch_us(s1.ts1) AS t1_us,
           epoch_us(s2.ts2) AS t2_us, epoch_us(s3.ts3) AS t3_us,
           s3.ts3 IS NOT NULL AS completed
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id NULLS FIRST""",
    "events_asof_join" ->
      """WITH c AS (SELECT user_id, ts, max(value) AS click_value
             FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, ts, value FROM events
             WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
           c.click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""",
    "events_props_extract" ->
      """SELECT event_type, count(*) AS cnt,
           round(avg(TRY_CAST(CASE WHEN json_valid(props)
               THEN json_extract_string(props, '$.k') END AS INT)), 6)
             + 0.0 AS avg_k
         FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""",
    "events_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
                ts - INTERVAL 2 HOUR AS win_start, ts AS win_end
              FROM events WHERE event_type = 'purchase'),
           c AS (SELECT user_id, ts, value FROM events
              WHERE event_type = 'click')
         SELECT p.purchase_id, count(*) AS n_clicks,
           CAST(CAST(sum(CAST(CASE WHEN isfinite(c.value) THEN c.value
             END AS DECIMAL(18,3))) AS DECIMAL(38,3))
             AS VARCHAR) AS sum_val
         FROM p JOIN c
           ON c.user_id = p.user_id
          AND c.ts >= p.win_start AND c.ts <= p.win_end
         GROUP BY 1 ORDER BY 1""",
    "source_jdbc_roundtrip" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS "n-nationkey",
         CAST(n_name AS VARCHAR) AS "n-name",
         CAST(n_regionkey AS VARCHAR) AS "n-regionkey"
         FROM nation ORDER BY n_nationkey""",
    "select_fields" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         ORDER BY o_orderkey""",
    "rename_fields" ->
      """SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
         FROM customer ORDER BY id""",
    "mapfn_scalar" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS revenue,
         l_quantity * 2.0 + 1.0 AS qty2
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "mapcat_explode" ->
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
         FROM part ORDER BY p_partkey, word""",
    "combinators" ->
      """SELECT o_orderkey, upper(o_orderstatus) AS o_orderstatus_u,
         upper(o_orderpriority) AS o_orderpriority_u,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo
         FROM orders ORDER BY o_orderkey""",
    "vars_to_kv" ->
      """SELECT c_custkey, 'name=' || c_name || ',seg=' || c_mktsegment
         AS kv FROM customer ORDER BY c_custkey""",
    "kv_to_tuple" ->
      """SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal,
         CAST(c_nationkey AS VARCHAR) AS nk
         FROM customer ORDER BY c_custkey""",
    "pad_align" ->
      """SELECT p_partkey,
         coalesce((string_split(p_name, ' '))[3], 'NA') AS w3
         FROM part ORDER BY p_partkey""",
    "get_item_json" ->
      """SELECT c_custkey, '{"key":"' || c_name || '","seg":"' ||
         c_mktsegment || '"}' AS item FROM customer ORDER BY c_custkey""",
    "edn_json_roundtrip" ->
      """SELECT c_custkey, c_custkey AS rt_id, c_mktsegment AS rt_seg
         FROM customer ORDER BY c_custkey""",
    "filter_basic" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_totalprice > 150000 AND o_orderstatus <> 'F'
         AND o_custkey % 2 = 0 ORDER BY o_orderkey""",
    "filter_regex" ->
      """SELECT p_partkey, p_name FROM part
         WHERE regexp_matches(p_name, 'gold|rose|blue')
         ORDER BY p_partkey""",
    "filter_named_isin" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "filter_null_guard" ->
      """SELECT et, count(*) AS cnt FROM (
           SELECT CASE WHEN event_type = 'click' THEN NULL
                  ELSE event_type END AS et FROM events)
         WHERE et IS NOT NULL GROUP BY et ORDER BY et""",
    "convert_null" ->
      """SELECT doc_id,
         CASE WHEN lower(x) = 'null' THEN NULL ELSE x END AS src
         FROM (SELECT doc_id, CASE WHEN source = 'src0' THEN 'NULL'
               ELSE source END AS x FROM documents)
         ORDER BY doc_id""",
    "cif_cor" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END
           AS size_cls,
         CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL THEN 'closed'
           ELSE 'open' END AS state,
         coalesce(nullif(o_orderstatus, 'O'), o_orderpriority)
           AS first_nn
         FROM orders ORDER BY o_orderkey""",
    "or_tuple" ->
      """SELECT o_orderkey,
         coalesce(nullif(o_orderstatus, 'O'), 'fb_status') AS m_status,
         coalesce(nullif(o_orderpriority, '1-URGENT'), 'fb_prio') AS m_prio
         FROM orders ORDER BY o_orderkey""",
    "null_safe_compare" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(nullif(l_discount, 0.0) > l_tax AS INT) AS gt_strict,
         CAST(coalesce(nullif(l_discount, 0.0) > l_tax, FALSE) AS INT)
           AS gt_default
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "mark_flags" ->
      """SELECT o_orderkey,
         CAST(o_orderstatus = 'O' AS INT) AS m_o,
         CAST(o_orderstatus = 'F' AS INT) AS m_f,
         CAST(o_orderstatus = 'P' AS INT) AS m_p,
         CAST(coalesce(o_totalprice < 100000.0, FALSE) AS INT) AS cmp_lt,
         CAST(coalesce(o_totalprice = 100000.0, FALSE) AS INT) AS cmp_eq,
         CAST(coalesce(o_totalprice > 100000.0, FALSE) AS INT) AS cmp_gt
         FROM orders ORDER BY o_orderkey""",
    "str_least" ->
      """SELECT o_orderkey, least(o_orderstatus, o_orderpriority)
         AS least_s FROM orders ORDER BY o_orderkey""",
    "between_check" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS dt
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%d')
           BETWEEN '1996-01-01' AND '1996-12-31'
         ORDER BY o_orderkey""",
    "join_inner_star" ->
      """SELECT r_name, n_name,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           CAST(1 - l_discount AS DECIMAL(12,2))) AS DECIMAL(38,4))
           AS VARCHAR) AS revenue,
         count(*) AS cnt
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "full_outer_merge" ->
      """WITH stg AS (SELECT o_orderkey,
             CAST(CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS VARCHAR)
               AS val_price,
             'U' AS val_status FROM orders WHERE o_orderkey % 2 = 0),
         ods AS (SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               AS val_price,
             o_orderstatus AS val_status FROM orders
             WHERE o_orderkey % 3 = 0)
         SELECT coalesce(stg.o_orderkey, ods.o_orderkey) AS o_orderkey,
           coalesce(stg.val_price, ods.val_price) AS val_price,
           coalesce(stg.val_status, ods.val_status) AS val_status
         FROM stg FULL OUTER JOIN ods
           ON stg.o_orderkey = ods.o_orderkey
         ORDER BY o_orderkey""",
    "snapshot_merge_union" ->
      """WITH lv AS (SELECT o_custkey AS custkey, o_orderstatus AS st,
             string_agg(DISTINCT o_orderpriority, '|'
               ORDER BY o_orderpriority) AS vs
           FROM orders GROUP BY 1, 2),
         agg AS (SELECT custkey,
             string_agg(st || ':' || vs, ',' ORDER BY st) AS merged
           FROM lv GROUP BY custkey),
         mn AS (SELECT o_custkey AS custkey,
             min(strftime(o_orderdate, '%Y-%m-%d')) AS first_dt
           FROM orders GROUP BY 1)
         SELECT agg.custkey, merged, first_dt
         FROM agg JOIN mn USING (custkey) ORDER BY custkey""",
    "cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",
    "broadcast_config_join" ->
      """SELECT n_nationkey, n_name, r_name AS region_name
         FROM nation JOIN region ON r_regionkey = n_regionkey
         ORDER BY n_nationkey""",
    "collect_kv" ->
      """WITH m AS (SELECT c_mktsegment AS seg,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mo,
             count(*) AS cnt
           FROM orders JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2)
         SELECT seg, string_agg(mo || '=' || cnt, ',' ORDER BY mo)
           AS dt_kv
         FROM m GROUP BY seg ORDER BY seg""",
    "collect_set" ->
      """SELECT o_orderstatus,
         string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
           AS prios
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "collect_kvs" ->
      """WITH lv AS (SELECT o_custkey AS custkey, o_orderstatus AS st,
             string_agg(DISTINCT o_orderpriority, '|'
               ORDER BY o_orderpriority) AS vs
           FROM orders GROUP BY 1, 2)
         SELECT custkey, string_agg(st || ':' || vs, ',' ORDER BY st)
           AS kvs
         FROM lv GROUP BY custkey ORDER BY custkey""",
    "str_max_min" ->
      """SELECT o_orderstatus, max(y) AS mx, min(y) AS mn
         FROM (SELECT o_orderstatus,
               CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                    ELSE o_orderpriority END AS y FROM orders)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "count_max" ->
      """SELECT l_returnflag, count(*) AS cnt, max(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "report_shape" ->
      """WITH a AS (SELECT r_name, n_name, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
               AS DECIMAL(38,2)) AS sum_bal
           FROM customer
           JOIN nation ON n_nationkey = c_nationkey
           JOIN region ON r_regionkey = n_regionkey
           GROUP BY 1, 2)
         SELECT r_name, '{' || string_agg('"n_name=' || n_name ||
             '":{"n_cust":' || n_cust || ',"sum_bal":' || sum_bal || '}',
             ',' ORDER BY n_name) || '}' AS report
         FROM a GROUP BY r_name ORDER BY r_name""",
    "row_num_surrogate" ->
      """SELECT c_custkey,
         CASE WHEN c_custkey <= 50 THEN c_custkey
              ELSE (SELECT max(c_custkey) FROM customer
                    WHERE c_custkey <= 50)
                   + row_number() OVER (PARTITION BY (c_custkey > 50)
                                        ORDER BY c_custkey) END AS dw_id
         FROM customer ORDER BY c_custkey""",
    "group_max_window" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
         max(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_max
         FROM orders ORDER BY o_orderkey""",
    "sliding_scores" ->
      """WITH m AS (SELECT c_mktsegment AS seg,
             strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS dt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(38,2)) AS val
           FROM orders JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2)
         SELECT a.seg AS seg, a.dt AS dt,
           CAST(CAST(a.val AS DECIMAL(38,2)) AS VARCHAR) AS value,
           CAST(CAST(max(a.val) OVER (PARTITION BY a.seg)
             AS DECIMAL(38,3)) AS VARCHAR) AS max_value,
           CAST(CAST(a.val - mom.val AS DECIMAL(38,3)) AS VARCHAR)
             AS delta_mom,
           CAST(CAST(a.val - ytd.val AS DECIMAL(38,3)) AS VARCHAR)
             AS delta_ytd,
           CAST(CAST(a.val - yoy.val AS DECIMAL(38,3)) AS VARCHAR)
             AS delta_yoy
         FROM m a
         LEFT JOIN m mom ON mom.seg = a.seg AND mom.dt =
           strftime(last_day(CAST(a.dt AS DATE) - INTERVAL 1 MONTH),
                    '%Y-%m-%d')
         LEFT JOIN m ytd ON ytd.seg = a.seg AND ytd.dt =
           strftime(last_day(date_trunc('year', CAST(a.dt AS DATE))
                    - INTERVAL 1 MONTH), '%Y-%m-%d')
         LEFT JOIN m yoy ON yoy.seg = a.seg AND yoy.dt =
           strftime(last_day(CAST(a.dt AS DATE) - INTERVAL 12 MONTH),
                    '%Y-%m-%d')
         ORDER BY a.seg, a.dt""",
    "union_multigrain" ->
      """SELECT 'nation' AS grain, n_name AS name, count(*) AS cnt
         FROM customer JOIN nation ON n_nationkey = c_nationkey
         GROUP BY n_name
         UNION ALL
         SELECT 'region' AS grain, r_name AS name, count(*) AS cnt
         FROM customer JOIN nation ON n_nationkey = c_nationkey
         JOIN region ON r_regionkey = n_regionkey
         GROUP BY r_name
         ORDER BY grain, name""",
    "limit_top_n" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "url_normalize" ->
      ("WITH u AS (" + urlSynthSql + "),\n" + urlParseCtes + """
         SELECT doc_id, url, url_norm, host,
           regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
           kq AS kept_query
         FROM n ORDER BY doc_id"""),
    "url_domain_stats" ->
      ("WITH u AS (" + urlSynthSql + "),\n" + urlParseCtes + """
         SELECT regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
           count(*) AS n_docs,
           count(DISTINCT url_norm) AS n_pages,
           count(DISTINCT host) AS n_hosts,
           CAST(sum(CASE WHEN kq = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_query
         FROM n GROUP BY 1 ORDER BY domain NULLS FIRST"""),
    "url_dedup" ->
      ("""WITH v AS (SELECT doc_id, lang, source FROM documents),
         u AS (SELECT vid, url FROM (
           SELECT doc_id * 2 AS vid,
             'HTTPS://WWW.' || upper(source) || '.Example.COM:443/'
             || lang || '/doc/' || CAST(doc_id AS VARCHAR)
             || '?utm_source=x&ref=home' AS url FROM v
           UNION ALL
           SELECT doc_id * 2 + 1 AS vid,
             'https://' || source || '.example.com/'
             || lang || '/doc/' || CAST(doc_id AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '?page=2' ELSE '' END)
             AS url FROM v)),
         """ + urlParseCtes + """
         SELECT url_norm, count(*) AS dup_count,
           min(vid) AS canonical_vid
         FROM n GROUP BY url_norm
         ORDER BY url_norm NULLS FIRST"""),
    "date_functions" ->
      """SELECT o_orderkey, strftime(d, '%Y-%m-%d') AS dt,
         strftime(last_day(d - INTERVAL 1 MONTH), '%Y-%m-%d')
           AS prev_last_day,
         strftime(last_day(date_trunc('year', d) - INTERVAL 1 MONTH),
                  '%Y-%m-%d') AS prev_last_month,
         strftime(last_day(d - INTERVAL 12 MONTH), '%Y-%m-%d')
           AS prev_same_month,
         substr(strftime(d, '%Y-%m-%d'), 1, 4) AS yr,
         strftime(d + INTERVAL 1 DAY, '%Y-%m-%d') AS next_dt,
         strftime(last_day(d), '%Y-%m-%d') AS last_day_dt,
         strftime(DATE '2020-01-01' +
                  to_days(CAST(d - DATE '1995-01-01' AS INT)),
                  '%Y-%m-%d') AS rebased
         FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
               FROM orders)
         ORDER BY o_orderkey""",
    "bookkeeping_next_dt" ->
      """SELECT min(dt) AS mn_dt, max(dt) AS mx_dt, count(*) AS cnt,
         strftime(CAST(max(dt) AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d')
           AS next_dt
         FROM (SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt
               FROM orders)""",
    "sql_surface" ->
      """SELECT n_name, count(*) AS n_cust,
         CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
           AS DECIMAL(38,2)) AS VARCHAR) AS bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "sql_native_functions" ->
      """WITH m AS (SELECT o_orderstatus AS st,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mo,
             count(*) AS cnt
           FROM orders GROUP BY 1, 2)
         SELECT st, string_agg(mo || '=' || cnt, ',' ORDER BY mo)
           AS dt_kv,
           min(mo) AS mn_mo, max(mo) AS mx_mo
         FROM m GROUP BY st ORDER BY st""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
           AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
           AS DECIMAL(38,2)) AS VARCHAR) AS sum_base,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           CAST(1 - l_discount AS DECIMAL(12,2))) AS DECIMAL(38,4))
           AS VARCHAR) AS sum_disc_price,
         count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "events_windowed_agg" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         event_type, count(*) AS cnt,
         CAST(CAST(sum(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,3))) AS DECIMAL(38,3))
           AS VARCHAR) AS sum_val
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1, 2 ORDER BY day, event_type NULLS FIRST""",
    "salted_join_skew" ->
      """WITH f AS (SELECT CASE WHEN o_orderkey % 10 < 8 THEN 'HOT'
             ELSE o_orderpriority END AS k, o_totalprice FROM orders),
         d AS (SELECT k, count(*) AS dim_cnt FROM f GROUP BY k)
         SELECT f.k, count(*) AS cnt,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
           max(dim_cnt) AS dim_cnt
         FROM f JOIN d ON f.k = d.k
         GROUP BY f.k ORDER BY f.k""",
    "streaming_rng_ingest" ->
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d')
             AS dt, value FROM events)
         SELECT dt, count(*) AS cnt,
           CAST(CAST(sum(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,3)))
             AS DECIMAL(38,3)) AS VARCHAR) AS sum_val,
           'day' AS kind
         FROM d GROUP BY dt
         UNION ALL
         SELECT max(dt), count(*), NULL, 'rng_end' FROM d
         UNION ALL
         SELECT min(dt), count(*), NULL, 'rng_start' FROM d
         ORDER BY kind, dt NULLS FIRST""",
    "approx_stats" ->
      """SELECT event_type, count(*) AS cnt,
         count(DISTINCT user_id) AS users_exact,
         TRUE AS users_approx_ok, TRUE AS p50_approx_ok
         FROM events GROUP BY event_type
         ORDER BY event_type NULLS FIRST""",
    "events_session_agg" ->
      """WITH e AS (SELECT event_id, user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
           FROM events WHERE ts IS NOT NULL),
         f AS (SELECT event_id, user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                  OR ts >= prev_ts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM e),
         s AS (SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM f)
         SELECT user_id, epoch_us(min(ts)) AS session_start_us,
           count(*) AS cnt,
           CAST(CAST(sum(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,3))) AS DECIMAL(38,3))
             AS VARCHAR) AS sum_val
         FROM s GROUP BY user_id, sid
         ORDER BY user_id NULLS FIRST, session_start_us"""
  )
}
