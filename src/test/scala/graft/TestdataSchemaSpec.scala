package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.core.Tables

/** Pins the testdata contract AND the events reader's tolerance to the
  * `ts` physical encodings the driver environment has shipped so far.
  *
  * Round-6 post-mortem: the environment regenerated events.parquet with
  * `ts: timestamp[us]` (previously TIMESTAMP(NANOS)) and the reader's
  * hard-coded nanos conversion took 12/137 queries down with scattered
  * AnalysisExceptions. These specs turn any future regeneration into ONE
  * clear failure naming the table and column that moved.
  */
class TestdataSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Expected ADAPTED schema (what Tables.table hands to queries).
    * Timestamp-ish columns are pinned loosely — either Timestamp or
    * TimestampNTZ is fine (the DuckDB oracle reads both naively and all
    * harness sessions run UTC) — everything else exactly. */
  private val expected: Map[String, Seq[(String, DataType => Boolean)]] = {
    def is(t: DataType): DataType => Boolean = _ == t
    val anyTs: DataType => Boolean =
      t => t == TimestampType || t == TimestampNTZType
    Map(
      "region" -> Seq("r_regionkey" -> is(IntegerType), "r_name" -> is(StringType)),
      "nation" -> Seq("n_nationkey" -> is(IntegerType), "n_name" -> is(StringType),
        "n_regionkey" -> is(IntegerType)),
      "customer" -> Seq("c_custkey" -> is(LongType), "c_name" -> is(StringType),
        "c_nationkey" -> is(IntegerType), "c_acctbal" -> is(DoubleType),
        "c_mktsegment" -> is(StringType)),
      "supplier" -> Seq("s_suppkey" -> is(LongType), "s_name" -> is(StringType),
        "s_nationkey" -> is(IntegerType), "s_acctbal" -> is(DoubleType)),
      "part" -> Seq("p_partkey" -> is(LongType), "p_name" -> is(StringType),
        "p_brand" -> is(StringType), "p_type" -> is(StringType),
        "p_size" -> is(IntegerType), "p_retailprice" -> is(DoubleType)),
      "orders" -> Seq("o_orderkey" -> is(LongType), "o_custkey" -> is(LongType),
        "o_orderstatus" -> is(StringType), "o_totalprice" -> is(DoubleType),
        "o_orderdate" -> anyTs, "o_orderpriority" -> is(StringType)),
      "lineitem" -> Seq("l_orderkey" -> is(LongType), "l_partkey" -> is(LongType),
        "l_suppkey" -> is(LongType), "l_linenumber" -> is(IntegerType),
        "l_quantity" -> is(DoubleType), "l_extendedprice" -> is(DoubleType),
        "l_discount" -> is(DoubleType), "l_tax" -> is(DoubleType),
        "l_returnflag" -> is(StringType), "l_linestatus" -> is(StringType),
        "l_shipdate" -> anyTs),
      // events is pinned STRICTLY to TimestampType: Tables.events owns the
      // adaptation, so whatever encoding the file carries must normalize.
      "events" -> Seq("event_id" -> is(LongType), "ts" -> is(TimestampType),
        "user_id" -> is(LongType), "event_type" -> is(StringType),
        "value" -> is(DoubleType), "props" -> is(StringType)),
      "documents" -> Seq("doc_id" -> is(LongType), "text" -> is(StringType),
        "lang" -> is(StringType), "source" -> is(StringType),
        "n_chars" -> is(LongType)),
      "embeddings" -> Seq("vec_id" -> is(LongType),
        "embedding" -> is(ArrayType(FloatType)), "label" -> is(IntegerType))
    )
  }

  for (name <- Tables.all) test(s"testdata contract: $name") {
    val got = Tables.table(spark, sfDir, name).schema
    val want = expected(name)
    assert(got.fields.map(_.name).toSeq == want.map(_._1),
      s"$name columns moved — driver regenerated testdata? " +
        s"got ${got.fields.map(_.name).mkString(",")}")
    got.fields.zip(want).foreach { case (f, (col, ok)) =>
      assert(ok(f.dataType),
        s"$name.$col adapted type ${f.dataType} breaks the pinned contract " +
          "(for events.ts this means Tables.events no longer normalizes " +
          "the file's physical encoding — check the parquet footer)")
    }
  }

  // ---------- dual-encoding events fixture ----------

  /** Write a tiny events.parquet with TIMESTAMP(NANOS) annotation via
    * parquet-mr directly (Spark cannot author nanos itself). */
  private def writeNanosEvents(dir: java.nio.file.Path,
      rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .build()
    try rows.foreach { case (id, nanos) =>
      val g = new SimpleGroup(schema)
      g.add("event_id", id)
      g.add("ts", nanos)
      writer.write(g)
    } finally writer.close()
  }

  test("Tables.events reads nanos- and micros-encoded files identically") {
    import spark.implicits._
    val micros = Seq((1L, 1704067200123456L), (2L, 1704153600654321L))
    val nanosDir = TestSpark.tmpPath("events_nanos")
    writeNanosEvents(nanosDir, micros.map { case (id, us) => (id, us * 1000L) })
    val microsDir = TestSpark.tmpPath("events_micros")
    micros.toDF("event_id", "us")
      .selectExpr("event_id",
        "cast(timestamp_micros(us) as timestamp_ntz) as ts")
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")

    def load(dir: java.nio.file.Path) =
      Tables.events(spark, dir.toString)
        .selectExpr("event_id", "unix_micros(ts) as us")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq

    val fromNanos = load(nanosDir)
    val fromMicros = load(microsDir)
    assert(fromNanos == micros, s"nanos read mismatch: $fromNanos")
    assert(fromMicros == micros, s"micros read mismatch: $fromMicros")
    assert(Tables.events(spark, nanosDir.toString).schema("ts").dataType
      == org.apache.spark.sql.types.TimestampType)
    assert(Tables.events(spark, microsDir.toString).schema("ts").dataType
      == org.apache.spark.sql.types.TimestampType)
  }

  test("Tables.parquetSchema equals Spark's inference on every sf0.01 " +
       "table, events under nanosAsLong too") {
    val dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01")
    for (t <- Tables.all) {
      val p = dir.resolve(s"$t.parquet").toString
      assert(Tables.parquetSchema(spark, p) == spark.read.parquet(p).schema,
        t)
    }
    TestSpark.withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val p = dir.resolve("events.parquet").toString
      assert(Tables.parquetSchema(spark, p) == spark.read.parquet(p).schema)
    }
  }
}
