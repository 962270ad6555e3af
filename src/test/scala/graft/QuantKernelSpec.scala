package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Parity pins for the native int8 quantization kernel
  * (functions/Int8Quant.scala) against the retained HOF baselines.
  * The embedding_quantize oracle did NOT move in round 10; these tests
  * are the evidence the one-pass native rewrite is bit-identical. */
class QuantKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Adversarial vectors: every edge the kernel special-cases. */
  private def edgeVecs: DataFrame = Seq[(Long, Seq[java.lang.Double])](
    (1L, Seq[java.lang.Double](0.5, -1.0, 0.25, 0.125)),
    (2L, Seq[java.lang.Double](3.0, 2.0, -3.0, 0.0)),
    (3L, Seq[java.lang.Double](0.0, 0.0, 0.0, 0.0)),   // zero → scale 0
    (4L, Seq[java.lang.Double](-0.0, 0.0)),            // signed zero
    (5L, Seq.empty[java.lang.Double]),                 // empty → nulls
    (6L, Seq[java.lang.Double](1.0, null, -2.0)),      // null element
    (7L, Seq[java.lang.Double](null, null)),           // all-null
    (8L, Seq[java.lang.Double](Double.NaN, 1.0)),      // NaN scale
    (9L, Seq[java.lang.Double](1e300, -1e300, 1e-300)),
    (10L, Seq[java.lang.Double](Double.PositiveInfinity, 2.0)),
    (11L, Seq[java.lang.Double](1.27e-5)),             // tiny scale
    (12L, Seq[java.lang.Double](0.1, 0.2, 0.3, -0.1, -0.2, -0.3)),
    (13L, null.asInstanceOf[Seq[java.lang.Double]])    // null vector
  ).toDF("vec_id", "v")

  private def native(df: DataFrame): DataFrame =
    df.withColumn("__q", Similarity.int8QuantStats(col("v")))
      .select($"vec_id", $"__q.scale".as("scale"),
        $"__q.codes".as("codes"), $"__q.max_err".as("max_err"))

  private def hof(df: DataFrame): DataFrame =
    df.withColumn("scale", Similarity.quantScaleHof(col("v")))
      .withColumn("codes", Similarity.quantCodesHof(col("v"), col("scale")))
      .withColumn("max_err",
        Similarity.dequantMaxErrHof(col("v"), col("codes"), col("scale")))
      .select($"vec_id", $"scale", $"codes", $"max_err")

  /** Row comparison that distinguishes NaN-equal but is exact
    * otherwise (Seq[Row] == uses value equality; Double NaN != NaN,
    * so compare via a canonical string that keeps sign and bits). */
  private def canon(rows: Seq[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.toString(d)
      case x => String.valueOf(x)
    })

  test("int8QuantStats: native == HOF on the adversarial vectors") {
    val a = canon(native(edgeVecs).orderBy("vec_id").collect().toSeq)
    val b = canon(hof(edgeVecs).orderBy("vec_id").collect().toSeq)
    assert(a == b)
  }

  test("int8QuantStats: native == HOF on the sf0.001 embeddings") {
    val sf = sys.env.getOrElse("GRAFT_TESTDATA",
      "/root/testdata/sf0.001")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = canon(native(e).orderBy("vec_id").collect().toSeq)
    val b = canon(hof(e).orderBy("vec_id").collect().toSeq)
    assert(a.nonEmpty && a == b)
  }

  test("interpreted eval path matches codegen (factoryMode toggle)") {
    val key = "spark.sql.codegen.factoryMode"
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, -1.0), Seq(1.0, 1.0))
    def run(): Seq[Seq[String]] =
      canon(native(edgeVecs).orderBy("vec_id").collect().toSeq) ++
      canon(edgeVecs
        .withColumn("nrm", sqrt(Similarity.fastDot(col("v"), col("v"))))
        .select($"vec_id",
          Similarity.l2NormalizeStaged(col("v"), col("nrm")).as("u"),
          Similarity.cellsFor(col("v"), cents, 2).as("c"))
        .orderBy("vec_id").collect().toSeq)
    val gen = TestSpark.withConf(key -> "CODEGEN_ONLY")(run())
    val interp = TestSpark.withConf(key -> "NO_CODEGEN")(run())
    assert(gen == interp)
  }

  test("l2NormalizeStaged: native == HOF on the adversarial vectors") {
    def stage(df: DataFrame) = df.withColumn("nrm",
      sqrt(Similarity.fastDot(col("v"), col("v"))))
    val a = canon(stage(edgeVecs)
      .select($"vec_id", Similarity.l2NormalizeStaged(col("v"),
        col("nrm")).as("u"))
      .orderBy("vec_id").collect().toSeq)
    val b = canon(stage(edgeVecs)
      .select($"vec_id", Similarity.l2NormalizeStagedHof(col("v"),
        col("nrm")).as("u"))
      .orderBy("vec_id").collect().toSeq)
    assert(a == b)
    // null-norm edge: HOF yields an array of nulls, not a null array
    val nullNrm = edgeVecs.select($"vec_id", $"v",
      lit(null).cast("double").as("nrm"))
    val an = canon(nullNrm.select($"vec_id",
      Similarity.l2NormalizeStaged(col("v"), col("nrm")).as("u"))
      .orderBy("vec_id").collect().toSeq)
    val bn = canon(nullNrm.select($"vec_id",
      Similarity.l2NormalizeStagedHof(col("v"), col("nrm")).as("u"))
      .orderBy("vec_id").collect().toSeq)
    assert(an == bn)
  }

  test("cellsFor: native == HOF across nProbe and adversarial dots") {
    // centroids engineered for ties (identical rows → equal dots,
    // cell id breaks), sign-of-zero ties, and a NaN-producing row
    val cents = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0),
      Seq(1.0, 0.0, 0.0, 0.0),            // duplicate of cell 0 → tie
      Seq(-1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 0.0, 0.0))            // zero dot vs -0.0 inputs
    val vecs = Seq[(Long, Seq[java.lang.Double])](
      (1L, Seq[java.lang.Double](0.5, -1.0, 0.25, 0.125)),
      (2L, Seq[java.lang.Double](-0.0, 0.0, 0.0, 0.0)),
      (3L, Seq[java.lang.Double](Double.NaN, 1.0, 0.0, 0.0)),
      (4L, Seq[java.lang.Double](Double.PositiveInfinity, 1.0, 0.0, 0.0)),
      (5L, Seq[java.lang.Double](1.0, null, 2.0, 0.0)),
      (6L, Seq[java.lang.Double](1.0, 2.0)),   // ragged → null dots
      (7L, Seq.empty[java.lang.Double]),
      (8L, null.asInstanceOf[Seq[java.lang.Double]])
    ).toDF("vec_id", "v")
    (1 to 5).foreach { nProbe =>
      val a = canon(vecs.select($"vec_id",
        Similarity.cellsFor(col("v"), cents, nProbe).as("c"))
        .orderBy("vec_id").collect().toSeq)
      val b = canon(vecs.select($"vec_id",
        Similarity.cellsForHof(col("v"), cents, nProbe).as("c"))
        .orderBy("vec_id").collect().toSeq)
      assert(a == b, s"cellsFor parity broke at nProbe=$nProbe")
    }
    // real shape: rademacher planes over the sf0.001 embeddings
    val sf = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata/sf0.001")
    val planes = Similarity.rademacherPlanes(8, 64)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = canon(e.select($"vec_id",
      Similarity.cellsFor(col("v"), planes, 3).as("c"))
      .orderBy("vec_id").collect().toSeq)
    val b = canon(e.select($"vec_id",
      Similarity.cellsForHof(col("v"), planes, 3).as("c"))
      .orderBy("vec_id").collect().toSeq)
    assert(a.nonEmpty && a == b)
  }

  test("cellCombine: native == HOF on adversarial (vec, cell) pairs") {
    val cents = Seq(
      Seq(1.0, -2.0, 0.5, 0.0),
      Seq(-0.0, 0.0, 1e300, -1e-300),
      Seq(Double.MaxValue, 1.0, 2.0, 3.0))
    val rows = Seq[(Long, Seq[java.lang.Double], java.lang.Integer)](
      (1L, Seq[java.lang.Double](0.5, -1.0, 0.25, 0.125), 0),
      (2L, Seq[java.lang.Double](-0.0, 0.0, 0.0, 0.0), 1),  // signed zero
      (3L, Seq[java.lang.Double](Double.NaN, 1.0, 0.0, 0.0), 2),
      (4L, Seq[java.lang.Double](1.0, null, 2.0, 0.0), 0),  // null element
      (5L, Seq[java.lang.Double](1.0, 2.0), 0),             // ragged → null
      (6L, Seq.empty[java.lang.Double], 1),                 // empty → null
      (7L, null.asInstanceOf[Seq[java.lang.Double]], 0),    // null vec
      (8L, Seq[java.lang.Double](1.0, 1.0, 1.0, 1.0), null), // null cell
      (9L, Seq[java.lang.Double](1.0, 1.0, 1.0, 1.0), 7),   // out of range
      (10L, Seq[java.lang.Double](1.0, 1.0, 1.0, 1.0), -1), // negative
      (11L, Seq[java.lang.Double](1e308, 1e308, 0.0, 0.0), 2) // overflow→inf
    ).toDF("vec_id", "v", "cell")
    Seq(1.0, -1.0).foreach { sign =>
      val a = canon(rows.select($"vec_id",
        Similarity.cellCombine(col("v"), col("cell"), cents, sign).as("r"))
        .orderBy("vec_id").collect().toSeq)
      val b = canon(rows.select($"vec_id",
        Similarity.cellCombineHof(col("v"), col("cell"), cents, sign).as("r"))
        .orderBy("vec_id").collect().toSeq)
      assert(a == b, s"cellCombine parity broke at sign=$sign")
    }
  }

  test("cellCombine: subtract-then-add round-trips exactly " +
       "(residual encode/decode identity at zero PQ error)") {
    val sf = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata/sf0.001")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = Similarity.kmeansCentroids(e, "v", "vec_id", 4)
    val asg = e.withColumn("cell",
      Similarity.cellsFor(col("v"), cents, 1).getItem(0))
    // v − c + c == v is NOT an IEEE identity (cancellation error is
    // relative to |c|, not |v|); assert the round-trip error is at the
    // float-noise floor — a WRONG centroid applied on either leg would
    // show as an O(1) error, which is what this pins
    val bad = asg
      .withColumn("r", Similarity.cellCombine(col("v"), col("cell"),
        cents, -1.0))
      .withColumn("back", Similarity.cellCombine(col("r"), col("cell"),
        cents, 1.0))
      .select(explode(zip_with(col("back"), col("v"),
        (b, x) => abs(b - x) > 1e-9)).as("bad"))
      .filter(col("bad")).count()
    assert(bad == 0)
  }

  test("PqDecode: decode(encode(v).codes) == encode(v).recon bit-exact; " +
       "corrupt code arrays decode to null") {
    import org.apache.spark.sql.GraftBridge
    val sf = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata/sf0.001")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val cb = Similarity.pqCodebooks(e, "v", "id", m = 16, k = 16)
    val flat = cb.flatten.flatten.toArray
    def dec(c: org.apache.spark.sql.Column) = GraftBridge.column(
      graft.functions.PqDecode(GraftBridge.expression(c), flat, 16, 16, 4))
    val enc = Similarity.pqEncode(e, "v", "id", cb)
    val bad = enc
      .withColumn("dr", dec(col("codes")))
      .filter(not(col("dr") <=> col("recon"))).count()
    assert(bad == 0)
    // corrupt rows: wrong length, null element, out-of-range code
    val corrupt = Seq(
      (1L, Seq[Integer](0, 1, 2)),                       // wrong length
      (2L, Seq[Integer](0, 1, null, 3, 0, 1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3)),
      (3L, Seq[Integer](0, 1, 99, 3, 0, 1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3)),
      (4L, Seq[Integer](0, 1, -1, 3, 0, 1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3)),
      (5L, null.asInstanceOf[Seq[Integer]])
    ).toDF("id", "codes")
    assert(corrupt.select(dec(col("codes")).as("r"))
      .filter(col("r").isNotNull).count() == 0)
  }

  test("fuzz: native == HOF on random vectors (seeded)") {
    val rnd = new scala.util.Random(42)
    val vecs = (1L to 200L).map { i =>
      val n = rnd.nextInt(65)
      (i, Seq.fill(n)(java.lang.Double.valueOf(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3))))
    }.toDF("vec_id", "v")
    val a = canon(native(vecs).orderBy("vec_id").collect().toSeq)
    val b = canon(hof(vecs).orderBy("vec_id").collect().toSeq)
    assert(a == b)
  }
}
