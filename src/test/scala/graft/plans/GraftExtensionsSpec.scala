package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** The custom-Catalyst surface: the native codegen expressions
  * (`winnow_fps`, `cosine_sim`, `native_dot`, `lsh_bands`), the
  * `DotRewrite` optimizer rule, and SparkSessionExtensions registration.
  */
class GraftExtensionsSpec extends AnyFunSuite with GraftTestSession {

  test("extension class applies cleanly to a fresh SparkSessionExtensions") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("cosine/dot kernels match the reference fold on adversarial inputs (seeded property)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(20260812L)
    def refDot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    def refCos(a: Array[Double], b: Array[Double]): Double =
      refDot(a, b) / (Math.sqrt(refDot(a, a)) * Math.sqrt(refDot(b, b)))
    val specials = Array(0.0, -0.0, 1e-308, -1e-308, 1e308, -1e308,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)
    for (trial <- 0 until 200) {
      val n = rnd.nextInt(80) + 1
      def gen() = Array.fill(n) {
        if (rnd.nextInt(10) == 0) specials(rnd.nextInt(specials.length))
        else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12) - 6)
      }
      val (a, b) = (gen(), gen())
      val (ad, bd) = (new GenericArrayData(a), new GenericArrayData(b))
      val kd = DotKernel.compute(ad, bd)
      assert(kd != null)
      assert(java.lang.Double.doubleToLongBits(kd.doubleValue()) ==
        java.lang.Double.doubleToLongBits(refDot(a, b)), s"dot diverged on trial $trial")
      val kc = CosineKernel.compute(ad, bd)
      assert(kc != null)
      // NaN-safe bit comparison (0-norm or inf inputs produce NaN on
      // BOTH paths — that identity is exactly what we assert)
      assert(java.lang.Double.doubleToLongBits(kc.doubleValue()) ==
        java.lang.Double.doubleToLongBits(refCos(a, b)), s"cosine diverged on trial $trial")
    }
    // length mismatch → null, both kernels
    val short = new GenericArrayData(Array(1.0))
    val long2 = new GenericArrayData(Array(1.0, 2.0))
    assert(DotKernel.compute(short, long2) == null)
    assert(CosineKernel.compute(short, long2) == null)
  }

  test("unscaled12 equals the BigDecimal.valueOf + setScale(12, HALF_UP) reference exactly") {
    def ref(v: Double): Long = java.math.BigDecimal.valueOf(v)
      .setScale(12, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    // edge shapes: zeros, signed zero, exact halves at the 12th place,
    // exponent-form small values, integer values, >=1e6 fallback path
    val edges = Seq(0.0, -0.0, 1.0, -1.0, 0.5e-12, -0.5e-12, 1.5e-12,
      2.5e-12, -2.5e-12, 1e-13, 9.99999e-13, 0.000123, -0.000123,
      1.23e-5, -1.23e-5, 123.456, 2048.0, -3000.0, 2999.999999999999,
      1234567.89, -8.7e5, 4.9e-324, -4.9e-324)
    edges.foreach { v =>
      assert(LshBandsKernel.unscaled12(v) == ref(v), s"edge $v")
    }
    // differential sweep over the kernel's actual input shape:
    // float-derived components × integer weights in [-1000, 1000]
    val rnd = new scala.util.Random(20260815L)
    var i = 0
    while (i < 2000000) {
      val x = (rnd.nextFloat() * 8 - 4).toDouble
      val w = (rnd.nextInt(2001) - 1000).toLong
      val v = x * w
      assert(LshBandsKernel.unscaled12(v) == ref(v),
        s"mismatch at v=$v (x=$x w=$w)")
      i += 1
    }
    // and raw doubles (not float-derived) across magnitudes
    i = 0
    while (i < 500000) {
      val v = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(10) - 6)
      assert(LshBandsKernel.unscaled12(v) == ref(v), s"mismatch at raw v=$v")
      i += 1
    }
  }

  test("lsh_bands kernel equals the declarative explode+join+decimal-sum pipeline") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(7L)
    val emb = (0L until 200L).map(id =>
      (id, Array.fill(64)((rnd.nextFloat() * 2 - 1)))).toDF("vec_id", "embedding")
    val nPlanes = 48
    val bandBits = 12
    // reference: the former join-form pipeline, verbatim
    val planes = spark.range(nPlanes.toLong * 64).select(
        expr("id div 64").as("p"), (col("id") % 64).as("d"))
      .select(col("p"), col("d"),
        (conv(substring(md5(concat(lit("plane"), col("p"), lit("_"), col("d"))), 1, 12), 16, 10)
          .cast("long") % 2001 - 1000).as("w"))
    val ex = emb.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>"))).toDF("vec_id", "d", "x")
    val dots = ex.join(broadcast(planes), "d")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum((col("x") * col("w")).cast(DecimalType(30, 12))).as("proj"))
    val bits = dots.select(col("vec_id"), col("p"),
      when(col("proj") >= 0, 1L).otherwise(0L).as("bit"))
    val weights = typedLit((0 until bandBits).map(b => 1L << b))
    val refBands = bits.groupBy(col("vec_id"), (col("p") / bandBits).cast("long").as("band"))
      .agg(sum(col("bit") * element_at(weights, (col("p") % bandBits).cast("int") + 1)).as("bval"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // kernel form
    val got = emb.select(col("vec_id"),
        call_function("lsh_bands", col("embedding").cast("array<double>"),
          lit(nPlanes), lit(bandBits)).as("bvals"))
      .select(col("vec_id"), posexplode(col("bvals")))
      .select(col("vec_id"), col("pos").cast("long"), col("col"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == refBands, "lsh_bands diverges from the declarative pipeline")
  }

  test("DotRewrite fuses the declarative dot idiom into native_dot, bit-identically") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
    // ground truth: the exact left-to-right fold, in plain Scala, from
    // the raw arrays — independent of any Catalyst path
    val truth = e.collect().map { r =>
      val a = r.getSeq[Double](1)
      r.getLong(0) -> a.foldLeft(0.0)((acc, x) => acc + x * x)
    }.toMap
    // ensure the rule is active regardless of whether this session was
    // built with the extension (getOrCreate may reuse a plain one) —
    // extraOptimizations is the always-available seam for the same rule
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ DotRewrite
    try {
      val fused = e.select(col("vec_id"),
        aggregate(zip_with(col("a"), col("a"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("dot"))
      assert(fused.queryExecution.optimizedPlan.toString.contains("native_dot"),
        s"rule did not fire:\n${fused.queryExecution.optimizedPlan}")
      val after = fused.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(after.keySet == truth.keySet)
      after.foreach { case (id, d) =>
        assert(java.lang.Double.doubleToLongBits(d) ==
          java.lang.Double.doubleToLongBits(truth(id)),
          s"fused dot diverged for vec $id")
      }
      // conservative matching: a non-dot fold (acc + v*2) must NOT fuse
      val other = e.select(aggregate(zip_with(col("a"), col("a"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v * lit(2.0)).as("nd"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("native_dot"))
      // a -0.0 seed must NOT fuse either: NativeDot folds from +0.0,
      // and a ±0.0 result would flip its sign bit after fusion (Scala
      // == can't see the difference; the rule bit-compares the seed)
      val negZero = e.select(aggregate(zip_with(col("a"), col("a"), (x, y) => x * y),
        lit(-0.0), (acc, v) => acc + v).as("nz"))
      assert(!negZero.queryExecution.optimizedPlan.toString.contains("native_dot"),
        "-0.0-seeded fold must be left unfused")
    } finally {
      // restore — the shared getOrCreate session outlives this suite,
      // and a leaked rewrite would make later plan-shape tests
      // order-dependent
      spark.experimental.extraOptimizations = saved
    }
  }

  test("winnow_fps equals the declarative per-position formulation on the corpus") {
    val K = graft.plans.WinnowKernel.K
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(length(col("text")) >= K + 3)
    // the original O(Kn) pipeline: explode positions, refold each
    // K-gram, window-4 min, distinct
    val P = 1000000007L
    val pos = docs.select(col("doc_id"), col("text"), length(col("text")).as("len"),
      explode(sequence(lit(1), length(col("text")) - (K - 1))).as("i"))
    val kh = pos.select(col("doc_id"), col("len"), col("i"),
      aggregate(sequence(col("i"), col("i") + (K - 1)), lit(0L),
        (h, j) => (h * 257 + ascii(col("text").substr(j, lit(1)))) % P).as("h"))
    val declarative = kh
      .withColumn("fp", min(col("h")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)))
      .filter(col("i") <= col("len") - (K + 2))
      .select(col("doc_id"), col("fp")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val native = docs
      .select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == declarative)
    assert(native.nonEmpty)
  }

  test("winnow_fps short strings and codegen residency") {
    val K = graft.plans.WinnowKernel.K
    val under = "x" * (K + 2) // one char short of the K+3 minimum
    val empty = spark.sql(s"SELECT winnow_fps('$under') AS f").collect()(0).getSeq[Long](0)
    assert(empty.isEmpty, s"strings under ${K + 3} chars have no fingerprint")
    val atMin = spark.sql(s"SELECT winnow_fps('${"x" * (K + 3)}') AS f")
      .collect()(0).getSeq[Long](0)
    assert(atMin.nonEmpty, "the minimum-length string yields a fingerprint")
    val pad = "abcdefghijklmnopqrstuvwxyz-" // 27 chars + id digits >= K+3
    val df = spark.range(50).selectExpr(
      s"winnow_fps(concat('$pad', CAST(id AS STRING))) AS f")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"project fell out of codegen:\n$plan")
    assert(df.collect().forall(_.getSeq[Long](0).nonEmpty))
  }
}
