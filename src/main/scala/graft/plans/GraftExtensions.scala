package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** JVM kernel for [[WinnowFingerprints]] — winnowing document
  * fingerprints (poly-hash over char-K-grams, window-4 minimum,
  * distinct) in one O(n) pass with a TRUE rolling hash, replacing the
  * O(Kn) per-position refold of the declarative pipeline. Semantics
  * are bit-identical to the SQL formulation in the TextStats.t4/t7
  * DuckDB oracles:
  *   h(i)  = fold_{j=0..K-1} (h*257 + codepoint(text[i+j])) mod 1e9+7
  *   fp(i) = min(h(i)..h(i+3))  for i in [0, len-(K+3)]
  *   out   = sorted distinct fp
  * Codepoints (not UTF-16 chars, not bytes) because Spark's ascii()
  * and DuckDB's unicode() both yield codepoints.
  *
  * K = 25 (MOSS-scale noise threshold, vs the round-3 K = 8): a
  * fingerprint is only shared by documents with a verbatim common
  * substring of ≥ K chars (winnowing guarantee: any match of
  * ≥ K+3 = 28 chars shares a fingerprint). Short grams saturate — on
  * the sf0.1 corpus 8-gram document frequencies reached 3813 and grew
  * linearly with corpus size, making every fingerprint boilerplate at
  * scale; 25-gram df tops out at 14 there and stays flat, so the
  * t4/t7 fingerprint joins stay near-linear.
  */
object WinnowKernel {
  private val P = 1000000007L
  private val B = 257L
  /** Gram width. */
  val K = 25
  /** Winnowing window: min over 4 consecutive gram hashes. */
  private val W = 4
  /** B^(K-1) mod P, the coefficient of the outgoing character. */
  private val POWK: Long = {
    var r = 1L
    var i = 0
    while (i < K - 1) { r = r * B % P; i += 1 }
    r
  }

  def compute(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n < K + W - 1) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val nGrams = n - (K - 1)
    val khs = new Array[Long](nGrams)
    var h = 0L
    var j = 0
    while (j < K) { h = (h * B + cps(j)) % P; j += 1 }
    khs(0) = h
    var i = 1
    while (i < nGrams) {
      // remove cps(i-1), shift, add cps(i+K-1): stays in [0, P)
      h = ((h + P - cps(i - 1) * POWK % P) % P * B + cps(i + K - 1)) % P
      khs(i) = h
      i += 1
    }
    val nFps = nGrams - (W - 1)
    val fps = new Array[Long](nFps)
    var k = 0
    while (k < nFps) {
      var m = khs(k)
      if (khs(k + 1) < m) m = khs(k + 1)
      if (khs(k + 2) < m) m = khs(k + 2)
      if (khs(k + 3) < m) m = khs(k + 3)
      fps(k) = m
      k += 1
    }
    java.util.Arrays.sort(fps)
    var w = 0
    var r = 0
    while (r < nFps) {
      if (w == 0 || fps(r) != fps(w - 1)) { fps(w) = fps(r); w += 1 }
      r += 1
    }
    // fromPrimitiveArray keeps the longs unboxed (GenericArrayData would
    // wrap them in Array[Any], one java.lang.Long per fingerprint)
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(fps, w))
  }
}

/** `winnow_fps(text)` — the winnowing fingerprint set as a native
  * codegen expression. The declarative version explodes one row per
  * character position before hashing (K× refold per position, a
  * position×row blowup through the shuffle); this computes the whole
  * distinct fingerprint set in one pass inside WholeStageCodegen and
  * only then explodes, so the per-position intermediate never
  * materializes.
  */
case class WinnowFingerprints(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fps expects string, got ${other.catalogString}")
    }

  override protected def nullSafeEval(text: Any): Any =
    WinnowKernel.compute(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WinnowKernel.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** JVM kernel for [[CosineSim]] — unrounded cosine similarity of two
  * double arrays in ONE fused pass (dot, ‖a‖², ‖b‖² accumulated
  * left-to-right), operating directly on Catalyst [[ArrayData]].
  *
  * Bit-parity contract with the declarative form it replaces
  * (`aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_) / (sqrt(..)*sqrt(..))`
  * in [[graft.queries.Similarity]], mirrored by the DuckDB oracles'
  * `SUM(x*y)/ (SQRT(SUM(x*x))*SQRT(SUM(y*y)))`): every accumulator is
  * the same left-to-right IEEE double fold, sqrt is the correctly-
  * rounded `Math.sqrt` both engines use, and the final round(…,6)
  * stays in the Column layer so rounding goes through the exact same
  * Spark path as before. Returns null on length mismatch or null
  * elements exactly where the higher-order form nulls out.
  *
  * Why native: zip_with/aggregate are interpreted HigherOrderFunctions
  * — three of them per cosine broke whole-stage codegen in the hottest
  * loop of the ANN/dedup family (s1/s2/s4/s5/d5/d6/d8). This kernel
  * keeps the loop inside generated code with zero per-element closure
  * dispatch and no intermediate zipped array allocation.
  */
object CosineKernel {
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (Math.sqrt(na) * Math.sqrt(nb))
  }
}

/** `cosine_sim(array<double>, array<double>)` → unrounded cosine, as a
  * codegen-friendly native expression. See [[CosineKernel]] for the
  * parity contract.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def dataType: DataType = DoubleType

  // null on length mismatch / null element, even for non-null inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim expects (array<double>, array<double>), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineKernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("graftCos")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $tmp = graft.plans.CosineKernel.compute($a, $b);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** JVM kernel for [[LshBands]] — all sign-random-projection band values
  * of one embedding in a single pass, inside generated code.
  *
  * Parity contract (bit-identical to the declarative pipeline it
  * replaces, which was: explode components → join the md5-derived
  * integer plane weights → `sum(CAST(x*w AS DECIMAL(30,12)))` per
  * (vector, plane) → sign bit → per-band little-endian bit pack):
  *  - weights: first 12 hex chars of md5("plane<p>_<d>") as a 48-bit
  *    integer, % 2001 − 1000 — identical to [[graft.queries.Similarity]]'s
  *    `planes`/`duckPlanes`;
  *  - each term replicates Spark's double→DECIMAL(30,12) cast exactly:
  *    `BigDecimal.valueOf(x*w).setScale(12, HALF_UP)` (valueOf goes
  *    through Double.toString — the same canonical representation
  *    Spark's `Decimal(double)` uses), then sums the scale-12 unscaled
  *    longs exactly (|term| ≤ 3.1e15, 64 terms ⇒ no overflow);
  *  - a plane with zero non-null terms yields bit 0 (SQL `sum` of an
  *    empty/all-null group is NULL, and `proj >= 0` on NULL is not
  *    true), null elements are skipped (SQL sum semantics).
  *
  * Why a native kernel: the join form's partial aggregate holds
  * |corpus|·nPlanes groups (86M at the ×300 wide-geometry probe — past
  * the hash-agg budget, so it sort-spilled 5.5B rows: >20 min and tens
  * of GB of disk), while the interpreted HOF form
  * (transform/zip_with/aggregate over Decimals) pays boxed-Decimal
  * closure dispatch per term — ~100× this loop. One row in, nBands
  * longs out, no shuffle, no boxing, codegen-resident.
  */
object LshBandsKernel {
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()

  /** nPlanes×64 md5-derived integer weights, computed once per JVM. */
  def weights(nPlanes: Int): Array[Array[Long]] =
    weightCache.computeIfAbsent(nPlanes, np => {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(np, 64) { (p, d) =>
        md.reset()
        val hex = md.digest(s"plane${p}_${d}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 12)
        java.lang.Long.parseLong(hex, 16) % 2001 - 1000
      }
    })

  /** Scale-12 unscaled long of `BigDecimal.valueOf(v).setScale(12,
    * HALF_UP)` — i.e. Spark's double→DECIMAL(30,12) cast — computed by
    * parsing `Double.toString`'s shortest round-trip representation
    * directly instead of routing it through a BigDecimal parse
    * (~3× the kernel throughput; differentially tested against the
    * BigDecimal reference in GraftExtensionsSpec). Callers guarantee
    * |v| small enough that the scaled value fits a long (|v| ≤ ~3e6
    * here; terms are embedding components × integer weights ≤ 1000).
    */
  def unscaled12(v: Double): Long = {
    // |v| ≥ 1e6 would need > 18 kept digits (overflow territory) and
    // never occurs for LSH terms — route the cold path through the
    // reference implementation instead of guessing
    if (!(v < 1e6 && v > -1e6)) // also catches NaN
      return java.math.BigDecimal.valueOf(v)
        .setScale(12, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    // FAST PATH (no string, no allocation): valueOf rounds the
    // SHORTEST-REPR value R, which lives within halfULP of the exact
    // binary value E = v. If no rounding half-boundary k+0.5 (at scale
    // 12) lies within that ambiguity window — plus the error of our
    // own fraction×1e12 multiply — then round12(R) == round12(E) and
    // integer math decides it. Otherwise fall through to the exact
    // string parse. For this kernel's term magnitudes (|v| ≤ ~4e3)
    // the window is ≤ ~0.25 of one scaled unit, so the slow path is
    // the rare case, not the common one.
    val a = if (v < 0) -v else v
    val ip = a.toLong           // exact: a < 1e6 < 2^52
    val fp = a - ip             // exact subtraction below 2^52
    val r = fp * 1e12           // error ≤ 0.5 ulp(1e12) ≈ 1.2e-4
    val kf = r.toLong
    val frac = r - kf
    val margin = 0.5 * Math.ulp(a) * 1e12 + 2e-4
    val distToHalf = if (frac >= 0.5) frac - 0.5 else 0.5 - frac
    if (distToHalf > margin) {
      val scaled = ip * 1000000000000L + (if (frac > 0.5) kf + 1 else kf)
      return if (v < 0) -scaled else scaled
    }
    val s = java.lang.Double.toString(v) // shortest repr; Ryu in JDK 17
    val n = s.length
    var i = 0
    var neg = false
    if (s.charAt(0) == '-') { neg = true; i = 1 }
    // locate the exponent marker and the decimal point (toString always
    // emits a point; the exponent only for |v| >= 1e7 or < 1e-3)
    var eIdx = -1
    var dotIdx = -1
    var j = i
    while (j < n && eIdx < 0) {
      val c = s.charAt(j)
      if (c == 'E') eIdx = j
      else if (c == '.') dotIdx = j
      j += 1
    }
    val mantEnd = if (eIdx >= 0) eIdx else n
    val exp = if (eIdx >= 0) java.lang.Integer.parseInt(s.substring(eIdx + 1)) else 0
    // a mantissa digit's decimal position relative to the value's
    // decimal point: textual offset from the dot, shifted by exp;
    // position p >= 1 is the p-th fraction digit, p <= 0 integer part
    var acc = 0L      // digits with position <= 12, accumulated in order
    var roundUp = false // HALF_UP: decided by the 13th fraction digit alone
    var k = i
    while (k < mantEnd) {
      val c = s.charAt(k)
      if (c != '.') {
        val pos = (if (k < dotIdx) k - dotIdx + 1 else k - dotIdx) - exp
        if (pos <= 12) acc = acc * 10 + (c - '0')
        else if (pos == 13 && c >= '5') roundUp = true
      }
      k += 1
    }
    // acc is scaled by 10^min(fracDigits, 12); pad to scale 12
    val fracDigits = (mantEnd - dotIdx - 1) - exp
    var scaled = acc
    var pad = 12 - math.min(fracDigits, 12)
    while (pad > 0) { scaled *= 10; pad -= 1 }
    if (roundUp) scaled += 1
    if (neg) -scaled else scaled
  }

  def compute(e: ArrayData, nPlanes: Int, bandBits: Int): ArrayData = {
    val w = weights(nPlanes)
    val dims = math.min(e.numElements(), 64)
    val nBands = nPlanes / bandBits
    val bvals = new Array[Long](nBands)
    var p = 0
    while (p < nPlanes) {
      val wp = w(p)
      var acc = 0L // scale-12 unscaled sum, exact
      var terms = 0
      var d = 0
      while (d < dims) {
        if (!e.isNullAt(d)) {
          acc += unscaled12(e.getDouble(d) * wp(d))
          terms += 1
        }
        d += 1
      }
      if (terms > 0 && acc >= 0L) bvals(p / bandBits) |= 1L << (p % bandBits)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bvals)
  }
}

/** `lsh_bands(array<double>, nPlanes, bandBits)` → `array<long>` of the
  * vector's band values (index = band id). See [[LshBandsKernel]] for
  * the parity contract with the declarative pipeline it replaced. */
case class LshBands(child: Expression, nPlanes: Int, bandBits: Int)
    extends UnaryExpression {

  require(nPlanes > 0 && bandBits > 0 && nPlanes % bandBits == 0,
    s"lsh_bands: nPlanes ($nPlanes) must be a positive multiple of bandBits ($bandBits)")

  override def prettyName: String = "lsh_bands"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bands expects array<double>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(e: Any): Any =
    LshBandsKernel.compute(e.asInstanceOf[ArrayData], nPlanes, bandBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e => s"""
      ${ev.value} = graft.plans.LshBandsKernel.compute($e, $nPlanes, $bandBits);
    """)

  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

/** JVM kernel for [[NativeDot]] — left-to-right dot product of two
  * double arrays; the exact fold order of the declarative
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` idiom it substitutes. */
object DotKernel {
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    dot
  }
}

/** `native_dot(array<double>, array<double>)` — fused single-pass dot
  * product, codegen-resident. Usually not written by hand: the
  * [[DotRewrite]] optimizer rule swaps it in for the declarative
  * zip_with/aggregate idiom.
  */
case class NativeDot(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "native_dot"

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"native_dot expects (array<double>, array<double>), got (${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotKernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("graftDot")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $tmp = graft.plans.DotKernel.compute($a, $b);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NativeDot =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: recognize the declarative dot-product idiom
  *
  *   aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v)
  *
  * (three interpreted HigherOrderFunctions per evaluation) and replace
  * it with the fused, codegen-resident [[NativeDot]] kernel. The
  * rewrite is a pure engine-level strength reduction: the kernel
  * executes the exact same left-to-right IEEE fold, so results are
  * bit-identical (spec-asserted) — users who write the idiomatic
  * DataFrame form get the native kernel for free when the session is
  * built with [[GraftExtensions]]. Matches conservatively: double
  * arrays, literal 0.0 zero, bare x*y and acc+v lambda bodies (in
  * either operand order), identity finish lambda.
  */
object DotRewrite extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** body is `l op r` over exactly the two bound variables, either order. */
  private def usesBoth(l: Expression, r: Expression,
      v1: NamedLambdaVariable, v2: NamedLambdaVariable): Boolean =
    (l, r) match {
      case (a: NamedLambdaVariable, b: NamedLambdaVariable) =>
        (a.exprId == v1.exprId && b.exprId == v2.exprId) ||
          (a.exprId == v2.exprId && b.exprId == v1.exprId)
      case _ => false
    }

  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    // tree-pattern pruning: this rule runs in every optimizer pass of
    // every query (AQE re-optimizations included) — subtrees without a
    // higher-order function are skipped via the pattern bitmask instead
    // of walked, so the 100+ non-vector queries pay ~nothing for it
    plan.transformAllExpressionsWithPruning(
        _.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION)) {
      case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(seed: Double, DoubleType),
          LambdaFunction(Add(al, ar, _), Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(fv: NamedLambdaVariable), _))
          // bit-compare the seed: Scala's == treats -0.0 == 0.0, but
          // NativeDot folds from +0.0, and a -0.0-seeded fold whose
          // result is ±0.0 keeps the seed's sign bit — fusing it would
          // breach the advertised bit-identical guarantee.
          if java.lang.Double.doubleToLongBits(seed) ==
              java.lang.Double.doubleToLongBits(0.0) &&
            isDoubleArray(a) && isDoubleArray(b) &&
            usesBoth(ml, mr, x, y) && usesBoth(al, ar, acc, v) &&
            fin.exprId == fv.exprId =>
        NativeDot(a, b)
    }
}

/** AQE query-stage preparation rule: a global sort over a small,
  * already computed input sorts it in one partition. The exchange a
  * global sort adds (`ENSURE_REQUIREMENTS` origin, `RangePartitioning`)
  * first runs a sampling job over its input to pick the range bounds.
  * For most of the surface's final `orderBy`s that input is a few KB to
  * a few MB of aggregate output, so the sampling job cost more than the
  * sort. Once every leaf below the exchange is a materialized query
  * stage whose runtime size totals at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (Spark's own
  * amount of input for one reducer), the exchange becomes a
  * `SinglePartition` exchange. The sort above it then gives the same
  * total order from one partition, and no sampling job runs.
  *
  * Left as they are: user range repartitions (their origin is not
  * `ENSURE_REQUIREMENTS`), a sort over a scan or over an input that is
  * not yet materialized, and a sort over an input above the bound,
  * which keeps its parallel range sort.
  */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val bound = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if materializedBytes(child).exists(_ <= bound) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }

  /** Runtime bytes of `plan`'s input when every leaf of it is a
    * materialized query stage, None otherwise. */
  private def materializedBytes(plan: SparkPlan): Option[BigInt] = {
    val leaves = plan.collectLeaves()
    val stages = leaves.collect { case s: QueryStageExec if s.isMaterialized => s }
    if (leaves.nonEmpty && stages.size == leaves.size)
      Some(stages.map(_.getRuntimeStatistics.sizeInBytes).sum)
    else None
  }
}

/** Session-extension entry point: registers the graft-native functions
  * into the Catalyst function registry, the [[DotRewrite]] optimizer
  * rule, the [[SmallSortSinglePartition]] query-stage rule and the
  * as-of join rule and strategy. [[graft.GraftSession]] applies
  * it to every session it creates; elsewhere activate it with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fps"),
      (exprs: Seq[Expression]) => WinnowFingerprints(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("native_dot"),
      new ExpressionInfo(classOf[NativeDot].getName, "native_dot"),
      (exprs: Seq[Expression]) => NativeDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("lsh_bands"),
      new ExpressionInfo(classOf[LshBands].getName, "lsh_bands"),
      (exprs: Seq[Expression]) => {
        def lit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"lsh_bands: $what must be an integer literal, got $other")
        }
        LshBands(exprs.head, lit(exprs(1), "nPlanes"), lit(exprs(2), "bandBits"))
      }))
    ext.injectOptimizerRule(_ => DotRewrite)
    ext.injectQueryStagePrepRule(_ => SmallSortSinglePartition)
    // whole-operator extension point (SURVEY §4 preference (c)): the
    // graft_asof hint → AsOfJoinPlan rewrite and its physical strategy
    ext.injectResolutionRule(_ => ResolveAsOfJoin)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
