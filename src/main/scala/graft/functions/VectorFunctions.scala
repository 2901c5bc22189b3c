package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd vector kernels for the similarity/dedup hot paths.
  *
  * Spark's higher-order functions (`aggregate(zip_with(...))`) fall back to
  * interpreted lambda evaluation per element — at N^2 candidate pairs that
  * dominates the ANN queries. These expressions generate a tight
  * multiply-accumulate loop inside whole-stage codegen instead.
  *
  * Arithmetic parity (vs the DuckDB oracle and the previous HOF version):
  * each float element is widened to double FIRST, products are double, and
  * accumulation is sequential left-to-right from 0.0 — identical IEEE
  * result to `aggregate(zip_with(cast, cast, *), 0D, +)`.
  */
object VectorFunctions {
  /** Resolve argument `pos` of `fn` as a foldable INT-range integer
    * literal, with an analysis-time error naming the expected shape —
    * `exprs(i).eval().asInstanceOf[Int]` would instead throw a bare
    * ClassCastException/NPE on `kmv_distinct(u, 64L)` or a column arg. */
  private def intArg(fn: String, pos: Int, exprs: Seq[Expression]): Int = {
    def fail(got: String): Nothing = throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be a foldable INT-range integer " +
        s"literal, got $got")
    if (exprs.length <= pos) fail("no argument")
    val e = exprs(pos)
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long
          if l >= Int.MinValue && l <= Int.MaxValue => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte => b.intValue()
      case null => fail("NULL")
      case other => fail(s"${other.getClass.getSimpleName} (${e.sql})")
    }
  }

  /** One graft SQL function: its name, the expression class it builds
    * (what DESCRIBE FUNCTION shows) and the builder the analyzer calls
    * with the argument expressions. */
  final case class SqlFunction(name: String, cls: Class[_ <: Expression],
                               builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  /** Every graft SQL function. Both registration paths read this one
    * table: [[register]] on a running session, and `GraftExtensions` for
    * sessions built with `spark.sql.extensions`. */
  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("vec_dot", classOf[DotProduct], exprs => DotProduct(exprs.head, exprs(1))),
    SqlFunction("vec_norm", classOf[VecNorm], exprs => VecNorm(exprs.head)),
    SqlFunction("word_tokens", classOf[WordTokens], exprs => WordTokens(exprs.head)),
    SqlFunction("word_ngrams", classOf[WordNGrams], exprs => WordNGrams(exprs.head,
      intArg("word_ngrams", 1, exprs))),
    SqlFunction("vec_sign_bits", classOf[VecSignBits], exprs => VecSignBits(exprs.head,
      intArg("vec_sign_bits", 1, exprs), intArg("vec_sign_bits", 2, exprs))),
    SqlFunction("vec_lsh_keys", classOf[VecLshKeys], exprs => VecLshKeys(exprs.head,
      intArg("vec_lsh_keys", 1, exprs), intArg("vec_lsh_keys", 2, exprs),
      intArg("vec_lsh_keys", 3, exprs), intArg("vec_lsh_keys", 4, exprs))),
    SqlFunction("winnow_fps", classOf[WinnowFingerprints], exprs =>
      WinnowFingerprints(exprs.head,
        intArg("winnow_fps", 1, exprs), intArg("winnow_fps", 2, exprs))),
    SqlFunction("simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head)),
    SqlFunction("char_class_counts", classOf[CharClassCounts], exprs =>
      CharClassCounts(exprs.head)),
    // Spark's own runtime-filter machinery, exposed as callable functions:
    // bloom_agg(xxhash64(x), estItems, numBits) builds a serialized bloom
    // filter; bloom_contains(filterBinary, xxhash64(x)) probes it. These are
    // the codegen'd expressions InjectRuntimeFilter plants on shuffle joins —
    // reused here for explicit sketch-prefilter operators (d14).
    SqlFunction("bloom_agg", classOf[BloomFilterAggregate], exprs =>
      new BloomFilterAggregate(exprs.head, exprs(1), exprs(2))),
    SqlFunction("bloom_contains", classOf[BloomFilterMightContain], exprs =>
      BloomFilterMightContain(exprs.head, exprs(1))),
    SqlFunction("sq8_encode", classOf[Sq8Encode], exprs => Sq8Encode(exprs.head)),
    SqlFunction("sq8_cos", classOf[Sq8Cos], exprs => Sq8Cos(exprs.head, exprs(1))),
    // KMV distinct sketch (TypedImperativeAggregate; the analyzer wraps
    // AggregateFunctions from the registry, same as bloom_agg above)
    SqlFunction("kmv_distinct", classOf[KmvDistinct], exprs => KmvDistinct(exprs.head,
      intArg("kmv_distinct", 1, exprs))),
    // corpus-scale 64-bit-domain variant (rows-only — see its scaladoc)
    SqlFunction("kmv_distinct64", classOf[KmvDistinct64], exprs => KmvDistinct64(exprs.head,
      intArg("kmv_distinct64", 1, exprs))),
    // deterministic bottom-k priority sampling (oracle-checked via p48)
    SqlFunction("bottomk_sample", classOf[BottomKSample], exprs =>
      BottomKSample(exprs.head, exprs(1), intArg("bottomk_sample", 2, exprs))))

  /** Idempotently register [[functions]] with a session. Guarded PER
    * FUNCTION (a single-function guard would silently skip functions
    * added later; unconditional createOrReplace spams replace warnings on
    * every operator call). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.builder)
    }
  }

  private[functions] def elemGetter(et: DataType, arr: String, i: String): String = et match {
    case FloatType  => s"((double) $arr.getFloat($i))"
    case DoubleType => s"$arr.getDouble($i)"
    case _ => throw new IllegalArgumentException(s"vec function over $et array")
  }

  private[functions] def elemAt(et: DataType, arr: ArrayData, i: Int): Double = et match {
    case FloatType  => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case _ => throw new IllegalArgumentException(s"vec function over $et array")
  }
}

/** dot(a, b) = sum_i (double)a_i * (double)b_i, sequential fold. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  import VectorFunctions._

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("vec_dot expects two float/double arrays")
  }
  override def dataType: DataType = DoubleType
  private def etL = left.dataType.asInstanceOf[ArrayType].elementType
  private def etR = right.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elemAt(etL, x, i) * elemAt(etR, y, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${elemGetter(etL, a, i)} * ${elemGetter(etR, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** norm(a) = sqrt(sum_i ((double)a_i)^2), sequential fold. */
case class VecNorm(child: Expression) extends UnaryExpression {
  import VectorFunctions._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("vec_norm expects a float/double array")
  }
  override def dataType: DataType = DoubleType
  private def et = child.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val v = elemAt(et, x, i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = ${elemGetter(et, a, i)};
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): VecNorm = copy(child = c)
  override def prettyName: String = "vec_norm"
}

/** vec_sign_bits(v, seed, nBits): random-hyperplane sign signature, packed
  * into ceil(nBits/64) longs (bit j of word j/64 = sign of v . plane_j).
  *
  * The nBits hyperplanes are generated DETERMINISTICALLY from
  * (seed, plane index) — standard-normal i.i.d. components — so every
  * executor materializes the identical plane matrix locally on first use;
  * no plane table is shipped through the plan (the literal-array
  * alternative puts nBits x dim doubles into the expression tree, which
  * stops scaling past ~100 planes). Wide signatures are what make
  * bit-sampling LSH amplification sound: per-pair bit-agreement
  * concentrates at p = 1 - angle/pi with std ~ sqrt(p(1-p)/nBits).
  *
  * The kernel runs as one invoke per row inside whole-stage codegen with a
  * tight multiply-accumulate loop (same widening/fold discipline as
  * vec_dot). */
case class VecSignBits(child: Expression, seed: Int, nBits: Int) extends UnaryExpression {
  import VectorFunctions._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("vec_sign_bits expects a float/double array")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def et = child.dataType.asInstanceOf[ArrayType].elementType

  // built once per (task-deserialized) expression instance on first row;
  // idempotent rebuild if vectors of a different dim show up
  @transient private var planeCache: Array[Array[Double]] = _

  private def planes(dim: Int): Array[Array[Double]] = {
    var p = planeCache
    if (p == null || p.length == 0 || p(0).length != dim) {
      p = Array.tabulate(nBits) { j =>
        val r = new java.util.Random(seed.toLong * 1000003L + j)
        Array.fill(dim)(r.nextGaussian())
      }
      planeCache = p
    }
    p
  }

  /** Row kernel — also the codegen target (one virtual call per row). */
  def compute(x: ArrayData): ArrayData = {
    val dim = x.numElements()
    val pl = planes(dim)
    val words = new Array[Long]((nBits + 63) / 64)
    var j = 0
    while (j < nBits) {
      val p = pl(j)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += elemAt(et, x, i) * p(i); i += 1 }
      if (acc > 0) words(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    ArrayData.toArrayData(words)
  }

  override protected def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecSignBits", this, classOf[VecSignBits].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(c: Expression): VecSignBits = copy(child = c)
  override def prettyName: String = "vec_sign_bits"
}

/** vec_lsh_keys(sig, seed, nBits, b, L): assemble L bit-sampling LSH
  * bucket keys from a packed sign signature (the vec_sign_bits output).
  * Table t's key = b bits of the signature at positions drawn by a
  * seeded shuffle (deterministic across executors).
  *
  * Exists because the composed-Column form — L struct literals of b
  * shift/mask expressions each — grows the generated code past the JVM's
  * 64KB method limit at L ~ 100 and knocks the WHOLE stage out of
  * whole-stage codegen (measured on d07: the explode stage fell back to
  * interpreted eval). One kernel invoke per row keeps the stage compiled
  * and the plan tree tiny. */
case class VecLshKeys(child: Expression, seed: Int, nBits: Int, b: Int, l: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("vec_lsh_keys expects a long-array signature")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // positions(t) = the b signature bits table t samples; the sequential
  // draw from one seeded RNG matches the previous Column-literal builder
  @transient private lazy val positions: Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(l)(rnd.shuffle((0 until nBits).toList).take(b).toArray)
  }

  def compute(sig: ArrayData): ArrayData = {
    val words = sig.toLongArray()
    val keys = new Array[Long](l)
    var t = 0
    while (t < l) {
      val pos = positions(t)
      var k = 0L
      var i = 0
      while (i < b) {
        val p = pos(i)
        k |= ((words(p >> 6) >>> (p & 63)) & 1L) << i
        i += 1
      }
      keys(t) = k
      t += 1
    }
    ArrayData.toArrayData(keys)
  }

  override protected def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecLshKeys", this, classOf[VecLshKeys].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(c: Expression): VecLshKeys = copy(child = c)
  override def prettyName: String = "vec_lsh_keys"
}

/** Scalar (int8) quantization: q_i = round(127 * x_i / max|x|) packed into
  * one byte per dimension — 4x smaller than float32, 8x smaller than the
  * double form. The per-vector scale factor is NOT stored because cosine
  * over quantized vectors is scale-invariant (it cancels in dot/|a||b|,
  * see Sq8Cos). A zero vector encodes to all-zero bytes. */
case class Sq8Encode(child: Expression) extends UnaryExpression {
  import VectorFunctions._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("sq8_encode expects a float/double array")
  }
  override def dataType: DataType = BinaryType
  private def et = child.dataType.asInstanceOf[ArrayType].elementType

  def compute(x: ArrayData): Array[Byte] = {
    val n = x.numElements()
    val out = new Array[Byte](n)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(elemAt(et, x, i)); if (a > maxAbs) maxAbs = a; i += 1
    }
    if (maxAbs > 0.0) {
      val s = 127.0 / maxAbs
      i = 0
      while (i < n) { out(i) = Math.round(elemAt(et, x, i) * s).toByte; i += 1 }
    }
    out
  }

  override protected def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8Encode", this, classOf[Sq8Encode].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(c: Expression): Sq8Encode = copy(child = c)
  override def prettyName: String = "sq8_encode"
}

/** Cosine over two sq8_encode codes in one pass of pure int arithmetic:
  * dot, |a|^2, |b|^2 accumulate exactly in longs (127^2 * dim fits easily),
  * one sqrt+division at the end. The per-vector quantization scales cancel,
  * so no float metadata rides along with the codes. */
case class Sq8Cos(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("sq8_cos expects two binary sq8 codes")
  }
  override def dataType: DataType = DoubleType

  def compute(a: Array[Byte], b: Array[Byte]): Double = {
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"sq8_cos: code length mismatch (${a.length} vs ${b.length}) — " +
          "comparing codes of different dimensionality is a pipeline bug")
    val n = a.length
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toLong; val y = b(i).toLong
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot / math.sqrt(na.toDouble * nb.toDouble)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8Cos", this, classOf[Sq8Cos].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8Cos =
    copy(left = l, right = r)
  override def prettyName: String = "sq8_cos"
}
