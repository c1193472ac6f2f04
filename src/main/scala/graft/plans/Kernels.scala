package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The generated per-row kernels, one table row each.
  *
  * A kernel is a static loop over Catalyst's internal values
  * (`UTF8String`, `ArrayData`, `InternalRow`, primitives) on an object
  * in this package, plus one [[Kernel]] row naming it. The row's
  * builder checks the argument types and constants when a call is
  * analysed and returns a `StaticInvoke` of the loop: Spark generates
  * the call inside whole-stage codegen and reflects it when it
  * interprets, so no kernel has an expression class of its own.
  * Constant ints and booleans reach the loop as primitives. To add
  * a kernel, write the loop, add its row to [[all]] and a one-line
  * Column API below; `CatalystExtensionsSpec` audits every row
  * (whole-stage codegen, SQL by name, null input, mistyped calls).
  *
  * Null policy: with `propagateNull` (the default) a null argument
  * gives null without calling the loop, and the loop may return null.
  * A row with `propagateNull = false` hands nulls to the loop, which
  * must return a non-null value (e.g. 0 for a null token array).
  *
  * State: an argument the loop would otherwise re-derive on every row
  * from a constant (a member list turned into a hash set) is declared
  * with `state(...)`. The builder evaluates the constant once, builds the
  * state, and passes it as an `ObjectType` literal, which generated
  * code holds as one reference per stage. State types need value
  * equality (hash sets, lists), so plans built twice compare equal,
  * and a short `toString`, which is what a plan description prints.
  * A Column API may pass the state already built ([[stateLit]]), so
  * data-derived state (IVF centroids) never enters a plan as a
  * literal array.
  *
  * The Column APIs register the table in the ACTIVE session on use;
  * code that plans on another session calls [[register]] for it, and
  * [[GraftExtensions]] injects the table into sessions built with it.
  * All three are idempotent.
  */
object Kernels {

  /** A state argument's class and how the constant's value becomes
    * the state object the loop receives.
    */
  final case class State(cls: Class[_], build: Any => AnyRef)

  /** One kernel argument: its type (array nullability is ignored),
    * whether it must be a constant, and its [[State]] if it is one.
    */
  final case class Param(tpe: DataType, constant: Boolean, state: Option[State] = None)

  private def in(t: DataType) = Param(t, constant = false)
  private def const(t: DataType) = Param(t, constant = true)
  private def state[S <: AnyRef](t: DataType, cls: Class[S])(build: Any => S) =
    Param(t, constant = true, Some(State(cls, build)))

  /** One kernel: SQL name, the object and static function holding its
    * loop, result type, parameters and null policy.
    */
  final case class Kernel(name: String, owner: AnyRef, function: String,
                          result: DataType, params: Seq[Param],
                          propagateNull: Boolean = true) {

    def info: ExpressionInfo =
      new ExpressionInfo(owner.getClass.getName.stripSuffix("$"), name)

    def build(args: Seq[Expression]): Expression = {
      if (args.length != params.length)
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`", "expectedNum" -> params.length.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
      val prepared = args.zip(params).zipWithIndex.map {
        case ((l @ Literal(v, ObjectType(c)), p), _)
            if p.state.exists(_.cls == c) && v != null => l
        case ((a, p), i) =>
          if (!DataType.equalsStructurally(p.tpe, a.dataType, ignoreNullability = true))
            throw new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
              "paramIndex" -> s"${i + 1}", "functionName" -> s"`$name`",
              "requiredType" -> s"\"${p.tpe.sql}\"", "inputSql" -> s"\"${a.sql}\"",
              "inputType" -> s"\"${a.dataType.sql}\""))
          if (p.constant && !a.foldable)
            throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
              "funcName" -> s"`$name`", "paramName" -> s"`${i + 1}`",
              "paramType" -> s"\"${p.tpe.sql}\""))
          p.state.fold(a) { st =>
            val s = st.build(a.eval())
            Literal(s, ObjectType(s.getClass))
          }
      }
      StaticInvoke(owner.getClass, result, function, prepared,
        propagateNull = propagateNull, returnNullable = propagateNull)
    }
  }

  private val Tokens = ArrayType(StringType)

  val all: Seq[Kernel] = Seq(
    Kernel("canonicalize_url", UrlKernels, "canonicalize", StringType,
      Seq(in(StringType))),
    Kernel("host_of", UrlKernels, "hostOf", StringType, Seq(in(StringType))),
    Kernel("graft_robots_allowed", UrlKernels, "robotsAllowed", BooleanType,
      Seq(in(StringType), in(UrlKernels.Rules)), propagateNull = false),
    Kernel("graft_float_dot", VectorExprs, "floatDot", DoubleType,
      Seq(in(ArrayType(FloatType)), in(ArrayType(FloatType)))),
    Kernel("graft_float_double_dot", VectorExprs, "floatDoubleDot", DoubleType,
      Seq(in(ArrayType(FloatType)), in(ArrayType(DoubleType)))),
    Kernel("graft_long_sqdist", VectorExprs, "longSqDist", LongType,
      Seq(in(ArrayType(LongType)), in(ArrayType(LongType)))),
    Kernel("graft_lsh_bucket", LshBucket, "invoke", LongType,
      Seq(in(ArrayType(FloatType)), in(IntegerType),
        state(ArrayType(IntegerType), classOf[LshPlanes])(LshPlanes.fromSizes)),
      propagateNull = false),
    Kernel("graft_ivf_nearest", IvfNearest, "nearest", IntegerType,
      Seq(in(ArrayType(LongType)),
        state(ArrayType(ArrayType(LongType)), classOf[IvfCentroids])(IvfCentroids.fromArray)),
      propagateNull = false),
    Kernel("graft_ivf_probe", IvfNearest, "probe",
      ArrayType(IntegerType, containsNull = false),
      Seq(in(ArrayType(LongType)),
        state(ArrayType(ArrayType(LongType)), classOf[IvfCentroids])(IvfCentroids.fromArray),
        const(IntegerType)),
      propagateNull = false),
    Kernel("graft_minhash_sig", MinhashSig, "invoke",
      ArrayType(LongType, containsNull = false),
      Seq(in(Tokens), const(IntegerType), const(IntegerType))),
    Kernel("graft_gram_keys", GramKeys, "invoke",
      ArrayType(StringType, containsNull = false),
      Seq(in(Tokens), const(IntegerType), const(BooleanType))),
    Kernel("graft_gram_key_seq", GramKeySeq, "invoke",
      ArrayType(StringType, containsNull = false),
      Seq(in(Tokens), const(IntegerType))),
    Kernel("graft_span_coverage", SpanCoverage, "invoke", SpanCoverage.Schema,
      Seq(in(Tokens), in(ArrayType(IntegerType)), const(IntegerType)),
      propagateNull = false),
    Kernel("graft_feature_hashes", FeatureHashes, "invoke",
      ArrayType(LongType, containsNull = false),
      Seq(in(Tokens), const(IntegerType))),
    Kernel("graft_winnow_stats", WinnowStats, "invoke", WinnowStats.Schema,
      Seq(in(Tokens), const(IntegerType), const(IntegerType))),
    Kernel("graft_portable_simhash", PortableSimhash, "invoke", LongType,
      Seq(in(Tokens), const(IntegerType)), propagateNull = false),
    Kernel("graft_classifier_score", ClassifierScore, "invoke", LongType,
      Seq(in(Tokens), const(IntegerType)), propagateNull = false),
    Kernel("graft_gopher_signals", GopherSignals, "invoke", GopherSignals.Schema,
      Seq(in(StringType))),
    Kernel("graft_token_stats", TokenStats, "invoke", TokenStats.Schema,
      Seq(in(Tokens), state(Tokens, classOf[java.util.HashSet[UTF8String]])(TokenStats.memberSet))),
    Kernel("graft_lang_pick", LangPick, "invoke", StringType,
      Seq(in(Tokens), state(ArrayType(Tokens),
        classOf[java.util.ArrayList[java.util.HashSet[UTF8String]]])(LangPick.memberSets))),
    Kernel("graft_chunk_hashes", ChunkHashes, "invoke",
      ArrayType(ChunkHashes.Entry, containsNull = false),
      Seq(in(Tokens), const(IntegerType), const(IntegerType), const(IntegerType))),
    Kernel("graft_adjacent_pairs", AdjacentPairs, "invoke",
      ArrayType(AdjacentPairs.Entry, containsNull = false), Seq(in(Tokens))))

  /** `graft_bound_int(n)`: the constant int `n` as a [[BoundInt]], which
    * generated code reads at run time instead of inlining. Not a kernel
    * row: it calls no loop, it only keeps a constant out of the source.
    */
  private[plans] val boundInt: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_bound_int"),
      new ExpressionInfo(classOf[BoundInt].getName, "graft_bound_int"),
      {
        case Seq(a) if a.foldable && a.dataType == IntegerType && a.eval() != null =>
          BoundInt(a.eval().asInstanceOf[Int])
        case args =>
          throw new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
            "paramIndex" -> "1", "functionName" -> "`graft_bound_int`",
            "requiredType" -> "\"INT\" constant",
            "inputSql" -> args.map(_.sql).mkString("\"", ", ", "\""),
            "inputType" -> args.map(_.dataType.sql).mkString("\"", ", ", "\"")))
      })

  /** Registers every kernel missing from `spark`'s function registry. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { k =>
      val id = FunctionIdentifier(k.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, k.info, k.build _)
    }
    val (id, info, builder) = boundInt
    if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
  }

  private def call(name: String, args: Column*): Column = {
    register(SparkSession.active)
    call_function(name, args: _*)
  }

  def canonicalize_url(url: Column): Column = call("canonicalize_url", url)
  def host_of(url: Column): Column = call("host_of", url)
  def robots_allowed(url: Column, rules: Column): Column =
    call("graft_robots_allowed", url, rules)
  def float_dot(a: Column, b: Column): Column = call("graft_float_dot", a, b)
  def float_double_dot(a: Column, b: Column): Column =
    call("graft_float_double_dot", a, b)
  def long_sqdist(a: Column, b: Column): Column = call("graft_long_sqdist", a, b)
  def lsh_bucket(vec: Column, table: Column, planes: LshPlanes): Column =
    call("graft_lsh_bucket", vec, table, stateLit(planes))
  def ivf_nearest(qv: Column, cents: IvfCentroids): Column =
    call("graft_ivf_nearest", qv, stateLit(cents))
  def ivf_probe(qv: Column, cents: IvfCentroids, nprobe: Int): Column =
    call("graft_ivf_probe", qv, stateLit(cents), lit(nprobe))
  def minhash_sig(tokens: Column, k: Column, numHashes: Column): Column =
    call("graft_minhash_sig", tokens, k, numHashes)
  def gram_keys(tokens: Column, k: Column, wholeDocFallback: Column): Column =
    call("graft_gram_keys", tokens, k, wholeDocFallback)
  def gram_key_seq(tokens: Column, k: Column): Column =
    call("graft_gram_key_seq", tokens, k)
  def span_coverage(tokens: Column, flagged: Column, k: Column): Column =
    call("graft_span_coverage", tokens, flagged, k)
  def feature_hashes(tokens: Column, buckets: Column): Column =
    call("graft_feature_hashes", tokens, buckets)
  def winnow_stats(tokens: Column, k: Column, w: Column): Column =
    call("graft_winnow_stats", tokens, k, w)
  def portable_simhash(tokens: Column, bits: Column): Column =
    call("graft_portable_simhash", tokens, bits)
  def classifier_score(tokens: Column, buckets: Column): Column =
    call("graft_classifier_score", tokens, buckets)
  def gopher_signals(text: Column): Column = call("graft_gopher_signals", text)
  def token_stats(tokens: Column, members: Column): Column =
    call("graft_token_stats", tokens, members)
  def lang_pick(tokens: Column, members: Column): Column =
    call("graft_lang_pick", tokens, members)
  def chunk_hashes(tokens: Column, window: Column, stride: Column,
                   minTokens: Column): Column =
    call("graft_chunk_hashes", tokens, window, stride, minTokens)
  def adjacent_pairs(tokens: Column): Column = call("graft_adjacent_pairs", tokens)
  def bound_int(value: Int): Column = call(boundInt._1.funcName, lit(value))

  /** A state argument passed already built: an `ObjectType` literal
    * the row's builder accepts in place of the SQL constant.
    */
  private def stateLit(s: AnyRef): Column =
    org.apache.spark.sql.GraftColumns.column(Literal(s, ObjectType(s.getClass)))
}

/** Session extensions: every [[Kernels]] row, callable by name from SQL.
  * Attach with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Kernels.all.foreach(k =>
      ext.injectFunction((FunctionIdentifier(k.name), k.info, k.build)))
    ext.injectFunction(Kernels.boundInt)
  }
}

/** Pieces the token kernels share. */
private[plans] object KernelSupport {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** This thread's MD5 digest (callers reset it before each use). */
  def md5(): java.security.MessageDigest = mdLocal.get()

  /** Raw UTF-8 bytes of the non-empty tokens, in order: empties from
    * the upstream split and nulls are dropped, as `filter(length > 0)`
    * drops them. Raw bytes keep every md5 input byte-identical to
    * `concat_ws(" ", ...)` over the same UTF8Strings.
    */
  def nonEmptyTokens(arr: ArrayData): java.util.ArrayList[Array[Byte]] = {
    val n0 = arr.numElements()
    val toks = new java.util.ArrayList[Array[Byte]](n0)
    var i = 0
    while (i < n0) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) toks.add(t.getBytes)
      i += 1
    }
    toks
  }

  /** MD5 of tokens [from, until) joined by single spaces — the digest
    * of `concat_ws(" ", ...)` over the same tokens.
    */
  def joinedDigest(toks: java.util.ArrayList[Array[Byte]], from: Int,
                   until: Int): Array[Byte] = {
    val m = mdLocal.get()
    m.reset()
    var j = from
    while (j < until) {
      if (j > from) m.update(' '.toByte)
      m.update(toks.get(j))
      j += 1
    }
    m.digest()
  }

  /** Unsigned big-endian 32-bit word at byte `off` of a digest —
    * `conv(substring(md5(s), 1 + 2·off, 8), 16, 10)`.
    */
  def word32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)

  private val HexChars = "0123456789abcdef".getBytes

  /** Lowercase hex of a digest — the string `md5(...)` returns. */
  def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
