package graft.plans

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.{BoundedCollectList, BoundedTopK, GtidSetImpAgg}

/** Engine extension point (SURVEY.md §7.3): registers graft's native
  * Catalyst expressions into the session's function registry so they
  * are usable from both the Column API (`call_function("graft_cosine",
  * ...)`) and SQL text. Installed by [[graft.GraftSession]]; also
  * loadable via `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Every function is one row of [[GraftExtensions.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
}

object GraftExtensions {

  /** A registered function: `usage` is the error for a wrong argument
    * count; `kernel` is set when the function is a [[NativeCall]].
    */
  private final case class Fn(name: String, usage: String, arity: Seq[Int], cls: Class[_],
      kernel: Option[Kernel], make: Args => Expression) {
    def build(children: Seq[Expression]): Expression = {
      require(arity.contains(children.length), usage)
      make(new Args(name, children))
    }
  }

  private def fn(name: String, usage: String, cls: Class[_], arity: Int*)(make: Args => Expression): Fn =
    Fn(name, usage, arity, cls, None, make)

  /** A [[NativeCall]] row: the input is argument 0, `literals` reads the rest. */
  private def native(name: String, usage: String, arity: Int*)(
      kernel: Kernel, literals: Args => Seq[Any] = _ => Nil): Fn =
    Fn(name, usage, arity, classOf[NativeCall], Some(kernel), a => NativeCall(name, literals(a), a(0)))

  /** A call's argument list, and the one reader of its literal arguments. */
  private final class Args(fn: String, children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)

    def size: Int = children.length

    /** Argument `i` as a non-null literal of type `t`. */
    def lit(i: Int, what: String, t: DataType): Any = children(i) match {
      case Literal(v, `t`) if v != null => v
      case other => sys.error(s"$fn: $what must be a ${t.simpleString} literal, got $other")
    }

    def int(i: Int, what: String): Int = lit(i, what, IntegerType).asInstanceOf[Int]

    /** A PQ codebook: a FOLDABLE literal bound into the expression at plan
      * build (one long[][][] per plan, not a per-row operand).
      */
    def codebook(i: Int): CodebookRef = {
      require(children(i).foldable, s"$fn: codebook must be a literal array<array<array<long>>>")
      val outer = children(i).eval().asInstanceOf[ArrayData]
      new CodebookRef(Array.tabulate(outer.numElements()) { s =>
        val mid = outer.getArray(s)
        Array.tabulate(mid.numElements())(c => mid.getArray(c).toLongArray())
      })
    }
  }

  private val strings = ArrayType(StringType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)
  private val positive: Seq[Any] => Boolean = _.forall { case i: Int => i >= 1; case _ => false }
  private val windows = Kernel(StringType, strings, "ParagraphUtil.windows", "1<=stride<=n",
    { case Seq(n: Int, stride: Int) => stride >= 1 && stride <= n; case _ => false })

  private val functions: Seq[Fn] = Seq(
    fn("graft_cosine", "graft_cosine(a, b) takes two array arguments", classOf[CosineSimilarity], 2)(
      a => CosineSimilarity(a(0), a(1))),
    fn("graft_lsh_bucket", "graft_lsh_bucket(vec, table, nBits) takes an array column and two int literals",
      classOf[LshBucket], 3)(a => LshBucket(a(0), a.int(1, "table"), a.int(2, "nBits"))),
    fn("graft_l2norm", "graft_l2norm(v) takes one array<float|double> argument", classOf[L2Normalize], 1)(
      a => L2Normalize(a(0))),
    fn("graft_quantize_i8", "graft_quantize_i8(v) takes one array<float|double> argument",
      classOf[QuantizeInt8], 1)(a => QuantizeInt8(a(0))),
    fn("graft_pq_assign", "graft_pq_assign(vec, codebook) takes a vector and a codebook literal",
      classOf[PqAssign], 2)(a => PqAssign(a(0), a.codebook(1))),
    fn("graft_pq_adc", "graft_pq_adc(codes, qvec, codebook) takes codes, a vector, and a codebook literal",
      classOf[PqAdc], 3)(a => PqAdc(a(0), a(1), a.codebook(2))),
    fn("graft_micro_l2", "graft_micro_l2(a, b) takes two array arguments", classOf[MicroL2], 2)(
      a => MicroL2(a(0), a(1))),
    fn("graft_gtid_set", "graft_gtid_set(gno) takes one long column", classOf[GtidSetImpAgg], 1)(
      a => GtidSetImpAgg(a(0))),
    fn("graft_collect_capped", "graft_collect_capped(c, limit) takes a column and an int literal",
      classOf[BoundedCollectList], 2)(a => BoundedCollectList(a(0), a.int(1, "limit"))),
    fn("graft_topk_agg", "graft_topk_agg(c, limit) takes a column and an int literal",
      classOf[BoundedTopK], 2)(a => BoundedTopK(a(0), a.int(1, "limit"))),
    // Spark's runtime-filter Bloom machinery, exposed as functions: the
    // classes are public but only the optimizer's InjectRuntimeFilter
    // instantiates them — registering them gives the dedup family an
    // explicit corpus-membership sketch (bytes ∝ expectedItems, not
    // corpus size) with native codegen'd probing.
    fn("graft_bloom_agg", "graft_bloom_agg(h, estimatedItems) takes a long column and a long literal",
      classOf[BloomFilterAggregate], 2)(a => new BloomFilterAggregate(a(0), a(1))),
    fn("graft_might_contain", "graft_might_contain(bloom, h) takes the sketch bytes and a long column",
      classOf[BloomFilterMightContain], 2)(a => new BloomFilterMightContain(a(0), a(1))),
    fn("graft_bloom_merge", "graft_bloom_merge(sketches) takes one array<binary> argument",
      classOf[BloomSketchMerge], 1)(a => BloomSketchMerge(a(0))),
    fn("graft_bloom_probe", "graft_bloom_probe(shard, sketch, h) takes an int, a binary, and a long column",
      classOf[BloomShardProbe], 3)(a => BloomShardProbe(a(0), a(1), a(2))),

    native("graft_md5_60", "graft_md5_60(s) takes one string argument", 1)(
      Kernel(StringType, LongType, "Md5Util.top60")),
    native("graft_simhash64", "graft_simhash64(tokens) takes one array<string> argument", 1)(
      Kernel(ArrayType(StringType), LongType, "SimHashUtil.simhash64")),
    native("graft_norm_text", "graft_norm_text(text) takes one string column", 1)(
      Kernel(StringType, StringType, "NormTextUtil.norm")),
    native("graft_text_profile", "graft_text_profile(text) takes one string argument", 1)(
      Kernel(StringType, TextProfileUtil.schema, "TextProfileUtil.computeMemo")),
    native("graft_gopher_stats", "graft_gopher_stats(text) takes one string argument", 1)(
      Kernel(StringType, GopherStatsUtil.schema, "GopherStatsUtil.computeMemo")),
    native("graft_term_freqs", "graft_term_freqs(text) takes one string column", 1)(
      Kernel(StringType, TermFreqsUtil.schema, "TermFreqsUtil.computeMemo")),
    native("graft_shingles", "graft_shingles(text, n) takes a string and an int literal", 2)(
      Kernel(StringType, strings, "ShingleUtil.shingles", "n>=1", positive), a => Seq(a.int(1, "n"))),
    native("graft_shingle_hashes", "graft_shingle_hashes(text, n) takes a string and an int literal", 2)(
      Kernel(StringType, longs, "ShingleHashUtil.shingleHashes", "n>=1", positive), a => Seq(a.int(1, "n"))),
    native("graft_shingle_md5_60", "graft_shingle_md5_60(text, n) takes a string and an int literal", 2)(
      Kernel(StringType, longs, "ShingleMd5Util.shingleMd5s", "n>=1", positive), a => Seq(a.int(1, "n"))),
    native("graft_span_hashes", "graft_span_hashes(text, n) takes a string and an int literal", 2)(
      Kernel(StringType, longs, "SpanHashUtil.spanHashes", "n>=1", positive), a => Seq(a.int(1, "n"))),
    native("graft_minhash_md5", "graft_minhash_md5(text, n, k) takes a string and two int literals", 3)(
      Kernel(StringType, longs, "MinHashMd5Util.sigPortable", "n>=1, k>=1", positive),
      a => Seq(a.int(1, "n"), a.int(2, "k"))),
    // paragraphs are word windows whose stride is their width
    native("graft_paragraphs", "graft_paragraphs(text, n) takes a string and an int literal", 2)(
      windows, a => Seq(a.int(1, "n"), a.int(1, "n"))),
    native("graft_word_windows", "graft_word_windows(text, n, stride) takes a string and two int literals", 3)(
      windows, a => Seq(a.int(1, "n"), a.int(2, "stride"))),
    // null on malformed input rather than a failed job (see UrlUtil)
    native("graft_url_normalize", "graft_url_normalize(url) takes one string argument", 1)(
      Kernel(StringType, StringType, "UrlUtil.normalizeOrNull", nullOnMalformed = true)),
    native("graft_url_host", "graft_url_host(url) takes one string argument", 1)(
      Kernel(StringType, StringType, "UrlUtil.hostOrNull", nullOnMalformed = true)),
    native("graft_surt", "graft_surt(url) takes one string argument", 1)(
      Kernel(StringType, StringType, "UrlUtil.surtOrNull", nullOnMalformed = true)),
    native("graft_url_domain", "graft_url_domain(host) takes one string argument", 1)(
      Kernel(StringType, StringType, "UrlUtil.registrableDomain")),
    native("graft_warc_digest",
      "graft_warc_digest(payload[, httpBody]) takes a binary column and an optional boolean literal", 1, 2)(
      Kernel(BinaryType, StringType, "WarcDigestUtil.payloadDigest"),
      a => Seq(a.size > 1 && a.lit(1, "httpBody", BooleanType) == true))
  )

  private[plans] val kernels: Map[String, Kernel] =
    functions.flatMap(f => f.kernel.map(f.name -> _)).toMap
}

/** A [[NativeCall]]'s row: the one accepted input type (an array's
  * element nullability aside), the result type, and `method`, the
  * static `<Util>.<method>` under `graft.plans` that takes the input
  * value then the call's literals. `valid` checks those literals
  * against the range `literals` states. With `nullOnMalformed` the
  * method returns null for input it cannot parse.
  */
private[plans] final case class Kernel(input: DataType, dataType: DataType, method: String,
    literals: String = "", valid: Seq[Any] => Boolean = _ => true, nullOnMalformed: Boolean = false) {

  /** The method by reflection, for interpreted eval: the same static
    * forwarder the generated code calls.
    */
  lazy val target: Method = {
    val dot = method.lastIndexOf('.')
    Class.forName(s"graft.plans.${method.take(dot)}", true, getClass.getClassLoader).getMethods
      .find(m => m.getName == method.drop(dot + 1) && java.lang.reflect.Modifier.isStatic(m.getModifiers))
      .getOrElse(sys.error(s"no static graft.plans.$method"))
  }

  def accepts(t: DataType): Boolean = (input, t) match {
    case (ArrayType(e, _), ArrayType(a, _)) => e == a
    case _ => input == t
  }
}

/** The one Catalyst expression behind every graft function that is a
  * static call over one column: `name` picks its [[Kernel]] row in
  * [[GraftExtensions]], which supplies the input check, result type,
  * nullability, interpreted eval and the generated call
  * `graft.plans.<Util>.<method>(c, <literals>)`. Equal name, literals
  * and child make equal (and semantically equal) expressions.
  */
case class NativeCall(name: String, args: Seq[Any], child: Expression) extends UnaryExpression {

  @transient private lazy val kernel: Kernel = GraftExtensions.kernels(name)
  @transient private lazy val argv: Array[AnyRef] = args.map(_.asInstanceOf[AnyRef]).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kernel.accepts(child.dataType)) TypeCheckResult.TypeCheckFailure(
      s"$name needs ${kernel.input.simpleString}, got ${child.dataType.simpleString}")
    else if (!kernel.valid(args)) TypeCheckResult.TypeCheckFailure(
      s"$name needs ${kernel.literals}, got ${args.mkString(", ")}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = kernel.dataType

  override def nullable: Boolean = kernel.nullOnMalformed || child.nullable

  override def prettyName: String = name

  // renders as name(child, literals...), like a hand-written expression
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ args

  override def nullSafeEval(input: Any): Any =
    try kernel.target.invoke(null, input.asInstanceOf[AnyRef] +: argv: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def call(c: String) = s"graft.plans.${kernel.method}(${(c +: args).mkString(", ")})"
    if (kernel.nullOnMalformed) nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = ${call(c)};
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
    else defineCodeGen(ctx, ev, call)
  }

  override protected def withNewChildInternal(newChild: Expression): NativeCall =
    copy(child = newChild)
}
