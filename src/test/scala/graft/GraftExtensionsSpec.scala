package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The registration table behind every `graft_*` function: what it
  * registers, that interpreted eval and generated code agree on
  * adversarial input, and that analysis rejects malformed calls.
  */
class GraftExtensionsSpec extends SparkSpec {

  private val names = Seq("graft_cosine", "graft_lsh_bucket", "graft_l2norm", "graft_quantize_i8",
    "graft_pq_assign", "graft_pq_adc", "graft_micro_l2", "graft_gtid_set", "graft_collect_capped",
    "graft_topk_agg", "graft_bloom_agg", "graft_might_contain", "graft_bloom_merge",
    "graft_bloom_probe", "graft_md5_60", "graft_simhash64", "graft_norm_text", "graft_text_profile",
    "graft_gopher_stats", "graft_term_freqs", "graft_shingles", "graft_shingle_hashes",
    "graft_shingle_md5_60", "graft_span_hashes", "graft_minhash_md5", "graft_paragraphs",
    "graft_word_windows", "graft_url_normalize", "graft_url_host", "graft_surt",
    "graft_url_domain", "graft_warc_digest")

  private val texts = Seq(
    null, "", "   ", " \t\n ", "\u000B", "a\u000Bb  c\u000B", "tab\tand\r\nnewline",
    "Ünïcödé 日本語 text 😀 and the quick brown fox jumps over the lazy dog",
    "not a url", "/relative/no/scheme", "http://", "HTTP://WWW.Site.COM:80/a/./b/../p.html?id=1#f",
    "https://MÜNCHEN.de/p?id=1", "www.bbc.co.uk",
    "- bullet one...\n* two…\n# heading #\n\nthe be to of and that have with it is",
    "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nbody bytes")

  private val vectors: Seq[Seq[Double]] =
    Seq(null, Seq.empty, Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0), Seq(-1.5, 0.25, 1e-7))

  /** One parquet-backed row per adversarial text, vector columns
    * cycling through `vectors`: a scan, not a local relation, so the
    * optimizer cannot fold the expressions on the driver.
    */
  private lazy val input: DataFrame = {
    import spark.implicits._
    val bf = spark.range(0, 50).agg(call_function("graft_bloom_agg", col("id"), lit(100L)))
      .head().getAs[Array[Byte]](0)
    val dir = TempDirs.scratch("graft_ext_adv_") + "/t"
    texts.zipWithIndex.map { case (s, i) =>
      val v = vectors(i % vectors.size)
      (i, s, Option(s).map(_.split(" ", -1).toSeq).orNull, Option(s).map(_.getBytes("UTF-8")).orNull,
        v, Option(v).map(_.map(_.toFloat)).orNull, Option(v).map(_.map(_ => 1.0)).orNull,
        if (i == 0) null else bf, i.toLong * 7 - 3)
    }.toDF("id", "s", "toks", "bin", "v", "vf", "w", "bf", "h")
      .union(Seq((texts.size, "", Seq.empty[String], Array.emptyByteArray, Seq.empty[Double],
        Seq.empty[Float], Seq.empty[Double], bf, 0L))
        .toDF("id", "s", "toks", "bin", "v", "vf", "w", "bf", "h"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val codebook = typedLit(Seq(Seq(Seq(0L, 0L, 0L), Seq(1000000L, 2000000L, 3000000L))))
  private val dim3 = size(col("v")) === 3

  /** Every scalar function of the table, over the inputs it accepts. */
  private def scalarCalls: Seq[(String, Column, Column)] = {
    val bf = input.filter(col("id") === 1).head().getAs[Array[Byte]]("bf")
    val all = lit(true)
    Seq(
      ("graft_md5_60", call_function("graft_md5_60", col("s")), all),
      ("graft_simhash64", call_function("graft_simhash64", col("toks")), all),
      ("graft_norm_text", call_function("graft_norm_text", col("s")), all),
      ("graft_text_profile", call_function("graft_text_profile", col("s")), all),
      ("graft_gopher_stats", call_function("graft_gopher_stats", col("s")), all),
      ("graft_term_freqs", call_function("graft_term_freqs", col("s")), all),
      ("graft_shingles", call_function("graft_shingles", col("s"), lit(2)), all),
      ("graft_shingle_hashes", call_function("graft_shingle_hashes", col("s"), lit(2)), all),
      ("graft_shingle_md5_60", call_function("graft_shingle_md5_60", col("s"), lit(1)), all),
      ("graft_span_hashes", call_function("graft_span_hashes", col("s"), lit(3)), all),
      ("graft_minhash_md5", call_function("graft_minhash_md5", col("s"), lit(2), lit(4)), all),
      ("graft_paragraphs", call_function("graft_paragraphs", col("s"), lit(2)), all),
      ("graft_word_windows", call_function("graft_word_windows", col("s"), lit(3), lit(2)), all),
      ("graft_url_normalize", call_function("graft_url_normalize", col("s")), all),
      ("graft_url_host", call_function("graft_url_host", col("s")), all),
      ("graft_surt", call_function("graft_surt", col("s")), all),
      ("graft_url_domain", call_function("graft_url_domain", col("s")), all),
      ("graft_warc_digest", call_function("graft_warc_digest", col("bin")), all),
      ("graft_warc_digest", call_function("graft_warc_digest", col("bin"), lit(true)), all),
      ("graft_cosine", call_function("graft_cosine", col("v"), col("w")), all),
      ("graft_lsh_bucket", call_function("graft_lsh_bucket", col("v"), lit(1), lit(8)), all),
      ("graft_l2norm", call_function("graft_l2norm", col("v")), all),
      ("graft_l2norm", call_function("graft_l2norm", col("vf")), all),
      ("graft_quantize_i8", call_function("graft_quantize_i8", col("v")), all),
      ("graft_micro_l2", call_function("graft_micro_l2", col("v"), col("vf")), all),
      ("graft_pq_assign", call_function("graft_pq_assign", col("v"), codebook), dim3),
      ("graft_pq_adc", call_function("graft_pq_adc",
        call_function("graft_pq_assign", col("v"), codebook), col("vf"), codebook), dim3),
      ("graft_might_contain", call_function("graft_might_contain", lit(bf), col("h")), all),
      ("graft_bloom_merge", call_function("graft_bloom_merge", array(col("bf"), col("bf"))), all),
      ("graft_bloom_probe", call_function("graft_bloom_probe",
        (col("id") % 2).cast("int"), col("bf"), col("h")), all))
  }

  /** A row value compared by content: bytes as a sequence, NaN as a
    * token (NaN != NaN inside a collected array). */
  private def canonical(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case r: Row => r.toSeq.map(canonical)
    case s: scala.collection.Seq[_] => s.map(canonical)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canonical(k) -> canonical(x) }
    case other => other
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("one registration table: all 32 graft_* names") {
    val registered = spark.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet
    assert(registered == names.toSet, (registered diff names.toSet, names.toSet diff registered))
    // the class spark.sql.extensions instantiates by name
    val cls = Class.forName("graft.plans.GraftExtensions")
    assert(classOf[org.apache.spark.sql.SparkSessionExtensions => Unit].isAssignableFrom(cls))
    cls.getDeclaredConstructor().newInstance()
  }

  test("interpreted eval and generated code agree on adversarial input") {
    val calls = scalarCalls
    assert(calls.map(_._1).toSet == names.toSet --
      Set("graft_gtid_set", "graft_collect_capped", "graft_topk_agg", "graft_bloom_agg"))
    def run(c: Column, where: Column): Seq[Any] =
      input.filter(where).select(col("id"), c.as("r")).orderBy("id").collect().toSeq.map(canonical)
    calls.foreach { case (name, c, where) =>
      val generated = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false") {
        run(c, where)
      }
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
        run(c, where)
      }
      assert(generated.nonEmpty, name)
      assert(generated == interpreted, s"$name: generated vs interpreted\n" +
        generated.zip(interpreted).filter { case (g, i) => g != i }.mkString("\n"))
    }
  }

  test("equal name, literals and child make semantically equal calls") {
    val registry = spark.sessionState.functionRegistry
    val text = AttributeReference("text", StringType)()
    def call(name: String, args: Any*) =
      registry.lookupFunction(FunctionIdentifier(name), text +: args.map(Literal(_)))
    val a = call("graft_minhash_md5", 3, 16)
    val b = call("graft_minhash_md5", 3, 16)
    assert(a ne b)
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(call("graft_minhash_md5", 3, 8)))
    assert(!a.semanticEquals(call("graft_shingle_hashes", 3)))
    assert(call("graft_surt").semanticEquals(call("graft_surt")))
    // and they render like the hand-written expressions did
    assert(a.toString.startsWith("graft_minhash_md5(text#"), a.toString)
    assert(a.toString.endsWith(", 3, 16)"), a.toString)
  }

  test("analysis rejects wrong types, arities, non-literal and out-of-range literals") {
    input.createOrReplaceTempView("graft_ext_adv")
    val bad = Seq(
      // wrong argument type
      "graft_md5_60(id)", "graft_simhash64(s)", "graft_norm_text(id)", "graft_text_profile(toks)",
      "graft_gopher_stats(id)", "graft_term_freqs(bin)", "graft_shingles(id, 2)",
      "graft_shingle_hashes(toks, 2)", "graft_shingle_md5_60(id, 2)", "graft_span_hashes(id, 2)",
      "graft_minhash_md5(id, 2, 4)", "graft_paragraphs(id, 2)", "graft_word_windows(id, 2, 1)",
      "graft_url_normalize(id)", "graft_url_host(bin)", "graft_surt(id)", "graft_url_domain(id)",
      "graft_warc_digest(s)", "graft_shingles(s, 2L)", "graft_warc_digest(bin, 1)",
      // wrong arity
      "graft_md5_60(s, s)", "graft_simhash64()", "graft_norm_text(s, 1)", "graft_text_profile(s, s)",
      "graft_gopher_stats()", "graft_term_freqs(s, 1)", "graft_shingles(s)",
      "graft_shingle_hashes(s, 2, 2)", "graft_shingle_md5_60(s)", "graft_span_hashes(s)",
      "graft_minhash_md5(s, 2)", "graft_paragraphs(s, 2, 2)", "graft_word_windows(s, 2)",
      "graft_url_normalize(s, s)", "graft_url_host()", "graft_surt(s, 1)", "graft_url_domain(s, s)",
      "graft_warc_digest(bin, true, true)",
      // non-literal n, k, stride, httpBody
      "graft_shingles(s, id)", "graft_shingle_hashes(s, id)", "graft_shingle_md5_60(s, id)",
      "graft_span_hashes(s, id)", "graft_minhash_md5(s, id, 4)", "graft_minhash_md5(s, 2, id)",
      "graft_paragraphs(s, id)", "graft_word_windows(s, id, 1)", "graft_word_windows(s, 2, id)",
      "graft_warc_digest(bin, id > 0)", "graft_shingles(s, CAST(NULL AS INT))",
      // n = 0, k = 0, stride out of range
      "graft_shingles(s, 0)", "graft_shingle_hashes(s, 0)", "graft_shingle_md5_60(s, 0)",
      "graft_span_hashes(s, 0)", "graft_minhash_md5(s, 0, 4)", "graft_paragraphs(s, 0)",
      "graft_word_windows(s, 0, 1)", "graft_minhash_md5(s, 2, 0)", "graft_word_windows(s, 2, 3)",
      "graft_word_windows(s, 2, 0)")
    bad.foreach { e =>
      val err = intercept[Exception](spark.sql(s"SELECT $e FROM graft_ext_adv"))
      val name = e.takeWhile(_ != '(')
      assert(String.valueOf(err.getMessage).contains(name), s"$e: ${err.getMessage}")
    }
    // the same calls with valid literals analyze
    Seq("graft_shingles(s, 1)", "graft_minhash_md5(s, 1, 1)", "graft_word_windows(s, 2, 2)",
        "graft_paragraphs(s, 1)", "graft_warc_digest(bin, false)", "graft_simhash64(toks)")
      .foreach(e => spark.sql(s"SELECT $e FROM graft_ext_adv"))
  }
}
