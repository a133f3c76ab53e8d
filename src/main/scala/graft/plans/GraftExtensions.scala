package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (SURVEY.md §7.3): registers graft's native
  * Catalyst expressions into the session's function registry so they
  * are usable from both the Column API (`call_function("graft_cosine",
  * ...)`) and SQL text. Installed by [[graft.GraftSession]]; also
  * loadable via `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_cosine(a, b) takes two array arguments")
        CosineSimilarity(children.head, children(1))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_60"),
      new ExpressionInfo(classOf[Md5Hash60].getName, "graft_md5_60"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_md5_60(s) takes one string argument")
        Md5Hash60(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "graft_lsh_bucket"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_lsh_bucket(vec, table, nBits) takes an array column and two int literals")
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_lsh_bucket: $name must be an int literal, got $other")
        }
        LshBucket(children.head, intLit(children(1), "table"), intLit(children(2), "nBits"))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_url_normalize"),
      new ExpressionInfo(classOf[UrlNormalize].getName, "graft_url_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_url_normalize(url) takes one string argument")
        UrlNormalize(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_url_host"),
      new ExpressionInfo(classOf[UrlHost].getName, "graft_url_host"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_url_host(url) takes one string argument")
        UrlHost(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_surt"),
      new ExpressionInfo(classOf[UrlSurt].getName, "graft_surt"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_surt(url) takes one string argument")
        UrlSurt(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_url_domain"),
      new ExpressionInfo(classOf[UrlDomain].getName, "graft_url_domain"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_url_domain(host) takes one string argument")
        UrlDomain(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_simhash64(tokens) takes one array<string> argument")
        SimHash64(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_gtid_set"),
      new ExpressionInfo(classOf[graft.functions.GtidSetImpAgg].getName, "graft_gtid_set"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_gtid_set(gno) takes one long column")
        graft.functions.GtidSetImpAgg(children.head)
      }
    ))
    // Spark's runtime-filter Bloom machinery, exposed as functions: the
    // classes are public but only the optimizer's InjectRuntimeFilter
    // instantiates them — registering them gives the dedup family an
    // explicit corpus-membership sketch (bytes ∝ expectedItems, not
    // corpus size) with native codegen'd probing.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_bloom_agg(h, estimatedItems) takes a long column and a long literal")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_might_contain(bloom, h) takes the sketch bytes and a long column")
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_merge"),
      new ExpressionInfo(classOf[BloomSketchMerge].getName, "graft_bloom_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_bloom_merge(sketches) takes one array<binary> argument")
        BloomSketchMerge(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(classOf[BloomShardProbe].getName, "graft_bloom_probe"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_bloom_probe(shard, sketch, h) takes an int, a binary, and a long column")
        BloomShardProbe(children(0), children(1), children(2))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_collect_capped"),
      new ExpressionInfo(classOf[graft.functions.BoundedCollectList].getName, "graft_collect_capped"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_collect_capped(c, limit) takes a column and an int literal")
        val limit = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_collect_capped: limit must be an int literal, got $other")
        }
        graft.functions.BoundedCollectList(children.head, limit)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_warc_digest"),
      new ExpressionInfo(classOf[WarcPayloadDigest].getName, "graft_warc_digest"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          "graft_warc_digest(payload[, httpBody]) takes a binary column and an optional boolean literal")
        val httpBody = children.lift(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
          case other => sys.error(s"graft_warc_digest: httpBody must be a boolean literal, got $other")
        }.getOrElse(false)
        WarcPayloadDigest(children.head, httpBody)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_agg"),
      new ExpressionInfo(classOf[graft.functions.BoundedTopK].getName, "graft_topk_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_topk_agg(c, limit) takes a column and an int literal")
        val limit = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_topk_agg: limit must be an int literal, got $other")
        }
        graft.functions.BoundedTopK(children.head, limit)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_text_profile"),
      new ExpressionInfo(classOf[TextProfile].getName, "graft_text_profile"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_text_profile(text) takes one string argument")
        TextProfile(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_gopher_stats"),
      new ExpressionInfo(classOf[GopherStats].getName, "graft_gopher_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_gopher_stats(text) takes one string argument")
        GopherStats(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingle_hashes(text, n) takes a string and an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_shingle_hashes: n must be an int literal, got $other")
        }
        WordShingleHashes(children.head, n)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_md5_60"),
      new ExpressionInfo(classOf[WordShingleMd5s].getName, "graft_shingle_md5_60"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingle_md5_60(text, n) takes a string and an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_shingle_md5_60: n must be an int literal, got $other")
        }
        WordShingleMd5s(children.head, n)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_md5"),
      new ExpressionInfo(classOf[WordMinHashMd5].getName, "graft_minhash_md5"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_minhash_md5(text, n, k) takes a string and two int literals")
        val Seq(n, k) = children.drop(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_minhash_md5: n/k must be int literals, got $other")
        }
        WordMinHashMd5(children.head, n, k)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_term_freqs"),
      new ExpressionInfo(classOf[TermFreqs].getName, "graft_term_freqs"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_term_freqs(text) takes one string column")
        TermFreqs(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_norm_text"),
      new ExpressionInfo(classOf[NormTextExpr].getName, "graft_norm_text"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_norm_text(text) takes one string column")
        NormTextExpr(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_span_hashes"),
      new ExpressionInfo(classOf[SpanHashes].getName, "graft_span_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_span_hashes(text, n) takes a string and an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_span_hashes: n must be an int literal, got $other")
        }
        SpanHashes(children.head, n)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_l2norm"),
      new ExpressionInfo(classOf[L2Normalize].getName, "graft_l2norm"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_l2norm(v) takes one array<float|double> argument")
        L2Normalize(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_quantize_i8"),
      new ExpressionInfo(classOf[QuantizeInt8].getName, "graft_quantize_i8"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_quantize_i8(v) takes one array<float|double> argument")
        QuantizeInt8(children.head)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingles(text, n) takes a string and an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_shingles: n must be an int literal, got $other")
        }
        WordShingles(children.head, n)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_paragraphs"),
      new ExpressionInfo(classOf[ParagraphBlocks].getName, "graft_paragraphs"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_paragraphs(text, n) takes a string and an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_paragraphs: n must be an int literal, got $other")
        }
        ParagraphBlocks(children.head, n, n)
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_word_windows"),
      new ExpressionInfo(classOf[ParagraphBlocks].getName, "graft_word_windows"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_word_windows(text, n, stride) takes a string and two int literals")
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"graft_word_windows: $name must be an int literal, got $other")
        }
        ParagraphBlocks(children.head, intLit(children(1), "n"), intLit(children(2), "stride"))
      }
    ))
    // PQ kernels: the codebook rides as a FOLDABLE literal argument and
    // is bound into the expression at plan build (one long[][][] per
    // plan, not a per-row operand)
    def codebookOf(e: Expression, fn: String): CodebookRef = {
      require(e.foldable, s"$fn: codebook must be a literal array<array<array<long>>>")
      val outer = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      new CodebookRef(Array.tabulate(outer.numElements()) { s =>
        val mid = outer.getArray(s)
        Array.tabulate(mid.numElements())(c => mid.getArray(c).toLongArray())
      })
    }
    ext.injectFunction((
      FunctionIdentifier("graft_pq_assign"),
      new ExpressionInfo(classOf[PqAssign].getName, "graft_pq_assign"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_pq_assign(vec, codebook) takes a vector and a codebook literal")
        PqAssign(children.head, codebookOf(children(1), "graft_pq_assign"))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_pq_adc(codes, qvec, codebook) takes codes, a vector, and a codebook literal")
        PqAdc(children.head, children(1), codebookOf(children(2), "graft_pq_adc"))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_micro_l2"),
      new ExpressionInfo(classOf[MicroL2].getName, "graft_micro_l2"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_micro_l2(a, b) takes two array arguments")
        MicroL2(children.head, children(1))
      }
    ))
  }
}
