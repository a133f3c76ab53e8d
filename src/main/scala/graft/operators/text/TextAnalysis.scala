package graft.operators.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned
import org.apache.spark.sql.types.DecimalType

/** Text analysis for training-data pipelines (beyond-parity, SURVEY.md
  * §8): language ID, quality scoring, token counting, fingerprinting.
  * Everything is a codegen'd Column expression over the text — per-row,
  * shuffle-free, so it composes with any scan at full scan speed.
  * Formulas are kept ANSI-SQL-expressible so DuckDB oracles reproduce
  * them bit-for-bit.
  * Its `graft_*` functions resolve through `call_function`: the session
  * needs [[graft.plans.GraftExtensions]], which [[graft.GraftSession.build]] adds.
  */
object TextAnalysis {

  /** Engine-native one-pass twin of
    * `lower(trim(regexp_replace(c, "\s+", " ")))` — DedupSpec pins the
    * bit-equivalence ([[graft.plans.NormTextUtil]]); removes the regex
    * engine from every tokenizing consumer (BM25 postings, TF-IDF,
    * Zipf, vocab coverage, the bigram LM).
    */
  def normText(c: Column): Column = call_function("graft_norm_text", c)

  def tokens(c: Column): Column = split(normText(c), " ")

  /** Whitespace token count. Null-safe: null text counts 0 (without the
    * isNull arm, `size(split(null))` surfaces as -1).
    */
  def tokenCount(c: Column): Column =
    when(c.isNull || length(trim(c)) === 0, lit(0)).otherwise(size(tokens(c)))

  /** BPE-ish subword count estimate: word-boundary pieces + digit runs +
    * punctuation, the common `\w+|[^\w\s]` pre-tokenizer regex.
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  // --- language ID: stopword-profile heuristic ------------------------
  // counts of high-frequency function words per language over the
  // normalized token stream; argmax wins, ties broken by fixed order.
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不")
  )

  /** Per-language stopword hit count. */
  def langScores(c: Column): Seq[(String, Column)] = {
    val toks = tokens(c)
    profiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))
    }
  }

  /** Predicted language: argmax of stopword hits (first profile in
    * declaration order wins ties), "und" when no profile matches.
    */
  def langId(c: Column): Column = {
    val scores = langScores(c)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.reverse.foldLeft(lit("und")) { case (els, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  // --- quality scoring -------------------------------------------------

  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      length(regexp_replace(c, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("double") /
        length(c).cast("double"))

  def meanWordLen(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: length signal (saturating at 500
    * chars), low punctuation, healthy mean word length. Deliberately a
    * pure arithmetic formula — auditable and oracle-checkable.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 500.0, lit(1.0))
    val punct = punctRatio(c)
    val mwl = meanWordLen(c)
    val mwlScore = when(mwl >= 3 && mwl <= 10, lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.4 + (lit(1.0) - least(punct * 5.0, lit(1.0))) * 0.3 + mwlScore * 0.3, 6)
  }

  /** Document fingerprint: digest of the normalized text — the cheap
    * exact-dup key (md5 matches DuckDB's md5 for oracle checks).
    */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Rolling polynomial hash (Rabin-Karp style) over the token stream:
    * h = Σ token_hash(i) * B^(n-1-i) mod P — order-sensitive, unlike the
    * md5 fingerprint, so reordered content gets a different print.
    * Computed in-row with `aggregate`.
    *
    * The per-token hash is the first 60 bits of md5 (via `conv`) rather
    * than xxhash64, and P is 2^31-1, so the whole fold is exact in plain
    * 64-bit arithmetic on any ANSI SQL engine (acc*B + tok < 2^63) — the
    * DuckDB oracle reproduces it bit-for-bit with a `list_reduce`.
    */
  def rollingHash(c: Column): Column = {
    val B = 1000003L
    val P = 2147483647L // 2^31-1: keeps acc*B + 60-bit token hash under 2^63
    aggregate(tokens(c), lit(0L),
      (acc, t) => pmod(acc * B + call_function("graft_md5_60", t), lit(P)))
  }

  /** Duplicate word-n-gram fraction — the Gopher/RefinedWeb-style
    * intra-document repetition signal (`1 - distinct n-grams / total
    * n-grams`; 0 for docs too short to have any). High values mean
    * boilerplate/looping text a curation gate should drop. Uses the
    * native distinct-shingle expression for the distinct count; total
    * count is arithmetic on the token count, so the whole signal is one
    * per-row projection.
    */
  def duplicateNgramFraction(c: Column, n: Int): Column = {
    val total = tokenCount(c) - lit(n - 1)
    when(total <= 0, lit(0.0))
      .otherwise(lit(1.0) - size(call_function("graft_shingles", c, lit(n))).cast("double") / total)
  }

  /** Corpus-frequent word n-grams by document frequency — the mining
    * pass behind contamination blocklists and boilerplate detectors
    * ("which 3-grams appear in the most documents?"). Shingles are
    * distinct-per-doc already (the native one-pass expression), so a
    * plain `count(*)` after the explode IS the document frequency — no
    * `countDistinct` double-shuffle at corpus scale. The aggregate
    * partial-combines map-side and the top-k runs as
    * TakeOrderedAndProject on (doc_freq desc, ngram), a total order, so
    * the cut at k is deterministic on any engine.
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int = 3, k: Int = 50): DataFrame =
    docs.select(explode(call_function("graft_shingles", col(textCol), lit(n))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram"))
      .limit(k)

  /** Context-window chunking — the train-prep step between raw docs
    * and sequence packing: split each document into `width`-word
    * windows advancing by `stride` (overlap `width - stride` keeps
    * context across boundaries; stride == width is disjoint). The
    * native `graft_word_windows` expression blocks in one pass at scan
    * speed, then one posexplode; the chunking never shuffles and keeps
    * the input's partitioning. NULL text yields no chunks (posexplode
    * of a null array emits nothing), mirrored by the oracle's NOT NULL
    * guard.
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   width: Int, stride: Int): DataFrame =
    docs.select(col(idCol), posexplode(
        call_function("graft_word_windows", col(textCol), lit(width), lit(stride)))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("n_tokens",
        when(length(col("chunk")) === 0, 0).otherwise(size(split(col("chunk"), " "))))

  /** Per-document TF-IDF keywords: the top `k` terms of each document
    * by `tf * ln(N/df)` — keyword extraction / topic tagging for
    * curation and corpus exploration. Scoring is integer micros
    * (`tf * round(ln(N/df)*1e6)`): `ln(N/df)` takes one of at most N
    * distinct values, each rounded once, so both engines agree on
    * every score except a vanishing (~1e-9 per distinct df) rounding
    * boundary — the tie-break on the term keeps the cut at `k`
    * total-ordered regardless.
    *
    * Scale shape: explode → (doc, term) partial-combined count → df as
    * a window count over the term partition (distinct-per-doc already,
    * so plain COUNT is document frequency — no countDistinct
    * double-shuffle) → top-k via one doc-partition window. Three
    * hash exchanges, all carrying (id, term, counts); N joins in as a
    * broadcast single row.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nonNull = docs.filter(col(textCol).isNotNull)
    val nDocs = nonNull.agg(count(lit(1)).as("n_docs"))
    // per-doc (term, tf) fused in-row (graft_term_freqs — the Bm25
    // postings rationale): the groupBy's groups were per-document
    val tf = nonNull
      .select(col(idCol),
        explode(call_function("graft_term_freqs", col(textCol)).getField("entries")).as("e"))
      .select(col(idCol), col("e.term").as("term"), col("e.tf").as("tf"))
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(broadcast(nDocs))
      .withColumn("score_micros", col("tf") *
        round(log(col("n_docs").cast("double") / col("df")) * 1e6).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score_micros").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score_micros"))
  }

  /** Bigrams of the normalized token stream as "w1 w2" strings (tokens
    * never contain spaces after [[normText]], so the concat key is
    * unambiguous and splits back losslessly).
    */
  private def bigrams(toks: Column): Column = {
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
  }

  /** CCNet-style LM perplexity scoring (Wenzek et al. 2020): a bigram
    * LM with Laplace smoothing is trained on `ref` — the "clean"
    * reference slice (CCNet trains KenLM on Wikipedia) — and every
    * document in `docs` is scored by its average negative
    * log-likelihood per bigram; high `avg_nll_micros` = out-of-domain /
    * low-quality text, the standard perplexity filter for pretraining
    * corpora. `p(w2|w1) = (c12+1)/(c1+V)` with `c12` the reference
    * bigram count, `c1` the history count of `w1` (occurrences in
    * non-final position), `V` the reference vocabulary size; a fully
    * unseen history degrades to `1/V`. Per-token cost is integer
    * micros (`round(-ln p * 1e6)`, one rounding per distinct (c12,c1)
    * pair), sums and the final `div` are exact integer arithmetic, so
    * the whole derivation hash-oracles. Documents with fewer than two
    * tokens have no bigrams and are absent from the output.
    *
    * Scale shape: the LM "training" is two partial-combined counts over
    * the reference slice; scoring pre-aggregates `(doc, bigram)`
    * multiplicity first (one shuffle carrying id+bigram+count, dup
    * bigrams within a doc join once), then two key-partitioned left
    * joins against the model tables — pinned `shuffle_hash`, because a
    * reference slice at corpus scale has a bigram table far past
    * broadcast comfort. V joins in as a broadcast single row.
    */
  def lmCrossEntropy(docs: DataFrame, ref: DataFrame,
                     idCol: String, textCol: String): DataFrame = pinned { pins =>
    // materialized once: the vocab, bigram, and history aggregates all
    // consume the reference tokenization, and Catalyst shares no
    // subtrees — the ref slice tokenized three times per call (§5)
    val refToks = pins.once(
      ref.filter(col(textCol).isNotNull).select(tokens(col(textCol)).as("toks")))
    val vocab = refToks.select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).as("v_size"))
    val big = refToks.select(explode(bigrams(col("toks"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val hist = refToks
      .select(explode(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0)))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val out = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(bigrams(tokens(col(textCol)))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(big.hint("shuffle_hash"), Seq("bg"), "left")
      .join(hist.hint("shuffle_hash"), Seq("w1"), "left")
      .join(broadcast(vocab))
      .withColumn("nll_micros", round(log(
          (coalesce(col("c1"), lit(0L)) + col("v_size")).cast("double") /
          (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double")) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
           sum(col("cnt") * col("nll_micros")).as("nll_sum_micros"))
      .withColumn("avg_nll_micros", expr("nll_sum_micros div n_bigrams"))
    // per-doc-sized output: eager checkpoint before the ref pin drops
    out.localCheckpoint(true)
  }

  /** The remaining Gopher repetition signals (Rae et al. 2021 A1.1,
    * complementing [[duplicateNgramFraction]]): per document, the
    * fraction of (normalized) characters covered by the MOST FREQUENT
    * word n-gram for n = 2, 3, 4 — `count · len(gram) / len(norm)` —
    * and the fraction of raw characters sitting on duplicated lines.
    * Boilerplate loops light these up even when the distinct-gram
    * fraction stays tame. Top grams tie-break (count desc, gram asc);
    * fractions are half-up integer micros (counts and code-point
    * lengths are exact integers, so the signal hash-oracles).
    *
    * Scale shape: one exploded (doc, n, gram) count (map-side
    * combined), a (doc, n) window to pick the top gram, the line pass
    * alike, then doc-keyed shuffle-hash joins back — grams never carry
    * past their aggregate.
    */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
    val toks = tokens(col(textCol))
    def grams(n: Int): Column =
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
    val exploded = Seq(2, 3, 4).map { n =>
      base.select(col(idCol), lit(n).as("n"), explode(grams(n)).as("gram"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("n"))
      .orderBy(col("c").desc, col("gram"))
    val top = exploded
      .groupBy(col(idCol), col("n"), col("gram")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(idCol), col("n"),
        (col("c") * length(col("gram")).cast("long")).as("covered"))
    val lens = base.select(col(idCol),
      length(normText(col(textCol))).cast("long").as("l_norm"),
      length(col(textCol)).cast("long").as("l_raw"))
    def micros(num: String, den: String): String =
      s"CASE WHEN $den = 0 THEN 0 ELSE ($num * 2000000 + $den) div ($den * 2) END"
    val dupLines = base
      .select(col(idCol), explode(split(col(textCol), "\n", -1)).as("line"))
      .groupBy(col(idCol), col("line")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .groupBy(col(idCol))
      .agg(sum(col("c") * length(col("line")).cast("long")).as("dup_covered"))
    lens
      .join(top.filter(col("n") === 2).select(col(idCol), col("covered").as("cov2"))
        .hint("shuffle_hash"), Seq(idCol), "left")
      .join(top.filter(col("n") === 3).select(col(idCol), col("covered").as("cov3"))
        .hint("shuffle_hash"), Seq(idCol), "left")
      .join(top.filter(col("n") === 4).select(col(idCol), col("covered").as("cov4"))
        .hint("shuffle_hash"), Seq(idCol), "left")
      .join(dupLines.hint("shuffle_hash"), Seq(idCol), "left")
      .na.fill(0L, Seq("cov2", "cov3", "cov4", "dup_covered"))
      .select(col(idCol),
        expr(micros("cov2", "l_norm")).as("top2_micros"),
        expr(micros("cov3", "l_norm")).as("top3_micros"),
        expr(micros("cov4", "l_norm")).as("top4_micros"),
        expr(micros("dup_covered", "l_raw")).as("dupline_micros"))
  }

  /** Multinomial Naive Bayes text classifier — train and score in one
    * plan: the closed-form member of the corpus-filter family (CCNet /
    * LLaMA pretraining pipelines gate documents with a fastText-style
    * linear classifier; NB is the same bag-of-words linear scorer with
    * weights derived in closed form from counts, which makes the whole
    * derivation deterministic and hash-oracle-able). Trains on the
    * `id % 5 != 0` slice with `labelCol` as the class, scores the held
    * out `id % 5 == 0` slice.
    *
    * Per-class log-score with Laplace smoothing over the train vocab V:
    *
    *   score(d,c) = ln P(c) + Σ_w cnt_w · ln((c_wc+1)/(N_c+V))
    *              = [ln d_c − ln d_tot] − T·ln(N_c+V) + Σ_w cnt_w·ln(c_wc+1)
    *
    * The rearrangement is the scale trick: `ln(c_wc+1)` is 0 for every
    * (word, class) pair UNSEEN in training, so the Σ touches only pairs
    * present in the model table — scoring is one `shuffle_hash` join of
    * doc word-counts against the model, never a docs × vocab product.
    * Every ln runs on an integer count ≥ 1 and is rounded once to
    * integer micros (the [[lmCrossEntropy]] arithmetic contract); sums
    * and the final argmax compare exact integers, so prediction AND
    * score hash-match any engine. Ties break on class name. Docs whose
    * normalized text has no tokens are absent (nothing to score on).
    *
    * Scale shape: model = one shuffle over the train slice (map-side
    * combined (class, word) counts); per-class constants broadcast (k
    * classes); scoring = one (doc, word) pre-aggregation, the model
    * join, then a k-row-per-doc argmax window over the doc partition.
    */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String): DataFrame = {
    // null-text docs carry no evidence and are excluded EVERYWHERE —
    // priors included — so the class priors match an oracle that drops
    // them before the split
    val nonNull = docs.filter(col(textCol).isNotNull)
    val train = nonNull.filter(pmod(col(idCol), lit(5)) =!= 0)
    val toScore = nonNull.filter(pmod(col(idCol), lit(5)) === 0)
    val (model, consts) = trainNb(train, textCol, labelCol)
    nbScoreAgainstModel(model, consts, toScore, idCol, textCol)
      .join(toScore.select(col(idCol), col(labelCol).as("label"))
        .hint("shuffle_hash"), idCol)
      .select(col(idCol), col("label"), col("pred"), col("score_micros"),
        (col("pred") === col("label")).cast("int").as("correct"))
  }

  /** Per-row (w, cnt) word counts via the fused in-row kernel — the
    * explode(tokens)+groupBy shape's pre-aggregated twin: one row per
    * DISTINCT word with its in-document count instead of one row per
    * occurrence (guide §1.2/§2.3 — aggregate before you shuffle; the
    * ''-token only exists for whole-empty docs, so the filter drops at
    * most one entry per doc, exactly like the per-occurrence filter it
    * replaces).
    */
  private def wordCounts(df: DataFrame, textCol: String, keep: Seq[Column]): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(keep :+ explode(
        call_function("graft_term_freqs", col(textCol)).getField("entries")).as("e"): _*)
      .withColumn("w", col("e.term")).withColumn("cnt", col("e.tf")).drop("e")
      .filter(col("w") =!= "")

  /** Train-once half of [[nbClassify]]: `(model, consts)` — the
    * persistable artifacts of the stored-model family. `model` is
    * `(cls, w, cwc, ln1p_micros)` (vocab × classes rows, sub-linear in
    * corpus); `consts` is one row per class. Write both to parquet and
    * score any later batch — or stream — with [[nbScoreAgainstModel]]
    * without touching the train corpus again.
    */
  def trainNb(train: DataFrame, textCol: String,
              labelCol: String): (DataFrame, DataFrame) = {
    // per-doc counts summed == per-occurrence rows counted; the fused
    // kernel shrinks the exploded volume to distinct words per doc
    val wc = wordCounts(train, textCol, Seq(col(labelCol).as("cls")))
      .groupBy(col("cls"), col("w")).agg(sum(col("cnt")).as("cwc"))
    val classTotals = wc.groupBy(col("cls")).agg(sum(col("cwc")).as("n_c"))
    val vocab = wc.agg(countDistinct(col("w")).as("v_size"))
    val priors = train.filter(col(textCol).isNotNull)
      .groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("d_c"))
    val nTrain = train.filter(col(textCol).isNotNull).agg(count(lit(1)).as("d_tot"))
    val consts = priors.join(classTotals, "cls")
      .join(broadcast(vocab)).join(broadcast(nTrain))
      .select(col("cls"),
        (round(log(col("d_c").cast("double")) * 1e6).cast("long") -
          round(log(col("d_tot").cast("double")) * 1e6).cast("long")).as("prior_micros"),
        round(log((col("n_c") + col("v_size")).cast("double")) * 1e6)
          .cast("long").as("lnden_micros"))
    val model = wc.withColumn("ln1p_micros",
      round(log((col("cwc") + 1).cast("double")) * 1e6).cast("long"))
    (model, consts)
  }

  /** Score a batch against a (possibly parquet-round-tripped) trained
    * model: `(id, pred, score_micros)`. For a STREAM, call this inside
    * `foreachBatch` — the argmax window needs a complete micro-batch.
    */
  def nbScoreAgainstModel(model: DataFrame, consts: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    // per-doc (w, cnt) directly from the fused kernel: the groupBy's
    // groups were per-document, so the aggregation exchange is gone
    val dw = wordCounts(batch, textCol, Seq(col(idCol)))
    val docT = dw.groupBy(col(idCol)).agg(sum(col("cnt")).as("t_tokens"))
    val contrib = dw.join(model.hint("shuffle_hash"), Seq("w"))
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("cnt") * col("ln1p_micros")).as("seen_micros"))
    val scored = docT.crossJoin(broadcast(consts))
      .join(contrib.hint("shuffle_hash"), Seq(idCol, "cls"), "left")
      .withColumn("score_micros",
        col("prior_micros") + coalesce(col("seen_micros"), lit(0L)) -
          col("t_tokens") * col("lnden_micros"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score_micros").desc, col("cls"))
    scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(idCol), col("cls").as("pred"), col("score_micros"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): every corpus doc is
    * scored by how much more likely its bag of words is under a TARGET
    * domain's unigram LM than under the raw-corpus LM —
    * `w(d) = Σ cnt_w·ln(p_t(w)/p_r(w))` with Laplace smoothing over the
    * raw vocab V. The same rearrangement as [[nbClassify]] keeps it one
    * model join:
    *
    *   w(d) = Σ cnt_w·[ln(c_t(w)+1) − ln(c_r(w)+1)] + T·[ln(N_r+V) − ln(N_t+V)]
    *
    * `target` must be drawn from `docs`' vocabulary universe (the
    * standard DSIR setup scores the raw corpus that contains the
    * target-domain slice), so every doc word has a raw count and the
    * model table — keyed on raw vocab — covers every Σ term. All ln's
    * are single-rounded integer micros on integer counts; sums and the
    * downstream top-k cut compare exact integers, so the ranking
    * hash-oracles. Docs with no tokens are absent.
    *
    * Scale shape: two word-count shuffles (map-side combined; the
    * model table is vocab-sized, sub-linear in corpus), one
    * shuffle-hash join of doc word-counts against it, constants
    * broadcast.
    */
  def dsirWeights(docs: DataFrame, target: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val (model, base) = trainDsir(docs, target, textCol)
    dsirScoreAgainstModel(model, base, docs, idCol, textCol)
  }

  /** Train-once half of [[dsirWeights]]: `(model, base)` — `model` is
    * `(w, dw_micros)` keyed on the raw vocab, `base` one row. Persist
    * both and weight any batch drawn from the same vocabulary universe
    * with [[dsirScoreAgainstModel]].
    */
  def trainDsir(docs: DataFrame, target: DataFrame,
                textCol: String): (DataFrame, DataFrame) = {
    // vocab counts from per-doc (w, cnt) rows — same §2.3 map-side
    // reduction as trainNb's wc
    val tc = wordCounts(target, textCol, Seq.empty)
      .groupBy(col("w")).agg(sum(col("cnt")).as("ct"))
    val rc = wordCounts(docs, textCol, Seq.empty)
      .groupBy(col("w")).agg(sum(col("cnt")).as("cr"))
    val model = rc.join(tc.hint("shuffle_hash"), Seq("w"), "left")
      .select(col("w"),
        (round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double")) * 1e6).cast("long") -
          round(log((col("cr") + 1).cast("double")) * 1e6).cast("long")).as("dw_micros"))
    val nT = tc.agg(sum(col("ct")).as("n_t"))
    val nRv = rc.agg(sum(col("cr")).as("n_r"), count(lit(1)).as("v_size"))
    val base = nRv.join(nT)
      .select((round(log((col("n_r") + col("v_size")).cast("double")) * 1e6).cast("long") -
        round(log((col("n_t") + col("v_size")).cast("double")) * 1e6).cast("long")).as("base_micros"))
    (model, base)
  }

  /** Weight a batch against a (possibly parquet-round-tripped) DSIR
    * model. Words outside the model vocab are dropped from both Σ and
    * T — consistent for any batch drawn from the training universe.
    */
  def dsirScoreAgainstModel(model: DataFrame, base: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String): DataFrame =
    wordCounts(batch, textCol, Seq(col(idCol)))
      .join(model.hint("shuffle_hash"), Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("t_tokens"),
        sum(col("cnt") * col("dw_micros")).as("seen_micros"))
      .join(broadcast(base))
      .select(col(idCol), col("t_tokens"),
        (col("seen_micros") + col("t_tokens") * col("base_micros")).as("weight_micros"))

  /** The BPE trainer's inner-loop aggregation (Sennrich et al. 2016)
    * at corpus scale: adjacent character-pair frequencies, weighted by
    * word frequency — the statistic whose argmax is the next merge. The
    * standard trick makes this corpus-size-proof: corpus scale touches
    * only the word-frequency aggregate (map-side combined, one shuffle
    * of distinct words); pair mining then runs over the VOCABULARY
    * (distinct words), which grows sub-linearly in corpus size. The
    * top-k cut is TakeOrdered on (total desc, pair) — total-ordered,
    * no global sort. Output: (pair, n_sites, total) — occurrence sites
    * across the vocabulary (a word containing the pair twice is two
    * sites), and the corpus-frequency-weighted occurrence count.
    */
  def bpePairStats(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    // corpus word frequencies from per-doc (w, cnt) rows (§2.3; the
    // length filter subsumes the ''-token drop)
    val words = wordCounts(docs, textCol, Seq.empty)
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(sum(col("cnt")).as("freq"))
    words
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_sites"), sum(col("freq")).as("total"))
      .orderBy(col("total").desc, col("pair"))
      .limit(k)
  }

  /** PMI collocation mining: adjacent word pairs ranked by pointwise
    * mutual information — `ln(c12·T1² / (T2·c1·c2))` with c12 the
    * bigram count, c1/c2 unigram counts, T1/T2 the unigram/bigram
    * totals. The canonical multiword-expression extractor ("new york",
    * "machine learning") for tokenizer seeding and blocklist curation.
    * Numerator and denominator are built EXACTLY in DECIMAL(38,0)
    * (↔ DuckDB HUGEINT) — headroom to ~4·10^12 corpus tokens even at
    * maximal counts (c12·T1² ≤ 10^38), and past that the failure is
    * LOUD on both engines (decimal overflow), never a silent wrap —
    * each side converted once to double, ln'd once, rounded once to
    * micros — hash-oracled. `minCount` suppresses the unstable low-frequency
    * tail (classic PMI failure mode); the cut is TakeOrdered on
    * (pmi DESC, w1, w2).
    *
    * Scale shape: one token scan feeds both the unigram and bigram
    * aggregates (vocab-sized shuffles); unigram counts re-join the
    * bigram table twice — vocab-sized hash joins, corpus bytes never
    * move twice.
    */
  def pmiCollocations(docs: DataFrame, textCol: String, k: Int = 50,
                      minCount: Int = 5): DataFrame = {
    val nonNull = docs.filter(col(textCol).isNotNull)
    // per-doc (term, tf) pre-aggregation — NO ''-filter here: the old
    // occurrence count included the ''-token of empty docs in t_uni,
    // and that total must not change
    val uni = nonNull.select(
        explode(call_function("graft_term_freqs", col(textCol)).getField("entries")).as("e"))
      .select(col("e.term").as("w"), col("e.tf").as("tf"))
      .groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val t1 = uni.agg(sum(col("c")).as("t_uni"))
    val bi = nonNull.select(explode(bigrams(tokens(col(textCol)))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val t2 = nonNull.select(
      sum(greatest(size(tokens(col(textCol))) - 1, lit(0)).cast("long")).as("t_bi"))
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")).hint("shuffle_hash"), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")).hint("shuffle_hash"), Seq("w2"))
      .join(broadcast(t1)).join(broadcast(t2))
      // numerator/denominator built EXACTLY in DECIMAL(38,0) — the
      // BIGINT form wrapped silently past ~3e9 corpus tokens (review
      // catch); decimal38 holds to t_uni ≈ 4e12 (c12·t_uni² ≤ 1e38)
      // and FAILS VISIBLY beyond (Spark nulls, DuckDB HUGEINT errors)
      // instead of ranking wrong. One double conversion per side, one
      // ln, one rounding — the single-rounding parity contract
      .withColumn("pmi_micros",
        round(log((col("c12").cast(DecimalType(38, 0)) * col("t_uni") * col("t_uni")).cast("double") /
          (col("t_bi").cast(DecimalType(38, 0)) * col("c1") * col("c2")).cast("double")) * lit(1e6)).cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Gopher-style rule gate (Rae et al. 2021, appendix A1.1): the
    * standard heuristic quality filter for pretraining corpora. Each
    * rule thresholds one of the native [[graft.plans.GopherStatsUtil]]
    * integer counts, and every threshold is evaluated as an EXACT
    * integer comparison (`mean word length in [3,10]` becomes
    * `3·n ≤ Σlen ≤ 10·n`) — no float ever decides a rule, so the gate
    * hash-oracles on any engine. Reported ratios are half-up integer
    * micros for the same reason. Rules:
    *
    *   r_words      50 ≤ n_words ≤ 100000
    *   r_mwl        3 ≤ mean word length ≤ 10
    *   r_sym        symbol-to-word ratio ('#'/'...'/'…') < 0.1
    *   r_bullet     < 90% of lines start with a bullet (-, *, •)
    *   r_ellipsis   < 30% of lines end with ... or …
    *   r_alpha      ≥ 80% of words contain an a-z letter
    *   r_stop       ≥ 2 distinct required stopwords present
    *
    * Scale shape: one native-expression projection per row inside the
    * scan stage — shuffle-free, composes with any downstream gate.
    */
  def gopherGate(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val g = call_function("graft_gopher_stats", col(textCol))
    // half-up rational→micros, all-integer: round(1e6·num/den) =
    // (2e6·num + den) div (2·den); num ≥ 0 so div == floor on any engine
    def micros(num: String, den: String): String =
      s"CASE WHEN $den = 0 THEN 0 ELSE ($num * 2000000 + $den) div ($den * 2) END"
    // stateless per-row projection: runs unchanged over a streaming
    // DataFrame
    docs.select(col(idCol), g.as("g"))
      .select(col(idCol),
        col("g.n_words").as("nw"), col("g.sum_word_len").as("swl"),
        col("g.n_sym").as("nsym"), col("g.n_lines").as("nl"),
        col("g.n_bullet").as("nb"), col("g.n_ellipsis").as("ne"),
        col("g.n_alpha_words").as("na"), col("g.n_req_stop").as("nrs"))
      .select(col(idCol),
        col("nw").as("n_words"),
        expr(micros("swl", "nw")).as("mwl_micros"),
        expr(micros("nsym", "nw")).as("sym_micros"),
        expr(micros("nb", "nl")).as("bullet_micros"),
        expr(micros("ne", "nl")).as("ellipsis_micros"),
        expr(micros("na", "nw")).as("alpha_micros"),
        col("nrs").as("n_req_stop"),
        (col("nw") >= 50 && col("nw") <= 100000).cast("int").as("r_words"),
        (col("nw") > 0 && col("swl") >= col("nw") * 3 &&
          col("swl") <= col("nw") * 10).cast("int").as("r_mwl"),
        (col("nsym") * 10 < col("nw")).cast("int").as("r_sym"),
        (col("nb") * 10 < col("nl") * 9).cast("int").as("r_bullet"),
        (col("ne") * 10 < col("nl") * 3).cast("int").as("r_ellipsis"),
        (col("nw") > 0 && col("na") * 5 >= col("nw") * 4).cast("int").as("r_alpha"),
        (col("nrs") >= 2).cast("int").as("r_stop"))
      .withColumn("passes",
        col("r_words") * col("r_mwl") * col("r_sym") * col("r_bullet") *
          col("r_ellipsis") * col("r_alpha") * col("r_stop"))
  }

  /** PII redaction for training text: URLs, emails, then phone-shaped
    * numbers replaced with typed placeholder tokens (URL first — an
    * email-looking substring inside a URL should redact as part of the
    * URL). Patterns are deliberately RE2-compatible (no backrefs or
    * lookaround) so any engine — and the DuckDB oracle — applies them
    * identically.
    */
  val UrlRe = "https?://\\S+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Structured-extraction inventory per group — the compliance report
    * behind the redaction pass: how MUCH PII sits in each source, not
    * just its redacted form. Counting follows the same precedence as
    * [[redactPii]] (emails counted after URLs blank out, phones after
    * both), so an email inside a URL counts once, as a URL. Per-row
    * extraction is a shuffle-free projection; only the per-group
    * integer row crosses the exchange.
    */
  def piiInventory(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val noUrl = regexp_replace(col(textCol), UrlRe, " ")
    val noUrlEmail = regexp_replace(noUrl, EmailRe, " ")
    docs.filter(col(textCol).isNotNull)
      .select(col(groupCol),
        size(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).cast("long").as("u"),
        size(regexp_extract_all(noUrl, lit(EmailRe), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(noUrlEmail, lit(PhoneRe), lit(0))).cast("long").as("p"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("u")).as("n_urls"), sum(col("e")).as("n_emails"),
        sum(col("p")).as("n_phones"),
        sum(when(col("u") + col("e") + col("p") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"))
  }

  /** One-call enrichment used by the `text_profile` query — the native
    * one-pass [[graft.plans.TextProfileUtil]] kernel (the composable
    * Column formulas above re-run the tokenize subtree once per output
    * column; they remain available for à-la-carte use).
    */
  def profile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = call_function("graft_text_profile", col(textCol))
    docs.select(
      col(idCol),
      p.getField("n_tokens").as("n_tokens"),
      p.getField("n_subwords").as("n_subwords"),
      p.getField("n_chars_m").as("n_chars_m"),
      p.getField("punct_ratio").as("punct_ratio"),
      p.getField("mean_word_len").as("mean_word_len"),
      p.getField("quality").as("quality"),
      p.getField("lang_pred").as("lang_pred"),
      p.getField("fingerprint").as("fingerprint")
    )
  }

  /** Zipf-slope corpus-naturalness check per group: OLS slope of
    * ln(frequency) against ln(rank) over each group's top-`topK`
    * tokens. Natural language sits near −1; templated/boilerplate
    * corpora flatten toward 0 and spam-expanded ones steepen — a
    * one-number screen for "does this source look like language".
    *
    * Exactness: ln(rank) and ln(count) round to integer micros PER
    * TERM, the OLS moment sums are exact integer arithmetic, and the
    * slope is ONE final IEEE division — no order-dependent float
    * accumulation, so the statistic hash-oracles. Top-K cut under the
    * total (count desc, token) order; groups with <2 distinct tokens
    * report null slope.
    */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String,
                topK: Int = 100): DataFrame = {
    require(topK >= 2, s"need at least 2 ranks to fit a slope, got $topK")
    import org.apache.spark.sql.expressions.Window
    // per-doc (w, cnt) rows pre-aggregate the explode (§2.3); the ''
    // drop matches the old per-occurrence filter
    val toks = wordCounts(docs, textCol, Seq(col(groupCol)))
    val ranked = toks.groupBy(col(groupCol), col("w"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumnRenamed("w", "tok")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("cnt").desc, col("tok"))))
      .filter(col("rank") <= topK)
    val x = round(log(col("rank").cast("double")) * 1e6).cast("long")
    val y = round(log(col("cnt").cast("double")) * 1e6).cast("long")
    ranked
      .select(col(groupCol), x.as("x"), y.as("y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("zipf_slope_micros",
        when(col("n") >= 2 && col("n") * col("sxx") =!= col("sx") * col("sx"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") * 1e6)
            .cast("long")))
      .select(col(groupCol), col("n").as("n_ranks"), col("zipf_slope_micros"))
  }

  /** Vocabulary coverage / OOV report per group: how much of each
    * source's token MASS the corpus top-`vocabSize` vocabulary covers
    * — the number that decides whether a tokenizer vocab (or a
    * stopword list, or an embedding table) is big enough before
    * anything trains. Vocab = top tokens by corpus occurrence count
    * under the total (count desc, token) order.
    *
    * Scale shape: the vocab derives from one map-side-combined token
    * count + a TakeOrdered cut, and the coverage join BROADCASTS it —
    * the corpus-sized token stream never shuffles for the flag, only
    * the bounded (group) aggregate exchanges. `oov_micros` is the one
    * rounded IEEE division, after all counting.
    */
  def vocabCoverage(docs: DataFrame, groupCol: String, textCol: String,
                    vocabSize: Int = 200): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive, got $vocabSize")
    // per-doc (w, cnt) rows (§2.3): occurrence counts become weighted
    // sums — n_tokens = Σcnt, covered mass = Σ(cnt · in_vocab) — and
    // both the vocab derivation and the coverage join move distinct-
    // per-doc rows instead of every occurrence
    val toks = wordCounts(docs, textCol, Seq(col(groupCol)))
      .withColumnRenamed("w", "tok")
    val vocab = toks.groupBy(col("tok")).agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
      .withColumn("n_oov", col("n_tokens") - col("n_covered"))
      .withColumn("oov_micros",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double") * 1e6).cast("long"))
  }
}
