package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned

/** Iterative BPE merge training (Sennrich et al. 2016) — the actual
  * tokenizer-training loop, not just its first-round statistic
  * ([[TextAnalysis.bpePairStats]]): `merges` rounds of
  * (count weighted adjacent pairs → take the argmax pair → merge every
  * occurrence corpus-wide), producing the ordered merge table that IS
  * a BPE tokenizer's model file.
  *
  * Scale shape: the corpus is touched ONCE (word counts — one
  * map-side-combined aggregation); every merge round runs on the
  * cached VOCABULARY table (distinct words × counts — sub-linear in
  * corpus bytes, the same trick HuggingFace's trainer uses), and only
  * the 1-row argmax reaches the driver per round. Words are held as
  * DOUBLE-space-joined symbol sequences with single sentinel spaces at
  * the edges, so a merge is one non-overlapping left-to-right
  * `replace(' l  r ' → ' lr ')` per word — exactly the greedy
  * semantics of reference BPE, including back-to-back occurrences
  * (`abab` → [ab, ab], an `aaaaaa` run → [aa, aa, aa]; overlapping
  * runs like `aaa` still merge left-to-right to [aa, a]). See [[seqOf]]
  * for why the double separator is what makes plain `replace` exact.
  *
  * Cross-engine parity traps pinned here:
  *  - symbols are UNICODE CODE POINTS via `regexp_extract_all(w,
  *    '(?s).')` — Java's `split("")` would break surrogate pairs (an
  *    emoji into two lone surrogates) while DuckDB splits runes, and
  *    the `(?s)` flag aligns the two engines' dot over
  *    U+0085/U+2028/U+2029;
  *  - the merge uses plain `replace`, never regex — merged symbols can
  *    contain any character class (quotes, brackets, dots);
  *  - argmax tie-break is (count DESC, left ASC, right ASC) — a total
  *    order, so every round's winner reproduces.
  *
  * Output: one row per executed merge —
  * (step, left, right, merged, pair_count); rounds with no remaining
  * pair emit nothing (degenerate single-symbol corpora).
  */
object BpeTrainer {

  /** Word → symbol-sequence representation: ' h  e  l  l  o ' —
    * DOUBLE spaces between symbols, single at the edges. The double
    * separator is what makes one plain non-overlapping `replace` per
    * merge EXACTLY reference-greedy: the pattern ' l  r ' consumes
    * only the first space of the trailing separator, so the next
    * adjacent occurrence still starts with its own leading space
    * ('abab' merges to [ab, ab], a 6-run of 'a' to [aa, aa, aa] — the
    * single-space encoding under-merged both, since the consumed
    * boundary space blocked the immediately following match; review
    * catch). `(?s).` keeps the dot identical across engines: Java's
    * bare dot excludes U+0085/U+2028/U+2029 while RE2's excludes only
    * newline — with the flag both match every code point.
    */
  private def seqOf(word: org.apache.spark.sql.Column) =
    concat(lit(" "), array_join(regexp_extract_all(word, lit("(?s)."), lit(0)), "  "), lit(" "))

  def train(docs: DataFrame, textCol: String, merges: Int): DataFrame = pinned { pins =>
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = pins.once(docs.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(seqOf(col("w")).as("seq"), col("cnt")))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val toks = split(trim(col("seq")), "  ")
      // sequence(1, 0) throws on single-symbol words — guard to empty
      val idxs = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
        .otherwise(array().cast("array<int>"))
      val best = vocab
        .select(col("cnt"), explode(transform(idxs,
          i => struct(element_at(toks, i).as("l"), element_at(toks, i + 1).as("r"))))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      best.headOption match {
        case None => exhausted = true // every word is one symbol already
        case Some((l, r, c)) =>
          out += ((step, l, r, l + r, c))
          // materialized before the parent round drops
          val merged = pins.once(vocab.withColumn("seq", replace(col("seq"),
            lit(s" $l  $r "), lit(s" $l$r "))))
          pins.release(vocab)
          vocab = merged
          step += 1
      }
    }
    // lhs/rhs, not left/right: reserved words in ANSI engines
    out.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  /** The SCALE path of [[train]]: identical output, O(1) Spark jobs
    * for ANY merge count. After the one corpus-wide word-count
    * aggregation the problem is vocabulary-bound (distinct words ×
    * counts — what HuggingFace's trainer also collects), so the merge
    * loop runs driver-side over the collected vocab with INCREMENTAL
    * pair-count maintenance: each merge touches only the words that
    * contain the winning pair (pair → word-index postings), not the
    * whole vocab — a real 32k-merge training run is two Spark jobs
    * (count + collect) plus an in-memory loop, where the distributed
    * form pays 2·merges jobs. [[train]] stays as the oracle witness;
    * equality is pinned in BpeTrainerSpec and `tokenizer_bpe_fast`
    * shares `tokenizer_bpe_train`'s hash oracle.
    *
    * Parity notes mirrored from the distributed form: symbols are code
    * points (Java `codePoints`, = `regexp_extract_all '(?s).'`); the
    * merge is non-overlapping left-to-right; the argmax tie-break
    * (count DESC, l ASC, r ASC) compares strings by CODE POINT — Spark
    * orders UTF8 bytes (= code-point order) while Java's
    * `String.compareTo` orders UTF-16 units, and the two disagree
    * between supplementary characters (emoji) and U+E000..U+FFFF, so a
    * naive compareTo would pick a different winner on tied emoji pairs.
    */
  def trainLocal(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab: Array[(String, Long)] = docs.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect()

    // code-point (= UTF8-byte = Spark) string order, NOT UTF-16 compareTo
    def cpCompare(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }

    final class W(var syms: Array[String], val cnt: Long)
    val words: Array[W] = vocab.map { case (w, c) =>
      new W(w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), c)
    }
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap.empty[(String, String),
      scala.collection.mutable.Set[Int]]
    def bump(p: (String, String), by: Long, idx: Int): Unit = {
      val nc = pairCount.getOrElse(p, 0L) + by
      if (nc <= 0L) { pairCount.remove(p); pairWords.remove(p) }
      else {
        pairCount(p) = nc
        if (by > 0) pairWords.getOrElseUpdate(p,
          scala.collection.mutable.Set.empty[Int]) += idx
      }
    }
    words.indices.foreach { i =>
      val s = words(i).syms
      var j = 0
      while (j + 1 < s.length) { bump((s(j), s(j + 1)), words(i).cnt, i); j += 1 }
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    while (step <= merges && pairCount.nonEmpty) {
      // argmax (count DESC, l ASC, r ASC) — linear scan; the pair table
      // is vocab-sized and shrinks as merges consume it
      var best: (String, String) = null; var bc = -1L
      pairCount.foreach { case (p, c) =>
        if (c > bc || (c == bc && {
          val dl = cpCompare(p._1, best._1)
          dl < 0 || (dl == 0 && cpCompare(p._2, best._2) < 0)
        })) { best = p; bc = c }
      }
      val (l, r) = best
      out += ((step, l, r, l + r, bc))
      // merge only in the words that contain the pair; maintain counts
      // incrementally (old pairs out, new pairs in)
      val touched = pairWords.getOrElse(best, scala.collection.mutable.Set.empty[Int]).toArray
      touched.foreach { i =>
        val w = words(i); val s = w.syms
        var j = 0
        while (j + 1 < s.length) { bump((s(j), s(j + 1)), -w.cnt, i); j += 1 }
        val ns = scala.collection.mutable.ArrayBuffer.empty[String]
        j = 0
        while (j < s.length) {
          if (j + 1 < s.length && s(j) == l && s(j + 1) == r) { ns += l + r; j += 2 }
          else { ns += s(j); j += 1 }
        }
        w.syms = ns.toArray
        j = 0
        while (j + 1 < w.syms.length) { bump((w.syms(j), w.syms(j + 1)), w.cnt, i); j += 1 }
      }
      step += 1
    }
    out.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  /** Apply a trained merge table to new text: each merge replayed in
    * step order over the symbol representation — the ENCODE half of
    * the tokenizer. Returns (id, symbols array<string>). The merge
    * list is a driver-side artifact (the model), so application is a
    * shuffle-free projection at scan speed.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             mergeTable: Seq[(String, String)]): DataFrame = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("wpos", "w")))
    val mergedSeq = mergeTable.foldLeft(seqOf(col("w"))) { case (acc, (l, r)) =>
      replace(acc, lit(s" $l  $r "), lit(s" $l$r "))
    }
    words.select(col(idCol), col("wpos"), split(trim(mergedSeq), "  ").as("symbols"))
  }
}
