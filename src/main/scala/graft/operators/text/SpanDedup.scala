package graft.operators.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level exact dedup (beyond-parity, SURVEY.md §8): find —
  * and optionally cut — spans of `n` consecutive words that occur
  * `minCount`+ times anywhere in the corpus. This is the pass between
  * paragraph dedup (fixed blocks) and whole-doc dedup: repeated
  * license headers, navigation chrome, and templated boilerplate that
  * straddle paragraph boundaries show up as duplicated n-word windows
  * regardless of alignment, the position-window approximation of
  * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better").
  *
  * Scale shape (the 100 TB argument):
  *  - the scan emits positional 8-byte window hashes via the native
  *    [[graft.plans.SpanHashUtil]] kernel — window STRINGS never
  *    leave the scan stage;
  *  - duplication is a window count over the hash partition (one
  *    shuffle of (id, pos, hash) triples, map-side width fixed) — the
  *    same no-join shape as paragraph dedup, and never pairwise: output
  *    is linear in corpus positions, with no quadratic blow-up on a
  *    hash shared by millions of documents;
  *  - span merge is one shuffle on the doc id; the follow-up
  *    (id, sid) aggregate reuses that partitioning (hash(id) satisfies
  *    the (id, sid) clustering), so no further exchange.
  *
  * A 64-bit hash collision can mark a span that is not actually
  * duplicated — the same negligible event the other hash-bucketed
  * dedups tolerate; the DuckDB oracles compare against the window
  * strings themselves, so the gate would surface a collision at
  * fixture scale.
  */
object SpanDedup {

  /** Merged duplicated spans per document: `(idCol, span_start,
    * span_end)` — word positions over the NORMALIZED token stream
    * (`Dedup.normText` contract), end exclusive. Overlapping and
    * back-to-back windows fold into one span (`brk` only when the next
    * duplicated window starts past the current span's end). `minCount`
    * counts every occurrence, within- and cross-document — a doc
    * repeating its own 10 words is a duplicated span too (the
    * repetition-removal semantic).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 10, minCount: Long = 2): DataFrame = {
    require(n >= 1 && minCount >= 2, s"need n>=1, minCount>=2; got n=$n, minCount=$minCount")
    val grams = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        call_function("graft_span_hashes", col(textCol), lit(n)))
        .as(Seq("pos", "gh")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    grams
      // duplication test as a window count — one hash-partitioned
      // exchange, no second scan and no self-join (paragraphDedup shape)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("cnt") >= minCount)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > n, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("sid"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + n).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Verbatim-span contamination across corpora (the Lee et al. 2022
    * substring semantic pointed at eval leakage): merged spans of the
    * EVAL docs whose `n`-word windows appear verbatim anywhere in
    * TRAIN. Same positional-hash machinery as [[duplicatedSpans]], but
    * membership replaces multiplicity: eval windows LEFT-SEMI join the
    * DISTINCT train hash set, so a phrase shared by millions of train
    * docs contributes ONE build-side row — no pairwise blow-up, and
    * output stays linear in eval positions. `(evalIdCol, span_start,
    * span_end)`, positions over the normalized token stream, end
    * exclusive.
    */
  def contaminatedSpans(train: DataFrame, eval: DataFrame,
                        idCol: String, textCol: String, n: Int = 10): DataFrame =
    contaminatedSpansAgainstIndex(
      buildSpanIndex(train, textCol, n), eval, idCol, textCol, n)

  /** The persistable train-side artifact for [[contaminatedSpans]]:
    * DISTINCT window hashes `(gh)` — 8 bytes per distinct n-gram, the
    * smallest index in the stored-index family. Write it once per
    * train snapshot; every eval batch probes it without re-hashing the
    * train corpus.
    */
  def buildSpanIndex(train: DataFrame, textCol: String, n: Int = 10): DataFrame = {
    require(n >= 1, s"need n>=1; got n=$n")
    train.filter(col(textCol).isNotNull)
      .select(explode(call_function("graft_span_hashes", col(textCol), lit(n))).as("gh"))
      .distinct()
  }

  /** Probe a PERSISTED span index (the [[buildSpanIndex]] schema,
    * typically read back from parquet): per-batch cost tracks the eval
    * batch, not the accumulated train corpus.
    */
  def contaminatedSpansAgainstIndex(index: DataFrame, eval: DataFrame,
                                    idCol: String, textCol: String,
                                    n: Int = 10): DataFrame = {
    require(n >= 1, s"need n>=1; got n=$n")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    eval.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        call_function("graft_span_hashes", col(textCol), lit(n)))
        .as(Seq("pos", "gh")))
      .join(index.hint("shuffle_hash"), Seq("gh"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > n, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("sid"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + n).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Documents with every duplicated span cut out: `(idCol,
    * text_trimmed)` over the normalized token stream. ALL occurrences
    * are removed (the boilerplate-removal semantic — pair with exact /
    * near dedup when keep-one semantics are wanted; a keep-one choice
    * is ill-defined once overlapping windows merge into spans).
    * Documents without spans pass through normalized; a fully-covered
    * document trims to the empty string but keeps its row, so the
    * output stays 1:1 with non-null input docs.
    */
  def trimSpans(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 10, minCount: Long = 2): DataFrame = {
    val spans = duplicatedSpans(docs, idCol, textCol, n, minCount)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val words = split(graft.operators.dedup.Dedup.normText(col(textCol)), " ")
    val covered = (i: Column) => exists(col("spans"),
      sp => i >= sp.getField("span_start") && i < sp.getField("span_end"))
    docs.filter(col(textCol).isNotNull)
      // span side is corpus-proportional (every doc with a dup): pin
      // shuffle_hash so the planner never tries to broadcast it
      .join(spans.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        when(col("spans").isNull, concat_ws(" ", words))
          .otherwise(concat_ws(" ",
            filter(words, (w, i) => !covered(i))))
          .as("text_trimmed"))
  }
}
