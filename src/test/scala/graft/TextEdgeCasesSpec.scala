package graft

import org.apache.spark.sql.functions._
import graft.operators.dedup.{Dedup, SimHashDedup}
import graft.operators.text.TextAnalysis

/** Null / empty / whitespace-only text through every native text
  * expression — the "filtered half of an update is a nil row" class of
  * edge (SURVEY §7.4 hard part 4) applied to the §8 operators.
  */
class TextEdgeCasesSpec extends SparkSpec {

  private def edgeDocs = {
    import spark.implicits._
    Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   \t\n "), (4L, "one"),
      (5L, "the quick brown fox")).toDF("doc_id", "text")
  }

  test("shingles: null -> null, short/empty -> empty array") {
    import spark.implicits._
    val out = edgeDocs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(out(1L).isEmpty)              // null in -> null out
    assert(out(2L).contains(Seq()))      // empty text -> no shingles
    assert(out(3L).contains(Seq()))      // whitespace-only -> no shingles
    assert(out(4L).contains(Seq()))      // fewer words than n
    assert(out(5L).exists(_.nonEmpty))
  }

  test("fused shingle hashes mirror shingles on every edge") {
    import spark.implicits._
    val out = edgeDocs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(out(1L).isEmpty)
    assert(out(2L).contains(Seq()) && out(3L).contains(Seq()) && out(4L).contains(Seq()))
    assert(out(5L).exists(_.nonEmpty))
  }

  test("repetition and redaction are total on null/empty/unicode") {
    import spark.implicits._
    val docs = edgeDocs.union(Seq(
      (6L, "héllo wörld héllo wörld héllo wörld"),
      (7L, "中文 内容 中文 内容")).toDF("doc_id", "text"))
    val rep = docs.select(col("doc_id"),
        TextAnalysis.duplicateNgramFraction(col("text"), 2).as("d2"))
      .as[(Long, Option[Double])].collect().toMap
    assert(rep(2L).contains(0.0) && rep(3L).contains(0.0) && rep(4L).contains(0.0))
    assert(rep(6L).exists(_ > 0.5), s"unicode repetition missed: ${rep(6L)}")
    assert(rep(7L).exists(_ > 0.0))
    val red = docs.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"))
      .as[(Long, Option[String])].collect().toMap
    assert(red(1L).isEmpty)              // null in -> null out
    assert(red(2L).contains(""))
    assert(red(6L).contains("héllo wörld héllo wörld héllo wörld")) // untouched
  }

  test("profile n_subwords: manual scan == the regex pre-tokenizer, emoji included") {
    // the r18 code-point scan must reproduce
    // size(regexp_extract_all(lower(c), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
    // exactly — letter runs, digit runs, one count per OTHER code
    // point (an astral emoji is ONE subword under Java regex classes),
    // \s = the six ASCII whitespace chars only
    import spark.implicits._
    val docs = Seq("", "abc", "ABC42def!", "a1b2", "😀😀", "中文test",
      "a😀b", "xy", "tab\tdig9", "NBSP here", "é-è",
      "multi  space", "1,234.56").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val cmp = docs.select(
      call_function("graft_text_profile", col("t")).getField("n_subwords").as("fused"),
      TextAnalysis.subwordCount(col("t")).as("regex"), col("t"))
    cmp.collect().foreach { r =>
      assert(r.getInt(0) == r.getInt(1),
        s"n_subwords diverged on '${r.getString(2)}': fused=${r.getInt(0)} regex=${r.getInt(1)}")
    }
  }

  test("text profile handles null/empty/whitespace without failing") {
    val out = TextAnalysis.profile(edgeDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 5)
    assert(out(2L).getInt(1) == 0)  // n_tokens 0 for empty
    assert(out(5L).getInt(1) == 4)
    assert(out(5L).getString(7) == "en")
  }

  test("simhash fingerprints null/empty docs without failing; dedup pipelines run") {
    val fps = edgeDocs.select(col("doc_id"),
      SimHashDedup.simhash(split(Dedup.normText(col("text")), " "))).collect()
    assert(fps.length == 5)
    // full pipelines must not throw on edge rows
    assert(Dedup.exact(edgeDocs, "doc_id", "text").count() >= 3)
    Dedup.ngramJaccardPairs(edgeDocs, "doc_id", "text", 3, 0.5).count()
    SimHashDedup.portablePairs(edgeDocs, "doc_id", "text").count()
    graft.operators.dedup.MinHashDedup.portablePairs(edgeDocs, "doc_id", "text").count()
  }
}
