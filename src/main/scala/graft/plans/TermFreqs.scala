package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused document-length + per-term frequency: one pass over the
  * normalized text producing `(dl, entries[(term, tf)])` — the in-row
  * form of the postings-build chain
  *
  *   select(size(tokens) AS dl, explode(tokens) AS term)
  *     .groupBy(doc_id, dl, term).agg(count(*) AS tf)
  *
  * whose groups are per-document anyway, so the whole aggregation (its
  * exchange included) collapses into the scan stage (guide §1.2/§2.4).
  * Token semantics are exactly `split(graft_norm_text(text), " ")`:
  * the normalized text carries no leading/trailing/doubled spaces, so
  * tokens are the runs between single spaces, and an empty
  * normalization yields the single ''-token (the corpus-wide
  * convention). `dl` is the token count (`size(...)`, int); `tf` the
  * occurrence count (`count(*)`, long); entries are in first-occurrence
  * order. Bm25Spec pins bit-equivalence against the explode+groupBy
  * form.
  */
object TermFreqsUtil {

  def compute(text: UTF8String): InternalRow = {
    val norm = NormTextUtil.norm(text).toString
    val len = norm.length
    val counts = new java.util.LinkedHashMap[String, java.lang.Long]()
    var dl = 0
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || norm.charAt(i) == ' ') {
        val tok = norm.substring(start, i)
        dl += 1
        val prev = counts.get(tok)
        counts.put(tok, if (prev == null) 1L else prev + 1L)
        start = i + 1
      }
      i += 1
    }
    val entries = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      entries(j) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue.longValue()))
      j += 1
    }
    new GenericInternalRow(Array[Any](dl, new GenericArrayData(entries)))
  }

  // the plan references the struct twice (dl projection + entries
  // generator), and projection collapse re-inlines each reference —
  // the memo keeps it one pass per row (NormText.RowMemo pattern)
  private val memo = new RowMemo(compute)

  def computeMemo(text: UTF8String): InternalRow = memo(text)

  val schema: StructType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false)
    )), containsNull = false), nullable = false)
  ))
}
