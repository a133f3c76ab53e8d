package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout for multi-column data skipping — the
  * `OPTIMIZE ZORDER BY` of Delta/Iceberg, rebuilt portably: rows sort
  * by the bit-interleaving of their quantized column codes, so rows
  * close in EITHER dimension land in the same file/row-group and
  * min/max pruning works for predicates on BOTH columns — a plain sort
  * clusters only its leading column and leaves the second column's
  * spans full-width in every file.
  *
  * Quantization is linear against the column's (min, max) — one
  * broadcast row, one IEEE multiply+floor per value (the same
  * approximation Delta's range-id sampling converges to on uniform
  * keys; heavy skew wants rank-based codes, at the price of a global
  * exchange). The interleave is 5 shift/mask steps of 64-bit integer
  * arithmetic — identical on any engine, so layouts (and the stats
  * query proving them) hash-oracle.
  */
object ZOrderLayout {

  /** Spread the low 16 bits of `v` to even bit positions (Morton
    * encoding step): 0b1011 → 0b1000101. Magic-mask sequence.
    */
  def spreadBits(v: Column): Column = {
    val s1 = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Interleave two ≤16-bit codes: x on even bits, y on odd. */
  def zValue2(xCode: Column, yCode: Column): Column =
    spreadBits(xCode).bitwiseOR(shiftleft(spreadBits(yCode), 1))

  /** Morton-3: spread the low 10 bits of `v` to every THIRD position
    * (the classic 3-way magic-mask sequence) — three columns interleave
    * into one 30-bit curve position.
    */
  def spreadBits3(v: Column): Column = {
    val s1 = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x030000FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 8))).bitwiseAND(lit(0x0300F00FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 4))).bitwiseAND(lit(0x030C30C3L))
    (s3.bitwiseOR(shiftleft(s3, 2))).bitwiseAND(lit(0x09249249L))
  }

  /** Interleave three ≤10-bit codes: x on bit 0 mod 3, y on 1, z on 2. */
  def zValue3(xCode: Column, yCode: Column, zCode: Column): Column =
    spreadBits3(xCode)
      .bitwiseOR(shiftleft(spreadBits3(yCode), 1))
      .bitwiseOR(shiftleft(spreadBits3(zCode), 2))

  /** Linear (min,max) quantization to `bits`-bit codes: one broadcast
    * stats row, `floor((x−mn)·2^bits / (mx−mn+1))` per value —
    * constant columns code to 0.
    *
    * Arithmetic order is part of the cross-engine contract: subtract
    * EXACTLY in DECIMAL(38,0) (no long wrap-around for spans past
    * 2^63, no precision loss for keys above 2^53 — double-cast-first
    * subtraction diverged from the oracle's integer subtraction there,
    * review catch), then ONE correctly-rounded conversion to double
    * feeds the IEEE multiply/divide/floor. The oracle mirrors it:
    * HUGEINT subtraction routed through the varchar-mediated double
    * cast (DuckDB's direct HUGEINT→DOUBLE is not correctly rounded).
    */
  def quantize(x: Column, mn: Column, mx: Column, bits: Int): Column = {
    val buckets = math.pow(2, bits)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val diff = (x.cast(d38) - mn.cast(d38)).cast("double")
    val span = (mx.cast(d38) - mn.cast(d38)).cast("double")
    when(mx === mn, lit(0L)).otherwise(
      floor(diff * lit(buckets) / (span + lit(1.0))).cast("long"))
  }

  /** Attach the z-value for two long/int columns (10-bit codes each —
    * 1024×1024 cells, plenty for file-level pruning). The stats side
    * is a 1-row broadcast; everything else is a per-row projection.
    */
  def withZValue(df: DataFrame, xCol: String, yCol: String,
                 bits: Int = 10): DataFrame = {
    val stats = df.agg(
      min(col(xCol).cast("long")).as("mn_x"), max(col(xCol).cast("long")).as("mx_x"),
      min(col(yCol).cast("long")).as("mn_y"), max(col(yCol).cast("long")).as("mx_y"))
    df.join(broadcast(stats))
      .withColumn("zv", zValue2(
        quantize(col(xCol).cast("long"), col("mn_x"), col("mx_x"), bits),
        quantize(col(yCol).cast("long"), col("mn_y"), col("mx_y"), bits)))
      .drop("mn_x", "mx_x", "mn_y", "mx_y")
  }

  /** Quantile-RANK codes for one column: (value → code) where
    * `code = ⌊rows_before(value) · 2^bits / total⌋` — every bucket
    * holds ≈ total/2^bits rows regardless of the value distribution.
    * Linear codes degrade under skew (one outlier stretches the range
    * so every regular value collapses into code 0 and that column's
    * min/max spans stay full-width in every file — pinned in
    * ZOrderSpec); rank codes bound both columns on ANY distribution.
    *
    * All-integer (cumulative count, then one positive integer
    * division), so codes hash-oracle on any engine. Scale shape: the
    * heavy table never sees a global window — only the DISTINCT-value
    * table does (a groupBy reduction first), which is the standard
    * boundary-table trade of rank-based partitioning; for keys whose
    * distinct cardinality rivals the row count, sample the boundary
    * table or fall back to linear codes.
    */
  def rankCodes(df: DataFrame, c: String, bits: Int): DataFrame =
    rankCodesBy(df.select(col(c).cast("long").as(c)), c, bits)

  /** [[rankCodes]] for ANY orderable key type — rank quantization
    * never looks at magnitudes, so STRING keys (source/domain columns,
    * the corpus-layout clustering case) work as well as numeric ones.
    * Cross-engine note: Spark's UTF8String and DuckDB's varchar both
    * compare raw bytes, so the rank order (and therefore every code)
    * hash-matches even on non-ASCII keys.
    */
  def rankCodesBy(df: DataFrame, c: String, bits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = 1L << bits
    val counts = df.select(col(c).as("v")).filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("prior", coalesce(sum(col("n")).over(w), lit(0L)))
      .join(broadcast(counts.agg(sum(col("n")).as("total"))))
      .select(col("v"), expr(s"prior * $buckets div total").as("code"))
  }

  /** [[withZValue]] with rank codes: two vocab-sized code joins
    * replace the broadcast min/max row.
    */
  def withZValueRank(df: DataFrame, xCol: String, yCol: String,
                     bits: Int = 10): DataFrame = {
    val xc = rankCodes(df, xCol, bits)
      .select(col("v").as("xv_"), col("code").as("xq_"))
    val yc = rankCodes(df, yCol, bits)
      .select(col("v").as("yv_"), col("code").as("yq_"))
    df.join(xc.hint("shuffle_hash"), col(xCol).cast("long") === col("xv_"))
      .join(yc.hint("shuffle_hash"), col(yCol).cast("long") === col("yv_"))
      .withColumn("zv", zValue2(col("xq_"), col("yq_")))
      .drop("xv_", "xq_", "yv_", "yq_")
  }

  /** Rank z-order with a STRING first key — the corpus layout cluster:
    * rows sort by interleaved (key-rank, numeric-rank) codes so a
    * scan filtered on EITHER the string key (source/domain) or the
    * numeric one (length/date) prunes. Output keeps the raw columns
    * plus `zv`; null keys drop (they have no rank).
    */
  def withZValueRankBy(df: DataFrame, keyCol: String, numCol: String,
                       bits: Int = 10): DataFrame = {
    val kc = rankCodesBy(df, keyCol, bits)
      .select(col("v").as("kv_"), col("code").as("kq_"))
    val nc = rankCodesBy(df.select(col(numCol).cast("long").as(numCol)), numCol, bits)
      .select(col("v").as("nv_"), col("code").as("nq_"))
    df.filter(col(keyCol).isNotNull && col(numCol).isNotNull)
      .join(kc.hint("shuffle_hash"), col(keyCol) === col("kv_"))
      .join(nc.hint("shuffle_hash"), col(numCol).cast("long") === col("nv_"))
      .withColumn("zv", zValue2(col("kq_"), col("nq_")))
      .drop("kv_", "kq_", "nv_", "nq_")
  }

  /** The pruning evidence for the string-keyed layout: per-bucket row
    * count, the (byte-ordered) min/max of the string key, and the span
    * of the numeric column.
    */
  def zorderStatsRankBy(df: DataFrame, keyCol: String, numCol: String,
                        bits: Int = 10, bucketBits: Int = 6): DataFrame =
    withZValueRankBy(df, keyCol, numCol, bits)
      .withColumn("bucket", shiftright(col("zv"), 2 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"),
        min(col(numCol).cast("long")).as("min_num"), max(col(numCol).cast("long")).as("max_num"))

  /** [[zorderStats]] over rank codes — the oracled evidence that the
    * layout stays balanced under skew.
    */
  def zorderStatsRank(df: DataFrame, xCol: String, yCol: String,
                      bits: Int = 10, bucketBits: Int = 6): DataFrame =
    withZValueRank(df, xCol, yCol, bits)
      .withColumn("bucket", shiftright(col("zv"), 2 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol).cast("long")).as("min_x"), max(col(xCol).cast("long")).as("max_x"),
        min(col(yCol).cast("long")).as("min_y"), max(col(yCol).cast("long")).as("max_y"))

  /** Write `df` z-ordered on (xCol, yCol): range-partition by z-value,
    * sort inside partitions, drop the helper column — each output file
    * covers a compact Morton-curve segment, tight min/max on BOTH
    * columns.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, path: String,
                    numFiles: Int, bits: Int = 10): Unit =
    withZValue(df, xCol, yCol, bits)
      .repartitionByRange(numFiles, col("zv"))
      .sortWithinPartitions(col("zv"))
      .drop("zv")
      .write.mode("overwrite").parquet(path)

  /** Three-column z-order (the multi-column `OPTIMIZE ZORDER BY a, b,
    * c` form): 10-bit codes per column interleave into a 30-bit Morton
    * position, so min/max pruning works for predicates on ANY of the
    * three — where a lexicographic sort bounds only its leading column.
    * Same one-broadcast-stats-row shape as [[withZValue]].
    */
  def withZValue3(df: DataFrame, xCol: String, yCol: String, zCol: String,
                  bits: Int = 10): DataFrame = {
    require(bits <= 10, s"3-way interleave carries ≤10 bits per column, got $bits")
    val stats = df.agg(
      min(col(xCol).cast("long")).as("mn_x"), max(col(xCol).cast("long")).as("mx_x"),
      min(col(yCol).cast("long")).as("mn_y"), max(col(yCol).cast("long")).as("mx_y"),
      min(col(zCol).cast("long")).as("mn_z"), max(col(zCol).cast("long")).as("mx_z"))
    df.join(broadcast(stats))
      .withColumn("zv", zValue3(
        quantize(col(xCol).cast("long"), col("mn_x"), col("mx_x"), bits),
        quantize(col(yCol).cast("long"), col("mn_y"), col("mx_y"), bits),
        quantize(col(zCol).cast("long"), col("mn_z"), col("mx_z"), bits)))
      .drop("mn_x", "mx_x", "mn_y", "mx_y", "mn_z", "mx_z")
  }

  /** [[zorderStats]] for the three-column curve: per-bucket count and
    * min/max spans of ALL THREE columns.
    */
  def zorderStats3(df: DataFrame, xCol: String, yCol: String, zCol: String,
                   bits: Int = 10, bucketBits: Int = 6): DataFrame =
    withZValue3(df, xCol, yCol, zCol, bits)
      .withColumn("bucket", shiftright(col("zv"), 3 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol).cast("long")).as("min_x"), max(col(xCol).cast("long")).as("max_x"),
        min(col(yCol).cast("long")).as("min_y"), max(col(yCol).cast("long")).as("max_y"),
        min(col(zCol).cast("long")).as("min_z"), max(col(zCol).cast("long")).as("max_z"))

  /** The pruning evidence as a queryable result: rows bucketed by the
    * TOP `log2(buckets)` z-value bits (= the files a range writer
    * would cut), with per-bucket count and min/max spans of both
    * columns — the numbers a scan planner would prune on.
    */
  def zorderStats(df: DataFrame, xCol: String, yCol: String,
                  bits: Int = 10, bucketBits: Int = 6): DataFrame =
    withZValue(df, xCol, yCol, bits)
      .withColumn("bucket", shiftright(col("zv"), 2 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol).cast("long")).as("min_x"), max(col(xCol).cast("long")).as("max_x"),
        min(col(yCol).cast("long")).as("min_y"), max(col(yCol).cast("long")).as("max_y"))
}
