package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C1-C12 — the sink type-conversion matrix (SURVEY.md §2.7): the scalar
  * coercions the reference applies when encoding rows for its Kafka
  * (Debezium envelope, `driver/kafka/kafka2.go:339-485`,
  * `kafka3.go:1072-1218`) and MySQL sinks
  * (`driver/mysql/mysqlconfig/types.go:93-134`).
  *
  * Everything here is built from `org.apache.spark.sql.functions` so it
  * stays inside whole-stage codegen — no UDFs in the hot encode path.
  */
object TypeConversions {

  /** C1 — decimal → Debezium wire form: unscaled big-int two's-complement
    * bytes, base64 (reference `kafka2.go:339-381` DecimalValueFromStringValue).
    */
  def decimalToDebezium(c: Column, precision: Int, scale: Int): Column = {
    // unscaled value = decimal shifted by scale — all-decimal arithmetic so
    // the shift is exact (no double rounding), then big-endian bytes
    val unscaled = (c.cast(DecimalType(precision, scale)) * lit(math.pow(10, scale).toLong))
      .cast(DecimalType(precision + scale, 0)).cast("long")
    base64(unhex(lpad(hex(unscaled), 16, "0")))
  }

  /** C2 — MySQL TIME "±HH:MM:SS.ffffff" → signed microseconds int64
    * (reference `kafka2.go:383-455` TimeValue). Spark has no TIME type;
    * parse the lexical form.
    */
  def timeToMicros(c: Column): Column = {
    // Every subtree here is a cheap non-regex string op (ltrim /
    // substring_index): regexes and split-array construction were the
    // dominant per-row cost when this ran once per splittable component.
    val sign = when(c.startsWith("-"), lit(-1L)).otherwise(lit(1L))
    val s = ltrim(c, "-")
    val hh = substring_index(s, ":", 1).cast("long")
    val mm = substring_index(substring_index(s, ":", 2), ":", -1).cast("long")
    val secFrac = substring_index(s, ":", -1) // "SS" or "SS.ffffff"
    val ss = substring_index(secFrac, ".", 1).cast("long")
    // fraction digits are left-aligned: ".5" = 500000 µs → right-pad to 6.
    // substring_index(x, ".", -1) on a dot-less string returns the whole
    // string, so gate on contains(".").
    val frac = when(secFrac.contains("."),
      rpad(substring_index(secFrac, ".", -1), 6, "0").substr(1, 6).cast("long"))
      .otherwise(lit(0L))
    sign * (((hh * 3600 + mm * 60 + ss) * 1000000L) + frac)
  }

  /** C3 — DATETIME → epoch millis in the session timezone (reference
    * `kafka2.go:456-473` DateTimeValue).
    */
  def datetimeToMillis(c: Column): Column = unix_millis(c.cast(TimestampType))

  /** C4 — DATE → epoch days (reference `kafka2.go:474-480` DateValue). */
  def dateToEpochDays(c: Column): Column = datediff(c.cast(DateType), lit("1970-01-01"))

  /** C5 — TIMESTAMP → UTC ISO-8601 string (reference `kafka2.go:481-485`). */
  def timestampToIso(c: Column): Column =
    date_format(c.cast(TimestampType), "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** C6a — ENUM ordinal → label (reference parses labels out of the
    * `enum(...)` DDL text and indexes 1-based, `kafka3.go:1110-1119`).
    */
  def enumLabel(ordinal: Column, labels: Seq[String]): Column =
    element_at(array(labels.map(lit): _*), ordinal.cast("int"))

  /** C7b — BIT(n) → Debezium wire form: the value's ceil(n/8) bytes in
    * LITTLE-endian order, base64 (reference getBitValue, `kafka3.go`;
    * goldens `kafka3_test.go:33`: bit(8) 9 → "CQ==", bit(16) 9 →
    * "CQA=" — note the little-endian byte order, NOT big-endian).
    */
  def bitToDebezium(c: Column, bits: Int): Column = {
    val nBytes = (bits + 7) / 8
    val bytes = (0 until nBytes).map(i =>
      lpad(hex(shiftright(c.cast("long"), 8 * i).bitwiseAND(lit(0xffL))), 2, "0"))
    base64(unhex(concat(bytes: _*)))
  }

  /** C6b — SET bitmask → CSV of labels (reference `kafka3.go:1176-1191`).
    * concat_ws drops NULLs, so unset bits vanish — no UDF needed.
    */
  def setLabels(mask: Column, labels: Seq[String]): Column = {
    val parts = labels.zipWithIndex.map { case (label, i) =>
      when(mask.bitwiseAND(lit(1L << i)) =!= 0, lit(label))
    }
    concat_ws(",", parts: _*)
  }

  /** C7 — BINARY(n) zero-padded base64; VARBINARY/BLOB plain base64
    * (reference `kafka3.go:1094-1150`).
    */
  def binaryToBase64(c: Column, padTo: Option[Int] = None): Column = padTo match {
    case Some(n) => base64(rpad(c.cast(BinaryType), n, Array[Byte](0)))
    case None    => base64(c.cast(BinaryType))
  }

  /** C8 — unsigned widening: an unsigned source column re-read as the
    * next wider signed type (reference `mysqlconfig/types.go:115-134`,
    * incl. the mediumint `& 0x00FFFFFF` mask).
    */
  def unsignedWiden(c: Column, sourceType: String): Column = sourceType.toLowerCase match {
    case "tinyint"   => c.cast("int").bitwiseAND(lit(0xff)).cast("smallint")
    case "smallint"  => c.cast("long").bitwiseAND(lit(0xffffL)).cast("int")
    case "mediumint" => c.cast("long").bitwiseAND(lit(0xffffffL)).cast("int")
    case "int"       => c.cast("long").bitwiseAND(lit(0xffffffffL))
    case "bigint"    => // full u64 range needs decimal: reinterpret two's complement
      val asDec = c.cast("long").cast(DecimalType(20, 0))
      when(c.cast("long") < 0, asDec + lit(new java.math.BigDecimal("18446744073709551616")))
        .otherwise(asDec)
    case other       => throw new IllegalArgumentException(s"not an unsigned int type: $other")
  }

  /** C9 — charset transcode to UTF-8 (reference `types.go:93-112`):
    * Spark's decode/encode pair over the source charset.
    */
  def transcodeToUtf8(c: Column, sourceCharset: String): Column =
    decode(c.cast(BinaryType), sourceCharset)

  /** MySQL charset name → JVM charset (reference charsetEncodingMap,
    * `mysqlconfig/encoding.go:20-30`). Note MySQL's `latin1` is the
    * cp1252 superset (Windows-1252), NOT ISO-8859-1 — the 0x80-0x9F
    * range carries €‚ƒ„… etc.; decoding it as ISO-8859-1 silently maps
    * those to C1 control characters.
    */
  val mysqlCharsetToJava: Map[String, String] = Map(
    "latin1"  -> "windows-1252",
    "latin2"  -> "windows-1250",
    "gbk"     -> "GBK",
    "gb2312"  -> "GB18030",
    "gb18030" -> "GB18030",
    "utf16"   -> "UTF-16BE",
    "utf16le" -> "UTF-16LE",
    "utf32"   -> "UTF-32BE")

  /** reference `g/g.go:178` IsUTF8OrMB4 — already-UTF8 text skips the
    * decode stage entirely. */
  def isUtf8OrMb4(charset: String): Boolean = {
    val c = charset.toLowerCase
    c == "utf8" || c == "utf8mb4"
  }

  /** The decoder for one MySQL charset, or None when the column should
    * pass through untouched: utf8/utf8mb4 (already UTF-8) and unknown
    * charsets (reference treats them as binary — `encoding.Nop`,
    * `encoding.go:33-45`).
    */
  def javaCharsetOf(mysqlCharset: String): Option[String] = {
    val c = mysqlCharset.toLowerCase
    if (isUtf8OrMb4(c)) None else mysqlCharsetToJava.get(c)
  }

  /** C9 — the table-metadata-driven charset stage (reference ConvertArg,
    * `types.go:93-112`, applied per column from the table's
    * information_schema metadata): every raw-bytes text column listed in
    * `columnCharsets` decodes to a UTF-8 string; utf8/utf8mb4 and
    * unknown charsets pass through as-is. One projection over the batch
    * — column-parallel, codegen'd, no shuffle. The non-builtin decoders
    * (windows-1252, GBK, …) need `spark.sql.legacy.javaCharsets`, which
    * [[graft.GraftSession]] sets.
    */
  def transcodeRow(df: org.apache.spark.sql.DataFrame,
                   columnCharsets: Map[String, String]): org.apache.spark.sql.DataFrame =
    columnCharsets.foldLeft(df) { case (d, (name, cs)) =>
      javaCharsetOf(cs) match {
        case Some(jc) => d.withColumn(name, transcodeToUtf8(col(name), jc))
        case None if isUtf8OrMb4(cs) =>
          d.withColumn(name, col(name).cast("string")) // bytes already UTF-8
        case None => d // unknown charset: binary passthrough (reference Nop)
      }
    }

  /** C9 for DDL text (reference `binlog_reader.go:543-548`): a query
    * event's statement decodes via the session's character_set_client
    * BEFORE classification/rewrite — a latin1 DDL with `café` in a
    * DEFAULT literal must land in the target as UTF-8. Driver-side
    * (control path, one call per DDL).
    */
  def ddlToUtf8(raw: Array[Byte], characterSetClient: String): String =
    javaCharsetOf(characterSetClient) match {
      case Some(jc) => new String(raw, java.nio.charset.Charset.forName(jc))
      case None     => new String(raw, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** C10 — MySQL 8.0 → 5.7 collation downgrade in DDL text (reference
    * `base/utils.go:181-201`): pure string rewrite.
    */
  private val collationDowngrades = Seq(
    "utf8mb4_0900_ai_ci" -> "utf8mb4_general_ci",
    "utf8mb4_0900_as_cs" -> "utf8mb4_bin",
    "utf8mb4_0900_bin"   -> "utf8mb4_bin"
  )
  def downgradeCollations(ddl: String): String =
    collationDowngrades.foldLeft(ddl) { case (s, (from, to)) => s.replaceAll("(?i)" + from, to) }
}
