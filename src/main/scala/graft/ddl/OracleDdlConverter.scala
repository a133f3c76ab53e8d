package graft.ddl

/** Oracle redo DDL → MySQL DDL conversion — the S8 DDL half of the
  * LogMiner source (reference `parseDDLSQL`,
  * `driver/oracle/extractor/log_miner.go:1075-1279`, type mapping
  * `sql_parse.go:249-430`, goldens `log_miner_test.go:295-720`).
  *
  * A LogMiner stream interleaves DML redo (parsed by
  * [[graft.sources.RedoSqlParser]]) with DDL redo; a MySQL-target
  * replication job must translate the Oracle dialect (VARCHAR2, NUMBER,
  * CLOB, out-of-line constraints, `--` comments) into MySQL before the
  * K5 barrier applies it. This object is that translation: a
  * recursive-descent parser over the CREATE TABLE / ALTER TABLE /
  * DROP TABLE subset LogMiner emits, the reference's exact
  * Oracle→MySQL type-mapping table, and a MySQL renderer matching the
  * TiDB-restore formatting the reference produces (so goldens are
  * byte-identical).
  *
  * Identifier normalization follows Oracle: unquoted identifiers
  * uppercase, `"quoted"` identifiers keep their exact case. A missing
  * schema qualifier resolves to `segOwner` (the redo record's segment
  * owner), like the reference's `getSchemaName`.
  *
  * Driver-side control path (one statement per DDL barrier), but
  * [[convert]] is a pure function and serializable, so the oracled
  * query runs it inside executors over a synthesized DDL column.
  */
object OracleDdlConverter {

  /** One converted DDL statement.
    *
    * @param sql        the MySQL statement to forward
    * @param schema     resolved schema (segOwner when unqualified)
    * @param table      resolved table name
    * @param kind       create_table | alter_table | drop_table
    * @param createSchemaIfNotExists the reference's
    *                   DtleFlagCreateSchemaIfNotExists: CREATE TABLE
    *                   implies the target schema must exist first
    *                   (`log_miner.go:1152`)
    * @param columns    ordinal-ordered column names this statement
    *                   declares (CREATE: all; ALTER: touched columns —
    *                   the reference's Ordinals bookkeeping,
    *                   `log_miner.go:1103,1121`)
    */
  case class Converted(sql: String, schema: String, table: String, kind: String,
                       createSchemaIfNotExists: Boolean, columns: Seq[String])

  /** Convert one Oracle DDL statement; Left(error) on statements
    * outside the CREATE/ALTER/DROP TABLE subset (the reference returns
    * a parse error there and the stream surfaces it).
    */
  def convert(oracleSql: String, segOwner: String): Either[String, Converted] = {
    try {
      val c = new Cursor(stripComments(oracleSql))
      c.skipWs()
      if (c.matchKw("CREATE") && c.peekKw("TABLE")) Right(parseCreate(c, segOwner))
      else if (c.reset().matchKw("ALTER") && c.peekKw("TABLE")) Right(parseAlter(c, segOwner))
      else if (c.reset().matchKw("DROP") && c.peekKw("TABLE")) Right(parseDrop(c, segOwner))
      else Left(s"unsupported oracle ddl: ${oracleSql.trim.take(40)}")
    } catch {
      // require() failures AND lexer edge cases (e.g. a NUMBER(…) size
      // literal past Int.MaxValue throwing NumberFormatException) —
      // conversion is TOTAL: malformed input is a Left, never a throw
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
    }
  }

  // ---------------------------------------------------------------- parse

  /** Oracle `--` line comments die at end-of-line (the reference's
    * parser grammar handles them; the userInfo golden depends on it).
    */
  private[ddl] def stripComments(sql: String): String =
    sql.split("\n", -1).map { line =>
      // don't cut a -- inside a 'string' or "ident"
      var i = 0; var inS = false; var inD = false; var cut = -1
      while (i < line.length && cut < 0) {
        val ch = line.charAt(i)
        if (ch == '\'' && !inD) inS = !inS
        else if (ch == '"' && !inS) inD = !inD
        else if (ch == '-' && !inS && !inD && i + 1 < line.length && line.charAt(i + 1) == '-')
          cut = i
        i += 1
      }
      if (cut >= 0) line.substring(0, cut) else line
    }.mkString("\n")

  private final class Cursor(val s: String) {
    var i = 0
    def reset(): Cursor = { i = 0; this }
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def eof: Boolean = { skipWs(); i >= s.length || s.charAt(i) == ';' }
    def peekCh: Char = { skipWs(); if (i < s.length) s.charAt(i) else '\u0000' }
    def matchCh(ch: Char): Boolean = {
      skipWs()
      if (i < s.length && s.charAt(i) == ch) { i += 1; true } else false
    }
    def expectCh(ch: Char): Unit =
      require(matchCh(ch), s"expected '$ch' at $i in: ${s.take(80)}")
    /** Case-insensitive keyword match with a word boundary after. */
    def peekKw(kw: String): Boolean = {
      skipWs()
      s.regionMatches(true, i, kw, 0, kw.length) &&
        (i + kw.length >= s.length || !isWordChar(s.charAt(i + kw.length)))
    }
    def matchKw(kw: String): Boolean =
      if (peekKw(kw)) { i += kw.length; true } else false
    def expectKw(kw: String): Unit =
      require(matchKw(kw), s"expected $kw at $i in: ${s.take(80)}")
    private def isWordChar(ch: Char): Boolean =
      ch.isLetterOrDigit || ch == '_' || ch == '$' || ch == '#'
    /** One identifier: `"exact"` or unquoted→UPPER (Oracle folding). */
    def ident(): Ident = {
      skipWs()
      require(i < s.length, "identifier expected at end of input")
      if (s.charAt(i) == '"') {
        val end = s.indexOf('"', i + 1)
        require(end > i, s"unterminated quoted identifier at $i")
        val raw = s.substring(i + 1, end); i = end + 1
        Ident(raw, raw, quoted = true)
      } else {
        val start = i
        while (i < s.length && isWordChar(s.charAt(i))) i += 1
        require(i > start, s"identifier expected at $start in: ${s.take(80)}")
        val raw = s.substring(start, i)
        Ident(raw.toUpperCase, raw, quoted = false)
      }
    }
    def int(): Int = {
      skipWs()
      val start = i
      if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      while (i < s.length && s.charAt(i).isDigit) i += 1
      require(i > start, s"number expected at $start")
      s.substring(start, i).toInt
    }
    /** Skip one balanced-parens token soup until a top-level stop char. */
    def skipUntil(stops: Set[Char]): Unit = {
      var depth = 0
      while (i < s.length && !(depth == 0 && stops.contains(s.charAt(i)))) {
        val ch = s.charAt(i)
        if (ch == '(') depth += 1
        else if (ch == ')') { if (depth == 0) return; depth -= 1 }
        else if (ch == '\'') { i += 1; while (i < s.length && s.charAt(i) != '\'') i += 1 }
        i += 1
      }
    }
  }

  /** normalized = Oracle-folded (registry/rename key and rendering);
    * raw = exact source spelling (out-of-line constraint columns keep
    * it — the reference golden renders `email` as written).
    */
  private[ddl] case class Ident(normalized: String, raw: String, quoted: Boolean)

  private def qualifiedName(c: Cursor, segOwner: String): (String, Ident) = {
    val first = c.ident()
    if (c.matchCh('.')) (first.normalized, c.ident())
    else (segOwner, first)
  }

  // MySQL type of one column, plus rendered inline options
  private[ddl] case class MyColumn(name: String, tp: String, options: Seq[String])
  private case class OutOfLine(kind: String, name: String, rawCols: Seq[String])

  private def parseCreate(c: Cursor, segOwner: String): Converted = {
    c.expectKw("TABLE")
    val (schema, table) = qualifiedName(c, segOwner)
    c.expectCh('(')
    val cols = Seq.newBuilder[MyColumn]
    val constraints = Seq.newBuilder[OutOfLine]
    var done = false
    while (!done) {
      if (c.peekKw("CONSTRAINT")) constraints += parseOutOfLine(c)
      else cols += parseColumnDef(c)
      if (c.matchCh(',')) ()
      else { c.expectCh(')'); done = true }
    }
    val colList = cols.result()
    val rendered = (colList.map(renderColumn) ++ constraints.result().map(renderOutOfLine))
      .mkString(",")
    val sql = s"CREATE TABLE ${bt(schema)}.${bt(table.normalized)} ($rendered)" +
      " DEFAULT CHARACTER SET = UTF8MB4"
    Converted(sql, schema, table.normalized, "create_table",
      createSchemaIfNotExists = true, colList.map(_.name))
  }

  private def parseOutOfLine(c: Cursor): OutOfLine = {
    c.expectKw("CONSTRAINT")
    val name = c.ident()
    val kind =
      if (c.matchKw("UNIQUE")) "UNIQUE"
      else if (c.matchKw("PRIMARY")) { c.expectKw("KEY"); "PRIMARY KEY" }
      else { // FOREIGN KEY / CHECK: reference maps neither (constrainto2m
             // has only UNIQUE and PK) — consume and drop
        c.skipUntil(Set(',', ')')); return OutOfLine("", "", Nil)
      }
    c.expectCh('(')
    val cols = Seq.newBuilder[String]
    cols += c.ident().raw
    while (c.matchCh(',')) cols += c.ident().raw
    c.expectCh(')')
    OutOfLine(kind, name.normalized, cols.result())
  }

  private def renderOutOfLine(o: OutOfLine): String = o.kind match {
    case "" => ""
    // TiDB restore: UNIQUE carries its name, PRIMARY KEY never does
    // (MySQL PKs are unnamed) — only UNIQUE appears in the goldens
    case "UNIQUE" => s"UNIQUE ${bt(o.name)}(${o.rawCols.map(bt).mkString(",")})"
    case "PRIMARY KEY" => s"PRIMARY KEY(${o.rawCols.map(bt).mkString(",")})"
  }

  private def parseColumnDef(c: Cursor): MyColumn = {
    val name = c.ident()
    val tp = parseType(c)
    val opts = Seq.newBuilder[String]
    var done = false
    while (!done) {
      if (c.matchKw("DEFAULT")) c.skipUntil(Set(',', ')')) // dropped (no Default case in transConstraintOtoM)
      else if (c.matchKw("CONSTRAINT")) { c.ident(); () }  // inline names vanish in MySQL
      else if (c.matchKw("NOT")) { c.expectKw("NULL"); opts += "NOT NULL" }
      else if (c.matchKw("NULL")) opts += "NULL"
      else if (c.matchKw("UNIQUE")) opts += "UNIQUE KEY"
      else if (c.matchKw("PRIMARY")) { c.expectKw("KEY"); opts += "PRIMARY KEY" }
      else if (c.matchKw("REFERENCES")) c.skipUntil(Set(',', ')')) // todo in reference too
      else if (c.matchKw("CHECK")) c.skipUntil(Set(',', ')'))
      else done = true
    }
    MyColumn(name.normalized, tp, opts.result())
  }

  private def renderColumn(col: MyColumn): String =
    (s"${bt(col.name)} ${col.tp}" +: col.options).mkString(" ")

  /** The reference type-mapping table (`sql_parse.go:249-407`), emitted
    * directly as the rendered MySQL type. Size thresholds, NUMBER
    * precision tiers and the 30-digit scale cap (`LimitSize`) are
    * byte-for-byte the reference's.
    */
  private def parseType(c: Cursor): String = {
    def size(): Int = { c.expectCh('('); val n = c.int(); charQualifier(); c.expectCh(')'); n }
    def charQualifier(): Unit = { if (c.matchKw("BYTE") || c.matchKw("CHAR")) () }
    def optSize(dflt: Int): Int =
      if (c.peekCh == '(') size() else dflt
    // CHAR family: 1..255 → CHAR(n), 256..2000 → VARCHAR(n). Sizes
    // > 2000 exceed Oracle's CHAR limit, so the reference's table
    // (1..2000) never sees them and leaves the type unset; we extend
    // deliberately to VARCHAR(n) — a parse-don't-drop choice pinned in
    // OracleDdlConverterSpec ("CHAR beyond Oracle's 2000 cap").
    def charFamily(n: Int): String = if (n <= 255) s"CHAR($n)" else s"VARCHAR($n)"
    // NUMBER(p[,s]) tiering (scale 0/absent): the reference's switch
    def numberTier(p: Int): String =
      if (p <= 0) "DOUBLE"
      else if (p < 3) "TINYINT"
      else if (p < 5) "SMALLINT"
      else if (p < 9) "INT"
      else if (p < 19) "BIGINT"
      else s"DECIMAL($p)"
    def limitScale(s0: Int): Int = math.min(s0, 30)

    if (c.matchKw("VARCHAR2") || c.matchKw("NVARCHAR2") || c.matchKw("VARCHAR"))
      s"VARCHAR(${size()})"
    else if (c.matchKw("NCHAR")) {
      if (c.matchKw("VARYING")) s"VARCHAR(${size()})"
      else charFamily(optSize(1))
    } else if (c.matchKw("CHARACTER") || c.matchKw("CHAR")) charFamily(optSize(1))
    else if (c.matchKw("NUMBER")) {
      if (c.matchCh('(')) {
        if (c.matchCh('*')) { // NUMBER(*) / NUMBER(*, s): no precision → DOUBLE
          if (c.matchCh(',')) c.int()
          c.expectCh(')'); "DOUBLE"
        } else {
          val p = c.int()
          val s0 = if (c.matchCh(',')) Some(c.int()) else None
          c.expectCh(')')
          s0 match {
            case Some(s1) if s1 != 0 => s"DECIMAL($p,${limitScale(s1)})"
            case _ => numberTier(p)
          }
        }
      } else "DOUBLE"
    } else if (c.matchKw("DECIMAL") || c.matchKw("DEC") || c.matchKw("NUMERIC")) {
      c.expectCh('(')
      val p = c.int()
      val s0 = if (c.matchCh(',')) c.int() else 0
      c.expectCh(')')
      if (s0 == 0) s"DECIMAL($p)" else s"DECIMAL($p,${limitScale(s0)})"
    } else if (c.matchKw("INTEGER") || c.matchKw("INT")) "INT"
    else if (c.matchKw("SMALLINT")) "DECIMAL(38)" // Oracle SMALLINT is NUMBER(38)
    else if (c.matchKw("BINARY_FLOAT")) "FLOAT"
    else if (c.matchKw("BINARY_DOUBLE")) "DOUBLE"
    else if (c.matchKw("DOUBLE")) { c.matchKw("PRECISION"); "DOUBLE" }
    else if (c.matchKw("FLOAT")) { if (c.peekCh == '(') size(); "DOUBLE" }
    else if (c.matchKw("REAL")) "DOUBLE"
    else if (c.matchKw("DATE")) "DATETIME"
    else if (c.matchKw("TIMESTAMP")) {
      val fsp = math.min(optSize(6), 6) // Oracle default fsp 6; MySQL caps at 6
      if (c.matchKw("WITH")) { c.matchKw("LOCAL"); c.expectKw("TIME"); c.expectKw("ZONE") }
      s"DATETIME($fsp)"
    } else if (c.matchKw("INTERVAL")) {
      // INTERVAL YEAR(p) TO MONTH | INTERVAL DAY(p) TO SECOND(p)
      if (c.matchKw("YEAR")) { optSize(2); c.expectKw("TO"); c.expectKw("MONTH") }
      else { c.expectKw("DAY"); optSize(2); c.expectKw("TO"); c.expectKw("SECOND"); optSize(6) }
      "VARCHAR(30)"
    } else if (c.matchKw("CLOB")) "LONGTEXT"
    else if (c.matchKw("NCLOB")) "TEXT"
    else if (c.matchKw("BLOB")) "LONGBLOB"
    else if (c.matchKw("BFILE")) "VARCHAR(255)"
    else if (c.matchKw("LONG")) { if (c.matchKw("RAW")) "LONGBLOB" else "LONGTEXT" }
    else if (c.matchKw("RAW")) s"VARBINARY(${size()})"
    else if (c.matchKw("UROWID")) s"VARCHAR(${optSize(4000)})"
    else if (c.matchKw("ROWID")) "CHAR(100)"
    else if (c.matchKw("XMLTYPE")) "LONGTEXT"
    else throw new IllegalArgumentException(
      s"unmapped oracle type at ${c.i}: ${c.s.substring(c.i).take(30)}")
  }

  private def parseAlter(c: Cursor, segOwner: String): Converted = {
    c.expectKw("TABLE")
    val (schema, table) = qualifiedName(c, segOwner)
    val tn = table.normalized
    val specs = Seq.newBuilder[String]
    val touched = Seq.newBuilder[String]
    val fq = (col: String) => s"${bt(schema)}.${bt(tn)}.${bt(col)}"
    def columnList(): Seq[MyColumn] =
      if (c.matchCh('(')) {
        val b = Seq.newBuilder[MyColumn]
        b += parseColumnDef(c)
        while (c.matchCh(',')) b += parseColumnDef(c)
        c.expectCh(')'); b.result()
      } else Seq(parseColumnDef(c))
    // consume the rest of one constraint clause: the reference's
    // Add/Modify/Rename/DropConstraintClause branches are all `// todo`
    // no-ops (`log_miner.go:1230-1237`), so the clause vanishes but the
    // statement's OTHER clauses still convert
    def skipConstraintClause(): Unit = {
      var stop = false
      while (!stop && !c.eof) {
        if (c.peekKw("ADD") || c.peekKw("MODIFY") || c.peekKw("DROP") || c.peekKw("RENAME")) stop = true
        else if (c.peekCh == '(') { c.expectCh('('); c.skipUntil(Set(')')); c.expectCh(')') }
        else c.ident()
      }
    }
    var done = false
    while (!done && !c.eof) {
      if (c.matchKw("ADD")) {
        if (c.matchKw("CONSTRAINT")) skipConstraintClause()
        else {
          // ADD (col type, ...) | ADD col type — both render
          // parenthesized (the reference leaves Position nil → TiDB
          // prints the parens)
          val cols = columnList()
          touched ++= cols.map(_.name)
          specs += s"ADD COLUMN (${cols.map(renderColumn).mkString(", ")})"
        }
      } else if (c.matchKw("MODIFY")) {
        if (c.matchKw("CONSTRAINT")) skipConstraintClause()
        else {
          // MODIFY (col type[, ...]) — one MODIFY COLUMN per column (the
          // reference's ColumnPositionNone path renders unparenthesized)
          val cols = columnList()
          touched ++= cols.map(_.name)
          specs ++= cols.map(col => s"MODIFY COLUMN ${bt(col.name)} ${col.tp}" +
            (if (col.options.isEmpty) "" else col.options.mkString(" ", " ", "")))
        }
      } else if (c.matchKw("DROP")) {
        if (c.matchKw("CONSTRAINT") || c.matchKw("PRIMARY") || c.matchKw("UNIQUE"))
          skipConstraintClause()
        else if (c.matchKw("COLUMN")) {
          val col = c.ident()
          touched += col.normalized
          specs += s"DROP COLUMN ${fq(col.normalized)}"
        } else {
          c.expectCh('(')
          val b = Seq.newBuilder[String]
          b += c.ident().normalized
          while (c.matchCh(',')) b += c.ident().normalized
          c.expectCh(')')
          val cols = b.result()
          touched ++= cols
          specs ++= cols.map(n => s"DROP COLUMN ${fq(n)}")
        }
      } else if (c.matchKw("RENAME")) {
        if (c.matchKw("CONSTRAINT")) skipConstraintClause()
        else {
          c.expectKw("COLUMN")
          val oldName = c.ident(); c.expectKw("TO"); val newName = c.ident()
          touched += newName.normalized
          specs += s"RENAME COLUMN ${fq(oldName.normalized)} TO ${fq(newName.normalized)}"
        }
      } else done = true
    }
    val out = specs.result()
    require(out.nonEmpty, s"alter table $schema.$tn: no convertible clauses")
    val sql = s"ALTER TABLE ${bt(schema)}.${bt(tn)} ${out.mkString(", ")}"
    Converted(sql, schema, tn, "alter_table",
      createSchemaIfNotExists = false, touched.result())
  }

  private def parseDrop(c: Cursor, segOwner: String): Converted = {
    c.expectKw("TABLE")
    val (schema, table) = qualifiedName(c, segOwner)
    Converted(s"DROP TABLE ${bt(schema)}.${bt(table.normalized)}",
      schema, table.normalized, "drop_table",
      createSchemaIfNotExists = false, Nil)
  }

  private def bt(name: String): String = s"`$name`"
}
