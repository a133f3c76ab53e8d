package graft.sinks

/** K1-K4 — sink DML statement generation (reference
  * `driver/mysql/sql/builder.go`): batched multi-row `REPLACE INTO`
  * with bulk tiers, PK-targeted `DELETE ... LIMIT 1` (full-row match
  * with `IS NULL` handling when no PK), and direct `UPDATE ... LIMIT 1`.
  *
  * Statements are pure strings with `?` placeholders — values always
  * travel via JDBC prepared-statement parameters (which also makes the
  * reference's escaping table, `builder.go:41-73`, unnecessary).
  */
object SqlBuilder {

  /** Column metadata subset the builder needs — reference `ColumnList`
    * (`driver/common/columntypes.go:30-34`).
    */
  case class TableDef(
      schema: String,
      name: String,
      columns: Seq[String],
      pkColumns: Seq[String]
  ) {
    def fqn: String = s"`$schema`.`$name`"
    def hasPk: Boolean = pkColumns.nonEmpty
  }

  /** The reference's bulk-insert tiers: try 128-row statements, then 8,
    * then 4, then row-at-a-time (`driver/driver.go:161-167`, applied
    * `applier_incr.go:694-730`). Given a batch of n rows, return
    * (rowsPerStatement, statementCount) pairs greedily.
    */
  val bulkTiers: Seq[Int] = Seq(128, 8, 4, 1)

  /** A usable tier sequence from arbitrary config input: positive,
    * distinct, descending, with the row-at-a-time terminal tier so no
    * remainder is ever dropped.
    */
  def normalizeTiers(tiers: Seq[Int]): Seq[Int] = {
    val ts = tiers.filter(_ > 0).distinct.sorted(Ordering.Int.reverse)
    if (ts.lastOption.contains(1)) ts else ts :+ 1
  }

  def tierPlan(n: Int, tiers: Seq[Int] = bulkTiers): Seq[(Int, Int)] = {
    var remaining = n
    tiers.flatMap { tier =>
      val count = remaining / tier
      remaining %= tier
      if (count > 0) Some(tier -> count) else None
    }
  }

  /** K2 — multi-row replace (insert-or-overwrite) statement:
    * `REPLACE INTO t (c1,c2) VALUES (?,?),(?,?)...`
    * (reference BuildDMLInsertQuery → replace form, `builder.go:161-229`).
    */
  def replaceInto(t: TableDef, rowsPerStatement: Int): String = {
    val cols = t.columns.map(c => s"`$c`").mkString(", ")
    val row = t.columns.map(_ => "?").mkString("(", ", ", ")")
    val values = Seq.fill(rowsPerStatement)(row).mkString(", ")
    s"REPLACE INTO ${t.fqn} ($cols) VALUES $values"
  }

  /** K3 — delete by PK, or full-row match with null-safe comparison when
    * the table has no usable key (reference BuildDMLDeleteQuery,
    * `builder.go:86-159`; `LIMIT 1` mirrors `builder.go:152-153` — one
    * event deletes at most one row).
    */
  def delete(t: TableDef): String = {
    val whereCols = if (t.hasPk) t.pkColumns else t.columns
    val where = whereCols.map(nullSafeEq).mkString(" AND ")
    s"DELETE FROM ${t.fqn} WHERE $where LIMIT 1"
  }

  /** K4 — direct update form (reference BuildDMLUpdateQuery,
    * `builder.go:240-336`); the applier's default path executes
    * delete(before)+replace(after) instead (`applier_incr.go:747-790`),
    * both are provided.
    */
  def update(t: TableDef): String = {
    val sets = t.columns.map(c => s"`$c` = ?").mkString(", ")
    val whereCols = if (t.hasPk) t.pkColumns else t.columns
    val where = whereCols.map(nullSafeEq).mkString(" AND ")
    s"UPDATE ${t.fqn} SET $sets WHERE $where LIMIT 1"
  }

  /** C11 — the reference escapes string literals into SQL text
    * (`builder.go:41-73`); prepared-statement placeholders make literal
    * escaping moot here — values never enter SQL text.
    */
  // (no escaping function by design)

  /** Null-safe equality for WHERE: `(c = ? OR (c IS NULL AND ? IS NULL))`
    * — the reference emits `IS NULL` variants per row value
    * (`builder.go:107-112`); the parameter-doubled form keeps one cached
    * statement shape per table instead of one per null-mask.
    */
  private def nullSafeEq(c: String): String =
    s"(`$c` = ? OR (`$c` IS NULL AND ? IS NULL))"

  /** Parameter layout for [[delete]]/[[update]] WHERE clauses: each
    * where-column binds twice (value, value) for the null-safe form.
    */
  def whereParamsPerRow(t: TableDef): Int =
    2 * (if (t.hasPk) t.pkColumns.size else t.columns.size)

  /** K1 — full-load DDL replay prefix (reference ApplyEventQueries
    * disables FK checks and replays schema DDL before batched replaces,
    * `driver/mysql/applier.go:844-984`).
    */
  def fullLoadPrologue(schema: String, createSchemaIfNotExists: Boolean): Seq[String] = {
    val base = Seq("SET FOREIGN_KEY_CHECKS = 0", "SET UNIQUE_CHECKS = 0")
    if (createSchemaIfNotExists) base :+ s"CREATE SCHEMA IF NOT EXISTS `$schema`" else base
  }

  /** K7 — GTID ledger DDL + insert (reference
    * `applier_gtid_executed.go:186-246`): one row per applied tx,
    * compacted into interval-set rows periodically.
    */
  def ledgerCreate(schema: String): String =
    s"""CREATE TABLE IF NOT EXISTS `$schema`.`gtid_executed` (
       |  job_id VARCHAR(64) NOT NULL,
       |  source_uuid CHAR(36) NOT NULL,
       |  gtid BIGINT NOT NULL,
       |  gtid_set LONGTEXT,
       |  KEY (job_id, source_uuid)
       |)""".stripMargin

  def ledgerInsert(schema: String): String =
    s"INSERT INTO `$schema`.`gtid_executed` (job_id, source_uuid, gtid, gtid_set) VALUES (?, ?, ?, ?)"
}
