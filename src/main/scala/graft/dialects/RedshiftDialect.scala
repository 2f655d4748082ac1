package graft.dialects

import graft.types.{TableCol, TableDefinition}
import graft.catalog.SchemaEvolution.Action

/** Redshift SQL generation (`pkg/redshiftsql/{types,ddl,sql}.go`).
  *
  * Distinctive traits: unsigned widening (`smallint unsigned`→INT,
  * `int unsigned`→BIGINT, `bigint unsigned`→DECIMAL(20,0),
  * `types.go:26-35`), VARBYTE capped at 100 KB so mediumblob/longblob
  * are rejected (`types.go:18-21`), no MERGE — the change batch lands in
  * a TEMP table and applies as DELETE USING + INSERT SELECT
  * (`sql.go:130-196`), nullable columns get an explicit DEFAULT NULL
  * (`ddl.go:95-97`), DROP SCHEMA needs CASCADE (`ddl.go:28-31`). */
object RedshiftDialect extends WarehouseDialect {

  val name = "redshift"

  /** TiDB→Redshift type map (`pkg/redshiftsql/types.go:12-48`). */
  private val typeMap: Map[String, String] = Map(
    "text" -> "TEXT", "tinytext" -> "TEXT", "mediumtext" -> "TEXT", "longtext" -> "TEXT",
    "blob" -> "VARBYTE", "tinyblob" -> "VARBYTE",
    "varchar" -> "VARCHAR", "char" -> "CHAR",
    "binary" -> "VARBYTE", "varbinary" -> "VARBYTE",
    "tinyint" -> "SMALLINT", "tinyint unsigned" -> "SMALLINT",
    "smallint" -> "SMALLINT", "smallint unsigned" -> "INT",
    "int" -> "INT", "int unsigned" -> "BIGINT",
    "mediumint" -> "INT", "mediumint unsigned" -> "BIGINT",
    "bigint" -> "BIGINT", "bigint unsigned" -> "DECIMAL(20,0)",
    "float" -> "REAL", "float unsigned" -> "REAL",
    "double" -> "DOUBLE PRECISION", "double unsigned" -> "DOUBLE PRECISION",
    "decimal" -> "DECIMAL", "numeric" -> "NUMERIC",
    "bool" -> "BOOLEAN", "boolean" -> "BOOLEAN",
    "date" -> "DATE", "datetime" -> "TIMESTAMP",
    "timestamp" -> "TIMESTAMP", "time" -> "TIME")

  /** `pkg/redshiftsql/types.go:52-74` — size suffixes on char/binary
    * families and decimals; datetime family is NOT sized (unlike
    * Snowflake). */
  def typeString(c: TableCol): String = {
    val tp = c.tp.toLowerCase
    val t = typeMap.getOrElse(tp,
      if (tp == "mediumblob" || tp == "longblob")
        throw new IllegalArgumentException(
          "The maximum size of Redshift's VARBYTE type is 100 KB, so can not support mediumblob and longblob.")
      else throw new IllegalArgumentException(s"Unsupported data type: ${c.tp}"))
    tp match {
      case "tinyblob" | "blob" => s"$t(${c.precision})"
      case "varchar" | "char" | "binary" | "varbinary" => s"$t(${c.precision})"
      case "decimal" | "numeric" => s"$t(${c.precision}, ${c.scale})"
      case _ => t
    }
  }

  /** `pkg/redshiftsql/ddl.go:80-100` GetRedshiftColumnString — the one
    * dialect that renders `DEFAULT NULL` explicitly on defaultless
    * nullable columns. */
  def columnString(c: TableCol): String = {
    val sb = new StringBuilder(s"${c.name} ${typeString(c)}")
    if (c.nullable == "false") sb.append(" NOT NULL")
    c.default match {
      case Some(v) => sb.append(s" DEFAULT ${defaultString(v)}")
      case None => if (c.nullable == "true") sb.append(" DEFAULT NULL")
    }
    sb.toString
  }

  /** `pkg/redshiftsql/sql.go:53-92` CreateTable — plain CREATE TABLE
    * (no OR REPLACE). */
  def createTableSql(d: TableDefinition): String = {
    val rows = d.columns.map(columnString) ++
      (if (d.pkColumns.nonEmpty) Seq(s"PRIMARY KEY (${d.pkColumns.mkString(", ")})") else Nil)
    s"CREATE TABLE ${d.table} (\n${joinIndent(rows)}\n)"
  }

  /** `pkg/redshiftsql/ddl.go:14-70` GenDDLViaColumnsDiff. */
  def alterSql(prevColumns: Seq[TableCol], curr: TableDefinition): Seq[String] =
    curr.tpe match {
      case Action.TruncateTable => Seq(s"TRUNCATE TABLE ${curr.table}")
      case Action.DropTable => Seq(s"DROP TABLE ${curr.table}")
      case Action.DropSchema => Seq(s"DROP SCHEMA ${curr.schema} CASCADE")
      case Action.CreateTable | Action.CreateSchema =>
        throw new IllegalArgumentException("Received create table ddl, which should not happen")
      case Action.RenameTable | Action.RenameTables =>
        throw new IllegalArgumentException(
          "Received rename table ddl, new change data can not be captured by TiCDC any more. " +
            "If you want to rename table, please start a new task to capture the new table")
      case _ => alterFromDiff(curr.table, prevColumns, curr)
    }

  /** Redshift cannot modify a column type in place (`ddl.go:54-56`). */
  protected def modifyColumnSql(tableRef: String, p: TableCol, c: TableCol): Seq[String] =
    throw new IllegalArgumentException(
      "Received modify column ddl, which is not supported by redshift yet")

  /** TEMP staging table with the 4 named metadata columns prepended
    * (`pkg/redshiftsql/sql.go:95-128` CreateIncrementalTable; FLAG /
    * TABLENAME / SCHEMANAME / COMMITTS per its inline DDL). */
  def createIncrementalTableSql(columns: Seq[TableCol], tableName: String): String = {
    val rows = columns.map(columnString)
    s"""CREATE TEMP TABLE IF NOT EXISTS $tableName (
    FLAG VARCHAR(10),
    TABLENAME VARCHAR(255),
    SCHEMANAME VARCHAR(255),
    COMMITTS BIGINT,
${joinIndent(rows)}
)"""
  }

  /** `pkg/redshiftsql/sql.go:130-196` DeleteQuery + InsertQuery: the
    * DELETE+INSERT rewrite of MERGE, latest-per-key via QUALIFY over
    * committs, tombstones excluded from the INSERT by `flag != 'D'`. */
  def mergeSql(d: TableDefinition, staging: StagingRef): Seq[String] = {
    val pk = pkOf(d)
    val pkStat = pk.mkString(", ")
    val onStat = pk.map(k => s"${d.table}.$k = S.$k").mkString(" AND ")
    val selectStat = d.columns.map(_.name).mkString(", ")
    val delete = s"""DELETE FROM ${d.table} USING (
    SELECT
    $pkStat
    FROM ${staging.stagingTable} WHERE tablename IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY $pkStat ORDER BY committs DESC) = 1
) AS S
WHERE
    $onStat;"""
    val insert = s"""INSERT INTO ${d.table}
SELECT
    $selectStat
FROM (
SELECT
    flag,
    $selectStat
    FROM ${staging.stagingTable} WHERE tablename IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY $pkStat ORDER BY committs DESC) = 1
) AS S
WHERE
    S.flag != 'D'"""
    Seq(delete, insert)
  }

  def dropTableIfExistsSql(tableName: String): String = s"DROP TABLE IF EXISTS $tableName"
}
