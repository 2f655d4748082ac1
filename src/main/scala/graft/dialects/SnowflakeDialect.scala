package graft.dialects

import graft.types.{TableCol, TableDefinition}
import graft.catalog.SchemaEvolution.Action

/** Snowflake SQL generation (`pkg/snowsql/{types,ddl,sql}.go`).
  *
  * Distinctive traits: sized NUMBER/BINARY/VARCHAR types with
  * mediumblob/longblob rejected (BINARY caps at 8 MB,
  * `types.go:57-58`), MERGE straight off the external stage file with
  * positional `$n` columns and a QUALIFY latest-per-key filter
  * (`sql.go:115-177`), hex binary decode via `TO_BINARY($n, 'HEX')`.
  */
object SnowflakeDialect extends WarehouseDialect {

  val name = "snowflake"

  /** TiDB→Snowflake type map (`pkg/snowsql/types.go:12-48`). */
  private val typeMap: Map[String, String] = Map(
    "text" -> "TEXT", "tinytext" -> "TEXT", "mediumtext" -> "TEXT", "longtext" -> "TEXT",
    "blob" -> "BINARY", "tinyblob" -> "BINARY",
    "varchar" -> "VARCHAR", "char" -> "CHAR",
    "binary" -> "BINARY", "varbinary" -> "BINARY",
    "tinyint" -> "NUMBER", "smallint" -> "NUMBER", "int" -> "NUMBER",
    "mediumint" -> "NUMBER", "bigint" -> "NUMBER",
    "tinyint unsigned" -> "NUMBER", "smallint unsigned" -> "NUMBER",
    "int unsigned" -> "NUMBER", "mediumint unsigned" -> "NUMBER",
    "bigint unsigned" -> "NUMBER",
    "float" -> "FLOAT", "float unsigned" -> "FLOAT",
    "double" -> "FLOAT", "double unsigned" -> "FLOAT",
    "decimal" -> "NUMBER", "numeric" -> "NUMBER",
    "bool" -> "BOOLEAN", "boolean" -> "BOOLEAN",
    "date" -> "DATE", "datetime" -> "DATETIME",
    "timestamp" -> "TIMESTAMP", "time" -> "TIME")

  private def isBinary(c: TableCol): Boolean =
    typeMap.get(c.tp.toLowerCase).contains("BINARY")

  /** `pkg/snowsql/types.go:50-72` — which types carry a size suffix. */
  def typeString(c: TableCol): String = {
    val tp = c.tp.toLowerCase
    val t = typeMap.getOrElse(tp,
      if (tp == "mediumblob" || tp == "longblob")
        throw new IllegalArgumentException(
          "The maximum size of Snowflake's BINARY type is 8 MB, so can not support mediumblob and longblob.")
      else throw new IllegalArgumentException(s"Unsupported data type: ${c.tp}"))
    tp match {
      case "text" | "longtext" | "mediumtext" | "tinytext" => t
      case "tinyblob" | "blob" => s"$t(${c.precision})"
      case "varchar" | "char" | "binary" | "varbinary" => s"$t(${c.precision})"
      case "decimal" | "numeric" => s"$t(${c.precision}, ${c.scale})"
      case "datetime" | "timestamp" | "time" => s"$t(${c.precision})"
      case _ => t // ints, floats, bool, date
    }
  }

  /** `pkg/snowsql/ddl.go:103-120` GetSnowflakeColumnString. */
  def columnString(c: TableCol): String = {
    val sb = new StringBuilder(s"${c.name} ${typeString(c)}")
    if (c.nullable == "false") sb.append(" NOT NULL")
    c.default.foreach(v => sb.append(s" DEFAULT ${defaultString(v)}"))
    sb.toString
  }

  /** `pkg/snowsql/sql.go:78-113` GenCreateSchema. */
  def createTableSql(d: TableDefinition): String = {
    val rows = d.columns.map(columnString) ++
      (if (d.pkColumns.nonEmpty) Seq(s"PRIMARY KEY (${d.pkColumns.mkString(", ")})") else Nil)
    s"CREATE OR REPLACE TABLE ${d.table} (\n${joinIndent(rows)}\n)"
  }

  /** `pkg/snowsql/ddl.go:41-101` GenDDLViaColumnsDiff. */
  def alterSql(prevColumns: Seq[TableCol], curr: TableDefinition): Seq[String] =
    curr.tpe match {
      case Action.TruncateTable => Seq(s"TRUNCATE TABLE ${curr.table}")
      case Action.DropTable => Seq(s"DROP TABLE ${curr.table}")
      case Action.DropSchema => Seq(s"DROP SCHEMA ${curr.schema}")
      case Action.CreateTable | Action.CreateSchema =>
        throw new IllegalArgumentException("Received create table ddl, which should not happen")
      case Action.RenameTable | Action.RenameTables =>
        throw new IllegalArgumentException(
          "Received rename table ddl, new change data can not be captured by TiCDC any more. " +
            "If you want to rename table, please start a new task to capture the new table")
      case _ => alterFromDiff(curr.table, prevColumns, curr)
    }

  /** `pkg/snowsql/ddl.go:15-39` — one ALTER ... MODIFY with comma-joined
    * clauses; type changes re-render the sized type, default updates are
    * unsupported (only DROP DEFAULT), nullability toggles SET/DROP NOT
    * NULL. */
  protected def modifyColumnSql(tableRef: String, p: TableCol, c: TableCol): Seq[String] = {
    val clauses = Seq.newBuilder[String]
    if (p.tp != c.tp || p.precision != c.precision || p.scale != c.scale)
      clauses += s"COLUMN ${c.name} ${typeString(c)}"
    if (p.default != c.default && c.default.isEmpty)
      clauses += s"COLUMN ${c.name} DROP DEFAULT"
    if (p.nullable != c.nullable)
      clauses += (if (c.nullable == "true") s"COLUMN ${c.name} DROP NOT NULL"
                  else s"COLUMN ${c.name} SET NOT NULL")
    val joined = clauses.result().mkString(", ")
    if (joined.isEmpty) Nil else Seq(s"ALTER TABLE $tableRef MODIFY $joined;")
  }

  /** `pkg/snowsql/sql.go:115-177` GenMergeInto: positional projection
    * ($1 = flag, data from $5), hex decode for binary, QUALIFY
    * latest-per-key on $4 (commit-ts), three-way matched clauses. */
  def mergeSql(d: TableDefinition, staging: StagingRef): Seq[String] = {
    val selectStat = s"""$$1 AS "METADATA$$FLAG"""" +: d.columns.zipWithIndex.map {
      case (c, i) if isBinary(c) => s"TO_BINARY($$${i + 5}, 'HEX') AS ${c.name}"
      case (c, i) => s"$$${i + 5} AS ${c.name}"
    }
    val pk = pkOf(d)
    val onStat = pk.map(k => s"T.$k = S.$k").mkString(" AND ")
    val updateStat = d.columns.map(c => s"${c.name} = S.${c.name}").mkString(", ")
    val insertStat = d.columns.map(_.name).mkString(", ")
    val valuesStat = d.columns.map(c => s"S.${c.name}").mkString(", ")
    Seq(s"""MERGE INTO ${d.table} AS T USING
(
    SELECT
${joinIndent(selectStat)}
    FROM '@${staging.stageName}/${staging.filePath}'
    QUALIFY row_number() over (partition by ${pk.mkString(", ")} order by $$4 desc) = 1
) AS S
ON
(
    $onStat
)
WHEN MATCHED AND S.METADATA$$FLAG != 'D' THEN UPDATE SET $updateStat
WHEN MATCHED AND S.METADATA$$FLAG = 'D' THEN DELETE
WHEN NOT MATCHED AND S.METADATA$$FLAG != 'D' THEN INSERT ($insertStat) VALUES ($valuesStat);""")
  }

  /** `pkg/snowsql/sql.go:52-66` LoadSnapshotFromStage. */
  def copyIntoSql(targetTable: String, stageName: String, filePath: String): String =
    s"""COPY INTO $targetTable
FROM @$stageName/$filePath
FILE_FORMAT = (TYPE = 'CSV' EMPTY_FIELD_AS_NULL = FALSE NULL_IF=('\\\\N') FIELD_OPTIONALLY_ENCLOSED_BY='"' ESCAPE='\\\\' BINARY_FORMAT = 'UTF8');"""
}
