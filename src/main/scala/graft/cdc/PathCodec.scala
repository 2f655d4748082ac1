package graft.cdc

/** Codec for the TiCDC object-storage layout (SURVEY §1.1(5), documented in
  * the reference at `replicate/increment.go:142-155`):
  *
  *   increment/{schema}/{table}/{tableVersion}/[{partition}/]{yyyy-mm-dd}/CDC{NNNNNN}.csv
  *   increment/{schema}/{table}/{tableVersion}/schema.json
  *   snapshot/{db}.{table}.{NNNN}.csv
  *
  * `DmlPathKey` + file index identify a change file; schema files sort
  * before their DMLs via the fake partition -1 (`replicate/increment.go:155-167`).
  */
object PathCodec {

  /** `DmlPathKey` analog (`replicate/increment.go:33-36`). */
  final case class DmlPathKey(
      schema: String,
      table: String,
      tableVersion: Long,
      partitionNum: Long,
      date: String) {
    /** Deterministic work ordering (O1): version first so DDL applies
      * before that version's data; schema keys carry partition -1. */
    def sortKey: (Long, Long, String) = (tableVersion, partitionNum, date)
  }

  sealed trait CdcPath
  final case class DmlFile(key: DmlPathKey, fileIdx: Long, path: String) extends CdcPath
  /** `checksum` is the CRC32 embedded in the meta-layout filename
    * (`schema_{version}_{checksum}.json`) — verified against the parsed
    * content on load like `replicate/increment.go:123-135`. The plain
    * `{version}/schema.json` layout has no embedded checksum. */
  final case class SchemaFile(schema: String, table: String, tableVersion: Long, path: String,
      checksum: Option[Long] = None) extends CdcPath
  final case class OtherFile(path: String) extends CdcPath

  private val DmlRe =
    """.*?([^/]+)/([^/]+)/(\d+)/(?:(\d+)/)?(\d{4}-\d{2}-\d{2})/CDC(\d+)\.csv$""".r
  private val SchemaRe =
    """.*?([^/]+)/([^/]+)/(\d+)/schema\.json$""".r
  private val MetaSchemaRe =
    """.*?([^/]+)/([^/]+)/meta/schema_(\d+)_(\d+)\.json$""".r

  /** Classify one storage path (S6's walk, `replicate/increment.go:193-229`). */
  def parse(path: String): CdcPath = path match {
    case DmlRe(schema, table, ver, part, date, idx) =>
      DmlFile(
        DmlPathKey(schema, table, ver.toLong, Option(part).map(_.toLong).getOrElse(0L), date),
        idx.toLong, path)
    case SchemaRe(schema, table, ver) => SchemaFile(schema, table, ver.toLong, path)
    case MetaSchemaRe(schema, table, ver, sum) =>
      SchemaFile(schema, table, ver.toLong, path, Some(sum.toLong))
    case _ => OtherFile(path)
  }

  def dmlPath(root: String, key: DmlPathKey, fileIdx: Long, partitioned: Boolean = false): String = {
    val part = if (partitioned) s"${key.partitionNum}/" else ""
    f"$root/${key.schema}/${key.table}/${key.tableVersion}/$part${key.date}/CDC${fileIdx}%06d.csv"
  }

  def schemaPath(root: String, schema: String, table: String, version: Long): String =
    s"$root/$schema/$table/$version/schema.json"

  /** T1 `diffDMLMaps` (`replicate/increment.go:171-190`): per key, the
    * range of file indices not yet processed. */
  def diffIndexMaps(
      current: Map[DmlPathKey, Long],
      processed: Map[DmlPathKey, Long]): Map[DmlPathKey, (Long, Long)] =
    current.flatMap { case (k, maxIdx) =>
      processed.get(k) match {
        case None => Some(k -> (0L, maxIdx))
        case Some(done) if maxIdx > done => Some(k -> (done + 1, maxIdx))
        case _ => None
      }
    }

  /** O1 deterministic ordering over pending keys; schema events first
    * within a version via partitionNum = -1. */
  def sortKeys(keys: Seq[DmlPathKey]): Seq[DmlPathKey] = keys.sortBy(_.sortKey)
}
