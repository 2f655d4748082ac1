package graft.catalog

import java.nio.file.{Files, NoSuchFileException, Paths}

import graft.cdc.PathCodec
import graft.storage.Publish
import graft.types.{TableDefinition, TableDefJson}

/** Versioned schema registry (SURVEY §1.1(3)): tableVersion → definition,
  * rebuilt from storage on every start exactly like the reference rebuilds
  * `tableDefMap` each tick (`replicate/increment.go:43-47` — stateless
  * restart).
  *
  * Because our registry is seeded from the snapshot schema, the
  * reference's "at least one DML before DDL" quirk
  * (`replicate/increment.go:291`) does not apply (SURVEY §7.4(7)).
  */
final class SchemaRegistry private (defs: Map[Long, TableDefinition]) {

  def versions: Seq[Long] = defs.keys.toSeq.sorted
  def apply(version: Long): TableDefinition = defs(version)
  def get(version: Long): Option[TableDefinition] = defs.get(version)
  def latest: TableDefinition = defs(versions.last)

  /** Definition in effect for a given version: the greatest registered
    * version ≤ it (DDL events are totally ordered by commit-ts). */
  def effectiveAt(version: Long): TableDefinition = {
    val vs = versions.filter(_ <= version)
    require(vs.nonEmpty, s"no schema registered at or before version $version")
    defs(vs.last)
  }

  def register(d: TableDefinition): SchemaRegistry =
    new SchemaRegistry(defs + (d.tableVersion -> d))

  /** Pending DDL steps between two versions, oldest first (M5 ordering). */
  def ddlBetween(fromExclusive: Long, toInclusive: Long): Seq[TableDefinition] =
    versions.filter(v => v > fromExclusive && v <= toInclusive).map(defs)
}

object SchemaRegistry {

  def apply(seed: TableDefinition): SchemaRegistry =
    new SchemaRegistry(Map(seed.tableVersion -> seed))

  def fromDefinitions(ds: Seq[TableDefinition]): SchemaRegistry = {
    require(ds.nonEmpty, "registry needs at least one definition")
    new SchemaRegistry(ds.map(d => d.tableVersion -> d).toMap)
  }

  /** Walk `{incrementRoot}/{schema}/{table}` — the tree the stream
    * reads, not its sibling tables — for `{version}/schema.json` and
    * `meta/schema_{ver}_{crc}.json` files (local filesystem flavor of
    * S6's storage walk). The walk runs once per micro-batch while
    * publishers and retention write the same tree, so entries that
    * vanish mid-walk are skipped ([[Publish.walkFiles]]), not fatal.
    *
    * Every file is integrity-checked like `replicate/increment.go:123-135`:
    * the version in the path must equal the version in the content, and
    * for the meta layout the content's CRC32 must equal the filename's —
    * a truncated or hand-edited schema file fails loudly instead of
    * silently projecting rows with a wrong column set. */
  def loadFromDir(incrementRoot: String, schema: String, table: String): Option[SchemaRegistry] = {
    val found = Publish.walkFiles(Paths.get(incrementRoot, schema, table)).flatMap { case (p, _) =>
      PathCodec.parse(p.toString) match {
        case PathCodec.SchemaFile(s, t, pathVer, _, sumInName) if s == schema && t == table =>
          val text =
            try Some(Files.readString(p))
            catch { case _: NoSuchFileException => None } // deleted since the walk saw it
          text.map { json =>
            val d =
              try TableDefJson.parse(json)
              catch {
                case e: Exception =>
                  sys.error(s"corrupt schema file $p: unparseable (${e.getMessage})")
              }
            if (d.tableVersion != pathVer)
              sys.error(s"corrupt schema file $p: path version $pathVer != content version ${d.tableVersion}")
            sumInName.foreach { want =>
              if (d.checksum != want)
                sys.error(s"corrupt schema file $p: checksum ${d.checksum} != filename checksum $want")
            }
            d
          }
        case _ => None
      }
    }
    if (found.isEmpty) None else Some(fromDefinitions(found))
  }
}
