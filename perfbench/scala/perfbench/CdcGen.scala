package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.cdc.PathCodec
import graft.types.{TableCol, TableDefinition, TableDefJson, TidbTypeMapper}

/** Primary keys packed into one Long so half a million live keys fit in
  * flat arrays: a single BIGINT key is itself, and a (BIGINT, INT) key
  * keeps the INT in the low byte (`linenumber` < 256). */
sealed trait KeyCodec {
  def cols: Seq[String]
  def decode(k: Long): Seq[Any]
  def encode(r: Row): Long
  /** The `n`-th key never present in a snapshot whose largest lead key
    * is `maxLead`. */
  def fresh(maxLead: Long, n: Long): Long
}

final case class LongKey(name: String) extends KeyCodec {
  def cols: Seq[String] = Seq(name)
  def decode(k: Long): Seq[Any] = Seq(k)
  def encode(r: Row): Long = r.getLong(0)
  def fresh(maxLead: Long, n: Long): Long = maxLead + 1 + n
}

final case class LongIntKey(lead: String, minor: String) extends KeyCodec {
  def cols: Seq[String] = Seq(lead, minor)
  def decode(k: Long): Seq[Any] = Seq[Any](k >>> 8, (k & 0xff).toInt)
  def encode(r: Row): Long = {
    val m = r.getInt(1)
    require(m >= 0 && m < 256, s"$minor=$m does not fit the packed key")
    (r.getLong(0) << 8) | m
  }
  def fresh(maxLead: Long, n: Long): Long = ((maxLead + 1 + n / 4) << 8) | (n % 4 + 1)
}

/** One published CDC file. */
final case class Tick(path: Path, rows: Int, maxTs: Long, version: Long)

/** Seeded TiCDC-CSV change generator for one table.
  *
  * It writes the object-storage layout the engine consumes
  * (`{root}/{schema}/{table}/{version}/{date}/CDC{NNNNNN}.csv` plus one
  * `schema.json` per table version), each file written under a staging
  * directory beside the root and renamed into place, so a file appears
  * whole and nothing under the root ever disappears — as objects do in
  * the object stores TiCDC writes to. (A temporary file renamed away
  * inside the root can vanish under the engine's `Files.walk` of the
  * root, which then fails the trigger with `NoSuchFileException`.)
  * Commit timestamps increase by
  * one per row. Flags follow TiCDC: `I` for a key not live in the target,
  * `U`/`D` for a live one.
  *
  * Alongside the files it keeps the expected final image of every key it
  * touched — a plain map update per row, last write wins — so a run can
  * check the target without going through the merge code it measures. */
final class CdcGen(
    incrementRoot: String,
    snapshotDef: TableDefinition,
    key: KeyCodec,
    liveKeys: Array[Long],
    maxLead: Long,
    seed: Long,
    zipf: Boolean,
    val snapshotTso: Long) {

  private val rng = new SplittableRandom(seed)
  private val schema = snapshotDef.schema
  private val table = snapshotDef.table

  private var defn: TableDefinition = snapshotDef
  def current: TableDefinition = defn

  private var ts: Long = snapshotTso
  def lastTs: Long = ts
  private var fresh = 0L
  private val fileIdx = mutable.Map.empty[(Long, String), Long]

  // live keys in a seeded random order: position doubles as Zipf rank
  private val live: mutable.ArrayBuffer[Long] = {
    val a = liveKeys.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    mutable.ArrayBuffer.from(a)
  }
  private val pos = {
    val m = new mutable.LongMap[Int](live.size * 2)
    var i = 0
    while (i < live.size) { m.update(live(i), i); i += 1 }
    m
  }

  /** key -> final row image (in the definition of the time it was
    * written), or None once deleted */
  private val expected = new mutable.LongMap[Option[Array[Any]]]()

  private def addLive(k: Long): Unit = { pos.update(k, live.size); live += k }

  private def removeLive(k: Long): Unit = {
    val i = pos(k)
    val last = live.last
    live(i) = last
    pos.update(last, i)
    live.remove(live.size - 1)
    pos.remove(k)
  }

  private def pickLive(): Long =
    if (zipf) {
      // rank = floor(n^u) - 1 approximates Zipf(s = 1) over the n live
      // keys, near the Zipfian constant 0.99 of YCSB's skewed workloads
      // (Cooper et al., SoCC 2010)
      val n = live.size.toDouble
      live(math.min((math.exp(rng.nextDouble() * math.log(n)) - 1).toInt, live.size - 1))
    } else live(rng.nextInt(live.size))

  private val epoch = LocalDate.of(1995, 1, 1)

  private def value(c: TableCol): Any = TidbTypeMapper.toSpark(c) match {
    case LongType => rng.nextLong(1, 200000)
    case IntegerType => rng.nextInt(1, 50)
    case DoubleType => rng.nextInt(0, 10000000) / 100.0
    case StringType => Seq("A", "F", "N", "O", "P", "R", "1-URGENT", "2-HIGH", "3-MEDIUM")(rng.nextInt(9))
    case TimestampNTZType => epoch.plusDays(rng.nextInt(0, 2500)).atStartOfDay()
    case TimestampType =>
      java.sql.Timestamp.valueOf(epoch.plusDays(rng.nextInt(0, 2500)).atStartOfDay())
    case DateType => java.sql.Date.valueOf(epoch.plusDays(rng.nextInt(0, 2500)))
    case t => sys.error(s"generator has no values for $t (column ${c.name})")
  }

  private def image(k: Long): Array[Any] = {
    val kv = key.cols.zip(key.decode(k)).toMap
    defn.columns.map(c => kv.getOrElse(c.name, value(c))).toArray
  }

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case t: LocalDateTime => "\"" + t.toString.replace('T', ' ') + (if (t.getSecond == 0) ":00" else "") + "\""
    case t: java.sql.Timestamp => "\"" + t.toLocalDateTime.toString.replace('T', ' ') + ":00\""
    case d: java.sql.Date => "\"" + d.toString + "\""
    case x => x.toString
  }

  private def line(flag: String, commitTs: Long, img: Array[Any]): String =
    (Seq(cell(flag), cell(table), cell(schema), cell(commitTs.toString)) ++ img.map(cell))
      .mkString(",")

  /** Change lines for `n` rows with the given flag mix (shares of I and D;
    * the rest are U). */
  private def changes(n: Int, insertShare: Double, deleteShare: Double): Seq[String] = {
    val out = new mutable.ArrayBuffer[String](n)
    var i = 0
    while (i < n) {
      val u = rng.nextDouble()
      ts += 1
      if (u < insertShare || live.size < 2) {
        val k = key.fresh(maxLead, fresh); fresh += 1
        val img = image(k)
        addLive(k); expected.update(k, Some(img))
        out += line("I", ts, img)
      } else {
        val k = pickLive()
        val img = image(k)
        if (u < insertShare + deleteShare) {
          removeLive(k); expected.update(k, None)
          out += line("D", ts, img)
        } else {
          expected.update(k, Some(img))
          out += line("U", ts, img)
        }
      }
      i += 1
    }
    out.toSeq
  }

  private val staging = {
    val root = Paths.get(incrementRoot)
    Files.createDirectories(root.resolveSibling(root.getFileName.toString + ".staging"))
  }

  private def atomicWrite(dst: Path, text: String,
      mtime: Option[java.nio.file.attribute.FileTime] = None): Unit = {
    Files.createDirectories(dst.getParent)
    val tmp = staging.resolve(dst.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    mtime.foreach(Files.setLastModifiedTime(tmp, _))
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  private def nextPath(date: String): Path = {
    val slot = (defn.tableVersion, date)
    val idx = fileIdx.getOrElse(slot, 0L) + 1
    fileIdx.update(slot, idx)
    Paths.get(PathCodec.dmlPath(incrementRoot,
      PathCodec.DmlPathKey(schema, table, defn.tableVersion, 0L, date), idx))
  }

  /** Publish the current definition's `schema.json`. */
  def publishSchema(): Unit =
    atomicWrite(Paths.get(PathCodec.schemaPath(incrementRoot, schema, table, defn.tableVersion)),
      TableDefJson.write(defn))

  /** One CDC file of `n` change rows, published atomically. */
  def tick(n: Int, date: String, insertShare: Double, deleteShare: Double): Tick = {
    val p = nextPath(date)
    atomicWrite(p, changes(n, insertShare, deleteShare).mkString("", "\n", "\n"))
    Tick(p, n, ts, defn.tableVersion)
  }

  /** Retained history from before the snapshot: `files` flushes of `n`
    * updates each, with commit-ts at or below the snapshot TSO (so the
    * pipeline reads and filters them, and the expected image ignores
    * them) and `mtime`s one flush interval apart (the file source admits
    * files in modification-time order). */
  def history(files: Int, n: Int, date: String, flushMs: Long, startMs: Long): Unit = {
    val step = math.max(1L, (snapshotTso - snapshotDef.tableVersion) / (files.toLong * n + 1))
    var hts = snapshotDef.tableVersion
    (1 to files).foreach { f =>
      val lines = (1 to n).map { _ =>
        hts += step
        line("U", hts, image(pickLive()))
      }
      atomicWrite(nextPath(date), lines.mkString("", "\n", "\n"),
        Some(java.nio.file.attribute.FileTime.fromMillis(startMs + f * flushMs)))
    }
  }

  /** An `ALTER TABLE ADD COLUMN` with a default: a new table version
    * whose `schema.json` is published before any of its data files. */
  def addColumn(c: TableCol): Unit = {
    ts += 1
    defn = defn.copy(tableVersion = ts, tpe = 5,
      query = s"ALTER TABLE $table ADD COLUMN ${c.name} ${c.tp}" +
        c.default.fold("")(d => s" DEFAULT '$d'"),
      columns = defn.columns :+ c)
    publishSchema()
  }

  /** The table the target must equal: the snapshot minus every touched
    * key, plus the final image of each touched key still live. Images
    * written before an ADD COLUMN take that column's default. */
  def expectedImage(spark: SparkSession, snapshot: DataFrame): DataFrame = {
    val target = TidbTypeMapper.toStructType(defn.columns)
    val evolved = defn.columns.drop(snapshotDef.columns.size).foldLeft(snapshot) { (df, c) =>
      df.withColumn(c.name, c.default.fold(lit(null))(lit(_)).cast(TidbTypeMapper.toSpark(c)))
    }
    val pad = defn.columns.drop(snapshotDef.columns.size).map(_.default.orNull)
    val rows = expected.valuesIterator.flatten.map { img =>
      Row.fromSeq(img.toSeq ++ pad.drop(img.length - snapshotDef.columns.size))
    }.toSeq
    val touched = expected.keysIterator.map(k => Row.fromSeq(key.decode(k))).toSeq
    val keySchema = StructType(key.cols.map(target(_)))
    val keep = evolved.join(spark.createDataFrame(java.util.Arrays.asList(touched: _*), keySchema),
      key.cols, "left_anti")
    keep.select(defn.columns.map(c => col(c.name)): _*)
      .unionByName(spark.createDataFrame(java.util.Arrays.asList(rows: _*), target))
  }
}

object CdcGen {

  /** TiDB column types for a parquet schema (the subset the fixtures use). */
  def tidbType(t: DataType): String = t match {
    case LongType => "bigint"
    case IntegerType => "int"
    case DoubleType => "double"
    case StringType => "varchar"
    case TimestampNTZType => "datetime"
    case TimestampType => "timestamp"
    case DateType => "date"
    case other => sys.error(s"no TiDB type for $other")
  }

  def definition(schema: String, table: String, version: Long, st: StructType,
      pk: Seq[String]): TableDefinition =
    TableDefinition(schema, table, version, columns = st.fields.toSeq.zipWithIndex.map {
      case (f, i) =>
        TableCol((i + 1).toString, f.name, tidbType(f.dataType),
          precision = if (f.dataType == StringType) "64" else "",
          nullable = if (pk.contains(f.name)) "false" else "true",
          isPk = pk.contains(f.name).toString)
    })

  /** Small unrelated tables under the same increment root, as a
    * multi-table `cloud` changefeed leaves them: each gets a
    * `schema.json` and `files` one-line CDC files. */
  def siblings(incrementRoot: String, schema: String, n: Int, files: Int, date: String): Int = {
    var written = 0
    (0 until n).foreach { s =>
      val t = s"sibling_$s"
      val d = TableDefinition(schema, t, 1L, columns = Seq(
        TableCol("1", "id", "bigint", nullable = "false", isPk = "true"),
        TableCol("2", "note", "varchar", precision = "16")))
      val sp = Paths.get(PathCodec.schemaPath(incrementRoot, schema, t, 1L))
      Files.createDirectories(sp.getParent)
      Files.writeString(sp, TableDefJson.write(d))
      (1 to files).foreach { i =>
        val p = Paths.get(PathCodec.dmlPath(incrementRoot,
          PathCodec.DmlPathKey(schema, t, 1L, 0L, date), i.toLong))
        if (i == 1) Files.createDirectories(p.getParent)
        Files.writeString(p, s""""I","$t","$schema","${1L + i}",$i,"n$i"""" + "\n")
        written += 1
      }
    }
    written
  }
}
