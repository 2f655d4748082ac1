package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.cdc.PathCodec
import graft.types.{TableCol, TableDefJson}

/** Self-test of the change generator, independent of the engine's merge:
  * files appear only complete, commit-ts rises across files, flags follow
  * key liveness, every table version has its `schema.json`, the same
  * seed writes the same bytes, and the generator's expected image equals
  * a plain replay of the lines it wrote. Returns the process exit code. */
object GenSelfTest {

  private val Tso = 1000000L
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def files(root: Path): Seq[Path] =
    Using.resource(Files.walk(root))(_.iterator().asScala.filter(Files.isRegularFile(_)).toList)
      .sortBy(_.toString)

  private def render(v: Any): String = v match {
    case null => "\\N"
    case t: java.time.LocalDateTime => t.toString.replace('T', ' ') + ":00"
    case x => x.toString
  }

  /** Fields of one generated line, quotes removed (the generator's values
    * hold no separators or quotes). */
  private def fields(line: String): Seq[String] = line.split(",", -1).toSeq.map(_.stripPrefix("\"").stripSuffix("\""))

  private def generate(dir: Path, seed: Long, key: KeyCodec,
      st: StructType, rows: Seq[Row], zipf: Boolean): (CdcGen, Seq[Tick]) = {
    val d = CdcGen.definition("tpch", "t", 1L, st, key.cols)
    val live = rows.map(key.encode).toArray
    val gen = new CdcGen(dir.toString, d, key, live, rows.map(_.getLong(0)).max, seed, zipf, Tso)
    gen.publishSchema()
    gen.history(6, 3, "2024-01-01", 60000L, 1700000000000L)
    val ticks = mutable.ArrayBuffer.empty[Tick]
    (0 until 6).foreach { i =>
      if (i == 3) gen.addColumn(TableCol("9", "note", "varchar", precision = "8", default = Some("n/a")))
      ticks += gen.tick(40, "2024-01-02", 0.3, 0.2)
    }
    (gen, ticks.toSeq)
  }

  private def suite(spark: SparkSession, root: Path, label: String, key: KeyCodec,
      st: StructType, rows: Seq[Row], zipf: Boolean): Unit = {
    val (gen, ticks) = generate(root.resolve(s"$label-a"), 7L, key, st, rows, zipf)
    generate(root.resolve(s"$label-b"), 7L, key, st, rows, zipf)
    generate(root.resolve(s"$label-c"), 8L, key, st, rows, zipf)
    def tree(p: Path) = files(p).map(f => p.relativize(f).toString -> Files.readString(f))
    val a = tree(root.resolve(s"$label-a"))
    check(s"$label: same seed, same files", a == tree(root.resolve(s"$label-b")))
    check(s"$label: other seed, other files", a != tree(root.resolve(s"$label-c")))
    check(s"$label: no temporary file left",
      files(root.resolve(s"$label-a.staging")).isEmpty && a.forall { case (n, _) => !n.endsWith(".tmp") })

    val all = files(root.resolve(s"$label-a"))
    val dml = all.flatMap(p => PathCodec.parse(p.toString) match {
      case f: PathCodec.DmlFile => Some(f)
      case _ => None
    }).sortBy(f => (f.key.tableVersion, f.key.date, f.fileIdx))
    val versions = dml.map(_.key.tableVersion).distinct
    check(s"$label: every table version has schema.json",
      versions.forall(v => Files.exists(Paths.get(PathCodec.schemaPath(root.resolve(s"$label-a").toString, "tpch", "t", v)))))
    check(s"$label: one DDL version published", versions.size == 2)
    val lines = dml.flatMap(f => Files.readAllLines(Paths.get(f.path)).asScala.filter(_.nonEmpty).map(fields))
    val ts = lines.map(_(3).toLong)
    check(s"$label: commit-ts strictly increasing", ts.zip(ts.drop(1)).forall { case (x, y) => y > x })
    check(s"$label: history at or below the snapshot TSO, ticks above",
      ts.count(_ <= Tso) == 18 && ticks.forall(_.maxTs > Tso))
    check(s"$label: schema.json round-trips the last definition",
      TableDefJson.parse(Files.readString(Paths.get(PathCodec.schemaPath(
        root.resolve(s"$label-a").toString, "tpch", "t", gen.current.tableVersion)))) == gen.current)

    // plain replay: last write wins per key, snapshot rows as the base
    val n = key.cols.size
    val base = rows.map(r => r.toSeq.map(render) :+ "n/a").map(r => r.take(n) -> r).toMap
    val live = mutable.Set.from(base.keys)
    val image = mutable.Map.from(base)
    var flagsOk = true
    lines.foreach { f =>
      val k = f.slice(4, 4 + n)
      val img = f.drop(4)
      val isLive = live.contains(k)
      f.head match {
        case "I" => flagsOk &&= !isLive; live += k
        case "U" => flagsOk &&= isLive
        case "D" => flagsOk &&= isLive; live -= k
        case _ => flagsOk = false
      }
      if (f(3).toLong > Tso) f.head match {
        case "D" => image.remove(k)
        case _ => image(k) = if (img.size == st.size) img :+ "n/a" else img
      }
    }
    check(s"$label: I only for absent keys, U/D only for live keys", flagsOk)
    val snap = spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
    val want = gen.expectedImage(spark, snap).collect().map(_.toSeq.map(render)).toSet
    check(s"$label: expected image equals a plain replay of the files (${want.size} rows)",
      want == image.values.toSet)
  }

  def run(dir: String): Int = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    check("tail: 11 samples give the smallest at percentile 100/11",
      Stats.tail((1 to 11).map(_.toDouble)) == Some((100.0 / 11, 1.0)))
    check("tail: 10 samples give none", Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    check("median of an even count averages the middle pair", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val spark = GraftSession.build(1, "perfbench-selftest")
    try {
      val day0 = java.time.LocalDate.of(1996, 1, 1)
      suite(spark, root, "single-key", LongKey("id"),
        StructType(Seq(StructField("id", LongType), StructField("name", StringType),
          StructField("price", DoubleType), StructField("day", TimestampNTZType))),
        (0 until 300).map(i => Row(i.toLong, s"n$i", i * 1.25, day0.plusDays(i).atStartOfDay())),
        zipf = true)
      suite(spark, root, "composite-key", LongIntKey("ok", "line"),
        StructType(Seq(StructField("ok", LongType), StructField("line", IntegerType),
          StructField("qty", DoubleType))),
        (0 until 300).map(i => Row((i / 3).toLong, i % 3 + 1, i.toDouble)),
        zipf = false)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all checks pass" else s"selftest: $failures checks FAIL")
    if (failures == 0) 0 else 1
  }
}
