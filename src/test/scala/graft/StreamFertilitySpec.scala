package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries
import graft.streaming.{MicroBatch, StreamFertility}

// top-level: Spark can't encode a case class nested inside the suite
case class FertDoc(lang: String, text: String)

/** The continuously maintained fertility report: every component is an
  * exact long sum, so merged epoch partials must EQUAL the batch
  * `text_fertility` rows bit-for-bit, a redelivered epoch must change
  * nothing, and a restart on the same checkpoint must land only what
  * arrived since. */
class StreamFertilitySpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-fertility-spec")
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select("lang", "text").as[FertDoc].collect().toSeq

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def reportRows(dir: String) =
    rows(StreamFertility.report(spark, dir)
      .select("lang", "n_docs", "ws_tokens", "bpe_tokens",
        "fertility_e6", "chars_per_word_e6"))

  private lazy val batchRows =
    rows(TextQueries.textFertility(spark, sf)
      .select("lang", "n_docs", "ws_tokens", "bpe_tokens",
        "fertility_e6", "chars_per_word_e6"))

  /** The stream under test: each epoch's partials landed once. */
  private def startFertility(docs: org.apache.spark.sql.DataFrame, dir: String, cp: String) =
    MicroBatch.start(docs, cp) { (batch, id) =>
      MicroBatch.landEpoch(StreamFertility.partials(batch), dir, id)
    }

  test("merged epoch partials equal the batch fertility report bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("fert").toString
    val input = MemoryStream[FertDoc]
    val q = startFertility(input.toDF(), dir, Files.createTempDirectory("fert-cp").toString)
    try {
      input.addData(docs.take(docs.size / 3))
      q.processAllAvailable()
      input.addData(docs.drop(docs.size / 3))
      q.processAllAvailable()
    } finally q.stop()

    assert(reportRows(dir) == batchRows)
  }

  test("a redelivered epoch is skipped and changes nothing") {
    val dir = Files.createTempDirectory("fert2").toString
    val slice = docs.take(40).toDF()
    assert(MicroBatch.landEpoch(StreamFertility.partials(slice), dir, 0L))
    val before = StreamFertility.report(spark, dir).collect().toSeq
    assert(!MicroBatch.landEpoch(StreamFertility.partials(slice), dir, 0L),
      "redelivered epoch landed twice")
    assert(StreamFertility.report(spark, dir).collect().toSeq == before)
  }

  test("a restart on the same checkpoint lands only the new file; report ≡ batch over both") {
    // a fresh checkpoint would restart epoch ids at 0: the second run
    // would see epoch=0 already landed and drop file 2 — the required
    // checkpoint is what keeps the restarted stream's epochs new
    val root = Files.createTempDirectory("fert-restart")
    val (in, dir, cp) = (root.resolve("in"), root.resolve("out").toString,
      root.resolve("cp").toString)
    Files.createDirectories(in)
    def listed(d: Path): Seq[String] =
      Using.resource(Files.list(d))(_.iterator().asScala.map(_.getFileName.toString).toList)
    def addFile(name: String, part: Seq[FertDoc]): Unit = {
      val staged = root.resolve(s"stage-$name")
      part.toDF().coalesce(1).write.parquet(staged.toString)
      val file = listed(staged).find(_.endsWith(".parquet")).get
      Files.move(staged.resolve(file), in.resolve(s"$name.parquet"))
    }
    def runToEnd(): Unit = {
      val q = startFertility(
        spark.readStream.schema(docs.toDF().schema).parquet(in.toString), dir, cp)
      try q.processAllAvailable() finally q.stop()
    }
    addFile("f1", docs.take(docs.size / 3))
    runToEnd()
    addFile("f2", docs.drop(docs.size / 3))
    runToEnd()
    val epochs = listed(java.nio.file.Paths.get(dir)).filter(_.startsWith("epoch=")).toSet
    assert(epochs == Set("epoch=0", "epoch=1"), s"landed epochs: $epochs")
    assert(reportRows(dir) == batchRows)
  }
}
