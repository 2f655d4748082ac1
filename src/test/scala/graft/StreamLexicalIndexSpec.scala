package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RetrievalQueries
import graft.streaming.{MicroBatch, StreamLexicalIndex, StreamShardedExport}

/** Continuous lexical-index maintenance: serving from a live-streamed
  * index must be BIT-EQUAL to the oracle-gated batch BM25 query, land
  * exactly-once under redelivery, prune to the query terms' shards,
  * and stay correct across compaction. */
class StreamLexicalIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-lexindex-spec")
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  private def tmpDir() =
    Files.createTempDirectory("stream-lexindex").toFile.getAbsolutePath

  private def streamed(chunks: Int): String = {
    implicit val sqlCtx = spark.sqlContext
    val out = tmpDir()
    val cp = tmpDir()
    val rows = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "text"), cp) { (batch, id) =>
      StreamLexicalIndex.commitBatch(batch, out, id)
    }
    (0 until chunks).foreach { c =>
      input.addData(rows.filter(_._1 % chunks == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    out
  }

  test("serving from the streamed index ≡ the oracle-gated batch BM25 top-k") {
    val out = streamed(3)
    val served = StreamLexicalIndex.serve(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = RetrievalQueries.retrievalLexicalTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batch,
      s"stream-served $served\nvs batch $batch")
  }

  test("epoch redelivery lands nothing twice; empty batches commit marker-only") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val out = tmpDir()
    assert(StreamLexicalIndex.commitBatch(docs, out, 0L))
    assert(!StreamLexicalIndex.commitBatch(docs, out, 0L), "redelivery landed twice")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(StreamLexicalIndex.commitBatch(empty, out, 1L), "empty epoch must commit")
    // 2 docs → tf rows (alpha,1) (beta,1) (beta,2) (gamma,2) + 1 sentinel
    assert(StreamShardedExport.readAll(spark, out).count() == 5)
    assert(StreamLexicalIndex.compact(spark, out).isDefined, "compaction did not fold")
    assert(StreamShardedExport.readAll(spark, out).count() == 5,
      "compaction changed the committed row count")
  }

  test("serving reads only the needed shards and survives compaction") {
    val out = streamed(2)
    val before = StreamLexicalIndex.serve(spark, out).collect().toSeq
    // the serve plan prunes on the _shard partition column: the scan's
    // partition filters must mention _shard (directory-level pruning,
    // the layout_zorder_read argument applied to the index)
    val plan = StreamLexicalIndex.serve(spark, out)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_shard"),
      s"serve does not prune on the shard column:\n${plan.take(2000)}")
    StreamLexicalIndex.compact(spark, out)
    val after = StreamLexicalIndex.serve(spark, out).collect().toSeq
    assert(before == after, "compaction changed the served result")
  }
}
