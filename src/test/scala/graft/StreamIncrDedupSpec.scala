package graft

import org.apache.spark.sql.Row

import graft.operators.Dedup
import graft.streaming.IngestStream

/** Streaming delta-ingest dedup (round 11): delta documents arrive as a
  * file stream in MULTIPLE micro-batches, each signed in-stream and
  * matched against the PERSISTED corpus signature artifact. Pins:
  * (1) stream ≡ batch parity — the union of per-batch verdicts equals
  * the batch q_dedup_incr_stored result row-for-row (sound because a
  * verdict depends only on its own doc + the corpus, never on other
  * delta docs); (2) the multi-batch path is actually exercised;
  * (3) re-running over the same checkpoint processes nothing new and
  * leaves the sink byte-identical — the replay/exactly-once contract. */
class StreamIncrDedupSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("streamed per-batch verdicts equal the batch stored-state result") {
    val stage = java.nio.file.Files.createTempDirectory("graft-sid-stage")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sid-ckpt")
    val sink = java.nio.file.Files.createTempDirectory("graft-sid-sink")
    // Stage the delta slice as TWO files so AvailableNow +
    // maxFilesPerTrigger=1 yields at least two micro-batches.
    spark.read.parquet(s"$sf0001/documents.parquet")
      .filter("doc_id % 10 = 7")
      .repartition(2)
      .write.mode("overwrite").parquet(stage.toString)
    val schema = Tables.documents(spark, sf0001).schema
    val nBatches =
      IngestStream.run(spark, schema, stage.toString, ckpt.toString,
        sink.toString)(Dedup.incrVerdictsFor(spark, sf0001, _))
    assert(nBatches >= 2, s"expected a multi-batch run, got $nBatches")
    val streamed = rows(spark.read.parquet(sink.toString)
      .drop("batch")
      .select("new_id", "match_id", "inter", "uni", "jac"))
    val batch = rows(Dedup.dedupIncrStored(spark, sf0001)
      .select("new_id", "match_id", "inter", "uni", "jac"))
    assert(batch.nonEmpty, "fixture must produce at least one verdict")
    assert(streamed === batch)
    // Replay: same checkpoint, nothing new staged — no batch runs and
    // the sink is untouched.
    val sinkFiles = java.nio.file.Files.walk(sink).toArray.map(_.toString).sorted
    val again =
      IngestStream.run(spark, schema, stage.toString, ckpt.toString,
        sink.toString)(Dedup.incrVerdictsFor(spark, sf0001, _))
    assert(again === 0L, "restart over a drained checkpoint must process 0 batches")
    val sinkAfter = java.nio.file.Files.walk(sink).toArray.map(_.toString).sorted
    assert(sinkAfter === sinkFiles, "replay must leave the sink untouched")
  }
}
