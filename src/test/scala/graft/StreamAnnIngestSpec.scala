package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.operators.Sim
import graft.streaming.IngestStream

/** Streaming semantic-dedup-at-ingest (round 13, VERDICT r12 item 7):
  * delta vectors arrive as a file stream in multiple micro-batches, each
  * assigned to the PERSISTED IVF centroids and verdict-matched against
  * the stored inverted lists. Pins: (1) stream ≡ batch parity — the
  * union of per-batch verdicts equals the oracled q_sim_ann_ingest
  * result row-for-row (sound because a verdict depends only on its own
  * vector + the stored corpus, never on other delta vectors);
  * (2) the multi-batch path is exercised; (3) replay over a drained
  * checkpoint processes nothing and leaves the sink byte-identical. */
class StreamAnnIngestSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("streamed per-batch verdicts equal the batch stored-index result") {
    val stage = java.nio.file.Files.createTempDirectory("graft-ann-stage")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-ckpt")
    val sink = java.nio.file.Files.createTempDirectory("graft-ann-sink")
    // Stage the delta slice as TWO files so AvailableNow +
    // maxFilesPerTrigger=1 yields at least two micro-batches.
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter("vec_id % 10 = 7 AND vec_id < 1000")
      .repartition(2)
      .write.mode("overwrite").parquet(stage.toString)
    val schema = Tables.embeddings(spark, sf0001).schema
    val nBatches = IngestStream.run(spark, schema, stage.toString,
      ckpt.toString, sink.toString)(
      Sim.annIngestVerdicts(spark, sf0001, _, col("c_id") % 10 =!= 7))
    assert(nBatches >= 2, s"expected a multi-batch run, got $nBatches")
    val streamed = rows(spark.read.parquet(sink.toString)
      .select("new_id", "match_id", "cos_sim", "dup"))
    val batch = rows(Sim.simAnnIngest(spark, sf0001)
      .select("new_id", "match_id", "cos_sim", "dup"))
    assert(batch.nonEmpty, "fixture must produce at least one verdict")
    assert(streamed === batch)
    // both verdict outcomes must be exercised or the dup flag is
    // untested — the fixture has near-identical and unrelated vectors
    val dups = batch.map(_.getLong(3)).toSet
    assert(dups === Set(0L, 1L),
      s"fixture should exercise both dup outcomes, saw $dups")
    // Replay: same checkpoint, nothing new staged.
    val sinkFiles = java.nio.file.Files.walk(sink).toArray.map(_.toString).sorted
    val again = IngestStream.run(spark, schema, stage.toString,
      ckpt.toString, sink.toString)(
      Sim.annIngestVerdicts(spark, sf0001, _, col("c_id") % 10 =!= 7))
    assert(again === 0L, "restart over a drained checkpoint must process 0 batches")
    val sinkAfter = java.nio.file.Files.walk(sink).toArray.map(_.toString).sorted
    assert(sinkAfter === sinkFiles, "replay must leave the sink untouched")
  }
}
