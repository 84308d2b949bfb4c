package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, SegmentStore, Sim}

/** Both merge plans of [[SegmentStore]]'s multi-segment read: under the
  * delta byte gate (its default, which every test-sized state stays
  * within) each segment is anti-joined against a broadcast of the newer
  * segments' ids; with the gate forced to 0 the read takes the
  * groupBy/max(seg) shuffle merge. Pins, for each store, that the two
  * plans give identical rows over a multi-segment state and that the
  * rows are the latest-segment-wins view. */
class SegmentStoreSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def fixture(table: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-segstore-$table")
    spark.read.parquet(s"$sf0001/$table.parquet")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir.toString
  }

  /** The live view through both merge plans, asserted equal. */
  private def bothPlans(store: SegmentStore): Seq[Row] = {
    val antiJoin = store.read()
    val shuffle = store.read(deltaBcBytes = 0L)
    assert(antiJoin.queryExecution.analyzed.toString.contains("LeftAnti"),
      "under the byte gate the read must take the anti-join merge")
    assert(!shuffle.queryExecution.analyzed.toString.contains("LeftAnti") &&
      shuffle.queryExecution.analyzed.toString.contains("seg_l"),
      "with the gate at 0 the read must take the groupBy/max merge")
    val out = rows(antiJoin)
    assert(out === rows(shuffle), "the two merge plans must agree")
    out
  }

  private def liveSegs(store: SegmentStore): Int = {
    val root = new org.apache.hadoop.fs.Path(store.path)
    SegmentStore.live(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root).size
  }

  test("sig store: tombstone then resurrecting append read alike through both merge plans") {
    val d = fixture("documents")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val store = Dedup.sigStore(spark, d)
    val base = rows(store.read())
    assert(base.nonEmpty)
    val m = base.head.getAs[Long]("doc_id")
    Dedup.appendSigState(spark, d, docs.filter("1 = 0"), Seq(m))
    val tombed = bothPlans(store)
    assert(tombed === base.filterNot(_.getAs[Long]("doc_id") == m),
      "a tombstone must hide exactly the tombstoned doc's rows")
    Dedup.appendSigState(spark, d, docs.filter(s"doc_id = $m"))
    assert(liveSegs(store) === 3)
    assert(bothPlans(store) === base,
      "re-adding the tombstoned doc must restore the base view")
  }

  test("ann store: two appends, one overwriting base ids, read alike through both merge plans") {
    val d = fixture("embeddings")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val store = Sim.annStore(spark, d)
    val base = rows(store.read())
    assert(base.nonEmpty)
    // new ids: vectors 20..29 under ids + 1000000
    Sim.appendAnnState(spark, d, emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .withColumn("vec_id", col("vec_id") + 1000000L))
    // existing ids 0..4 take the embeddings of vectors 40..44
    Sim.appendAnnState(spark, d, emb.filter(col("vec_id") >= 40 && col("vec_id") < 45)
      .withColumn("vec_id", col("vec_id") - 40L))
    assert(liveSegs(store) === 3)
    val merged = bothPlans(store)
    assert(merged.size === base.size + 10)
    val byId = merged.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val baseById = base.map(r => r.getAs[Long]("vec_id") -> r).toMap
    (0L until 5L).foreach { id =>
      assert(byId(id).getAs[Any]("embedding") ===
        baseById(id + 40L).getAs[Any]("embedding"),
        s"vec $id must read the newest segment's embedding")
      assert(byId(id).getAs[Long]("list_id") === baseById(id + 40L).getAs[Long]("list_id"))
    }
    (20L until 30L).foreach { id =>
      assert(byId(id + 1000000L).getAs[Long]("list_id") === baseById(id).getAs[Long]("list_id"))
    }
  }
}
