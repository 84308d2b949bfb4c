package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.ParentNotDirectoryException
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StringType

/** The OSM entry points read under a fixed schema: extracts whose data
  * would make an inferred schema drop or retype a column read the same
  * star, building a reader runs no Spark job, and processMap's concurrent
  * writes surface a failure and never outlive the call. */
class OsmSchemaSpec extends SparkSpec {

  private def fixture: String =
    getClass.getResource("/sample.osm").getPath

  /** Two untagged nodes, two ways with one tag each (one value is
    * "007"), no relation: inferred from the data, `tag` would be absent
    * on nodes, a bare struct on ways and `_v` a number. */
  private lazy val sparse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-osm-sparse")
    java.nio.file.Files.writeString(dir.resolve("sparse.osm"),
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osm version="0.6">
        |  <node id="1" lat="43.65" lon="-79.38" user="alice" uid="10" version="1" changeset="100" timestamp="2015-01-01T00:00:00Z"/>
        |  <node id="2" lat="43.66" lon="-79.39" user="bob" uid="11" version="1" changeset="101" timestamp="2015-01-02T00:00:00Z"/>
        |  <way id="100" user="carol" uid="12" version="1" changeset="102" timestamp="2015-01-03T00:00:00Z">
        |    <nd ref="1"/><nd ref="2"/>
        |    <tag k="highway" v="residential"/>
        |  </way>
        |  <way id="101" user="carol" uid="12" version="1" changeset="103" timestamp="2015-01-04T00:00:00Z">
        |    <nd ref="2"/>
        |    <tag k="ref" v="007"/>
        |  </way>
        |</osm>
        |""".stripMargin)
    dir.toString
  }

  /** Spark jobs started while `body` runs. A sentinel job in a marked
    * group runs after it: the listener bus is FIFO, so once the
    * sentinel's start is seen, every job `body` posted has been seen. */
  private def jobsDuring(body: => Unit): Int = {
    val sentinels = new AtomicInteger(0)
    val others = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            "graft-lazy-sentinel" == js.properties.getProperty("spark.jobGroup.id"))
          sentinels.incrementAndGet()
        else others.incrementAndGet()
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("graft-lazy-sentinel", "flush")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 30000
      while (sentinels.get() == 0 && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      assert(sentinels.get() == 1, "sentinel job start never observed")
      others.get()
    } finally sc.removeSparkListener(listener)
  }

  test("sparse extract: untagged nodes, single-tag ways and a numeric-looking value") {
    assert(sources.OsmXml.nodesTags(spark, sparse).count() == 0)
    val wt = sources.OsmXml.waysTags(spark, sparse)
    assert(wt.schema("value").dataType == StringType)
    assert(wt.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("key"), r.getAs[String]("value")))
      .toSeq == Seq((100L, "highway", "residential"), (101L, "ref", "007")))
    val out = java.nio.file.Files.createTempDirectory("graft-osm-sparse-out").toString
    sources.OsmPipeline.processMap(spark, sparse, out)
    assert(spark.read.parquet(s"$out/nodes").count() == 2)
    assert(spark.read.parquet(s"$out/nodes_tags").count() == 0)
    assert(spark.read.parquet(s"$out/ways_tags").count() == 2)
    assert(spark.read.parquet(s"$out/ways_nodes").count() == 3)
    assert(sources.OsmPipeline.tagCensus(spark, sparse) ==
      Map("node" -> 2L, "way" -> 2L, "relation" -> 0L))
  }

  test("timestamp renders in the session time zone, version as a string") {
    val n = sources.OsmXml.nodes(spark, sparse).orderBy("id").head()
    assert(n.getAs[String]("timestamp") == "2015-01-01 00:00:00")
    assert(n.getAs[String]("version") == "1")
  }

  test("building the OSM readers runs no Spark job") {
    val built = jobsDuring {
      sources.OsmXml.loadStar(spark, fixture).values.foreach(_.schema)
      Seq(sources.OsmXml.nodesTags _, sources.OsmXml.waysTags _,
        sources.OsmXml.relations _, sources.OsmXml.relationsMembers _)
        .foreach(reader => reader(spark, fixture).schema)
    }
    assert(built == 0, s"construction-time Spark jobs: $built")
    // the counter is live: running a reader is seen
    assert(jobsDuring(sources.OsmXml.nodes(spark, fixture).collect()) > 0)
  }

  test("processMap: a failed write surfaces its own error; no write outlives the call") {
    val sc = spark.sparkContext
    // every write fails: the output path sits under a regular file
    val blocker = java.nio.file.Files.createTempFile("graft-osm", ".blocker")
    intercept[ParentNotDirectoryException](
      sources.OsmPipeline.processMap(spark, fixture, s"$blocker/out"))
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    // only the two tag tables fail (a null key in the street mapping);
    // the other three writes still finish before the error is thrown
    val out = java.nio.file.Files.createTempDirectory("graft-osm-partial").toString
    val e = intercept[SparkThrowable](sources.OsmPipeline.processMap(
      spark, fixture, out, mapping = Map((null: String) -> "Street")))
    assert(e.getCondition == "NULL_MAP_KEY", e)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(spark.read.parquet(s"$out/nodes").count() == 3)
    assert(spark.read.parquet(s"$out/ways").count() == 1)
    assert(spark.read.parquet(s"$out/ways_nodes").count() == 3)
  }
}
