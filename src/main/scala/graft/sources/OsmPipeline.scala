package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** The reference's three entry points end-to-end on Spark (SURVEY §3.1):
  * audit (develop cleaning rules) → process_map (ETL to the star) →
  * report (analytics over the star). Semantics per the Udacity template
  * [U]; /root/reference was empty, so the spec source is SURVEY.md §1/§3.
  */
object OsmPipeline {

  /** Street types considered already-clean (audit.py `expected` list). */
  val ExpectedStreetTypes: Seq[String] = Seq(
    "Street", "Avenue", "Road", "Boulevard", "Drive", "Court", "Place",
    "Lane", "Way", "Trail", "Parkway", "Commons", "North", "South",
    "East", "West")

  /** audit.py analog: unexpected trailing street-type tokens with example
    * values and counts — the human-review loop that seeds the correction
    * mapping. Distributed: one narrow pass + one small groupBy. */
  def auditStreetTypes(tags: DataFrame): DataFrame =
    tags.filter(col("type") === "addr" && col("key") === "street")
      .withColumn("street_type", regexp_extract(col("value"), "(\\S+)$", 1))
      .filter(!col("street_type").isin(ExpectedStreetTypes: _*))
      .groupBy(col("street_type"))
      .agg(count(lit(1)).as("cnt"),
        array_sort(collect_set(col("value"))).as("examples"))
      .orderBy(col("street_type").asc)

  /** process_map analog: XML → audited/cleaned 5-table star → columnar
    * files. `format` mirrors the reference's CSV export; parquet is the
    * engine-native sink. The five tables are written concurrently, one
    * thread each, so the cores one table's write leaves idle serve the
    * others. Every write has finished when this returns or throws; if any
    * failed, the first failure's own error (not its executor wrapper) is
    * rethrown. */
  def processMap(spark: SparkSession, xmlPath: String, outDir: String,
      format: String = "parquet",
      mapping: Map[String, String] = OsmXml.DefaultMapping): Map[String, DataFrame] = {
    val star = OsmXml.loadStar(spark, xmlPath)
    val cleaned = star ++ Seq(
      "nodes_tags" -> OsmXml.cleanTags(star("nodes_tags"), mapping),
      "ways_tags"  -> OsmXml.cleanTags(star("ways_tags"), mapping))
    val pool = Executors.newFixedThreadPool(cleaned.size)
    try {
      val writes = cleaned.toSeq.map { case (name, df) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            val w = df.write.mode("overwrite")
            format match {
              case "csv" => w.option("header", "true").csv(s"$outDir/$name")
              case _     => w.parquet(s"$outDir/$name")
            }
          }
        })
      }
      val failures = writes.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
    cleaned
  }

  /** Report flagship: top contributors across nodes AND ways (the
    * template's UNION of both element types). */
  def topContributors(star: Map[String, DataFrame], k: Int = 10): DataFrame =
    star("nodes").select(col("user"), col("uid"))
      .unionByName(star("ways").select(col("user"), col("uid")))
      .groupBy(col("user"), col("uid"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("uid").asc)
      .limit(k)

  /** mapparser.py analog: top-level element census — read each document
    * as one row, count the repeated children, and SUM across documents: a
    * directory of .osm files yields one row per file (rowTag=osm), so a
    * head() here silently censused only the first file (caught by the
    * multi-file golden in OsmLargeSpec). */
  def tagCensus(spark: SparkSession, xmlPath: String): Map[String, Long] = {
    val names = Seq("node", "way", "relation")
    // a child type the document lacks reads as a null array
    val row = OsmXml.read(spark, "osm", xmlPath)
      .select(names.map(n =>
        sum(when(col(n).isNull, 0L).otherwise(size(col(n)))).as(n)): _*)
      .head()
    names.map(n => n -> row.getAs[Long](n)).toMap
  }

  /** users.py analog: count of distinct contributors across both element
    * types. */
  def contributorCount(star: Map[String, DataFrame]): Long =
    star("nodes").select(col("uid"))
      .unionByName(star("ways").select(col("uid")))
      .distinct().count()

  /** Report: per-amenity counts from node tags (top-amenities shape). */
  def topAmenities(star: Map[String, DataFrame], k: Int = 10): DataFrame =
    star("nodes_tags").filter(col("key") === "amenity")
      .groupBy(col("value").as("amenity"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("amenity").asc)
      .limit(k)
}
