package perfbench

import graft.{SparkEntry, operators => op}

/** Prints every declared query as `module<TAB>name<TAB>oracled`, in the
  * module order of `SparkEntry`. The query lists in `perfbench/queries/`
  * are derived from this listing; see the README. */
object ListQueries {
  def main(args: Array[String]): Unit = {
    val modules = Seq(
      "Relational" -> op.Relational.queries, "Joins" -> op.Joins.queries,
      "Aggs" -> op.Aggs.queries, "Windows" -> op.Windows.queries,
      "Scalars" -> op.Scalars.queries, "Text" -> op.Text.queries,
      "Events" -> op.Events.queries, "Geo" -> op.Geo.queries,
      "Sim" -> op.Sim.queries, "Dedup" -> op.Dedup.queries,
      "Skew" -> op.Skew.queries, "Sketch" -> op.Sketch.queries,
      "Link" -> op.Link.queries, "Graph" -> op.Graph.queries,
      "SqlReport" -> op.SqlReport.queries, "Analytics" -> op.Analytics.queries,
      "TpchFull" -> op.TpchFull.queries, "Learn" -> op.Learn.queries,
      "Nulls" -> op.Nulls.queries, "Multimodal" -> graft.multimodal.Multimodal.queries)
    val oracle = SparkEntry.oracleSql
    for ((m, qs) <- modules; q <- qs.keys.toSeq.sorted)
      println(s"$m\t$q\t${oracle.contains(q)}")
  }
}
