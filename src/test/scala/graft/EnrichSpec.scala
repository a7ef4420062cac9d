package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import graft.queries.Enrich
import graft.sources.Tables

/** Shape of the security-event enrichment: one Project over the events
  * relation, whose derived columns are exactly `Enrich.sqlCte`'s select
  * list in order (the DuckDB mirror the oracle hashes against), plus the
  * two Spark-only packed-Long IP twins.
  */
class EnrichSpec extends SparkSpec {

  /** A parquet `events` table with the fixture's columns: the enrichment
    * must sit on a file relation, as it does in the engine. */
  private lazy val sf: String = {
    val dir = java.nio.file.Files.createTempDirectory("enrich_events").toString
    spark.range(40).selectExpr("id AS event_id",
        "timestamp_micros(1704067200000000 + id * 60000000) AS ts", "id % 7 AS user_id",
        "concat('t', cast(id % 3 AS string)) AS event_type", "cast(id AS double) / 4 AS value",
        "'{}' AS props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }
  private val packedTwins = Seq("source_ip_packed", "destination_ip_packed")

  /** Output names of `Enrich.sqlCte`'s select list, in order. */
  private def sqlCteColumns: Seq[String] = {
    val select = Enrich.sqlCte.linesIterator.toSeq
    val base = select.head.stripPrefix("SELECT").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val aliased = select.tail.flatMap(l => """\bAS\s+(\w+)\s*,?\s*$""".r.findFirstMatchIn(l).map(_.group(1)))
    base ++ aliased
  }

  test("securityEvents adds exactly one Project over its input") {
    val in = Tables.events(spark, sf)
    val out = Enrich.securityEvents(in)
    out.queryExecution.analyzed match {
      case Project(list, child) =>
        assert(child === in.queryExecution.analyzed, "the Project must sit on the input plan")
        val (kept, derived) = list.splitAt(in.columns.length)
        assert(kept.forall(_.isInstanceOf[Attribute]))
        assert(kept.map(_.name) === in.columns.toSeq)
        assert(derived.forall(_.isInstanceOf[Alias]))
        assert(derived.length === 20)
      case other => fail(s"expected one Project over the input, got:\n$other")
    }
  }

  test("securityEvents' column list is sqlCte's select list, in order") {
    val out = Enrich.securityEvents(Tables.events(spark, sf)).columns.toSeq
    val cte = sqlCteColumns
    assert(cte.length === 23, cte)
    // the DuckDB mirror selects the base columns it needs, then the derived
    // columns in the Spark order, without the packed twins
    assert(out.filter(cte.contains) === cte)
    assert(out.filterNot(c => cte.contains(c) || packedTwins.contains(c)) === Seq("props"))
    assert(out.indexOf("source_ip_packed") === out.indexOf("destination_ip") + 1)
    assert(out.indexOf("destination_ip_packed") === out.indexOf("source_ip_packed") + 1)
  }
}
