package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic security-event enrichment of the synthetic `events` table.
  *
  * The reference's AQL corpus (reference: qradar/input/queries.json:2-3)
  * filters on IPs, ports and category codes that the driver's synthetic
  * `events` table does not carry. To execute those operators *natively* and
  * still oracle-check them in DuckDB, we derive the security columns
  * deterministically from `event_id`/`user_id` with integer arithmetic that
  * is expressible identically in Spark and ANSI SQL. `sqlCte` below is the
  * DuckDB-side mirror of `securityEvents` — the two MUST stay in sync
  * (the driver's hash-compare enforces it every round).
  *
  * Column semantics (AQL analog in parens):
  *  - source_ip / destination_ip (sourceip/destinationip): mix of RFC1918,
  *    public, and loopback-adjacent addresses so CIDR predicates have
  *    non-trivial selectivity.
  *  - destination_port (destinationport), category/highlevelcategory,
  *  - domain_id (domainId, 0..24 -> `nation` dim = DOMAINNAME lookup),
  *  - qid (qid, 0..199 -> `part` dim = QIDNAME lookup),
  *  - device_type (devicetype, 0..4 -> `region` dim = LOGSOURCETYPENAME).
  */
object Enrich {

  private def s(c: Column): Column = c.cast("string")

  /** Spark-side derivation. Keep in lock-step with [[sqlCte]]: the same
    * derived columns in the same order, plus the packed-Long IP twins that
    * only Spark reads (EnrichSpec pins both the order and the one-Project
    * shape). Input columns are kept as they are, so the input must not
    * already carry a derived column name.
    */
  def securityEvents(events: DataFrame): DataFrame = {
    val e = col("event_id")
    val u = col("user_id")
    val srcIp =
      when(e % 4 === 0, concat(lit("10."), s(u % 256), lit("."), s((e / 7).cast("long") % 256), lit("."), s(e % 256)))
        .when(e % 4 === 1, concat(lit("172."), s(lit(16) + e % 16), lit("."), s(u % 256), lit("."), s((e / 3).cast("long") % 256)))
        .when(e % 4 === 2, concat(lit("192.168."), s(u % 256), lit("."), s(e % 256)))
        .otherwise(concat(lit("203.0."), s(u % 114), lit("."), s(e % 256)))
    val dstIp =
      when(e % 3 === 0, concat(lit("10.99."), s(u % 256), lit("."), s(e % 256)))
        .when(e % 3 === 1, concat(lit("8.8."), s(u % 256), lit("."), s(e % 256)))
        .otherwise(concat(lit("172."), s(lit(16) + u % 16), lit(".5."), s(e % 256)))
    // Packed-Long twins of the IP strings, derived with the same branch
    // arithmetic (octets are 0..255 by construction, so string-parse and
    // direct pack agree exactly). This is the pack-at-ingest scale design:
    // every CIDR predicate downstream is 2 ALU ops on the Long — no regex,
    // no dotted-quad parse, and the codegen'd predicate stays small (the
    // string-built form inlined the whole concat CASE into every CIDR test
    // after predicate pushdown, breaking Janino's 64KB method limit).
    val srcPacked =
      when(e % 4 === 0, lit(10L * 16777216L) + (u % 256) * 65536L +
        ((e / 7).cast("long") % 256) * 256L + e % 256)
        .when(e % 4 === 1, lit(172L * 16777216L) + (lit(16L) + e % 16) * 65536L +
          (u % 256) * 256L + (e / 3).cast("long") % 256)
        .when(e % 4 === 2, lit(192L * 16777216L + 168L * 65536L) +
          (u % 256) * 256L + e % 256)
        .otherwise(lit(203L * 16777216L) + (u % 114) * 256L + e % 256)
    val dstPacked =
      when(e % 3 === 0, lit(10L * 16777216L + 99L * 65536L) + (u % 256) * 256L + e % 256)
        .when(e % 3 === 1, lit(8L * 16777216L + 8L * 65536L) + (u % 256) * 256L + e % 256)
        .otherwise(lit(172L * 16777216L) + (lit(16L) + u % 16) * 65536L +
          lit(5L * 256L) + e % 256)
    // one Project over the input: a withColumn chain re-analyses the
    // growing plan once per column, and every dashboard query pays it
    events.select(
      col("*"),
      srcIp.as("source_ip"),
      dstIp.as("destination_ip"),
      srcPacked.as("source_ip_packed"),
      dstPacked.as("destination_ip_packed"),
      ((e * 131) % 1000).as("destination_port"),
      // (e/11) decorrelates category from the mod-4/mod-3 IP branches so
      // composite category+CIDR predicates keep non-trivial selectivity
      (lit(4000L) + (e / 11).cast("long") % 48).as("category"),
      (lit(3000L) + (u % 2) * 1000).as("highlevelcategory"),
      (u % 25).cast("int").as("domain_id"),
      (e % 200).as("qid"),
      (e % 5).cast("int").as("device_type"),
      // custom-property analogs used by the faithful AllowedInbound/
      // Outbound projections (reference: qradar/input/queries.json:2-3)
      ((e * 17) % 65536).as("source_port"),
      (lit(1L) + e % 5).as("event_count"),
      concat(lit("rule_"), s(e % 7)).as("rule_name"),
      concat(lit("geo_"), s(u % 30)).as("source_geo"),
      concat(lit("geo_"), s((u + 7) % 30)).as("dest_geo"),
      concat(lit("TA00"), s(e % 10)).as("mitre_tactic"),
      concat(lit("T1"), s(lit(100L) + e % 90)).as("mitre_technique"),
      when(e % 3 === 0, "permit").when(e % 3 === 1, "deny").otherwise("monitor").as("action"),
      concat(lit("policy_"), s(u % 12)).as("policy_name"),
      (e % 100).cast("int").as("log_source_id"))
  }

  /** DuckDB mirror of [[securityEvents]] as a CTE body. Oracle queries embed
    * it as `WITH e AS ($sqlCte) SELECT ...`.
    */
  val sqlCte: String =
    """SELECT event_id, ts, user_id, event_type, value,
      |  CASE CAST(event_id % 4 AS INT)
      |    WHEN 0 THEN '10.' || (user_id % 256) || '.' || ((event_id // 7) % 256) || '.' || (event_id % 256)
      |    WHEN 1 THEN '172.' || (16 + event_id % 16) || '.' || (user_id % 256) || '.' || ((event_id // 3) % 256)
      |    WHEN 2 THEN '192.168.' || (user_id % 256) || '.' || (event_id % 256)
      |    ELSE '203.0.' || (user_id % 114) || '.' || (event_id % 256)
      |  END AS source_ip,
      |  CASE CAST(event_id % 3 AS INT)
      |    WHEN 0 THEN '10.99.' || (user_id % 256) || '.' || (event_id % 256)
      |    WHEN 1 THEN '8.8.' || (user_id % 256) || '.' || (event_id % 256)
      |    ELSE '172.' || (16 + user_id % 16) || '.5.' || (event_id % 256)
      |  END AS destination_ip,
      |  (event_id * 131) % 1000 AS destination_port,
      |  4000 + (event_id // 11) % 48 AS category,
      |  3000 + (user_id % 2) * 1000 AS highlevelcategory,
      |  CAST(user_id % 25 AS INT) AS domain_id,
      |  event_id % 200 AS qid,
      |  CAST(event_id % 5 AS INT) AS device_type,
      |  (event_id * 17) % 65536 AS source_port,
      |  1 + event_id % 5 AS event_count,
      |  'rule_' || (event_id % 7) AS rule_name,
      |  'geo_' || (user_id % 30) AS source_geo,
      |  'geo_' || ((user_id + 7) % 30) AS dest_geo,
      |  'TA00' || (event_id % 10) AS mitre_tactic,
      |  'T1' || (100 + event_id % 90) AS mitre_technique,
      |  CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'permit' WHEN 1 THEN 'deny'
      |       ELSE 'monitor' END AS action,
      |  'policy_' || (user_id % 12) AS policy_name,
      |  CAST(event_id % 100 AS INT) AS log_source_id
      |FROM events""".stripMargin
}
