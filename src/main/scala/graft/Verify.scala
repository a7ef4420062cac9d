package graft
import org.apache.spark.sql.SparkSession
import graft.ops.CacheRegistry
import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and
  * failures.json (query name → error message; `{}` when every query ran). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b dumps just those
    // queries; unset (the driver's invocation) dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = new java.util.TreeMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures.put(name, Option(e.getMessage).getOrElse(e.toString))
      }
      CacheRegistry.drain()
      spark.catalog.clearCache()
      System.gc()
    }
    // Jackson escapes every control character: a tab or CR in the SQL must
    // not make the compare's json.load fail and silently zero correctness
    val mapper = new ObjectMapper()
    mapper.writeValue(new File(s"$outDir/oracle_sql.json"),
      new java.util.TreeMap[String, String](SparkEntry.oracleSql.asJava))
    mapper.writeValue(new File(s"$outDir/failures.json"), failures)
    spark.stop()
  }
}
