package graft
import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names filter the dump for
    // local spot-checks; the driver passes exactly two args (all queries)
    val sfDir = args(0)
    val outDir = args(1)
    val only: Set[String] = args.drop(2).toSet
    // the oracle validates results under the exact configuration the
    // bench times
    val spark = Harness.session()
    new File(outDir).mkdirs()
    Harness.eachQuery(spark, sfDir, only) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.foreach {
      case (name, Left(e)) => System.err.println(s"[verify] $name failed: ${e.getMessage}")
      case _ =>
    }
    writeOracleSql(new File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    spark.stop()
  }

  /** query name -> DuckDB SQL as one JSON object: quotes, backslashes and
    * control characters are escaped, so a strict JSON reader (Python's
    * json.load in the oracle compare) reads any SQL. */
  def writeOracleSql(file: File, sql: Map[String, String]): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(file, sql)
}
