package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage = "usage: Verify <sfDir> <outDir> [csv|all]"

  /** (sfDir, outDir, query names); the optional query-name filter is a
    * dev-loop convenience, the driver passes two arguments and runs all.
    * `Left` is the reason the call is malformed. Starts no Spark session. */
  def parse(args: Seq[String]): Either[String, (String, String, Seq[String])] = args match {
    case Seq(sfDir, outDir, csv @ _*) if csv.size <= 1 =>
      Bench.queryNames(csv.headOption).map((sfDir, outDir, _))
    case _ => Left(s"expected 2 or 3 arguments, got ${args.size}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = parse(args.toSeq).fold(
      err => { System.err.println(s"Verify: $err\n$Usage"); sys.exit(2) }, identity)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * (VerifyContractSpec pins this against a real JSON parser.) */
  def escapeJson(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle_sql.json payload the driver parses. */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${escapeJson(k)}: ${escapeJson(v)}" }
    .mkString("{", ",", "}")
}
