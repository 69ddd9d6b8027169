package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes to run a subset
    // (local iteration); the driver always runs the full set
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = Graft.driverSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.describe(e)}")
      }
    }
    def q(s: String): String = "\"" + Graft.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
