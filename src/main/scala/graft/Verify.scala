package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws is listed in `failures.txt` (name, tab, message) and the run
  * exits 1, after writing everything else. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional: restrict to named queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failuresFile = Paths.get(s"$outDir/failures.txt")
    Files.deleteIfExists(failuresFile)
    val failures = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"$name\t${String.valueOf(e.getMessage).replace('\n', ' ')}")
        }
      // same deterministic block release as Bench: residual checkpoint
      // blocks from 363 sequential queries otherwise pool up until a GC
      // happens to trigger the ContextCleaner
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      failure
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonEscape(k)}: ${JsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      Files.writeString(failuresFile, failures.mkString("", "\n", "\n"))
      System.err.println(s"[verify] ${failures.size} failed; see $failuresFile")
      sys.exit(1)
    }
  }
}
