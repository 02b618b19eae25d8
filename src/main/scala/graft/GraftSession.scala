package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the local[32] harness but every knob is the one that matters on
  * a real cluster too: AQE on (runtime re-plan, skew-join splitting),
  * shuffle partitions sized to cores (not the 200 default), UTC, a
  * generated-code cache large enough that a repeated pass over the same
  * plans reuses its compiled classes instead of recompiling them, and
  * `file://` served by [[graft.io.LocalFs]], which sets the permissions of
  * the files and directories a write creates without forking a `chmod`
  * for each (SCALE.md "Local file system: no process per file").
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is epoch-ns LONG engine-wide (Tables.tsAsEpochNanos).
      // Historically the file carried TIMESTAMP(NANOS), which Spark's
      // parquet reader rejects unless read as Long — keep the flag so
      // either physical layout (ns-long or µs-timestamp) loads.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.ui.enabled", "false")
      // Static conf: CodeGenerator$ sizes its JVM-wide LRU of compiled
      // classes once, from SQLConf.get, on the first compile. The default
      // (100) is below one warm pass, so every repeat evicted each class
      // before its reuse. Measured distinct classes per pass: perfbench
      // gates 201, daily_wide op ~193, pipeline run ~126, Q1-Q10 ~67.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
