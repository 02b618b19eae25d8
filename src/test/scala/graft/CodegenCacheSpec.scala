package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import graft.pipeline.{PipelineConfig, PipelineRunner}

/** A repeated pass over the same plans reuses its generated classes.
  *
  * Spark keeps compiled classes in one JVM-wide LRU whose size is fixed on
  * the first compile. At Spark's default of 100 entries a pass that
  * generates more classes than that evicts each class before its repeat
  * needs it, so every pass recompiles everything; GraftSession sizes the
  * cache above the engine's working set. The counts are JVM-wide, which is
  * exact here because the forked test JVM runs one suite at a time.
  */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(body: => Unit): Long = {
    val c0 = compiles()
    body
    compiles() - c0
  }

  test("a repeated pass of 150 distinct projections compiles nothing") {
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(3).select(col("id") * lit(i.toLong) + lit(7L)).collect()
    }
    val first = compilesOf(pass())
    assert(first >= 150, s"each projection should compile at least once ($first)")
    val second = compilesOf(pass())
    assert(second == 0, s"second pass recompiled $second classes")
  }

  test("a pipeline re-run of the same batch compiles nothing") {
    val csvDir = tmpDir("graft-codegen-csv")
    val wh = tmpDir("graft-codegen-wh")
    // six symbols x 30 days: enough rows for the 20-day gold windows to
    // fill; FX files carry no Volume column
    val days = (0 until 30).map(d => java.time.LocalDate.of(2025, 11, 3).plusDays(d.toLong))
    def write(sym: String, fx: Boolean, base: Double): Unit = {
      val header = if (fx) "Date,Open,High,Low,Close" else "Date,Open,High,Low,Close,Volume"
      val rows = days.zipWithIndex.map { case (d, i) =>
        val c = base * (1.0 + 0.01 * ((i * 7) % 5 - 2))
        val ohlc = f"$d,${c * 0.99}%.4f,${c * 1.02}%.4f,${c * 0.98}%.4f,$c%.4f"
        if (fx) ohlc else s"$ohlc,${1000000 + i * 1000}"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(csvDir, s"$sym.csv"),
        (header +: rows).mkString("", "\n", "\n"))
    }
    Seq("SPY" -> 500.0, "QQQ" -> 400.0, "IWM" -> 200.0, "DIA" -> 380.0)
      .foreach { case (s, b) => write(s, fx = false, b) }
    Seq("EURUSD" -> 1.08, "USDJPY" -> 150.0)
      .foreach { case (s, b) => write(s, fx = true, b) }

    val cfg = PipelineConfig(rawInputDir = csvDir, source = "stooq")
    val now = Timestamp.valueOf("2025-12-15 00:00:00")
    val today = Date.valueOf("2025-12-15")
    def run(): PipelineRunner.RunResult =
      PipelineRunner.runConfigured(spark, wh, cfg, now, today)
    // loading into an empty warehouse takes the create path, which plans
    // differently from the MERGE every later run takes; load once, then
    // compare two runs of the daily warm path
    run()
    val first = run()
    val c0 = compiles()
    val second = run()
    val recompiled = compiles() - c0
    // the DQ table is a run log (each run appends its checks); the data
    // layers are MERGE-idempotent
    assert(second.copy(dqRows = 0) == first.copy(dqRows = 0),
      "the re-run of the same batch changed row counts")
    assert(recompiled == 0, s"pipeline re-run recompiled $recompiled classes")
  }
}
