package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.{Date, Timestamp}

import graft.SparkTestBase
import graft.pipeline.{PipelineConfig, PipelineRunner}
import graft.tools.Spawns
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.{col, concat, format_string, lit}

/** The session's `file://` sets permissions in-process: a table write
  * starts no process, and leaves the same modes and `.crc` sidecars as
  * Hadoop's `chmod` path. */
class LocalFsSpec extends SparkTestBase {

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  private def tree(root: File): Seq[File] =
    root +: Option(root.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) tree(f) else Seq(f))

  /** One task writing 24 one-row `symbol` partitions. */
  private def writeSymbols(dir: String): Long =
    Spawns.count {
      spark.range(0, 24, 1, 1)
        .select(concat(lit("S"), format_string("%02d", col("id"))).as("symbol"),
          col("id").as("v"))
        .write.partitionBy("symbol").parquet(dir)
    }._2

  test("the session's file system for file:/// is graft.io.LocalFs") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[LocalFs])
  }

  test("a 24-partition write starts no process; files 0644, directories 0755, every parquet has its .crc") {
    val dir = new File(tmpDir("graft-localfs"), "t")
    assert(writeSymbols(dir.getPath) == 0L)
    val all = tree(dir)
    val parquet = all.filter(_.getName.endsWith(".parquet"))
    assert(parquet.size == 24)
    parquet.foreach(f => assert(new File(f.getParentFile, s".${f.getName}.crc").isFile, f))
    val partitions = all.filter(f => f.isDirectory && f.getName.startsWith("symbol="))
    assert(partitions.size == 24)
    all.filter(_.isFile).foreach(f => assert(mode(f) == "rw-r--r--", f))
    partitions.foreach(d => assert(mode(d) == "rwxr-xr-x", d))
  }

  test("modes follow fs.permissions.umask-mode like Hadoop's chmod") {
    val root = new Path(new File(tmpDir("graft-umask")).toURI)
    val default = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    default.create(new Path(root, "f")).close()
    default.mkdirs(new Path(root, "d"))
    assert(mode(new File(root.toUri.getPath, "f")) == "rw-r--r--")
    assert(mode(new File(root.toUri.getPath, "d")) == "rwxr-xr-x")

    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "077")
    val fs = FileSystem.newInstance(root.toUri, conf)
    try {
      assert(fs.getClass == classOf[LocalFs])
      fs.create(new Path(root, "g")).close()
      fs.mkdirs(new Path(root, "e/x"))
      assert(mode(new File(root.toUri.getPath, "g")) == "rw-------")
      assert(mode(new File(root.toUri.getPath, ".g.crc")) == "rw-------")
      assert(mode(new File(root.toUri.getPath, "e")) == "rwx------")
      assert(mode(new File(root.toUri.getPath, "e/x")) == "rwx------")
    } finally fs.close()
  }

  test("a pipeline append over a loaded 24-symbol warehouse starts no process") {
    val symbols = (1 to 24).map(i => f"S$i%02d")
    def csvs(days: Seq[Int]): String = {
      val dir = tmpDir("graft-localfs-csv")
      symbols.zipWithIndex.foreach { case (s, i) =>
        val rows = days.map { d =>
          val c = 100.0 + i + d
          f"2026-01-$d%02d,$c%.2f,${c + 1}%.2f,${c - 1}%.2f,$c%.2f,${1000 + d}"
        }
        Files.writeString(new File(dir, s"$s.csv").toPath,
          ("Date,Open,High,Low,Close,Volume" +: rows).mkString("", "\n", "\n"))
      }
      dir
    }
    val wh = tmpDir("graft-localfs-wh")
    val today = Date.valueOf("2026-01-09")
    def run(csvDir: String, now: String) = PipelineRunner.runConfigured(spark, wh,
      PipelineConfig(rawInputDir = csvDir), Timestamp.valueOf(now), today)
    run(csvs(1 to 5), "2026-01-06 00:00:00")
    val (r, spawns) = Spawns.count(run(csvs(Seq(6)), "2026-01-07 00:00:00"))
    assert(r.bronzeRows == 24 * 6 && r.silverRows == 24 * 6)
    assert(spawns == 0L)
    val parquet = tree(new File(wh)).filter(_.getName.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    parquet.foreach(f => assert(new File(f.getParentFile, s".${f.getName}.crc").isFile, f))
  }
}
