package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, ceil, col, count, lit, pmod, sum, xxhash64}
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal parquet-backed catalog: one directory per table under a warehouse
  * root, Hive-style partition subdirectories, and a per-table manifest log
  * that makes every write one atomic, versioned commit — the Delta log
  * reduced to the parts the pipeline uses (no Delta jar in this
  * environment, SURVEY §7.3).
  *
  * The reference stores Delta tables partitioned by `symbol` (facts) /
  * `layer` (DQ) — same layout here. Partitioning by symbol gives free
  * partition pruning for the per-symbol analyst queries; at 100 TB the
  * facts would move to (symbol-bucket, month) composite partitioning so a
  * single hot symbol cannot produce an oversized partition.
  *
  * Layout:
  * {{{
  *   <wh>/<table>/<k>=<v>/part-*.parquet   data files, never rewritten
  *   <wh>/<table>/_log/<N>                  version N: its schema, then one
  *                                          `<bytes>\t<path>` line per live
  *                                          file, relative to the table
  *   <wh>/<table>/_log/latest               a hint: some committed N
  *   <wh>/<table>/_stage_<uuid>/            a write in flight
  * }}}
  *
  * Commit ([[upsert]], [[overwrite]], [[compact]] and [[append]] alike):
  * Spark writes the new files into a private `_stage_<uuid>` outside any
  * lock. Then, under the table's JVM lock, the staged files (with their
  * `.crc` sidecars) are renamed into their partition directories, and
  * `_log/<base+1>` is created by a hard link from a fully written temp
  * file, which fails if the name exists. That create is the one commit
  * point and the claim: if another write landed since the base version
  * was read, it fails and the write raises `ConcurrentModificationException`
  * after removing its own files. After the claim the commit moves the
  * hint, deletes manifests older than [[retainVersions]] with the files
  * only they list, and deletes dead writers' leftovers: `_stage_`
  * directories no live write in this JVM owns, and files no retained
  * manifest lists in the directories it wrote.
  *
  * Crash argument: a writer that dies before the link leaves only files
  * no manifest lists, which no reader opens — the table is exactly at
  * version N — and the next commit into those directories deletes them.
  * A writer that dies after the link has committed N+1 whole; the cleanup
  * it skipped is redone by the next commit. Data files are immutable once
  * listed, and a version's files stay on disk while its manifest does, so
  * a reader pinned to a retained version replays the very same files.
  * Nothing is ever rolled back.
  *
  * Reads ([[read]], [[readAsOf]], [[version]], [[exists]]) read one
  * manifest (plus the hint), take no lock, change nothing on disk and list
  * no directory: the DataFrame is built from the manifest's file list
  * ([[org.apache.spark.sql.graft.ManifestFileIndex]]), so it starts no
  * listing job at any partition count. Commits within one JVM are
  * serialised per table directory, shared by every `Catalog` on the
  * warehouse; writers in other JVMs are caught by the claim, but their
  * cleanup is not coordinated with each other's writes.
  */
final class Catalog(spark: SparkSession, warehouseDir: String,
                    names: TableNames = TableNames(),
                    retainVersions: Int = 3) {
  import Catalog._

  def path(table: String): String = s"$warehouseDir/$table"

  private def logDir(table: String) = new File(path(table), "_log")

  def exists(table: String): Boolean = version(table) > 0

  def read(table: String): DataFrame = readAsOf(table, version(table))

  /** VERSIONED READS (the Delta `VERSION AS OF` analog): the table's first
    * write is version 1 and every commit adds one; 0 means no table. The
    * current version and the [[retainVersions]] before it are readable;
    * reading a pruned or future version fails loudly. */
  def version(table: String): Long = {
    val log = logDir(table)
    var v = readText(new File(log, Hint)).fold(0L)(_.trim.toLong)
    while (new File(log, (v + 1).toString).exists()) v += 1
    v
  }

  def readAsOf(table: String, k: Long): DataFrame = {
    val m = manifest(table, k).getOrElse {
      val cur = version(table)
      require(k >= 1 && k <= cur, s"table $table is at version $cur; version $k does not exist")
      throw new IllegalArgumentException(
        s"version $k of $table was pruned (retainVersions=$retainVersions)")
    }
    val declared = Schemas.of(table, names)
    val df = ManifestFileIndex.dataFrame(spark, path(table), m.files, declared.getOrElse(m.schema))
    // Spark appends partition columns after the data columns; re-project
    // a declared table to its DDL order so readers see one stable schema
    declared.fold(df)(s => df.select(s.fieldNames.map(col): _*))
  }

  private def manifest(table: String, k: Long): Option[Manifest] =
    readText(new File(logDir(table), k.toString)).map(Manifest.parse)

  /** Full deterministic rewrite (reference silver/gold mode). */
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    commit(table, version(table), df, partitionBy)(replaceAll)

  /** Append (reference DQ mode): the new files join the current ones. */
  def append(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    commit(table, version(table), df, partitionBy)((_, _) => true)

  /** MERGE-emulation upsert on `keys` (SURVEY §7.3): incoming rows win on
    * key collision (MERGE's UPDATE-all-columns), unmatched target rows are
    * kept, new keys insert.
    *
    * Scale shape: when the table is partitioned on a key column, only the
    * partitions the batch touches are read, merged and rewritten; a daily
    * batch touching 4 of 10k symbol partitions writes 4 partitions' files
    * and the new version keeps every other partition's files as they are.
    * The merge input is partition-pruned by an IN filter on the touched
    * partition values, so the anti-join's target side never scans cold
    * partitions. Otherwise the merge rewrites the whole table.
    */
  def upsert(incoming: DataFrame, table: String, keys: Seq[String],
             partitionBy: Seq[String]): Unit = {
    val base = version(table)
    if (base == 0) return commit(table, base, incoming, partitionBy)(replaceAll)
    val pcol = partitionBy.headOption.filter(keys.contains)
    val current = readAsOf(table, base)
    val target = pcol.fold(current) { p =>
      // touched partition values: small by construction (one per symbol
      // in the batch) — collected to drive partition pruning
      val touched = incoming.select(incoming(p)).distinct().collect().map(_.get(0))
      current.filter(col(p).isin(touched: _*))
    }
    val merged = incoming.unionByName(
      target.join(incoming.select(keys.map(incoming(_)): _*).distinct(), keys, "left_anti"))
    commit(table, base, merged, partitionBy)(if (pcol.isEmpty) replaceAll else replaceTouched)
  }

  /** OPTIMIZE-style compaction: rewrite the table into
    * `ceil(rows / targetRowsPerFile)` files per partition directory,
    * preserving every row. Streaming appends and per-batch upserts accrete
    * small files until scan planning is dominated by file metadata, not
    * bytes — the operational fix is a periodic rewrite, committed like the
    * upsert, so a compaction that dies mid-flight never loses the table
    * and the pre-compaction image stays readable by version.
    *
    * Scale shape: one sizing aggregate (per-partition row counts — one
    * output row per partition DIRECTORY, the same bounded collect as the
    * upsert's touched-partition list) and one shuffle for the rewrite.
    * Hashing on the partition columns alone would funnel each directory
    * into a single task (one oversized file, one straggler per hot
    * partition), so rows spread across each directory's file budget by a
    * hash spread key: directory layout comes from `partitionBy`, file
    * count within a directory from the spread. At 100 TB this runs
    * per-partition-predicate (compact last day's partitions), never
    * whole-table — the sizing pass then scans only what is rewritten
    * anyway. */
  def compact(table: String, partitionBy: Seq[String] = Nil,
              targetRowsPerFile: Long = 1000000L): Unit = {
    val base = version(table)
    val current = readAsOf(table, base)
    val dataCols = current.columns.filterNot(partitionBy.contains).map(col)
    val spreadMod = (cnt: Column) =>
      ceil(cnt.cast("double") / targetRowsPerFile).cast("long")
    val reshaped =
      if (partitionBy.nonEmpty) {
        val counts = current.groupBy(partitionBy.map(col): _*)
          .agg(count(lit(1)).as("__cnt"))
        val totalFiles = math.max(1, counts
          .agg(sum(spreadMod(col("__cnt"))))
          .collect()(0).getLong(0).toInt)
        current.join(broadcast(counts), partitionBy)
          .withColumn("__spread",
            pmod(xxhash64(dataCols: _*), spreadMod(col("__cnt"))))
          .repartition(totalFiles, (partitionBy.map(col) :+ col("__spread")): _*)
          .drop("__cnt", "__spread")
      } else {
        val rows = current.count()
        current.repartition(
          math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt))
      }
    commit(table, base, reshaped, partitionBy)(replaceAll)
  }

  // ---- the commit ----

  /** Test seam: invoked at each step of a commit — "staged" (files
    * written, lock not taken), "moved" (files in place, no manifest: the
    * worst window) and "claimed" (version N+1 committed, cleanup not run).
    * Tests inject a throw to simulate the JVM dying there. */
  private[graft] var crashHook: String => Unit = _ => ()

  /** Which files of the base version a commit keeps, given the top-level
    * entries (partition directories) of the staged files. */
  private type Keep = (String, Set[String]) => Boolean
  private val replaceAll: Keep = (_, _) => false
  private val replaceTouched: Keep = (f, staged) => !staged.contains(top(f))

  /** Commits `df` as version `base + 1`: its files plus the base's files
    * that `keep` retains. */
  private def commit(table: String, base: Long, df: DataFrame, partitionBy: Seq[String])
                    (keep: Keep): Unit = {
    val dir = new File(path(table)).getCanonicalFile
    val stage = new File(dir, s"_stage_${java.util.UUID.randomUUID()}")
    inFlight.add(stage.getPath)
    try {
      df.write.partitionBy(partitionBy: _*).parquet(stage.getPath)
      crashHook("staged")
      val staged = dataFiles(stage)
      Catalog.lock(dir).synchronized {
        val log = logDir(table)
        val next = base + 1
        if (new File(log, next.toString).exists()) conflict(table, base, stage)
        val kept = if (base == 0) Nil else {
          val tops = staged.map(f => top(f._1)).toSet
          manifest(table, base).get.files.filter(f => keep(f._1, tops))
        }
        staged.foreach(f => move(stage, dir, f._1))
        crashHook("moved")
        if (!claim(log, next, Manifest(df.schema, kept ++ staged))) {
          staged.foreach(f => deleteFile(dir, f._1))
          conflict(table, base, stage)
        }
        crashHook("claimed")
        writeAtomic(new File(log, Hint), next.toString)
        delete(stage)
        cleanUp(table, dir, next, staged.map(_._1))
      }
    } finally inFlight.remove(stage.getPath)
  }

  private def conflict(table: String, base: Long, stage: File): Nothing = {
    delete(stage)
    throw new java.util.ConcurrentModificationException(
      s"table $table moved past version $base while this write ran; retry from a fresh read")
  }

  /** Creates `_log/<v>` whole, or returns false if it exists. */
  private def claim(log: File, v: Long, m: Manifest): Boolean = {
    log.mkdirs()
    val tmp = new File(log, s".$v-${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp.toPath, m.text.getBytes(UTF_8))
    try { Files.createLink(new File(log, v.toString).toPath, tmp.toPath); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.delete(tmp.toPath)
  }

  /** Drops the manifests before the retained window with the files only
    * they list, then dead writers' leftovers: claim temp files, `_stage_`
    * directories no write in this JVM owns, and files in the directories
    * this commit wrote that no retained manifest lists. */
  private def cleanUp(table: String, dir: File, v: Long, written: Seq[String]): Unit = {
    val log = logDir(table)
    val oldest = v - retainVersions
    val listed = (oldest to v).flatMap(k => manifest(table, k)).flatMap(_.files.map(_._1)).toSet
    val entries = Option(log.list()).getOrElse(Array.empty[String]).toSeq
    val expired = entries.flatMap(_.toLongOption).filter(_ < oldest).sorted
    expired.foreach { k =>
      manifest(table, k).foreach(_.files.map(_._1).filterNot(listed).foreach(deleteFile(dir, _)))
      delete(new File(log, k.toString))
    }
    entries.filter(_.startsWith(".")).foreach(n => delete(new File(log, n)))
    dir.listFiles().filter(f => f.getName.startsWith("_stage_") && !inFlight.contains(f.getPath))
      .foreach(delete)
    written.map(f => f.take(f.lastIndexOf('/') + 1)).distinct.foreach { prefix =>
      Option(new File(dir, prefix).list()).getOrElse(Array.empty[String])
        .filterNot(_.startsWith("_"))
        .map(n => if (n.startsWith(".") && n.endsWith(".crc")) n.drop(1).dropRight(4) else n)
        .distinct.map(prefix + _)
        .filterNot(f => listed(f) || new File(dir, f).isDirectory)
        .foreach(deleteFile(dir, _))
    }
  }
}

object Catalog {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The JVM-wide lock of the table at `dir`, keyed by its canonical path. */
  private def lock(dir: File): AnyRef =
    locks.computeIfAbsent(dir.getCanonicalPath, _ => new Object)

  /** Stage directories of the writes running in this JVM. */
  private val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val Hint = "latest"

  private final case class Manifest(schema: StructType, files: Seq[(String, Long)]) {
    def text: String =
      (schema.json +: files.map { case (f, n) => s"$n\t$f" }).mkString("", "\n", "\n")
  }

  private object Manifest {
    def parse(text: String): Manifest = {
      val lines = text.linesIterator.toSeq
      Manifest(DataType.fromJson(lines.head).asInstanceOf[StructType],
        lines.tail.filter(_.nonEmpty).map { l =>
          val Array(n, f) = l.split("\t", 2)
          f -> n.toLong
        })
    }
  }

  /** The partition directory (or, unpartitioned, the file) a table-relative
    * path sits in. */
  private def top(f: String): String = f.takeWhile(_ != '/')

  private def readText(f: File): Option[String] =
    try Some(new String(Files.readAllBytes(f.toPath), UTF_8))
    catch { case _: NoSuchFileException => None }

  private def writeAtomic(f: File, text: String): Unit = {
    val tmp = new File(f.getParentFile, s".${f.getName}.tmp")
    Files.write(tmp.toPath, text.getBytes(UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The data files under `root` with their sizes, as `/`-separated paths
    * relative to it. Names starting with `_` or `.` (`_SUCCESS`, checksum
    * sidecars) are metadata Spark never reads. */
  private def dataFiles(root: File): Seq[(String, Long)] = {
    def walk(f: File, rel: String): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => walk(c, rel + c.getName + (if (c.isDirectory) "/" else "")))
      else Seq(rel -> f.length())
    walk(root, "").sorted
  }

  /** A table-relative data file and its hidden `.crc` sidecar. */
  private def withSidecar(f: String): Seq[String] = {
    val i = f.lastIndexOf('/') + 1
    Seq(f, s"${f.take(i)}.${f.drop(i)}.crc")
  }

  private def move(from: File, to: File, f: String): Unit =
    withSidecar(f).foreach { n =>
      val src = new File(from, n)
      val dst = new File(to, n)
      dst.getParentFile.mkdirs()
      if (src.exists() && !src.renameTo(dst))
        throw new java.io.IOException(s"cannot move $n from ${from.getName} to ${to.getName}")
    }

  /** Deletes a data file, its sidecar, and the partition directories it
    * leaves empty. */
  private def deleteFile(dir: File, f: String): Unit = {
    withSidecar(f).foreach(n => delete(new File(dir, n)))
    var d = new File(dir, f).getParentFile
    while (d != dir && d.delete()) d = d.getParentFile
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    if (f.exists() && !f.delete()) throw new java.io.IOException(s"cannot delete $f")
  }
}
