package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, ceil, col, count, lit, pmod, sum, xxhash64}

/** Minimal parquet-backed catalog: one directory per table under a warehouse
  * root, Hive-style partition subdirectories.
  *
  * The reference stores Delta tables partitioned by `symbol` (facts) /
  * `layer` (DQ) — same layout here on plain parquet (no Delta jar in this
  * environment, SURVEY §7.3). Partitioning by symbol gives free partition
  * pruning for the per-symbol analyst queries; at 100 TB the facts would
  * move to (symbol-bucket, month) composite partitioning so a single hot
  * symbol cannot produce an oversized partition.
  *
  * Every write except [[append]] ([[upsert]], [[overwrite]], [[compact]])
  * is one atomic, versioned commit — the analog of a Delta commit: the new
  * image is written to `<table>.staging`, then [[commit]] swaps it in by
  * rename, archiving the outgoing entries as `<table>.pv<N>`, and [[heal]]
  * rolls back a commit that died half-way. [[append]] writes into the live
  * directory and does not version.
  *
  * Within one JVM, a table's [[commit]] and [[heal]], and the heal and
  * file listing of [[read]], [[exists]], [[version]] and [[readAsOf]],
  * hold one lock per table directory, shared by every `Catalog` on the
  * warehouse: a reader waits out a commit in flight instead of rolling it
  * back as a dead writer's. The Spark write of a staged image runs outside
  * it. Writers in other JVMs are not coordinated.
  */
final class Catalog(spark: SparkSession, warehouseDir: String,
                    names: TableNames = TableNames(),
                    retainVersions: Int = 3) {

  def path(table: String): String = s"$warehouseDir/$table"

  def exists(table: String): Boolean = locked(table) {
    heal(table)
    new java.io.File(path(table)).exists()
  }

  def read(table: String): DataFrame = locked(table) {
    heal(table)
    readDir(table, path(table))
  }

  private def locked[T](table: String)(body: => T): T =
    Catalog.lock(new java.io.File(path(table))).synchronized(body)

  private def readDir(table: String, dir: String): DataFrame =
    readDirs(table, dir, Seq(dir))

  private def readDirs(table: String, basePath: String, dirs: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", basePath)
    Schemas.of(table, names) match {
      case Some(schema) =>
        // Spark appends partition columns after the data columns even under
        // a user-specified schema; re-project to the declared DDL order so
        // readers see one stable schema regardless of physical layout.
        reader.schema(schema).parquet(dirs: _*)
          .select(schema.fieldNames.map(col): _*)
      case None => reader.parquet(dirs: _*)
    }
  }

  /** VERSIONED READS (the Delta `VERSION AS OF` analog): the table's first
    * write is version 1 and every [[commit]] adds one. [[version]] numbers
    * the LIVE image. Version k of every entry resolves to a location — the
    * live one if no commit after k touched it, else its pre-image in
    * `<table>.pv<j>` for the SMALLEST j ≥ k that archived it (the entry was
    * unchanged between k and j by construction); an entry first created
    * after k is absent. Archived files are immutable from the moment they
    * move, so a reader pinned to k is byte-stable across any number of
    * later commits (CatalogUpsertSpec proves file-level identity). One
    * parquet read per distinct root (live + each contributing archive,
    * each with its own basePath so partition columns recover), unioned by
    * name — at most retainVersions+1 scans of METADATA, and data files are
    * shared, never copied. Reading a pruned or future version fails
    * loudly. */
  def version(table: String): Long = locked(table) {
    heal(table)
    committedArchives(table).maxOption.getOrElse(0L) + 1L
  }

  def readAsOf(table: String, k: Long): DataFrame = locked(table) {
    val cur = version(table)
    if (k == cur) readDir(table, path(table))
    else {
      require(k >= 1 && k < cur,
        s"table $table is at version $cur; version $k does not exist yet")
      val have = committedArchives(table).toSet
      val needed = (k until cur)
      require(needed.forall(have.contains),
        s"version $k of $table was pruned (retainVersions=$retainVersions): " +
          s"archives ${needed.filterNot(have.contains).mkString(",")} are gone")
      // entry -> Some(root) (contributing image) | None (absent at k)
      var m: Map[String, Option[String]] =
        dataEntries(new java.io.File(path(table)))
          .map(d => d -> Option(path(table))).toMap
      needed.sorted(Ordering[Long].reverse).foreach { j =>
        val pv = archiveDir(table, j)
        val fresh = readLines(new java.io.File(pv, "_fresh")).toSet
        readLines(new java.io.File(pv, "_touched")).foreach { d =>
          if (new java.io.File(pv, d).exists()) m += d -> Some(pv.getPath)
          else if (fresh.contains(d)) m += d -> None
        }
      }
      // NOTE the .toSeq: collect on the Map would re-key by root and
      // silently keep ONE entry per root
      val byRoot = m.toSeq.collect { case (d, Some(root)) => (root, d) }
        .groupBy(_._1).map { case (root, ds) =>
          readDirs(table, root, ds.map(_._2).sorted.map(d => s"$root/$d"))
        }
      // a version with no entries (an empty overwrite) reads empty
      if (byRoot.isEmpty) readDir(table, path(table)).where(lit(false))
      else byRoot.reduce(_.unionByName(_))
    }
  }

  /** Full deterministic rewrite (reference silver/gold mode), committed
    * like any other write: atomic, versioned, crash-safe. */
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    commit(table, stage(df, table, partitionBy), replaceAll = true)

  /** Append (reference DQ mode). The one write into the live directory:
    * it does not version. */
  def append(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionBy: _*).parquet(path(table))

  /** MERGE-emulation upsert on `keys` (SURVEY §7.3): incoming rows win on
    * key collision (MERGE's UPDATE-all-columns), unmatched target rows are
    * kept, new keys insert.
    *
    * Scale shape: when the table is partitioned on a key column, only the
    * partitions the batch touches are read, merged, staged and committed;
    * a daily batch touching 4 of 10k symbol partitions rewrites 4
    * directories, not the table. The merge input is partition-pruned by an
    * IN filter on the touched partition values, so the anti-join's target
    * side never scans cold partitions. Otherwise the merge restages the
    * whole table. The staged plan reads the very files being replaced, so
    * it is materialized to staging first and then PROMOTED BY RENAME, never
    * rewritten.
    */
  def upsert(incoming: DataFrame, table: String, keys: Seq[String],
             partitionBy: Seq[String]): Unit = {
    if (!exists(table))
      return commit(table, stage(incoming, table, partitionBy), replaceAll = true)
    val pcol = partitionBy.headOption.filter(keys.contains)
    val target = pcol.fold(read(table)) { p =>
      // touched partition values: small by construction (one per symbol
      // in the batch) — collected to drive partition pruning
      val touched = incoming.select(incoming(p)).distinct().collect().map(_.get(0))
      read(table).filter(col(p).isin(touched: _*))
    }
    val merged = incoming.unionByName(
      target.join(incoming.select(keys.map(incoming(_)): _*).distinct(), keys, "left_anti"))
    commit(table, stage(merged, table, partitionBy), replaceAll = pcol.isEmpty)
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
    val current = read(table)
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
    commit(table, stage(reshaped, table, partitionBy), replaceAll = true)
  }

  // ---- the commit protocol ----
  //
  // The unit of commit is a top-level DATA ENTRY of the table directory: a
  // `k=v` partition directory, or a data file of an unpartitioned table (a
  // file's hidden `.crc` sidecar moves with it). A commit replaces either
  // the entries it staged (a partitioned upsert) or every live entry
  // (overwrite, compaction, an unpartitioned upsert). The outgoing image of
  // every replaced entry is renamed into the archive `<table>.pv<N>` and
  // the staged entries renamed into the live table. Unreplaced entries are
  // never moved or rewritten, so version N's archive holds exactly what
  // version N+1 changed — history with zero data copy, the reference's
  // Delta history on its tables (reference
  // notebooks/bronze/01_ingest_bronze.py:85-107) re-expressed as
  // directory generations. The first write to an absent table is staged
  // and renamed into place whole.
  //
  // Protocol (every step crash-safe; [[heal]] is the recovery):
  //   1. `_touched` (every entry the commit replaces or adds) and `_fresh`
  //      (the subset with no live pre-image) are written DURABLY into the
  //      new archive before anything moves — with them a dead writer's
  //      half-commit is mechanically reversible;
  //   2. every touched live entry renames into the archive (pre-images);
  //   3. every staged entry renames into the live table;
  //   4. `_committed` marker (atomic create) seals `pv<N>`: version N+1
  //      is live;
  //   5. archives beyond [[retainVersions]] prune.
  // A crash before 4 leaves no `_committed`: heal restores archived
  // pre-images, deletes uncommitted fresh entries, and drops the
  // half-archive — the table is bit-exactly at version N again. Because
  // step 2 fully precedes step 3, a touched entry absent from the
  // half-archive can only be the UNMOVED original (or a fresh one listed
  // in `_fresh`), so rollback never guesses.

  /** Test seam: invoked in the commit's worst window — every pre-image
    * archived, nothing promoted. Tests inject a throw to simulate the JVM
    * dying mid-commit. */
  private[pipeline] var crashHook: () => Unit = () => ()

  /** Writes `df` as the table's staged image (after rolling back any
    * half-commit, so the commit below numbers and archives against a
    * committed table). */
  private def stage(df: DataFrame, table: String, partitionBy: Seq[String]): java.io.File = {
    heal(table)
    val staging = new java.io.File(path(table) + ".staging")
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(staging.getPath)
    staging
  }

  /** Commits `staging`, which holds the fully-written new content of
    * every entry it lists: the first write renames it into place whole,
    * any later one runs steps 1-5 of the protocol above. */
  private def commit(table: String, staging: java.io.File,
                     replaceAll: Boolean): Unit = locked(table) {
    val live = new java.io.File(path(table))
    if (!live.exists()) {
      if (!staging.renameTo(live))
        throw new java.io.IOException(s"cannot create $table from staging")
    } else commitOver(table, live, staging, replaceAll)
  }

  private def commitOver(table: String, live: java.io.File, staging: java.io.File,
                         replaceAll: Boolean): Unit = {
    val staged = dataEntries(staging)
    val touched = if (replaceAll) (staged ++ dataEntries(live)).distinct.sorted else staged
    val n = committedArchives(table).maxOption.getOrElse(0L) + 1L
    val pv = archiveDir(table, n)
    if (!pv.mkdirs())
      throw new java.io.IOException(s"cannot create archive ${pv.getName}")
    writeLinesAtomic(new java.io.File(pv, "_touched"), touched)
    writeLinesAtomic(new java.io.File(pv, "_fresh"),
      touched.filterNot(d => new java.io.File(live, d).exists()))
    touched.foreach(d => if (new java.io.File(live, d).exists()) move(live, pv, d))
    crashHook() // a simulated crash leaves on-disk state exactly as a real one
    staged.foreach(move(staging, live, _))
    if (!new java.io.File(pv, "_committed").createNewFile())
      throw new java.io.IOException(s"cannot seal ${pv.getName}")
    delete(staging)
    committedArchives(table).sorted.dropRight(retainVersions)
      .foreach(v => delete(archiveDir(table, v)))
  }

  /** Roll back any UNCOMMITTED archive (a writer that died mid-[[commit]]):
    * restore archived pre-images, delete fresh entries the dead writer had
    * already promoted, drop the half-archive and its staging. Committed
    * archives are immutable and never touched. Runs on every
    * read/exists/version/write so an interrupted writer never needs manual
    * repair. */
  private def heal(table: String): Unit = locked(table) {
    archives(table).sorted(Ordering[Long].reverse).foreach { n =>
      val pv = archiveDir(table, n)
      if (!new java.io.File(pv, "_committed").exists()) {
        val live = new java.io.File(path(table))
        val touchedF = new java.io.File(pv, "_touched")
        if (touchedF.exists()) {
          val fresh = {
            val f = new java.io.File(pv, "_fresh")
            if (f.exists()) readLines(f).toSet else Set.empty[String]
          }
          readLines(touchedF).foreach { d =>
            if (new java.io.File(pv, d).exists()) {
              // pre-image archived: whatever sits live for d is the dead
              // writer's promotion (or nothing) — replace with the original
              deleteEntry(live, d)
              move(pv, live, d)
            } else if (fresh.contains(d)) {
              // no pre-image ever existed: drop the uncommitted entry
              deleteEntry(live, d)
            }
            // else: archive rename for d never ran, so (step order) no
            // promotion ran either — the live entry IS the original; keep it
          }
        }
        delete(pv)
        val staging = new java.io.File(path(table) + ".staging")
        if (staging.exists()) delete(staging)
      }
    }
  }

  private def archiveDir(table: String, n: Long) =
    new java.io.File(s"${path(table)}.pv$n")

  private def archives(table: String): Seq[Long] = {
    val prefix = s"$table.pv"
    Option(new java.io.File(warehouseDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .flatMap(f => f.getName.stripPrefix(prefix).toLongOption).toSeq
  }

  private def committedArchives(table: String): Seq[Long] =
    archives(table).filter(n => new java.io.File(archiveDir(table, n), "_committed").exists())

  /** The commit's units under `root`. Names starting with `_` or `.`
    * (`_SUCCESS`, checksum sidecars) are metadata Spark never reads. */
  private def dataEntries(root: java.io.File): Seq[String] =
    Option(root.list()).getOrElse(Array.empty)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq.sorted

  /** An entry with its hidden `.crc` sidecar, if it has one. */
  private def withSidecar(d: String): Seq[String] = Seq(d, s".$d.crc")

  private def move(from: java.io.File, to: java.io.File, d: String): Unit =
    withSidecar(d).foreach { n =>
      val src = new java.io.File(from, n)
      if (src.exists() && !src.renameTo(new java.io.File(to, n)))
        throw new java.io.IOException(s"cannot move $n from ${from.getName} to ${to.getName}")
    }

  private def deleteEntry(dir: java.io.File, d: String): Unit =
    withSidecar(d).foreach(n => delete(new java.io.File(dir, n)))

  private def readLines(f: java.io.File): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(f.toPath))
      .linesIterator.filter(_.nonEmpty).toSeq

  private def writeLinesAtomic(f: java.io.File, lines: Seq[String]): Unit = {
    val tmp = new java.io.File(f.getParentFile, f.getName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, lines.mkString("\n").getBytes)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    if (f.exists() && !f.delete()) throw new java.io.IOException(s"cannot delete $f")
  }
}

object Catalog {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The JVM-wide lock of the table at `dir`, keyed by its canonical path. */
  private def lock(dir: java.io.File): AnyRef =
    locks.computeIfAbsent(dir.getCanonicalPath, _ => new Object)
}
