package graft.pipeline

import java.io.File

import org.apache.spark.sql.DataFrame

/** What a [[Catalog]] table holds on disk, read straight from its files:
  * the manifests in `_log`, the data files, and staged writes. Paths are
  * relative to the table directory, as the manifests record them. */
object CatalogLayout {

  private def tableDir(wh: String, t: String) = new File(wh, t)

  /** The versions whose manifests are on disk. */
  def versions(wh: String, t: String): Seq[Long] =
    Option(new File(tableDir(wh, t), "_log").list()).getOrElse(Array.empty[String])
      .toSeq.flatMap(_.toLongOption).sorted

  /** The files manifest `v` lists. */
  def listed(wh: String, t: String, v: Long): Set[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      new File(tableDir(wh, t), s"_log/$v").toPath))
    text.linesIterator.drop(1).filter(_.nonEmpty).map(_.split("\t", 2)(1)).toSet
  }

  /** Every data file under the table directory: no `_`/`.`-prefixed name
    * on the way, so neither the log, staged writes nor checksum sidecars. */
  def onDisk(wh: String, t: String): Set[String] = {
    def walk(f: File, rel: String): Seq[String] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
        .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(rel)
    Option(tableDir(wh, t).listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap(c => walk(c, c.getName)).toSet
  }

  /** Data files that no manifest on disk lists. */
  def unlisted(wh: String, t: String): Set[String] =
    onDisk(wh, t) -- versions(wh, t).flatMap(listed(wh, t, _))

  /** Staged writes left in the table directory. */
  def stages(wh: String, t: String): Seq[String] =
    Option(tableDir(wh, t).list()).getOrElse(Array.empty[String])
      .toSeq.filter(_.startsWith("_stage_"))

  /** The files a read scans, relative to the table directory. */
  def scanned(df: DataFrame, t: String): Set[String] = {
    val root = ("^.*/" + java.util.regex.Pattern.quote(t) + "/").r
    df.inputFiles.map(f => root.replaceFirstIn(new java.net.URI(f).getPath, "")).toSet
  }

  /** Size and modification time of each file, to show it was not rewritten. */
  def stamps(wh: String, t: String, files: Set[String]): Map[String, (Long, Long)] =
    files.map { f =>
      val file = new File(tableDir(wh, t), f)
      f -> ((file.length(), file.lastModified()))
    }.toMap
}
