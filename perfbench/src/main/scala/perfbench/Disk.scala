package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.colf.ColfVersions

/** What a table directory holds on disk, read from outside the program. */
object Disk {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    else Seq(f)

  /** Every byte under `dir`: data, manifests, delete files, dead files. */
  def bytes(dir: File): Long = walk(dir).map(_.length).sum

  /** Data files: `.colf` files outside the `_`-prefixed metadata dirs. */
  def dataFiles(dir: File): Seq[File] = {
    def rec(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith(".")).flatMap(rec)
      else if (f.getName.endsWith(".colf")) Seq(f) else Seq.empty
    rec(dir)
  }

  def deleteFiles(dir: File): Seq[File] = walk(new File(dir, "_graft_deletes"))

  def manifestBytes(dir: File): Long = bytes(new File(dir, ColfVersions.VersionsDir))

  private def root(dir: File) = {
    val p = new Path(dir.getAbsolutePath)
    (p.getFileSystem(new Configuration()), p)
  }

  def versions(dir: File): Int = { val (fs, p) = root(dir); ColfVersions.listVersions(fs, p).size }

  /** Absolute paths of the files the latest version references. */
  def liveFiles(dir: File): Set[String] = {
    val (fs, p) = root(dir)
    ColfVersions.latest(fs, p).map(_._2).getOrElse(Seq.empty)
      .map(e => new File(dir, e.relPath).getAbsolutePath).toSet
  }
}
