package graft.sources

import java.io.File

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The format-free file mechanics shared by the table writers, the
  * stream sinks and the query fixture authors: recursive delete, a
  * checked rename, single-file staging, a whole-file text read, the
  * root-contained orphan delete of the maintenance writers, and the
  * JSON / URI spellings of log entries. Nothing here knows a table
  * format, so a fixture author that uses it stays independent of the
  * library's Iceberg, Paimon, Delta and Hudi writers.
  *
  * Staging comes in two variants that keep each caller's filesystem:
  * the `java.io.File` one for local fixture and sink directories, and
  * the Hadoop `FileSystem` one for table roots that may be qualified
  * URIs. Neither carries a `.crc` sidecar into the table: the Hadoop
  * variant renames through the raw filesystem under a
  * `ChecksumFileSystem` (a sidecar goes stale once [[AtomicFiles]]
  * replaces its file through nio), and both leave the sidecar in the
  * temp directory they delete. */
object LakeFiles {

  /** Spark's built-in Avro source, by class name. */
  val Avro = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Recursive delete; a missing path is a no-op. */
  def rm(p: File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rm))
    p.delete(): Unit
  }

  /** Checked rename: throws naming both paths when it fails. */
  def move(src: File, dst: File): Unit =
    if (!src.renameTo(dst))
      throw new IllegalStateException(s"could not move $src to $dst")

  /** Checked rename into a table, creating `dst`'s parent. Under a
    * `ChecksumFileSystem` (the local default) it renames through the raw
    * filesystem, so `src`'s `.crc` sidecar stays behind in its staging
    * directory instead of landing next to the table file. */
  def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    raw.mkdirs(dst.getParent)
    if (!raw.rename(src, dst))
      throw new IllegalStateException(s"could not move $src to $dst")
  }

  /** Write `df` as ONE `fmt` file through the temp directory `tmp`,
    * move it to `dst` (creating its parent) and delete `tmp`. */
  def stage(df: DataFrame, fmt: String, tmp: File, dst: File): Unit = {
    write(df, fmt, tmp.getPath)
    val part = onePart(tmp, Option(tmp.list()).toSeq.flatten)
    dst.getParentFile.mkdirs()
    move(new File(tmp, part), dst)
    rm(tmp)
  }

  def stage(fs: FileSystem, df: DataFrame, fmt: String, tmp: Path,
            dst: Path): Unit = {
    write(df, fmt, tmp.toString)
    val part = onePart(tmp, fs.listStatus(tmp).map(_.getPath.getName))
    move(fs, new Path(tmp, part), dst)
    fs.delete(tmp, true): Unit
  }

  /** Staging into the local directory `root`: parquet through
    * `root/_tmp`, Avro through `root/_tmpavro`. */
  final case class Local(root: String) {
    def parquet(df: DataFrame, rel: String): Unit =
      stage(df, "parquet", new File(s"$root/_tmp"), new File(s"$root/$rel"))
    def avro(df: DataFrame, rel: String): Unit =
      stage(df, Avro, new File(s"$root/_tmpavro"), new File(s"$root/$rel"))
  }

  /** Avro staging into the table directory `root` of `fs`, through
    * `root/_tmpavro`. */
  final case class Hadoop(fs: FileSystem, root: String) {
    def avro(df: DataFrame, rel: String): Unit =
      stage(fs, df, Avro, new Path(root, "_tmpavro"), new Path(root, rel))
  }

  private def write(df: DataFrame, fmt: String, tmp: String): Unit =
    df.coalesce(1).write.mode("overwrite").format(fmt).save(tmp)

  private def onePart(tmp: Any, names: Seq[String]): String =
    names.filter(_.startsWith("part-")) match {
      case Seq(part) => part
      case parts => throw new IllegalStateException(
        s"staging $tmp left ${parts.size} part files, expected one")
    }

  /** The whole file at `p` as UTF-8 text. */
  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Delete each of `paths` that exists inside the table `root`, through
    * the table's own filesystem; returns the deleted ones, sorted. Paths
    * outside the root (imported or cloned files) are never touched:
    * containment compares QUALIFIED paths, and a `..` component, which
    * can dodge a prefix test, disqualifies a path outright. A delete
    * that fails throws `failure(path)` rather than stranding the file. */
  def deleteInside(fs: FileSystem, root: String, paths: Iterable[String])
                  (failure: String => String): Seq[String] = {
    val rootQ = fs.makeQualified(new Path(root)).toString + "/"
    paths.toSeq.sorted.filter { p =>
      val q = fs.makeQualified(new Path(p))
      q.toString.startsWith(rootQ) &&
        !q.toUri.getPath.split('/').contains("..") &&
        fs.exists(q) && {
          if (!fs.delete(q, false)) throw new IllegalStateException(failure(p))
          true
        }
    }
  }

  /** A JSON string literal: quotes, backslashes and control characters
    * escaped, everything else (non-ASCII included) as is. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** A relative file path as an RFC 2396 URI path (Delta's add.path):
    * spaces, `%` and non-URI characters percent-encoded. */
  def uriEncode(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString
}
