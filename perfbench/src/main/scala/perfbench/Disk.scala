package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What a tree of files holds, as seen from outside the program. */
final case class Usage(bytes: Long, dataFiles: Long, dataBytes: Long,
    commits: Long) {
  def +(o: Usage): Usage = Usage(bytes + o.bytes, dataFiles + o.dataFiles,
    dataBytes + o.dataBytes, commits + o.commits)
}

object Usage { val zero: Usage = Usage(0, 0, 0, 0) }

/** Listings of the artifact cache root and of scratch directories. A cache
  * entry is `<root>/<name>/<fingerprint>` (or its `.p<pid>` staging twin),
  * so a new entry after a call is one artifact build.
  */
object Disk {
  val CacheRoot: Path = Paths.get("/tmp/graft_cache")
  /** Where the stream replays copy `events.parquet`, one dir per fixture
    * dir.
    */
  val ReplayRoot: Path = Paths.get("/tmp/graft_replay")
  private val Commit = "^v\\d+\\.txt$".r

  private def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }

  def cacheEntries(): Set[Path] =
    list(CacheRoot).flatMap(list).toSet

  /** What the program keeps in /tmp across processes, keyed by fixture
    * dir: artifact cache entries and stream replay dirs. A run deletes
    * the ones it created.
    */
  def shared(): Set[Path] = cacheEntries() ++ list(ReplayRoot)

  def files(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
      catch { case _: java.io.UncheckedIOException => Map.empty }
      finally s.close()
    }

  /** Files under `root` that are new or changed since `before`. */
  def newFiles(root: Path, before: Map[Path, Long]): Map[Path, Long] =
    files(root).filter { case (p, n) => !before.get(p).contains(n) }

  def usage(paths: Iterable[(Path, Long)]): Usage =
    paths.foldLeft(Usage.zero) { case (u, (p, n)) =>
      val name = p.getFileName.toString
      val data = name.endsWith(".parquet")
      val commit = Commit.matches(name) &&
        p.getParent.getFileName.toString == "_manifests"
      u + Usage(n, if (data) 1 else 0, if (data) n else 0,
        if (commit) 1 else 0)
    }

  def usageOf(roots: Iterable[Path]): Usage =
    roots.foldLeft(Usage.zero)((u, r) => u + usage(files(r)))

  def sizeOf(root: Path): Long = files(root).values.sum

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }
}
