package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.parquet.io.{OutputFile, PositionOutputStream}

import java.io.{BufferedOutputStream, DataOutputStream, FilterOutputStream, OutputStream}
import java.nio.file.{Files, StandardOpenOption}

/** The one place graft creates files and directories: timeline
  * instants, `hoodie.properties`, MOR/CDC/index log files, MDT
  * deltacommits, Lance files and the parquet base files compaction
  * writes. Listing, opening, renaming and deleting still go through
  * Hadoop `FileSystem` at their call sites.
  *
  * `file:` paths (and scheme-less ones under a `file:` default FS) go
  * through `java.nio`. Hadoop's `LocalFileSystem` would also write a
  * `.crc` sibling and, without native Hadoop loaded, fork a `chmod`
  * process for the file and again for its `.crc` — milliseconds per
  * create against microseconds for the plain create. A local create
  * writes no `.crc` and deletes a stale one, because `LocalFileSystem`
  * verifies a `.crc` on read whenever one exists. Every other scheme
  * goes through Hadoop `FileSystem`.
  *
  * An exclusive create (`overwrite = false`) of an existing path throws
  * Hadoop's `FileAlreadyExistsException` on either route.
  */
final class Storage(conf: Configuration) {

  private lazy val defaultScheme = FileSystem.getDefaultUri(conf).getScheme

  /** The local file behind `path`, or None when Hadoop must serve it. */
  private def local(path: Path): Option[java.nio.file.Path] = {
    val uri = path.toUri
    val scheme = Option(uri.getScheme).getOrElse(defaultScheme)
    if (scheme == "file") Some(new java.io.File(uri.getPath).toPath) else None
  }

  /** Create `path` (and its missing parents). The returned stream counts
    * the bytes written, so callers need no `getFileStatus` after `close`.
    */
  def create(path: Path, overwrite: Boolean): Storage.Output = local(path) match {
    case Some(f) =>
      Files.createDirectories(f.getParent)
      val os =
        try
          if (overwrite) Files.newOutputStream(f, StandardOpenOption.CREATE,
            StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
          else Files.newOutputStream(f, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$path already exists")
        }
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      new Storage.Output(new BufferedOutputStream(os, 1 << 16))
    case None =>
      new Storage.Output(path.getFileSystem(conf).create(path, overwrite))
  }

  def mkdirs(dir: Path): Unit = local(dir) match {
    case Some(d) => Files.createDirectories(d)
    case None =>
      val fs = dir.getFileSystem(conf)
      if (!fs.mkdirs(dir)) throw new java.io.IOException(s"mkdirs $dir failed")
  }

  /** Write `bytes` as the whole of `path`; returns the bytes written. */
  def writeFile(path: Path, bytes: Array[Byte], overwrite: Boolean): Long = {
    val out = create(path, overwrite)
    try out.write(bytes) finally out.close()
    out.bytes
  }

  /** A parquet `OutputFile` over [[create]]: same routing, and the file's
    * length is known once the parquet writer closes it.
    */
  def outputFile(path: Path): Storage.ParquetTarget = new Storage.ParquetTarget(this, path)
}

object Storage {

  def apply(conf: Configuration): Storage = new Storage(conf)

  /** A created file's stream; `bytes` is the count written so far. */
  final class Output private[Storage] (os: OutputStream)
      extends DataOutputStream(new Counter(os)) {
    def bytes: Long = out.asInstanceOf[Counter].n
  }

  private[Storage] final class Counter(os: OutputStream) extends FilterOutputStream(os) {
    var n = 0L
    override def write(b: Int): Unit = { os.write(b); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { os.write(b, off, len); n += len }
  }

  final class ParquetTarget private[Storage] (storage: Storage, path: Path) extends OutputFile {
    private var out: Output = _

    /** The length of the written file (valid after the writer closed). */
    def bytes: Long = out.bytes

    override def create(blockSizeHint: Long): PositionOutputStream = open(overwrite = false)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      open(overwrite = true)
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
    override def getPath: String = path.toString

    private def open(overwrite: Boolean): PositionOutputStream = {
      val o = storage.create(path, overwrite)
      out = o
      new PositionOutputStream {
        override def getPos: Long = o.bytes
        override def write(b: Int): Unit = o.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = o.write(b, off, len)
        override def flush(): Unit = o.flush()
        override def close(): Unit = o.close()
      }
    }
  }
}
