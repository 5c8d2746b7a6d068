package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

/** graft's file creates: `file:` paths bypass Hadoop's checksummed
  * `LocalFileSystem` (no `.crc`, no `chmod` fork) and still read back
  * through it; other schemes go through Hadoop `FileSystem`.
  */
class StorageSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val storage = Storage(conf)

  private def dir(name: String): Path = {
    val d = new Path(new java.io.File(
      graft.fixtures.HudiFixtureBuilder.targetPath(s"storage-spec/$name")).toURI)
    FileSystem.getLocal(conf).delete(d, true)
    d
  }

  private def readLocal(p: Path): String = {
    val fs = FileSystem.getLocal(conf)
    new String(graft.util.ReadFully(fs, p), UTF_8)
  }

  private def crcOf(p: Path): java.io.File =
    new java.io.File(p.getParent.toUri.getPath, s".${p.getName}.crc")

  test("an overwrite over a stale .crc reads back through LocalFileSystem") {
    val p = new Path(dir("stale_crc"), "props")
    val o = FileSystem.getLocal(conf).create(p, true)
    o.write("first version, checksummed".getBytes(UTF_8)); o.close()
    assert(crcOf(p).exists(), "LocalFileSystem writes a .crc sibling")
    val bytes = storage.writeFile(p, "second".getBytes(UTF_8), overwrite = true)
    assert(bytes == 6L)
    assert(!crcOf(p).exists(), "the stale .crc must go with the overwrite")
    assert(readLocal(p) == "second")
  }

  test("an exclusive create of an existing path throws FileAlreadyExistsException") {
    val p = new Path(dir("exclusive"), ".fid_1.log.1_0-0-0")
    storage.writeFile(p, Array[Byte](1, 2, 3), overwrite = false)
    intercept[FileAlreadyExistsException] {
      storage.create(p, overwrite = false)
    }
    assert(readLocal(p).getBytes(UTF_8).toSeq == Seq[Byte](1, 2, 3),
      "the refused create must leave the file as it was")
  }

  test("a non-file scheme goes through Hadoop FileSystem") {
    val local = dir("other_scheme")
    val c = new Configuration()
    c.set("fs.graftrec.impl", classOf[RecordingFileSystem].getName)
    c.setBoolean("fs.graftrec.impl.disable.cache", true)
    val p = new Path(s"graftrec://${local.toUri.getPath}/a/b/file.bin")
    val before = RecordingFileSystem.creates.get
    val out = Storage(c).create(p, overwrite = true)
    try out.write("via hadoop".getBytes(UTF_8)) finally out.close()
    assert(out.bytes == 10L)
    assert(RecordingFileSystem.creates.get == before + 1, "the create must reach Hadoop")
    assert(readLocal(new Path(local, "a/b/file.bin")) == "via hadoop")
  }

  test("a local create makes its parents and leaves no .crc") {
    val p = new Path(dir("no_crc"), "x/y/00000000-0000_0-0-0_20240101000000000.parquet")
    val out = storage.create(p, overwrite = false)
    try out.write(new Array[Byte](70000)) finally out.close()
    assert(out.bytes == 70000L)
    assert(new java.io.File(p.toUri.getPath).length == 70000L)
    assert(!crcOf(p).exists())
    storage.mkdirs(new Path(p.getParent, "z"))
    assert(new java.io.File(p.getParent.toUri.getPath, "z").isDirectory)
  }
}

/** A raw local file system under its own scheme, counting creates. */
class RecordingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftrec:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    RecordingFileSystem.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingFileSystem {
  val creates = new AtomicInteger
}
