package graft.io

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every file or directory graft creates goes through [[Storage]]: no
  * Hadoop `create(` or `mkdirs(` call in the main sources outside
  * `graft/io/Storage.scala` and the fixture builder. A Hadoop call is one
  * on a `FileSystem` — a `getFileSystem(..)`/`FileSystem.get(..)` result,
  * the `FileSystem` object, or a value whose name contains `fs`. And base
  * files have one writer, `graft.write.BaseFiles`: no `DataFrameWriter`
  * parquet or `partitionBy` write under `graft/write`. And the timeline
  * has one codec, `graft/core/Timeline.scala`: no other main source names
  * a pending state, the v8 timeline directory or the completion clock.
  * And the metadata table has one write-side handle,
  * `graft/write/MdtCommit.scala`: no other source under `graft/write`
  * writes an HFile or an HFile log block, loads the MDT's
  * `hoodie.properties` or names an MDT log file. And parquet footers have
  * one reader, `graft/fs/FileStats.scala`: no other main source opens one.
  */
class CreateSeamSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val hadoopCreate =
    """(\b\w*(fs|Fs|FS)\w*|\bFileSystem|getFileSystem\([^)]*\)|FileSystem\.get\w*\([^)]*\))""" +
      """\s*\.(create|createNewFile|mkdirs)\("""
  private val call = hadoopCreate.r

  test("no Hadoop create or mkdirs outside graft/io/Storage.scala and fixtures/") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/io/Storage.scala")))
      .filterNot(p => root.relativize(p).toString.startsWith("graft/fixtures/"))
      .toVector
    assert(files.size > 50, s"only ${files.size} sources found")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the scan tells Hadoop creates from Storage's") {
    Seq("val out = fs.create(new Path(dir, name), false)",
      "fsx.create(p, true)",
      "p.getFileSystem(conf).mkdirs(dir)",
      "FileSystem.get(conf).create(p)",
      "localFs.mkdirs(p)").foreach(c => assert(call.findFirstIn(c).isDefined, c))
    Seq("val out = storage.create(p, overwrite = false)",
      "Storage(conf).create(p, true)",
      "AvroSchema.create(AvroSchema.Type.INT)",
      "Files.createDirectories(d)").foreach(c => assert(call.findFirstIn(c).isEmpty, c))
  }

  /** A `.write` chain, possibly over several lines, that reaches a
    * `.parquet(` or `.partitionBy(` call.
    */
  private val frameWrite =
    """\.write\b\s*(\.\s*\w+\s*\([^()]*\)\s*)*\.\s*(parquet|partitionBy)\(""".r

  test("no DataFrameWriter parquet or partitionBy write under graft/write") {
    val dir = root.resolve("graft/write")
    val files = Files.list(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.endsWith("BaseFiles.scala")), s"no BaseFiles.scala under $dir")
    val offenders = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      m <- frameWrite.findAllMatchIn(text)
    } yield s"${root.relativize(f)}:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the scan tells DataFrameWriter file writes from other writes") {
    Seq("df.write.parquet(out)",
      "df.write.mode(\"overwrite\").parquet(p.toString)",
      "rows\n  .repartition(col(\"p\"))\n  .write.partitionBy(\"p\", \"f\").mode(\"overwrite\")",
      "df.write\n  .partitionBy(\"a\")").foreach(c =>
      assert(frameWrite.findFirstIn(c).isDefined, c))
    Seq("out.write(r)",
      "spark.read.parquet(p)",
      "Window.partitionBy(col(\"k\"))",
      "storage.writeFile(p, bytes, overwrite = true)",
      "df.write.format(\"hudi-graft\").save(path)",
      "\"hoodie.datasource.write.partitionpath.field\"").foreach(c =>
      assert(frameWrite.findFirstIn(c).isEmpty, c))
  }

  /** A `.requested"`/`.inflight"` literal, `".hoodie/timeline"` or a
    * `completionNow(` call (the writers' former v8 completion-name
    * helper) — each a timeline file name spelled outside the codec.
    */
  private val timelineName = """(\.(requested|inflight)"|\.hoodie/timeline"|\bcompletionNow\()""".r

  test("no timeline file name is spelled outside graft/core/Timeline.scala and fixtures/") {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/core/Timeline.scala")))
      .filterNot(p => root.relativize(p).toString.startsWith("graft/fixtures/"))
      .toVector
    assert(files.size > 50, s"only ${files.size} sources found")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if timelineName.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the scan tells timeline names from other strings") {
    Seq("touch(s\"$instant.$action.requested\")",
      "touch(s\"$ts.savepoint.inflight\")",
      "new Path(base, \".hoodie/timeline\")",
      "s\"${instant}_${HudiWriter.completionNow(instant, tz)}.clean\"").foreach(c =>
      assert(timelineName.findFirstIn(c).isDefined, c))
    Seq("t.timeline.begin(\"clean\", instant, body)",
      "HoodieInstant.Inflight",
      "new Path(base, \".hoodie/timeline/history\")",
      "// the requested marker carries the plan").foreach(c =>
      assert(timelineName.findFirstIn(c).isEmpty, c))
  }

  /** An HFile write, an HFile log-block write, a `HoodieConfig.load` of
    * the metadata table, or an interpolated `.log.` file name — each an
    * MDT write decision taken outside the handle.
    */
  private val mdtWrite =
    ("""(\bHFileWriter\.write\(|\bhfileDataBlock\(|""" +
      """\bHoodieConfig\.load\([^)]*(?i:mdt|metadata)|\bs"[^"]*\.log\.)""").r

  test("no MDT write decision under graft/write outside graft/write/MdtCommit.scala") {
    val dir = root.resolve("graft/write")
    val files = Files.list(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.endsWith("MdtCommit.scala")), s"no MdtCommit.scala under $dir")
    val hits = for {
      f <- files if !f.endsWith("MdtCommit.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if mdtWrite.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    // the data table's MOR logs are named by LogFile.nextName, like the
    // MDT's; the data writer spells one name of its own, the CDC sidecar
    val (dataLogs, offenders) = hits.partition(h =>
      h.startsWith("graft/write/HudiWriter.scala:") && h.contains("val name = s\".${fid}_"))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    assert(dataLogs.size == 1, dataLogs.mkString("data log names:\n", "\n", ""))
  }

  test("the scan tells MDT write decisions from other code") {
    Seq("val hfileBytes = graft.hfile.HFileWriter.write(",
      "try graft.log.LogFileWriter.hfileDataBlock(out, instant, schema, hfileBytes)",
      "val mdtConfig = graft.core.HoodieConfig.load(mdtBase.toString, hadoopConf)",
      "HoodieConfig.load(s\"$base/.hoodie/metadata\", conf)",
      "val logName = s\".${slice.fileId}_$nameTs.log.${nextVersion}_0-0-0\"",
      "val name = s\".${sliceFid}_$nameTs.log.${version}_$token\"").foreach(c =>
      assert(mdtWrite.findFirstIn(c).isDefined, c))
    Seq("HoodieConfig.load(basePath, hadoopConf)",
      "mdt.append(partition, schema, records)",
      "logs(g).write(conf.value.value, recs)",
      "LogFile.parse(name, path, size)",
      "* `.{fid}_{ts}.log.{v}_{token}` — strip the leading dot",
      "HFileWriter.scala").foreach(c =>
      assert(mdtWrite.findFirstIn(c).isEmpty, c))
  }

  /** A parquet footer open: `ParquetFileReader.open`, its deprecated
    * `readFooter` or its constructor.
    */
  private val footerOpen =
    """(\bParquetFileReader\s*\.\s*(open|readFooter)\b|\bnew\s+ParquetFileReader\b)""".r

  test("src/main opens parquet footers only in graft/fs/FileStats.scala, once") {
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    assert(files.size > 50, s"only ${files.size} sources found")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if footerOpen.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    val (reader, offenders) = hits.partition(_.startsWith("graft/fs/FileStats.scala:"))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    assert(reader.size == 1, reader.mkString("footer opens:\n", "\n", ""))
  }

  test("the scan tells footer opens from other parquet calls") {
    Seq("val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))",
      "org.apache.parquet.hadoop.ParquetFileReader.open(",
      "ParquetFileReader.readFooter(conf, path)",
      "new ParquetFileReader(conf, path, footer)").foreach(c =>
      assert(footerOpen.findFirstIn(c).isDefined, c))
    Seq("import org.apache.parquet.hadoop.ParquetFileReader",
      "graft.fs.FileStats.footer(path, conf) { f => f.getBlocks }",
      "spark.read.parquet(path)",
      "ParquetFileReaderSpec.open(x)").foreach(c =>
      assert(footerOpen.findFirstIn(c).isEmpty, c))
  }
}
