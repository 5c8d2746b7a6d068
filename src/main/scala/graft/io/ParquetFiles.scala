package graft.io

import graft.util.SerializableConf
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Parquet files of `InternalRow`s written through [[Storage]], in the
  * shape Spark's own parquet writer gives them. The write conf comes from
  * `ParquetFileFormat.prepareWrite` on the driver (row schema, legacy
  * format, timestamp and rebase modes, codec), rows go through Spark's
  * `ParquetWriteSupport`, and the codec is set on the writer explicitly.
  * So the footers carry the same codec and the same
  * `org.apache.spark.sql.parquet.row.metadata` as a `df.write.parquet`
  * of a frame with this schema.
  */
final class ParquetFiles private (conf: SerializableConf, codec: CompressionCodecName)
    extends Serializable {

  /** A writer for `path`, overwriting what a failed attempt left there. */
  def open(path: Path): ParquetFiles.Writer = {
    val target = Storage(conf.value).outputFile(path)
    val w = new ParquetFiles.Builder(target)
      .withConf(conf.value)
      .withCompressionCodec(codec)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    new ParquetFiles.Writer(target, w)
  }
}

object ParquetFiles {

  /** Prepare writes of `schema` rows under the session's parquet confs. */
  def prepare(spark: SparkSession, schema: StructType): ParquetFiles = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration
    new ParquetFiles(new SerializableConf(conf),
      CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION)))
  }

  final class Writer private[ParquetFiles] (
      target: Storage.ParquetTarget, w: ParquetWriter[InternalRow]) {
    def write(row: InternalRow): Unit = w.write(row)

    /** Close the file; returns its length in bytes. */
    def close(): Long = { w.close(); target.bytes }
  }

  private final class Builder(file: Storage.ParquetTarget)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
