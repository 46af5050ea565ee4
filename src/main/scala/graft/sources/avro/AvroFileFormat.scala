package graft.sources.avro

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Spark-native Avro Object Container File source (read path).
  *
  * Re-expresses the reference's decode pipeline (SURVEY §2 O1–O5) on
  * Spark's FileFormat API, since this distribution ships no spark-avro:
  *   - O1 scan: `spark.read.format("avro").load(path)` — splittable on
  *     Avro sync markers, so one 100 TB file fans out across executors
  *     instead of the reference's single-process stream
  *     (`/root/reference/src/index.js:335-370`).
  *   - O2 schema-from-header: `inferSchema` reads the writer schema from
  *     the first file's header (`src/index.js:377-386`).
  *   - O3 schema override: `.option("avroSchema", json)` supplies a reader
  *     schema (`src/index.js:393-401`).
  *   - O4 projection: Catalyst column pruning arrives here as
  *     `requiredSchema`; it is applied as an Avro *reader schema*, so
  *     dropped fields are never decoded (`src/index.js:39-51`).
  *   - O5 codecs: null/deflate/snappy/zstd auto-detected from the block
  *     header by avro's CodecFactory — no manual codec flag
  *     (`src/index.js:319-326` needed one).
  *
  * Write path (extended scope — the reference has no file sink): see
  * [[AvroOutputWriter]]; `df.write.format("avro")` with a `codec` option.
  */
class AvroFileFormat extends FileFormat with DataSourceRegister with Serializable {

  override def shortName(): String = "avro"

  override def toString: String = "GraftAvro"

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val avroSchema = options.get(AvroFileFormat.SchemaOption) match {
      case Some(json) => Some(new Schema.Parser().parse(json))
      case None =>
        val conf = sparkSession.sessionState.newHadoopConfWithOptions(options)
        files.iterator.filter(_.getLen > 0).map { f =>
          val reader = DataFileReader.openReader(
            new FsInput(f.getPath, conf), new GenericDatumReader[GenericRecord]())
          try reader.getSchema finally reader.close()
        }.nextOption()
    }
    avroSchema.map(AvroSchemaConverter.toStructType)
  }

  override def isSplitable(
      sparkSession: SparkSession,
      options: Map[String, String],
      path: Path): Boolean = true

  /** Avro sink (extended scope — the reference itself has no file sink):
    * one container file per task, codec via `.option("codec",
    * null|deflate|snappy|zstandard)`, snappy default to match the
    * reference's fixture corpus.
    */
  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val codec = options.getOrElse("codec", "snappy")
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".avro"
      override def newInstance(
          path: String,
          dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new AvroOutputWriter(path, context, dataSchema, codec)
    }
  }

  override protected def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val confBroadcast =
      sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val overrideSchemaJson = options.get(AvroFileFormat.SchemaOption)
    val requiredNames = requiredSchema.fieldNames.toSeq

    (file: PartitionedFile) => {
      val conf = confBroadcast.value.value
      val datumReader = new GenericDatumReader[GenericRecord]()
      val fileReader = DataFileReader.openReader(
        new FsInput(new Path(file.filePath.toUri), conf), datumReader)
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => fileReader.close()))

      val baseSchema = overrideSchemaJson
        .map(new Schema.Parser().parse)
        .getOrElse(fileReader.getSchema)
      // Reader-schema projection: decode only what Catalyst asked for.
      val readerSchema = AvroSchemaConverter.prune(baseSchema, requiredNames)
      datumReader.setExpected(readerSchema)
      // A column the file cannot supply as the table's type fails here,
      // before any row is read; Spark's FAILED_READ_FILE names the file.
      val convert = AvroSchemaConverter.rowDecoder(readerSchema, requiredSchema)

      // Split handling via sync markers: start at the first sync ≥ start,
      // stop once past the split end — each block is read exactly once
      // across all splits of the file.
      fileReader.sync(file.start)
      val end = file.start + file.length
      new Iterator[InternalRow] {
        override def hasNext: Boolean =
          fileReader.hasNext && !fileReader.pastSync(end)
        override def next(): InternalRow = convert(fileReader.next())
      }
    }
  }
}

object AvroFileFormat {
  /** Reader-schema override option, mirroring `CONFIG.schema`
    * (`/root/reference/src/config.js:2`).
    */
  val SchemaOption = "avroSchema"
}

/** One Avro container file per task: Catalyst rows serialized through
  * [[AvroSerializer]] into a `DataFileWriter` with the requested codec.
  */
private class AvroOutputWriter(
    val path: String,
    context: TaskAttemptContext,
    dataSchema: org.apache.spark.sql.types.StructType,
    codec: String) extends OutputWriter {

  private val (avroSchema, convert) = AvroSerializer.recordEncoder(dataSchema)

  private val writer = {
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(org.apache.avro.file.CodecFactory.fromString(codec))
    val hadoopPath = new Path(path)
    val out = hadoopPath.getFileSystem(context.getConfiguration).create(hadoopPath)
    w.create(avroSchema, out)
  }

  override def write(row: InternalRow): Unit = writer.append(convert(row))

  override def close(): Unit = writer.close()
}
