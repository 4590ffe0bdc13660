package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Parquet written on the driver, without a Spark job, for the small
  * tables the driver already holds (run metadata, lineage manifests):
  * for a few rows, a job's scheduling and its tasks' Hadoop-conf
  * shipping cost far more than the bytes.
  *
  * The output is what a one-task `write.mode("overwrite").parquet(path)`
  * leaves: the directory is replaced by one snappy part file plus a
  * `_SUCCESS` marker, and `spark.read.parquet(path)` reads it back with
  * the same column names and types. Columns are `int`, `bigint` or
  * `string`, all nullable; a row is a tuple or case class whose elements
  * follow `schema` (a null element is a null value). */
object DriverParquet {

  def write(spark: SparkSession, path: String, schema: StructType, rows: Seq[Product]): Unit = {
    val ws = new RowWriteSupport(schema, message(schema))
    val conf = spark.sessionState.newHadoopConf()
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val file = HadoopOutputFile.fromPath(new HPath(dir, "part-00000.snappy.parquet"), conf)
    val w = new Builder(file, ws)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach(w.write) finally w.close()
    fs.create(new HPath(dir, "_SUCCESS"), true).close()
  }

  private def message(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case IntegerType => b.optional(PrimitiveTypeName.INT32).named(f.name)
        case LongType => b.optional(PrimitiveTypeName.INT64).named(f.name)
        case StringType =>
          b.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case t => throw new IllegalArgumentException(
          s"DriverParquet: column ${f.name} has type ${t.simpleString}; only int, bigint and string")
      }
    }
    b.named("spark_schema")
  }

  private final class RowWriteSupport(schema: StructType, msg: MessageType)
      extends WriteSupport[Product] {
    private var out: RecordConsumer = _
    def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(msg, new java.util.HashMap[String, String]())
    def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    def write(row: Product): Unit = {
      require(row.productArity == schema.length,
        s"DriverParquet: row $row has ${row.productArity} elements, schema ${schema.length}")
      out.startMessage()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        row.productElement(i) match {
          case null =>
          case v =>
            out.startField(f.name, i)
            f.dataType match {
              case IntegerType => out.addInteger(v.asInstanceOf[Int])
              case LongType => out.addLong(v.asInstanceOf[Long])
              case _ => out.addBinary(Binary.fromString(v.asInstanceOf[String]))
            }
            out.endField(f.name, i)
        }
      }
      out.endMessage()
    }
  }

  private final class Builder(file: OutputFile, ws: WriteSupport[Product])
      extends ParquetWriter.Builder[Product, Builder](file) {
    protected def self(): Builder = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[Product] = ws
  }
}
