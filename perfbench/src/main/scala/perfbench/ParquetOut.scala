package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes generated rows to one parquet file from the calling thread, with
  * no Spark job: the arrivals generator lands raw uploads this way, so the
  * engine only ever sees files.
  */
object ParquetOut {
  private val conf = new Configuration()

  def messageType(st: StructType): MessageType = {
    val b = Types.buildMessage()
    st.fields.foreach { f =>
      val t: PrimitiveType = f.dataType match {
        case StringType => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case TimestampType => Types.optional(INT64).as(LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case DoubleType => Types.optional(DOUBLE).named(f.name)
        case other => throw new IllegalArgumentException(s"unsupported column type $other")
      }
      b.addField(t)
    }
    b.named("spark_schema")
  }

  def write(path: String, st: StructType, rows: Seq[Row]): Unit = {
    val mt = messageType(st)
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(mt).withConf(conf).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      st.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case StringType => g.add(i, r.getString(i))
          case TimestampType => g.add(i, r.getTimestamp(i).getTime * 1000L)
          case IntegerType => g.add(i, r.getInt(i))
          case DoubleType => g.add(i, r.getDouble(i))
          case _ => ()
        }
      }
      w.write(g)
    } finally w.close()
  }
}
