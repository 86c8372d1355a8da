package graft

import java.nio.file.Files
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("events with INT64 TIMESTAMP(NANOS) ts decode to microseconds on a graft session") {
    // Spark cannot write nanosecond timestamps; write the file with
    // parquet's own example writer, as pyarrow-generated inputs carry it
    val dir = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try w.write(rows.newGroup().append("event_id", 1L).append("ts", 1704103200123456789L))
    finally w.close()
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(ev.selectExpr("unix_micros(ts)").as[Long].head() == 1704103200123456L)
  }
}
