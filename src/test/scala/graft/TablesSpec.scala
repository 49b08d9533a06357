package graft

import java.nio.file.Files

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.t`'s schema memo must never hand one session a schema inferred
  * under another session's parquet-inference settings.
  */
class TablesSpec extends SparkTestBase {

  test("a session with a different binaryAsString re-infers the memoized schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    // an unannotated binary column with no Spark schema in the footer (as
    // a non-Spark writer leaves it): inference reads it as binary or as
    // string depending on binaryAsString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary k (UTF8); required binary blob; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/blobs.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("k", "k1").append("blob", "v1"))
    finally w.close()

    assert(Tables.t(spark, dir, "blobs").schema("blob").dataType == BinaryType)

    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val df = Tables.t(asString, dir, "blobs")
    assert(df.schema("blob").dataType == StringType)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("v1"))
  }
}
