package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (guide: one per suite, lazy):
  * `LocalSession`'s, at width 4, so the specs run on the session the mains
  * run on.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession("4")

  def sf(name: String): String = s"/root/testdata/$name"

  /** Non-hidden regular files under `base`, relativized + sorted. */
  def listFiles(base: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => base.relativize(p).toString)
      .toSeq.sorted
  }

  /** Canonical Kafka-shaped records: `nParts` partitions × `perPart`
    * offsets, payload fields (a: long, b: string), timestamps advancing
    * `stepMs` per offset from epoch `baseMs`.
    */
  def kafkaRecords(topic: String, nParts: Int, perPart: Int,
                   baseMs: Long = 1700000000000L, stepMs: Long = 1000L): DataFrame = {
    import spark.implicits._
    val rows = for {
      p <- 0 until nParts
      o <- 0 until perPart
    } yield (topic, p, o.toLong, new java.sql.Timestamp(baseMs + o * stepMs),
      s"key-$p-$o", o * 10L + p, s"v$o")
    rows.toDF("topic", "partition", "offset", "timestamp", "key", "a", "b")
  }
}
