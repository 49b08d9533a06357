package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

/** Scale-sensitivity corpus: writes an N× copy of a tables directory to
  * /tmp/graft-scale-Nx. Documents and embeddings are multiplied (doc_id-
  * and vec_id-shifted, per-copy-perturbed so near-dup results stay
  * meaningful) as MULTI-FILE parquet directories — exercising the
  * many-input-splits path the production corpus has; the other tables are
  * copied as they are, so every registry query runs on the corpus. The
  * point is the SHAPE of the curve, not the absolute numbers:
  * candidate-join operators whose runtime grows super-linearly in corpus
  * size would fail the 100 TB design goal long before any cluster did.
  *
  *   sbt "runMain graft.ScaleSmoke 10 /root/testdata/sf0.1"
  *   SPARK_GRAFT_SF_DIR=/tmp/graft-scale-10x SPARK_GRAFT_ONLY=q27_,q65 sbt "runMain graft.Bench"
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = s"/tmp/graft-scale-${mult}x"
    val spark = LocalSession()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val copies = spark.range(mult).select(col("id").as("__copy"))
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("__copy") * nDocs).as("doc_id"),
        // per-copy leading token: copies are near-dups of each other, not
        // byte-identical — keeps candidate pair counts realistic
        concat(lit("c"), col("__copy"), lit(" "), col("text")).as("text"),
        col("lang"), col("source"),
        // length of the actual prefix, not a constant: "c10 " is 4 chars
        (col("n_chars") + length(concat(lit("c"), col("__copy"), lit(" "))))
          .as("n_chars"))
      .repartition(16) // multi-file output = multi-split scans downstream
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nEmb = emb.count()
    emb.crossJoin(copies)
      .select((col("vec_id") + col("__copy") * nEmb).as("vec_id"), col("embedding"),
        col("label"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(src).getFileSystem(conf)
    fs.listStatus(new Path(src)).map(_.getPath)
      .filterNot(p => Set("documents.parquet", "embeddings.parquet")(p.getName))
      .foreach { p =>
        val dst = new Path(out, p.getName)
        fs.delete(dst, true)
        FileUtil.copy(fs, p, fs, dst, false, conf)
      }
    println(s"== corpus ${nDocs * mult} docs / ${nEmb * mult} vectors, 16 files each, in $out ==")
    spark.stop()
  }
}
