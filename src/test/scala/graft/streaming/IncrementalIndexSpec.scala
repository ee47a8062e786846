package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{SparkTestSession, Webtext}
import graft.index.{IndexBuild, PostingListMerger, PostingListReader}

/** Stream-MERGE == batch gate: after streaming micro-batches of new/updated
  * docs into an existing index, the postings are identical to a fresh build
  * over the merged corpus.
  */
class IncrementalIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rm(p: String): Unit = {
    val d = new java.io.File(p)
    if (d.exists()) scala.reflect.io.Directory(d).deleteRecursively()
  }

  private def fingerprint(dir: String): Map[(String, String), Seq[(Long, Int, Int)]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments")
      .select("lang", "term", "blob", "posBlob")
      .as[(String, String, Array[Byte], Array[Byte])]
      .collect()
      .groupBy(r => (r._1, r._2))
      .map { case (key, rows) =>
        val (blob, posBlob, _, _) = PostingListMerger.merge(rows.map(r => (r._3, r._4)).toSeq)
        val it = new PostingListReader(blob, posBlob).iterator()
        it.start()
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
        while (!it.exhausted) { buf += ((it.docId, it.tf, it.dl)); it.next() }
        key -> buf.toSeq
      }
  }

  test("streamed micro-batch MERGE == fresh build over the merged corpus") {
    import spark.implicits._
    rm("/tmp/ginc-idx"); rm("/tmp/ginc-src"); rm("/tmp/ginc-fresh")
    // base index: docs 0..399
    val base = Webtext.synthesize(spark, 400, partitions = 4).toDF()
    IndexBuild.build(spark, base, "/tmp/ginc-idx", numChunks = 2)
    // stream source: updates of docs 0..99 (changed text) + new docs 400..499
    val updates = Webtext.synthesize(spark, 100, partitions = 2).toDF()
      .withColumn("text", concat(col("text"), lit(" updated")))
      .withColumn("html", col("text").cast("binary")) // html unused downstream
    val newDocs = spark.range(400, 500).as[Long]
      .map(i => Webtext.genDoc(42L, i)).toDF()
    updates.union(newDocs).write.parquet("/tmp/ginc-src")
    // drain the stream (AvailableNow)
    val q = IncrementalIndex.run(spark, "/tmp/ginc-src", "/tmp/ginc-idx")
    q.awaitTermination(120000)
    // fresh build over the merged corpus
    val merged = Webtext.synthesize(spark, 500, partitions = 4).toDF()
      .withColumn("text",
        when(col("docId") < 100, concat(col("text"), lit(" updated")))
          .otherwise(col("text")))
    IndexBuild.build(spark, merged, "/tmp/ginc-fresh", numChunks = 2)
    assert(fingerprint("/tmp/ginc-idx") == fingerprint("/tmp/ginc-fresh"))
    // stats consistent too
    val a = graft.query.IndexHandle.load("/tmp/ginc-idx").stats
    val b = graft.query.IndexHandle.load("/tmp/ginc-fresh").stats
    assert(a == b)
  }
}
