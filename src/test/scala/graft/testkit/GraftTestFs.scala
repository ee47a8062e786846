package graft.testkit

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A test-only Hadoop FileSystem with its own scheme, `graftfs`, mapped one
  * to one onto local paths (`graftfs:///tmp/x` is `/tmp/x`). Index dirs
  * under it exercise the code paths a non-`file:` store takes without a
  * cluster; [[GraftTestFs.opens]] counts the files opened through it.
  */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = GraftTestFs.Root
  override def getScheme: String = GraftTestFs.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftTestFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object GraftTestFs {
  val Scheme = "graftfs"
  val Root: URI = URI.create(s"$Scheme:///")
  val opens = new java.util.concurrent.atomic.AtomicLong()

  /** Registers the scheme on the session's Hadoop conf (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[GraftTestFs].getName)

  /** `dir` (an absolute local path) under the test scheme. */
  def uri(dir: String): String = s"$Scheme://$dir"

  /** Runs `body` with `fs.defaultFS` = graftfs:///, so scheme-less paths
    * resolve to this FileSystem; the previous default is restored after.
    */
  def asDefaultFs[T](spark: SparkSession)(body: => T): T = {
    register(spark)
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("fs.defaultFS")
    hc.set("fs.defaultFS", Root.toString)
    try body
    finally if (prev == null) hc.unset("fs.defaultFS") else hc.set("fs.defaultFS", prev)
  }
}
