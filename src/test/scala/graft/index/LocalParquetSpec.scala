package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{SparkTestSession, Webtext}
import graft.query.{Bm25Query, IndexHandle, QueryCore, QuerySpec}

/** The driver-local parquet fast path must return EXACTLY the rows the Spark
  * scans it replaces returned — every reader shape is compared row-for-row
  * against the equivalent Spark read over a real built index (the same files,
  * the same pushdown predicates). This is the gate that keeps the non-local
  * Spark fallback and the local path from drifting.
  */
class LocalParquetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val dir = "/tmp/graft-test-localpq-idx"
  lazy val idx: IndexHandle = {
    val d = new java.io.File(dir)
    if (d.exists()) scala.reflect.io.Directory(d).deleteRecursively()
    IndexBuild.build(spark, Webtext.synthesize(spark, 2000, partitions = 8).toDF(),
      dir, numChunks = 2, saltTargetPostings = 64)
    IndexHandle.load(dir)
  }

  private def blobKey(b: Array[Byte]): String =
    if (b == null) "∅" else java.util.Arrays.hashCode(b).toString + ":" + b.length

  test("segments point read matches the Spark pruned scan") {
    import spark.implicits._
    val terms = Webtext.GoldenPhrase("hi").toSeq :+ "nonexistenttermxyz"
    val sparkRows = spark.read.parquet(idx.segmentsPath)
      .where(col("lang") === "hi" && col("term").isin(terms: _*))
      .select(col("chunk"), col("term"), col("df"), col("blob"), col("posBlob"))
      .as[QueryCore.PostRow].collect()
    val localRows = LocalParquet
      .readSegmentRows(idx.segmentsPath, "hi", terms, withPositions = true)
    assert(localRows.nonEmpty, "fixture produced no posting rows")
    def key(r: QueryCore.PostRow) =
      (r._1, r._2, r._3, blobKey(r._4), blobKey(r._5))
    assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted)
  }

  test("segments full read matches the Spark load scan, incl. bucket subset") {
    import spark.implicits._
    for (buckets <- Seq(None, Some(Set(0, 1, 2, 17)))) {
      val base = spark.read.parquet(idx.segmentsPath)
      val sel = buckets match {
        case Some(bs) => base.where(col("bucket").isin(bs.toSeq: _*))
        case None     => base
      }
      val sparkRows = sel.select("lang", "term", "blob", "posBlob")
        .as[(String, String, Array[Byte], Array[Byte])].collect()
      val localRows = LocalParquet.readSegmentsFull(idx.segmentsPath, buckets, None)
      def key(r: (String, String, Array[Byte], Array[Byte])) =
        (r._1, r._2, blobKey(r._3), blobKey(r._4))
      assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted)
      assert(buckets.isEmpty || localRows.nonEmpty)
    }
  }

  test("segments full read honors a chunk subset (doc-shard load)") {
    import spark.implicits._
    val sparkRows = spark.read.parquet(idx.segmentsPath)
      .where(col("chunk") === 1)
      .select("lang", "term", "blob", "posBlob")
      .as[(String, String, Array[Byte], Array[Byte])].collect()
    val localRows = LocalParquet.readSegmentsFull(idx.segmentsPath, None, Some(Set(1)))
    assert(localRows.nonEmpty)
    def key(r: (String, String, Array[Byte], Array[Byte])) =
      (r._1, r._2, blobKey(r._3), blobKey(r._4))
    assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted)
  }

  test("facet reads match the Spark scan: value-in and date-range conds") {
    import spark.implicits._
    // value-in on a real facet key + the Q5 date-rule ranges
    val conds: Seq[(String, Option[Seq[String]], Option[(Option[String], Option[String])])] =
      Seq(("category", Some(Seq("Pravachan")), None),
        ("date", None, Some((Some("2019-01-01"), Some("2020-12-31")))),
        ("has_date", Some(Seq("0")), None))
    val localRows = LocalParquet.readFacetRows(idx.facetsPath, "hi", conds)
    val sparkRows = spark.read.parquet(idx.facetsPath)
      .where(col("lang") === "hi" &&
        ((col("key") === "category" && col("value").isin("Pravachan")) ||
         (col("key") === "date" && col("value") >= "2019-01-01" && col("value") <= "2020-12-31") ||
         (col("key") === "has_date" && col("value") === "0")))
      .select("chunk", "key", "value", "df", "docIds")
      .as[(Int, String, String, Long, Array[Byte])].collect()
    assert(localRows.nonEmpty, "fixture produced no facet rows")
    def key(r: (Int, String, String, Long, Array[Byte])) =
      (r._1, r._2, r._3, r._4, blobKey(r._5))
    assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted)
  }

  test("docstore point reads match the Spark isin scan (incl. meta + misses)") {
    import spark.implicits._
    val ids = Seq(3L, 57L, 110L, 999999993L) // incl. a miss
    val sparkRows = spark.read.parquet(s"$dir/docstore")
      .where(col("docId").isin(ids: _*))
      .select("docId", "url", "lang", "text")
      .as[(Long, String, String, String)].collect()
    val localRows = LocalParquet.readDocPayloads(s"$dir/docstore", ids)
    assert(localRows.map(r => (r._1, r._2, r._3, r._4)).sorted ==
      sparkRows.toSeq.sorted)
    val withMeta = LocalParquet.readDocPayloadsMeta(s"$dir/docstore", ids)
    val sparkMeta = spark.read.parquet(s"$dir/docstore")
      .where(col("docId").isin(ids: _*))
      .select("docId", "meta")
      .as[(Long, Map[String, String])].collect().toMap
    assert(withMeta.map(r => r._1 -> r._5).toMap == sparkMeta)
  }

  test("termdict reads match the Spark pruned scan") {
    import spark.implicits._
    val terms = Webtext.GoldenPhrase("hi").toSeq
    val p = idx.termdictPath.get
    val sparkRows = spark.read.parquet(p)
      .where(col("lang") === "hi" && col("term").isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect()
    val localRows = LocalParquet.readTermDict(p, "hi", terms)
    assert(localRows.nonEmpty)
    assert(localRows.sorted == sparkRows.toSeq.sorted)
    val fullSpark = spark.read.parquet(p).select("lang", "term", "df")
      .as[(String, String, Long)].collect()
    val fullLocal = LocalParquet.readTermDictFull(p)
    assert(fullLocal.sorted == fullSpark.toSeq.sorted)
  }

  test("multi-file reads on the shared pool keep file order; a broken file fails the read") {
    val src = LocalParquet.dataFiles(s"$dir/docstore").map(_._1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-localpq-multi").toFile
    try {
      // more files than cores, so every worker takes several
      val copies = (0 until 3 * Runtime.getRuntime.availableProcessors()).map { k =>
        val f = src(k % src.size)
        val to = new java.io.File(tmp, f"part-$k%03d.parquet")
        java.nio.file.Files.copy(f.toPath, to.toPath)
        f
      }
      def ids(d: String) = LocalParquet.read(d, Seq("docId"), null, (g, _) => LocalParquet.lng(g, "docId"))
      val expect = copies.flatMap(f => ids(f.getPath))
      assert(ids(tmp.getPath) == expect)
      java.nio.file.Files.write(new java.io.File(tmp, "part-999.parquet").toPath, "not parquet".getBytes)
      assertThrows[Exception](ids(tmp.getPath))
    } finally scala.reflect.io.Directory(tmp).deleteRecursively()
  }

  test("termdict first-code-point bucket read matches the Spark startsWith scan") {
    import spark.implicits._
    val p = idx.termdictPath.get
    // two hi buckets plus a supplementary-plane one no term starts with,
    // under a record-level keep predicate
    val words = Seq(Webtext.word("hi", 3), Webtext.word("hi", 7))
    val cps = words.map(_.codePointAt(0)) :+ 0x10330
    val keep = (t: String) => QueryCore.cpLen(t) >= 4
    val prefixes = cps.map(cp => new String(Character.toChars(cp)))
    val sparkRows = spark.read.parquet(p)
      .where(col("lang") === "hi" && prefixes.map(col("term").startsWith).reduce(_ || _))
      .select("term", "df").as[(String, Long)].collect()
      .filter(r => keep(r._1))
    // the reader hands keep the first code point and the length read off
    // the UTF-8 bytes: a wrong decode of either drops or admits rows
    val localRows = LocalParquet.readTermDictBuckets(p, "hi", cps, (cp, len) =>
      len >= 4 && cps.contains(cp))
    assert(localRows.nonEmpty)
    assert(localRows.sorted == sparkRows.toSeq.sorted)
    assert(LocalParquet.readTermDictBuckets(p, "hi", Seq(0x10330), (_, _) => true).isEmpty)
  }

  test("search over the local fast path equals the Spark-collect driver path") {
    // the production search() takes the local branch on this local dir; the
    // Spark branch is forced by pointing MaxDriverPostings at the executor
    // cogroup path, which shares none of the local reader — identical pages
    // prove the whole read layer agrees end-to-end
    val qs = Seq(
      QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" ")),
      QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "), mode = "any"),
      QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "), phrase = true),
      QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "),
        metaFilters = Map("category" -> Seq("Pravachan"))),
      QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "),
        dateRange = Some((Some(2019), Some(2020)))))
    val prev = Bm25Query.MaxDriverPostings
    try {
      qs.foreach { q =>
        val local = Bm25Query.search(spark, idx, q)
        Bm25Query.MaxDriverPostings = 0 // force the executor cogroup path
        val dist = Bm25Query.search(spark, idx, q)
        Bm25Query.MaxDriverPostings = prev
        assert(local.hits.map(h => (h.docId, h.score)) ==
          dist.hits.map(h => (h.docId, h.score)), s"page mismatch for $q")
        assert(local.totalHits == dist.totalHits, s"total mismatch for $q")
      }
    } finally Bm25Query.MaxDriverPostings = prev
  }
}
