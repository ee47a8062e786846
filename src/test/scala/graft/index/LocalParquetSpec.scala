package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{SparkTestSession, Webtext}
import graft.query.{Bm25Query, InMemoryIndex, IndexHandle, QueryCore, QuerySpec}
import graft.testkit.GraftTestFs

/** The driver-side parquet reader must return EXACTLY the rows the Spark
  * scans of the same tables return — every reader shape is compared
  * row-for-row against the equivalent Spark read over a real built index
  * (the same files, the same pushdown predicates), with the index dir given
  * bare, as a `file:` URI and under a test-only FileSystem scheme.
  */
class LocalParquetSpec extends AnyFunSuite {
  lazy val spark = { val s = SparkTestSession.spark; GraftTestFs.register(s); s }

  val dir = "/tmp/graft-test-localpq-idx"
  lazy val idx: IndexHandle = {
    val d = new java.io.File(dir)
    if (d.exists()) scala.reflect.io.Directory(d).deleteRecursively()
    IndexBuild.build(spark, Webtext.synthesize(spark, 2000, partitions = 8).toDF(),
      dir, numChunks = 2, saltTargetPostings = 64)
    IndexHandle.load(dir)
  }

  /** The index dir as the reader sees it: bare, `file:` and `graftfs:`. */
  private def forms: Seq[String] = { idx; Seq(dir, s"file://$dir", GraftTestFs.uri(dir)) }
  private def table(form: String, path: String): String = form + path.stripPrefix(dir)

  private def blobKey(b: Array[Byte]): String =
    if (b == null) "∅" else java.util.Arrays.hashCode(b).toString + ":" + b.length

  test("segments point read matches the Spark pruned scan") {
    import spark.implicits._
    val terms = Webtext.GoldenPhrase("hi").toSeq :+ "nonexistenttermxyz"
    val sparkRows = spark.read.parquet(idx.segmentsPath)
      .where(col("lang") === "hi" && col("term").isin(terms: _*))
      .select(col("chunk"), col("term"), col("df"), col("blob"), col("posBlob"))
      .as[QueryCore.PostRow].collect()
    def key(r: QueryCore.PostRow) =
      (r._1, r._2, r._3, blobKey(r._4), blobKey(r._5))
    forms.foreach { d =>
      val localRows = LocalParquet
        .readSegmentRows(table(d, idx.segmentsPath), "hi", terms, withPositions = true)
      assert(localRows.nonEmpty, "fixture produced no posting rows")
      assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted, d)
    }
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
      def key(r: (String, String, Array[Byte], Array[Byte])) =
        (r._1, r._2, blobKey(r._3), blobKey(r._4))
      forms.foreach { d =>
        val localRows = LocalParquet.readSegmentsFull(table(d, idx.segmentsPath), buckets, None)
        assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted, d)
        assert(buckets.isEmpty || localRows.nonEmpty)
      }
    }
  }

  test("segments full read honors a chunk subset (doc-shard load)") {
    import spark.implicits._
    val sparkRows = spark.read.parquet(idx.segmentsPath)
      .where(col("chunk") === 1)
      .select("lang", "term", "blob", "posBlob")
      .as[(String, String, Array[Byte], Array[Byte])].collect()
    def key(r: (String, String, Array[Byte], Array[Byte])) =
      (r._1, r._2, blobKey(r._3), blobKey(r._4))
    forms.foreach { d =>
      val localRows = LocalParquet.readSegmentsFull(table(d, idx.segmentsPath), None, Some(Set(1)))
      assert(localRows.nonEmpty)
      assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted, d)
    }
  }

  test("facet reads match the Spark scan: value-in and date-range conds") {
    import spark.implicits._
    // value-in on a real facet key + the Q5 date-rule ranges
    val conds: Seq[(String, Option[Seq[String]], Option[(Option[String], Option[String])])] =
      Seq(("category", Some(Seq("Pravachan")), None),
        ("date", None, Some((Some("2019-01-01"), Some("2020-12-31")))),
        ("has_date", Some(Seq("0")), None))
    val sparkRows = spark.read.parquet(idx.facetsPath)
      .where(col("lang") === "hi" &&
        ((col("key") === "category" && col("value").isin("Pravachan")) ||
         (col("key") === "date" && col("value") >= "2019-01-01" && col("value") <= "2020-12-31") ||
         (col("key") === "has_date" && col("value") === "0")))
      .select("chunk", "key", "value", "df", "docIds")
      .as[(Int, String, String, Long, Array[Byte])].collect()
    def key(r: (Int, String, String, Long, Array[Byte])) =
      (r._1, r._2, r._3, r._4, blobKey(r._5))
    forms.foreach { d =>
      val localRows = LocalParquet.readFacetRows(table(d, idx.facetsPath), "hi", conds)
      assert(localRows.nonEmpty, "fixture produced no facet rows")
      assert(localRows.map(key).sorted == sparkRows.toSeq.map(key).sorted, d)
    }
  }

  test("docstore point reads match the Spark isin scan (incl. meta + misses)") {
    import spark.implicits._
    val ids = Seq(3L, 57L, 110L, 999999993L) // incl. a miss
    val sparkRows = spark.read.parquet(s"$dir/docstore")
      .where(col("docId").isin(ids: _*))
      .select("docId", "url", "lang", "text")
      .as[(Long, String, String, String)].collect()
    val sparkMeta = spark.read.parquet(s"$dir/docstore")
      .where(col("docId").isin(ids: _*))
      .select("docId", "meta")
      .as[(Long, Map[String, String])].collect().toMap
    forms.foreach { d =>
      val localRows = LocalParquet.readDocPayloads(s"$d/docstore", ids)
      assert(localRows.map(r => (r._1, r._2, r._3, r._4)).sorted ==
        sparkRows.toSeq.sorted, d)
      val withMeta = LocalParquet.readDocPayloadsMeta(s"$d/docstore", ids)
      assert(withMeta.map(r => r._1 -> r._5).toMap == sparkMeta, d)
    }
  }

  test("termdict reads match the Spark pruned scan") {
    import spark.implicits._
    val terms = Webtext.GoldenPhrase("hi").toSeq
    val p = idx.termdictPath.get
    val sparkRows = spark.read.parquet(p)
      .where(col("lang") === "hi" && col("term").isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect()
    val fullSpark = spark.read.parquet(p).select("lang", "term", "df")
      .as[(String, String, Long)].collect()
    forms.foreach { d =>
      val localRows = LocalParquet.readTermDict(table(d, p), "hi", terms)
      assert(localRows.nonEmpty)
      assert(localRows.sorted == sparkRows.toSeq.sorted, d)
      assert(LocalParquet.readTermDictFull(table(d, p)).sorted == fullSpark.toSeq.sorted, d)
    }
  }

  test("multi-file reads on the shared pool keep file order; a broken file fails the read") {
    val src = LocalParquet.dataFiles(s"$dir/docstore").map(f =>
      new java.io.File(f._1.getPath.toUri.getPath))
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
    forms.foreach { d =>
      val localRows = LocalParquet.readTermDictBuckets(table(d, p), "hi", cps, (cp, len) =>
        len >= 4 && cps.contains(cp))
      assert(localRows.nonEmpty)
      assert(localRows.sorted == sparkRows.toSeq.sorted, d)
      assert(LocalParquet.readTermDictBuckets(table(d, p), "hi", Seq(0x10330), (_, _) => true).isEmpty)
    }
  }

  test("search over the local fast path equals the Spark-collect driver path") {
    // the production search() reads on the driver; MaxDriverPostings = 0
    // forces the executor cogroup path, whose Spark scans share none of the
    // driver reader — identical pages prove the whole read layer agrees
    // end-to-end
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

  test("a missing table dir fails the read, naming the path; an empty chunk selection is no error") {
    val copy = "/tmp/graft-test-localpq-nodocstore"
    val c = new java.io.File(copy)
    if (c.exists()) scala.reflect.io.Directory(c).deleteRecursively()
    def cp(f: java.io.File, t: java.io.File): Unit =
      if (f.isDirectory) { t.mkdirs(); f.listFiles().foreach(k => cp(k, new java.io.File(t, k.getName))) }
      else java.nio.file.Files.copy(f.toPath, t.toPath)
    try {
      cp(new java.io.File(idx.dir), c)
      scala.reflect.io.Directory(new java.io.File(s"$copy/docstore")).deleteRecursively()
      val h = IndexHandle.load(copy)
      def failsNaming(body: => Any): Unit = {
        val e = intercept[java.io.FileNotFoundException](body)
        assert(e.getMessage.contains(s"$copy/docstore"), e.getMessage)
      }
      // a query WITH hits reaches the payload read
      failsNaming(Bm25Query.search(spark, h, QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))))
      failsNaming(InMemoryIndex.load(spark, h))
      assert(LocalParquet.readSegmentsFull(h.segmentsPath, None, Some(Set(99))).isEmpty)
    } finally scala.reflect.io.Directory(c).deleteRecursively()
  }
}
