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

  /** A fresh copy of the fixture index at `to`, for a test that changes it. */
  private def copyIndex(to: java.io.File): Unit = {
    if (to.exists()) scala.reflect.io.Directory(to).deleteRecursively()
    def cp(f: java.io.File, t: java.io.File): Unit =
      if (f.isDirectory) { t.mkdirs(); f.listFiles().foreach(k => cp(k, new java.io.File(t, k.getName))) }
      else java.nio.file.Files.copy(f.toPath, t.toPath)
    cp(new java.io.File(idx.dir), to)
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
    val p = idx.termdict
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
    val p = idx.termdict
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
    try {
      copyIndex(c)
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

  // ---- point-read layout budget: footers and page indexes only ----

  /** Per row group of each data file under `table`: its chunk, row count
    * and, per top-level column, (offset index, column index, chunk meta).
    */
  private def rowGroups(table: String): Seq[(Int, Long, Map[String, (
      org.apache.parquet.internal.column.columnindex.OffsetIndex,
      org.apache.parquet.internal.column.columnindex.ColumnIndex,
      org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)])] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    LocalParquet.dataFiles(table).flatMap { case (st, chunk) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        (chunk.get, b.getRowCount, b.getColumns.asScala.map { c =>
          c.getPath.toDotString -> ((r.readOffsetIndex(c), r.readColumnIndex(c), c))
        }.toMap)
      } finally r.close()
    }
  }

  /** Row ranges [first, last] of each page of an offset index. */
  private def pageRanges(oi: org.apache.parquet.internal.column.columnindex.OffsetIndex,
      rows: Long): Seq[(Long, Long)] =
    (0 until oi.getPageCount).map(i => (oi.getFirstRowIndex(i), oi.getLastRowIndex(i, rows)))

  /** `text` pages a docId point read decodes, per chunk: the docId pages
    * whose [min, max] holds a wanted id set the row ranges the column index
    * hands to `text`, and every text page overlapping them is read.
    */
  private def textPagesRead(docstore: String, ids: Seq[Long]): Map[Int, Int] =
    rowGroups(docstore).map { case (k, rows, cols) =>
      val (idOi, idCi, _) = cols("docId")
      def long(b: java.nio.ByteBuffer) = b.order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
      val (mins, maxs) = (idCi.getMinValues, idCi.getMaxValues)
      val read = pageRanges(idOi, rows).zipWithIndex.collect {
        case (range, i) if ids.exists(id => long(mins.get(i)) <= id && id <= long(maxs.get(i))) => range
      }
      k -> pageRanges(cols("text")._1, rows).count { case (a, b) =>
        read.exists { case (lo, hi) => a <= hi && lo <= b }
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** The three point-read layout budgets, per chunk of the index at `d`. */
  private def assertPointReadLayout(d: String): Unit = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val docstore = s"$d/docstore"
    val groups = rowGroups(docstore)
    groups.map(_._1).distinct.foreach { k =>
      val (nDocs, textBytes) = spark.read.parquet(s"$docstore/chunk=$k")
        .agg(count(lit(1)), sum(octet_length(col("text")))).as[(Long, Long)].head()
      val limit = IndexBuild.docPageRows(nDocs, textBytes)
      // the fixture's docs are large enough that pages are sized by bytes
      assert(limit < IndexBuild.PageRowLimit, s"chunk $k: $nDocs docs, $textBytes B")
      for ((gk, rows, cols) <- groups if gk == k; (name, (oi, _, _)) <- cols) {
        val most = pageRanges(oi, rows).map { case (a, b) => b - a + 1 }.max
        assert(most <= limit, s"chunk $k docstore.$name: a page of $most rows, limit $limit")
      }
    }
    for ((k, _, cols) <- rowGroups(s"$d/segments"); name <- Seq("blob", "posBlob")) {
      val meta = cols(name)._3
      assert(!meta.hasDictionaryPage, s"chunk $k segments.$name has a dictionary page")
      assert(!meta.getEncodings.asScala.exists(_.usesDictionary),
        s"chunk $k segments.$name encodings ${meta.getEncodings}")
    }
    val all = spark.read.parquet(docstore).select("docId").as[Long].collect().sorted
    Seq(1, 3, 10).foreach { n =>
      val ids = (0 until n).map(i => all(i * all.length / n + all.length / (2 * n)))
      assert(LocalParquet.readDocPayloads(docstore, ids).map(_._1).sorted == ids.sorted)
      // per chunk: chunks interleave docIds (chunk = docId mod numChunks),
      // so every chunk's docstore has a page whose [min, max] holds an id
      val pages = textPagesRead(docstore, ids)
      assert(pages.values.forall(_ <= n), s"$n ids read $pages text pages per chunk")
    }
  }

  test("point-read layout: byte-sized docstore pages, no blob dictionaries, k ids read <= k text pages") {
    assertPointReadLayout(idx.dir)
    // a mutation rewrites its chunk in the same layout, its page rows
    // derived from the rewritten chunk's own bytes (texts doubled here)
    val copy = "/tmp/graft-test-localpq-layout"
    val c = new java.io.File(copy)
    try {
      copyIndex(c)
      val chunk1 = Webtext.synthesize(spark, 2000, partitions = 8).toDF()
        .where(pmod(col("docId"), lit(2)) === 1)
        .withColumn("text", concat(col("text"), lit(" "), col("text")))
      val before = LocalParquet.dataFiles(s"$copy/docstore/chunk=1").map(_._1.getPath.getName)
      IndexBuild.reindexDocs(spark, copy, chunk1)
      val after = LocalParquet.dataFiles(s"$copy/docstore/chunk=1").map(_._1.getPath.getName)
      assert(before.intersect(after).isEmpty, "chunk 1 was not rewritten")
      assertPointReadLayout(copy)
    } finally scala.reflect.io.Directory(c).deleteRecursively()
  }
}
