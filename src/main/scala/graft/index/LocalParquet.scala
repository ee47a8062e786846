package graft.index

import java.io.File
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.MessageType

/** Driver-local parquet reads for the query engine's POINT-LOOKUP shapes.
  *
  * The driver kernel path (Bm25Query.search below MaxDriverPostings), the
  * payload point-fetches and the resident node's load all end in a
  * `collect()` of a small, pushdown-pruned scan — the data lands on the
  * driver BY DESIGN (bounded by MaxDriverPostings / page size / node RAM).
  * Routing those reads through a Spark job pays ~0.2 s of job overhead
  * (planning, file-listing, task scheduling, executor→driver row
  * serialization) to move a few KB, which dominated every warm query latency
  * in the round-5 bench (guide §1: measured; §5: the driver path is the
  * Lucene-node analog, not a driver anti-pattern — the same gates still
  * route large queries to the executor cogroup path, which is untouched).
  *
  * This reader opens the same parquet files directly on the driver with
  * parquet-mr, with the same pushdown (row-group stats + dictionary +
  * record-level filtering via FilterApi — the predicates the Spark scan
  * pushed as PushedFilters) and the same projection (derived per file from
  * the file's own footer schema, so repetition/annotation always match).
  * Results are row-for-row what the Spark collect returned; LocalParquetSpec
  * gates equality on a built index. Only `file:`/bare local paths qualify —
  * object-store/HDFS index dirs fall back to the Spark read
  * ([[isLocalDir]]), so this is a fast path, not a capability change.
  *
  * No caching anywhere: every call re-lists and re-reads the files, exactly
  * like the Spark scan it replaces (the serving layer's own caches — df
  * cache, payload cache — sit above this and are unchanged).
  */
object LocalParquet {

  /** ParquetReader builder over an InputFile + plain (non-Hadoop) config —
    * the public static builders only accept a Hadoop Path and construct a
    * full `new Configuration()` (XML-resource parse) in the constructor.
    */
  private class GroupBuilder(file: org.apache.parquet.io.InputFile,
      conf: org.apache.parquet.conf.ParquetConfiguration)
      extends ParquetReader.Builder[Group](file, conf) {
    override protected def getReadSupport(): ReadSupport[Group] =
      new GroupReadSupport()
  }

  /** Workers of multi-file reads, shared by every call so that a read
    * starts no threads of its own (thread start-up on a busy host made
    * query latency uneven). Daemon threads; idle ones exit after a minute.
    */
  private lazy val filePool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-local-parquet")
    t.setDaemon(true)
    t
  }

  /** A directory this reader may serve: plain local path or file: URI. */
  def isLocalDir(dir: String): Boolean =
    dir.startsWith("/") || dir.startsWith("file:")

  private def stripScheme(dir: String): String =
    if (dir.startsWith("file://")) dir.stripPrefix("file://")
    else if (dir.startsWith("file:")) dir.stripPrefix("file:")
    else dir

  /** All data files under `dir` with their dir-derived chunk id (None for a
    * flat layout — compact tables carry `chunk` as a data column instead).
    */
  def dataFiles(dir: String): Seq[(File, Option[Int])] = {
    val out = Seq.newBuilder[(File, Option[Int])]
    def visit(f: File, chunk: Option[Int]): Unit = {
      if (f.isDirectory) {
        val c = if (f.getName.startsWith("chunk="))
          f.getName.stripPrefix("chunk=").toIntOption.orElse(chunk)
        else chunk
        val kids = f.listFiles()
        if (kids != null) kids.foreach(visit(_, c))
      } else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".") &&
                 !f.getName.startsWith("_"))
        out += ((f, chunk))
    }
    visit(new File(stripScheme(dir)), None)
    // deterministic file order (collect order was never meaningful, but a
    // stable order makes debugging reproducible)
    out.result().sortBy(_._1.getPath)
  }

  /** Read the matching rows of every selected file with the projection
    * `wanted` (field names; each file's projection is assembled from ITS OWN
    * footer schema so repetition/logical annotations always match — names
    * absent from a file are skipped), applying `pred` (null = none). Files
    * are read in parallel; per-file row lists concatenate in file order.
    */
  def read[T](dir: String, wanted: Seq[String], pred: FilterPredicate,
      row: (Group, Option[Int]) => T, dictFilter: Boolean = true): Seq[T] =
    readFiltered(dir, wanted, pred, _ => true, row, dictFilter)

  /** [[read]] with a file-level (dir-chunk) selection predicate.
    * `dictFilter = false` skips parquet's dictionary-page filtering tier for
    * tables SORTED on their filter columns (segments/termdict by term,
    * docstore by docId): there the page-level column index already prunes
    * precisely, and the dictionary check would decompress each file's full
    * dictionary page (~50k+ terms) just to re-reject what stats/column-index
    * pruning rejects for free. Facet reads keep it on (values not sorted).
    */
  def readFiltered[T](dir: String, wanted: Seq[String], pred: FilterPredicate,
      fileSel: Option[Int] => Boolean, row: (Group, Option[Int]) => T,
      dictFilter: Boolean = true): Seq[T] = {
    val files = dataFiles(dir).filter { case (_, c) => fileSel(c) }
    if (files.isEmpty) return Nil
    // ONE PlainParquetConfiguration for the whole call — the decisive cost
    // of the naive reader was that EVERY ParquetReader.builder(Path) and
    // bare ParquetFileReader.open constructs `new Configuration()`, which
    // parses Hadoop's XML default resources: ~7 ms PER FILE (stack-sampled:
    // wstx XML reader + Configuration.loadProperty dominated the open loop).
    // The plain (non-Hadoop) configuration skips all of it; LocalInputFile
    // (java.nio) also bypasses the Hadoop FileSystem/checksum layer.
    val pconf = new org.apache.parquet.conf.PlainParquetConfiguration()
    // projection derived ONCE per call from the first file's own schema
    // (exact repetition + logical types, so checkContains can never reject
    // it) — all files of a table dir share the write job's schema, and a
    // per-file footer pre-read would double the dominant per-file open cost
    val projStr = {
      val fr = ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(files.head._1.toPath),
        org.apache.parquet.ParquetReadOptions.builder(pconf).build())
      val fileSchema = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
      val fieldList = new java.util.ArrayList[org.apache.parquet.schema.Type]()
      wanted.filter(fileSchema.containsField)
        .foreach(n => fieldList.add(fileSchema.getType(Array(n): _*)))
      new MessageType(fileSchema.getName, fieldList).toString
    }
    pconf.set(ReadSupport.PARQUET_READ_SCHEMA, projStr)
    val results = new Array[Seq[T]](files.size)
    def readFile(i: Int): Unit = {
      val (f, chunk) = files(i)
      var b: ParquetReader.Builder[Group] = new LocalParquet.GroupBuilder(
        new org.apache.parquet.io.LocalInputFile(f.toPath), pconf)
      // all of parquet-mr's filtering tiers stay ON (row-group stats,
      // dictionary, column index, record level) — an A/B with
      // dictionary filtering disabled regressed point reads ~6×
      // (the dictionary check is what rejects whole row groups here;
      // the column index alone let the record filter decode far more
      // pages)
      if (pred != null)
        b = b.withFilter(FilterCompat.get(pred)).useDictionaryFilter(dictFilter)
      val reader = b.build()
      val buf = Seq.newBuilder[T]
      try {
        var g = reader.read()
        while (g != null) {
          buf += row(g, chunk)
          g = reader.read()
        }
      } finally reader.close()
      results(i) = buf.result()
    }
    // a point read usually selects one file: read it on the calling thread.
    // Several files are read by up to nproc workers of the shared pool,
    // each taking the next unread file
    if (files.size == 1) readFile(0)
    else {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val workers = math.min(files.size, math.max(2, Runtime.getRuntime.availableProcessors()))
      val futs = (0 until workers).map { _ =>
        filePool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            var i = next.getAndIncrement()
            while (i < files.size) { readFile(i); i = next.getAndIncrement() }
          }
        })
      }
      // join every worker before propagating the first failure, so no read
      // of this call is still running when it returns
      val errs = futs.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      errs.headOption.foreach(e => throw e)
    }
    results.toSeq.flatten
  }

  // ---- field accessors (null-safe: parquet optional fields with no value
  // have repetition count 0) ----
  def str(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null
    else g.getString(field, 0)
  def lng(g: Group, field: String): Long =
    if (g.getFieldRepetitionCount(field) == 0) 0L else g.getLong(field, 0)
  def int(g: Group, field: String): Int =
    if (g.getFieldRepetitionCount(field) == 0) 0 else g.getInteger(field, 0)
  def bin(g: Group, field: String): Array[Byte] =
    if (g.getFieldRepetitionCount(field) == 0) null
    else g.getBinary(field, 0).getBytes
  /** Spark-layout map<string,string> column (key_value{key, value}). */
  def strMap(g: Group, field: String): Map[String, String] =
    if (g.getFieldRepetitionCount(field) == 0) null
    else {
      val m = g.getGroup(field, 0)
      val n = m.getFieldRepetitionCount("key_value")
      val b = Map.newBuilder[String, String]
      var i = 0
      while (i < n) {
        val kv = m.getGroup("key_value", i)
        val v = if (kv.getFieldRepetitionCount("value") == 0) null
                else kv.getString("value", 0)
        b += (kv.getString("key", 0) -> v)
        i += 1
      }
      b.result()
    }

  /** Chunk id of a row: the dir-derived id for `chunk=K` layouts, else the
    * data column (compact tables). A flat file without the column is a
    * layout bug — fail loudly rather than fabricate a chunk id.
    */
  def chunkOf(g: Group, dirChunk: Option[Int]): Int = dirChunk.getOrElse {
    require(g.getType.containsField("chunk"),
      "flat parquet layout without a chunk column — unexpected index layout")
    int(g, "chunk")
  }

  // ---- filter helpers ----
  // small membership sets render as OR-of-eq chains, NOT FilterApi.in: the
  // page-level column-index evaluator handles eq precisely, while the in()
  // predicate fell back to record-level filtering over every page of the
  // row group (stack-sampled: the whole blob column decompressed and the
  // term column compared row-by-row). Beyond the chain cap the set form is
  // kept — at that size the query is not a point lookup anyway.
  private val OrChainMax = 64
  def inStrings(field: String, vs: Iterable[String]): FilterPredicate = {
    val c = FilterApi.binaryColumn(field)
    val distinct = vs.toSeq.distinct
    if (distinct.sizeIs <= OrChainMax)
      distinct.map(v => FilterApi.eq(c, Binary.fromString(v)): FilterPredicate)
        .reduce(or)
    else {
      val set = new java.util.HashSet[Binary]()
      distinct.foreach(v => set.add(Binary.fromString(v)))
      FilterApi.in(c, set)
    }
  }
  def inLongs(field: String, vs: Iterable[Long]): FilterPredicate = {
    val c = FilterApi.longColumn(field)
    val distinct = vs.toSeq.distinct
    if (distinct.sizeIs <= OrChainMax)
      distinct.map(v => FilterApi.eq(c, java.lang.Long.valueOf(v)): FilterPredicate)
        .reduce(or)
    else {
      val set = new java.util.HashSet[java.lang.Long]()
      distinct.foreach(v => set.add(java.lang.Long.valueOf(v)))
      FilterApi.in(c, set)
    }
  }
  def inInts(field: String, vs: Iterable[Int]): FilterPredicate = {
    val c = FilterApi.intColumn(field)
    val distinct = vs.toSeq.distinct
    if (distinct.sizeIs <= OrChainMax)
      distinct.map(v => FilterApi.eq(c, java.lang.Integer.valueOf(v)): FilterPredicate)
        .reduce(or)
    else {
      val set = new java.util.HashSet[java.lang.Integer]()
      distinct.foreach(v => set.add(java.lang.Integer.valueOf(v)))
      FilterApi.in(c, set)
    }
  }
  def eqString(field: String, v: String): FilterPredicate =
    FilterApi.eq(FilterApi.binaryColumn(field), Binary.fromString(v))
  def and(a: FilterPredicate, b: FilterPredicate): FilterPredicate =
    if (a == null) b else if (b == null) a else FilterApi.and(a, b)
  def or(a: FilterPredicate, b: FilterPredicate): FilterPredicate =
    if (a == null) b else if (b == null) a else FilterApi.or(a, b)
  /** lo <= field <= hi on a string column (either bound open). Parquet's
    * STRING comparator is unsigned-lexicographic on UTF-8 bytes — the same
    * order Spark's UTF8String comparisons pushed to this scan used.
    */
  def strRange(field: String, lo: Option[String], hi: Option[String]): FilterPredicate = {
    val c = FilterApi.binaryColumn(field)
    and(lo.map(l => FilterApi.gtEq(c, Binary.fromString(l))).orNull,
        hi.map(h => FilterApi.ltEq(c, Binary.fromString(h))).orNull)
  }

  // ---- table-shaped readers (projections mirror the Spark selects) ----

  /** Segments rows (chunk, term, df, blob, posBlob?) for (lang, terms). */
  def readSegmentRows(segmentsPath: String, lang: String, terms: Seq[String],
      withPositions: Boolean): Seq[(Int, String, Long, Array[Byte], Array[Byte])] = {
    val wanted = Seq("lang", "term", "df", "blob") ++
      (if (withPositions) Seq("posBlob") else Nil) ++
      (if (segmentsPath.endsWith("_compact")) Seq("chunk") else Nil)
    val pred = and(eqString("lang", lang), inStrings("term", terms))
    read(segmentsPath, wanted, pred, (g, c) =>
      (chunkOf(g, c), str(g, "term"), lng(g, "df"), bin(g, "blob"),
        if (withPositions) bin(g, "posBlob") else null), dictFilter = false)
  }

  /** Full segments load (lang, term, blob, posBlob), optional bucket/chunk
    * subsetting — the resident node's load-time scan.
    */
  def readSegmentsFull(segmentsPath: String, buckets: Option[Set[Int]],
      chunks: Option[Set[Int]]): Seq[(String, String, Array[Byte], Array[Byte])] = {
    if (buckets.exists(_.isEmpty)) return Nil // empty shard, like isin(∅)
    val wanted = Seq("lang", "term", "blob", "posBlob") ++
      (if (buckets.isDefined) Seq("bucket") else Nil)
    val pred = buckets.map(bs => inInts("bucket", bs)).orNull
    val files = chunks match {
      case Some(cs) => (g: Option[Int]) => g.exists(cs.contains)
      case None     => (_: Option[Int]) => true
    }
    // chunk subsetting is file selection (chunk=K dirs): filter the listing
    readFiltered(segmentsPath, wanted, pred, files, (g, _) =>
      (str(g, "lang"), str(g, "term"), bin(g, "blob"), bin(g, "posBlob")))
  }

  /** Facet rows (chunk, key, value, df, docIds) matching any of `conds`
    * (each: key + optional value-in + optional value range), for `lang`.
    */
  def readFacetRows(facetsPath: String, lang: String,
      conds: Seq[(String, Option[Seq[String]], Option[(Option[String], Option[String])])],
      withBlob: Boolean = true)
      : Seq[(Int, String, String, Long, Array[Byte])] = {
    val wanted = Seq("lang", "key", "value", "df") ++
      (if (withBlob) Seq("docIds") else Nil) ++
      (if (facetsPath.endsWith("_compact")) Seq("chunk") else Nil)
    val condPred = conds.map { case (key, inVals, range) =>
      var p = eqString("key", key)
      inVals.foreach(vs => p = and(p, inStrings("value", vs)))
      range.foreach { case (lo, hi) => p = and(p, strRange("value", lo, hi)) }
      p
    }.reduceOption(or).orNull
    val pred = and(eqString("lang", lang), condPred)
    read(facetsPath, wanted, pred, (g, c) =>
      (chunkOf(g, c), str(g, "key"), str(g, "value"), lng(g, "df"),
        if (withBlob) bin(g, "docIds") else null))
  }

  /** Full facets load (lang, key, value, df, docIds) with bucket/chunk
    * subsetting — the resident node's load-time scan.
    */
  def readFacetsFull(facetsPath: String, buckets: Option[Set[Int]],
      chunks: Option[Set[Int]]): Seq[(String, String, String, Long, Array[Byte])] = {
    if (buckets.exists(_.isEmpty)) return Nil // empty shard, like isin(∅)
    val wanted = Seq("lang", "key", "value", "df", "docIds") ++
      (if (buckets.isDefined) Seq("bucket") else Nil)
    val pred = buckets.map(bs => inInts("bucket", bs)).orNull
    val files = chunks match {
      case Some(cs) => (g: Option[Int]) => g.exists(cs.contains)
      case None     => (_: Option[Int]) => true
    }
    readFiltered(facetsPath, wanted, pred, files, (g, _) =>
      (str(g, "lang"), str(g, "key"), str(g, "value"), lng(g, "df"),
        bin(g, "docIds")))
  }

  /** Docstore point-read: (docId, url, lang, text) for an id set. Row-group
    * stats prune to ~one row group per file (docId-sorted docstore), the
    * same pruning the Spark isin scan relied on.
    */
  def readDocPayloads(docstorePath: String, ids: Seq[Long])
      : Seq[(Long, String, String, String)] = {
    read(docstorePath, Seq("docId", "url", "lang", "text"),
      inLongs("docId", ids), (g, _) =>
      (lng(g, "docId"), str(g, "url"), str(g, "lang"), str(g, "text")),
      dictFilter = false)
  }

  /** Docstore point-read WITH meta (the context / similar-docs endpoints). */
  def readDocPayloadsMeta(docstorePath: String, ids: Seq[Long])
      : Seq[(Long, String, String, String, Map[String, String])] = {
    read(docstorePath, Seq("docId", "url", "lang", "text", "meta"),
      inLongs("docId", ids), (g, _) =>
      (lng(g, "docId"), str(g, "url"), str(g, "lang"), str(g, "text"),
        strMap(g, "meta")), dictFilter = false)
  }

  /** Full docstore payload load (docId, url, text) — resident full node. */
  def readDocstoreFull(docstorePath: String): Seq[(Long, String, String)] =
    read(docstorePath, Seq("docId", "url", "text"), null, (g, _) =>
      (lng(g, "docId"), str(g, "url"), str(g, "text")))

  /** Termdict lookup: (term, df) rows for a term set in one language. */
  def readTermDict(termdictPath: String, lang: String, terms: Seq[String])
      : Seq[(String, Long)] = {
    val pred = and(eqString("lang", lang), inStrings("term", terms))
    read(termdictPath, Seq("lang", "term", "df"), pred,
      (g, _) => (str(g, "term"), lng(g, "df")), dictFilter = false)
  }

  /** Termdict rows (term, df) of `lang` whose first code point is one of
    * `firstCps`, keeping only terms that pass `keep`. Each code point cp
    * selects the term range [utf8(cp), utf8(cp+1)) — UTF-8 byte order is
    * code-point order, and the termdict is sorted on (lang, term), so the
    * column index prunes the read to those buckets. `keep(firstCp, cpLen)`
    * runs as a record-level predicate on each term's UTF-8 bytes while
    * reading (no String is built for a rejected row): rejected rows are
    * never collected, so a large bucket is streamed, not held.
    */
  def readTermDictBuckets(termdictPath: String, lang: String, firstCps: Seq[Int],
      keep: (Int, Int) => Boolean): Seq[(String, Long)] = {
    if (firstCps.isEmpty) return Nil
    val c = FilterApi.binaryColumn("term")
    val buckets = firstCps.distinct.map { cp =>
      val lo = new String(Character.toChars(cp)).getBytes("UTF-8")
      // the exclusive upper bound bumps the last byte: a UTF-8 sequence
      // never ends in 0xFF, and every term starting with cp sorts below it
      val hi = lo.clone()
      hi(hi.length - 1) = (hi(hi.length - 1) + 1).toByte
      FilterApi.and(FilterApi.gtEq(c, Binary.fromConstantByteArray(lo)),
        FilterApi.lt(c, Binary.fromConstantByteArray(hi))): FilterPredicate
    }.reduce(or)
    val pred = and(eqString("lang", lang),
      FilterApi.and(buckets, FilterApi.userDefined(c, new KeepTerms(keep))))
    read(termdictPath, Seq("lang", "term", "df"), pred,
      (g, _) => (str(g, "term"), lng(g, "df")), dictFilter = false)
  }

  /** Record-level term predicate: never drops a row group or page (the
    * bucket ranges do that), only rows whose term fails `p(firstCp, cpLen)`,
    * both read off the (valid) UTF-8 bytes without decoding the term. */
  private final class KeepTerms(p: (Int, Int) => Boolean)
      extends org.apache.parquet.filter2.predicate.UserDefinedPredicate[Binary]
      with Serializable {
    def keep(v: Binary): Boolean = v != null && v.length > 0 && {
      val b = v.toByteBuffer
      val at = b.position
      val n = b.remaining
      var cps = 0
      var i = 0
      while (i < n) {
        if ((b.get(at + i) & 0xC0) != 0x80) cps += 1 // not a continuation byte
        i += 1
      }
      val b0 = b.get(at) & 0xFF
      def cont(k: Int) = if (k < n) b.get(at + k) & 0x3F else 0
      val first =
        if (b0 < 0x80) b0
        else if (b0 < 0xE0) ((b0 & 0x1F) << 6) | cont(1)
        else if (b0 < 0xF0) ((b0 & 0x0F) << 12) | (cont(1) << 6) | cont(2)
        else ((b0 & 0x07) << 18) | (cont(1) << 12) | (cont(2) << 6) | cont(3)
      p(first, cps)
    }
    def canDrop(s: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean = false
    def inverseCanDrop(s: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean = false
  }

  /** Full termdict load: (lang, term, df) — the doc-shard global-df map. */
  def readTermDictFull(termdictPath: String): Seq[(String, String, Long)] =
    read(termdictPath, Seq("lang", "term", "df"), null, (g, _) =>
      (str(g, "lang"), str(g, "term"), lng(g, "df")))
}
