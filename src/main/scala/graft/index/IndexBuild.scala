package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.analysis.Analyzer
import graft.corpus.Webtext

/** One term's postings within one document (map-side aggregated: tf and
  * positions are computed per-row during tokenization — no (term,docId)
  * shuffle is ever needed for tf).
  */
case class TermDoc(lang: String, term: String, docId: Long, tf: Int, positions: Array[Int], dl: Int)

/** One encoded posting run: the postings of (lang, term, salt) within one
  * build chunk, already docId-sorted and block-compressed.
  */
case class Run(lang: String, term: String, salt: Int, blob: Array[Byte], posBlob: Array[Byte])

/** Final per-term segment row. `chunk` identifies the segment (per-chunk
  * segments mirror Lucene's per-segment design: query-time WAND runs per
  * segment in parallel and merges top-k).
  */
case class SegmentRow(chunk: Int, lang: String, bucket: Int, term: String,
    df: Long, cf: Long, blob: Array[Byte], posBlob: Array[Byte])

case class FacetRow(chunk: Int, lang: String, bucket: Int, key: String, value: String,
    df: Long, docIds: Array[Byte])

case class LangStats(lang: String, docs: Long, totalTokens: Long) {
  def avgdl: Double = if (docs == 0) 0.0 else totalTokens.toDouble / docs
}

/** Per-chunk checkpoint manifest row — the engine's analog of the reference's
  * SQLite `indexed_files_state` checksum-skip (backend/crawler/index_state.py:21-39,
  * discovery.py:167-171): a killed build resumes by anti-joining pending
  * chunks against this manifest, with per-partition lineage + metrics
  * (north rule).
  */
case class ManifestRow(chunk: Int, status: String, docs: Long, tokens: Long,
    terms: Long, inputChecksum: String, wallMs: Long)

/** Index-level build properties persisted at build time (`props.json`).
  * Mutations (delete-by-query / reindex / streaming MERGE) rebuild chunks with
  * the RECORDED mode, never the API default — a positions-free index stays
  * positions-free through any number of partial rewrites (a mixed index would
  * silently lose the size/exchange savings and serve phrase queries
  * inconsistently per chunk).
  */
case class IndexProps(storePositions: Boolean, numChunks: Int, saltTargetPostings: Int)

/** Inverted-index builder: a typed Dataset pipeline (no RDDs).
  *
  * Reference behavior replaced: the OpenSearch bulk-indexing path
  * (backend/crawler/index_generator.py:280-321) plus everything Lucene does
  * with the documents afterwards. Spark-first design:
  *
  *   webtext chunk (docId mod numChunks)
  *     → one-pass tokenize (analyze once per doc; per-doc tf/positions
  *       computed map-side — no shuffle for tf)
  *     → docstore write (payloads + dl)
  *     → per-chunk df aggregation → head terms (Zipf skew) get a salt factor
  *     → repartitionByRange(lang, term, salt) + sortWithinPartitions
  *       (ONE wide exchange per chunk — the only index-build shuffle)
  *     → mapPartitions: PostingListWriter per (lang,term,salt) group → runs
  *     → groupByKey(lang,term): k-way sort-merge of salted runs (disjoint doc
  *       sets) → final block-compressed posting lists + skip + block-max
  *     → segments/chunk=K + facets/chunk=K + manifest row
  *
  * Scale notes (100 TB / 1000 executors): chunks bound merge-group size (a
  * head term's postings per chunk ≤ chunk doc count); query-time WAND is
  * per-segment parallel, so segments never need a global merge; salting keeps
  * the range-partitioned runs ~uniform; AQE handles residual skew.
  */
object IndexBuild extends Serializable {

  val DefaultBuckets = 64

  /** Target bytes per output parquet file (docstore/segments). 64 MB sits in
    * the guide-§6 sweet band: big enough that per-file open/footer overhead
    * never dominates point reads (the round-5 layout's ~2 ms × 64-128 files
    * per read was most of every warm query latency), small enough that a
    * resident node's parallel load and executor scans keep useful file-level
    * parallelism. Counts derive from measured chunk volume, so the layout
    * adapts from bench scale (a handful of files) to 100 TB chunks (capped
    * at parts/4 files ≥ 64 MB each) with no local-mode constant.
    */
  @volatile var TargetFileBytes: Long =
    sys.env.getOrElse("GRAFT_TARGET_FILE_BYTES", (64L * 1024 * 1024).toString).toLong

  /** parquet.page.row.count.limit for the segments, termdict and facets
    * tables, and the ceiling of the docstore's byte-derived limit
    * ([[docPageRows]]). The default (20k rows/page) lets a whole file's key
    * column fit ONE page, which makes the page-level column index useless: a
    * point read's row range then spans the file and the reader decompresses
    * every page of every projected column (measured: a 1-docId payload
    * fetch decompressed the full 23 MB docstore file).
    *
    * Segments and termdict keep 1024 rows: their rows are small next to a
    * docstore row, and narrower pages made reads slower — with 64-row
    * segments pages a `readSegmentRows` went from 6.5 to 7.7–8.0 ms (4000
    * docs, 4-core host), the extra page headers and column-index entries
    * costing more than the rows they spared.
    */
  val PageRowLimit = 1024

  /** Raw text bytes per docstore page that [[docPageRows]] aims at. */
  private val DocPageTextBytes = 128L * 1024

  /** The docstore's parquet.page.row.count.limit, sized from the chunk's
    * measured mean text bytes per doc so one page holds ~[[DocPageTextBytes]]
    * of text, clamped to [1, [[PageRowLimit]]]. It is a ROW limit, not
    * parquet.page.size: the docId column's pages set the row ranges the
    * column index hands to the `text` column, so they must be as narrow as
    * the text pages. At 1024 rows a 10-hit payload read decompressed the
    * whole docstore of the 4000-doc benchmark index (4.6 MB); at the ~45
    * rows derived there the `disk` workload's median payload read fell from
    * 17.3 to 2.7 ms, for 4.60 → 4.69 MB of docstore (traced, seed 301,
    * 4-core host).
    */
  private[graft] def docPageRows(nDocs: Long, textBytes: Long): Int =
    if (nDocs <= 0 || textBytes <= 0) PageRowLimit
    else math.max(1L, math.min(PageRowLimit.toLong,
      DocPageTextBytes * nDocs / textBytes)).toInt

  /** Head-term detection samples 1 in N docs (deterministic docId hash).
    * Safe because salting is output-invariant (see the head df agg note in
    * buildChunk); set to 1 to restore exact counting.
    */
  @volatile var HeadSampleMod: Int =
    sys.env.getOrElse("GRAFT_HEAD_SAMPLE_MOD", "10").toInt

  /** Max docIds per facet ROW. Facet lists get no salting analog, so a
    * chunk-wide value (has_date covers every doc) would otherwise pool one
    * whole-chunk long array in a single task; slices bound that at ~32 MB.
    * Readers union multiple rows per (lang,key,value) regardless (one per
    * chunk), so slicing is invisible to them.
    */
  val FacetSliceDocs: Int = 4 * 1024 * 1024

  /** Unboxed per-term (tf, positions) accumulator for the tokenize pass. */
  private[index] final class TfPos(storePositions: Boolean) {
    var tf = 0
    private var arr: Array[Int] = if (storePositions) new Array[Int](4) else null
    def add(p: Int): Unit = {
      if (arr != null) {
        if (tf == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
        arr(tf) = p
      }
      tf += 1
    }
    def positions: Array[Int] =
      if (arr == null) Array.emptyIntArray else java.util.Arrays.copyOf(arr, tf)
  }

  /** Facet shard of a facet KEY. Facets shard by key (not (key, value)) so a
    * query can enumerate the shards its filters need — range filters (date,
    * year) touch unenumerable value sets, but their keys are known up front.
    */
  def facetBucketOf(key: String): Int =
    Math.floorMod(key.hashCode, DefaultBuckets)

  /** Term shard of a term — THE definition of the segments `bucket` column.
    * One copy (build writes it at three sites, the query layer routes
    * term-bucket-subset nodes by it): a formula change applied to only some
    * copies would silently desync shard routing from the built column and
    * return empty results for in-shard terms.
    */
  def termBucketOf(term: String): Int =
    Math.floorMod(term.hashCode, DefaultBuckets)

  /** Facet keys the build derives (`year`/`has_date` from warc_ts) or the
    * query kernel routes by (QueryCore's `__`-prefixed date-filter names) —
    * user meta under any of them would merge into derived lists or be
    * misrouted into the date-OR kernel (silent 0-hit queries). ONE
    * definition, enforced at BOTH input choke points (buildChunk's stats
    * agg and the pre-journal mutation validation): a key added to one
    * hand-copy but not the other would pass pre-journal validation, then
    * crash post-journal — exactly the recovery wedge the pre-journal check
    * exists to prevent.
    */
  private[graft] def reservedFacetKeys: Seq[String] =
    Seq("year", "has_date") ++ graft.query.QueryCore.DateKeys

  /** Aggregate column counting meta entries under [[reservedFacetKeys]]. */
  private[graft] def reservedMetaHits(meta: Column): Column =
    coalesce(sum(size(array_intersect(map_keys(meta),
      array(reservedFacetKeys.map(lit): _*)))), lit(0L))

  /** Standardize any webtext-shaped input to the build schema.
    * Input must have: url, warc_ts, (html | text), lang; docId optional
    * (derived deterministically from url hash if absent); meta optional.
    */
  def normalizeInput(df: DataFrame): DataFrame = {
    var d = df
    if (!d.columns.contains("text"))
      d = d.withColumn("text", graft.functions.GraftFunctions.extract_text(col("html")))
    if (!d.columns.contains("docId"))
      d = if (d.columns.contains("doc_id")) d.withColumnRenamed("doc_id", "docId")
          else {
            // url-derived ids: recrawls (the same url at several warc_ts —
            // routine in crawl tables) would collide and crash the posting
            // writer's strictly-increasing-docId invariant deep in the build.
            // Latest capture wins (standard crawl-index semantics); one
            // url-keyed shuffle, only on this derived-id path. The content
            // hash tie-break makes EQUAL-timestamp duplicates (routine in
            // merged WARC sets) pick a deterministic winner — row_number
            // alone would let the signature job and each chunk job elect
            // DIFFERENT rows, breaking the determinism contract below and
            // spuriously invalidating every resume
            // tie-break hashes EVERY content column present at this stage
            // (not just text): rows tied on (warc_ts, text) but differing in
            // lang/meta would otherwise elect arbitrary winners per
            // execution — the signature job and a chunk job could pick
            // DIFFERENT rows, spuriously invalidating every resume and
            // making indexed lang/meta nondeterministic run-to-run. meta is
            // derived LATER in this method (possibly from a bare `source`
            // column), so include whichever precursor the input carries.
            val tieCols = Seq(col("text"), col("lang")) ++
              (if (d.columns.contains("meta"))
                 Seq(sort_array(map_entries(col("meta"))))
               else if (d.columns.contains("source")) Seq(col("source"))
               else Nil)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("url")
              .orderBy(col("warc_ts").desc, xxhash64(tieCols: _*).desc)
            d.withColumn("__rn", row_number().over(w))
              .where(col("__rn") === 1).drop("__rn")
              // mask to non-negative: posting codecs require docId >= 0
              // (deltas from prevLastDoc = 0), and xxhash64 is negative for
              // half of inputs
              .withColumn("docId", xxhash64(col("url")).bitwiseAND(lit(Long.MaxValue)))
          }
    if (!d.columns.contains("meta")) {
      d = if (d.columns.contains("source"))
        d.withColumn("meta", map(lit("source"), col("source")))
      else d.withColumn("meta", map().cast("map<string,string>"))
    }
    d.select(col("docId").cast("long"), col("url"), col("warc_ts"), col("text"),
      col("lang"), col("meta"))
  }

  /** Build (or resume) the index. Deterministic: the final per-term postings
    * are identical at any parallelism / chunk split / interruption pattern.
    */
  def build(
      spark: SparkSession,
      input: DataFrame,
      outDir: String,
      numChunks: Int = 4,
      saltTargetPostings: Int = 8192,
      shufflePartitions: Int = 0,
      failAfterChunk: Int = Int.MaxValue, // test hook: simulate a kill
      // positions are ~half the index bytes AND the term exchange's payload;
      // deployments that never serve match_phrase can drop them (a phrase
      // query against a positions-free index fails fast with a clear error)
      storePositions: Boolean = true
  ): Unit = {
    import spark.implicits._
    TableIO.mkdirs(outDir)
    // Recover an interrupted mutation BEFORE touching any chunk — every
    // other entry point does (deleteByQuery/reindexDocs recover,
    // IndexHandle.load refuses). Skipping it here is a corruption trap: a
    // rebuild over a journaled index would finish "successfully", serving
    // would still refuse on the journal, and the operator-mandated recovery
    // would then replay the PRE-CRASH tmp inputs over freshly rebuilt
    // chunks — a silent mix of old and new corpora. Recovering first is
    // also cheap and convergent: the replay restores the committed state,
    // then resume validation rebuilds exactly the chunks whose input
    // signatures drifted.
    //
    // ONE exception: a journal whose tmp_rewrite inputs are GONE (operator
    // or disk-cleanup deleted them) cannot replay — and the replay's own
    // error message prescribes "rebuild the index", which is THIS call. A
    // hard require here would wedge the operator in a loop only a manual
    // journal delete breaks. Since a full-corpus build supersedes the
    // interrupted mutation, build() recovers by force: the journaled chunks
    // are excluded from resume-skip (their manifest signature can still
    // match an unchanged corpus while the chunk FILES are half-overwritten
    // by the crashed rewrite — signature-trusting them would serve
    // corruption), rebuilt from the corpus below, and the journal is
    // cleared only AFTER those rebuilds + finalizeStats land (a crash in
    // between re-enters this path and converges; serving stays refused on
    // the journal throughout).
    val journalSupersede: Set[Int] = pendingJournal(outDir) match {
      case None => Set.empty
      case Some((ks, _)) if ks.forall(k => TableIO.exists(tmpPath(outDir, k))) =>
        recoverPendingMutation(spark, outDir); Set.empty
      case Some((ks, _)) =>
        println(s"[build] journaled mutation on chunk(s) ${ks.mkString(",")} " +
          s"of $outDir cannot replay (tmp rewrite input deleted) — this " +
          "full build supersedes it; forcing those chunks to rebuild")
        ks.toSet
    }
    val derivedIds =
      !input.columns.contains("docId") && !input.columns.contains("doc_id")
    val webtext = {
      val w = normalizeInput(input)
      // the derived-id path embeds a corpus-wide url window (dedup) — persist
      // it ONCE or the signature job plus every chunk job re-runs the shuffle
      // (~numChunks+1 full re-shuffles of the input). Explicit-id inputs stay
      // lazy: their normalize is a cheap narrow projection.
      if (derivedIds) w.persist(StorageLevel.MEMORY_AND_DISK) else w
    }
    // everything from here runs under the unpersist finally — including the
    // collision check, whose failure must not strand the corpus-sized cache
    // in the block manager of a long-lived session
    try {
    // docId uniqueness / non-negativity is validated INSIDE each chunk's
    // stats aggregation (see buildChunk): duplicates of one docId always
    // share a chunk (chunk = docId mod numChunks), so per-chunk
    // count == countDistinct + min >= 0 covers exactly what the former
    // standalone corpus-wide groupBy(docId) job covered — that job was a
    // whole extra pass over the input per build (guide §2.4), paid even on
    // pure resumes. Failure stays fast and actionable: the check fires on
    // the FIRST rebuilt chunk's stats agg, before its term exchange.
    // Resume validation: a manifest row is only trusted when its recorded
    // input signature (positions mode + docs + xor of per-row content hashes,
    // warc_ts included) matches the CURRENT input for that chunk — rebuilding
    // into an existing outDir after the input changed (even timestamp-only
    // changes: year facets and docstore timestamps derive from warc_ts)
    // rebuilds the stale chunks instead of silently reusing them. (Positions-
    // mode flips are refused outright below — a crash mid-flip would leave
    // props describing a mode some chunks don't have.) One agg job over the
    // input, only paid when a manifest exists.
    val done: Set[Int] = {
      val recorded = Manifest.doneChunks(outDir)
      if (recorded.isEmpty) Set.empty
      else {
        val current = Manifest.inputSignatures(webtext, numChunks, storePositions)
        val byChunk = Manifest.rows(outDir).groupBy(_.chunk).map { case (c, rs) => c -> rs.last }
        recorded.filter { c =>
          // journal-superseded chunks are never resume-skipped: their files
          // may be half-overwritten by the crashed mutation even though the
          // manifest signature still matches the (unchanged) corpus input
          !journalSupersede.contains(c) &&
          byChunk.get(c).exists(r =>
            r.inputChecksum == current.getOrElse(c, Manifest.emptySig(storePositions)))
        }
      }
    }
    // resuming into an existing index with a DIFFERENT chunking would leave
    // the old layout's chunk>=numChunks partitions on disk (and in the
    // manifest as "done"), duplicating every doc they hold — refuse
    // read WITHOUT the format gate: a dir built by an older graft of the
    // same chunk layout resumes (its manifest signatures still validate) and
    // gets current props below; a layout change bumps Manifest.sig's prefix
    recordedProps(outDir).foreach { prev =>
      require(prev.numChunks == numChunks || Manifest.rows(outDir).isEmpty,
        s"$outDir was built with numChunks=${prev.numChunks}; rebuilding with " +
          s"numChunks=$numChunks would leave stale chunk partitions — use the " +
          "recorded chunking or a fresh directory")
      // an IN-PLACE positions-mode flip is refused for the same reason props
      // exist: props.json is rewritten below BEFORE the chunks are rebuilt,
      // so a crash mid-flip would leave props describing a mode some chunks
      // don't have — phrase queries would then read garbage positions on the
      // unflipped chunks. A fresh directory makes the flip atomic.
      require(prev.storePositions == storePositions || Manifest.rows(outDir).isEmpty,
        s"$outDir was built with storePositions=${prev.storePositions}; " +
          "flipping the positions mode in place is not crash-safe — rebuild " +
          "into a fresh directory")
    }
    IndexBuild.writeProps(outDir, IndexProps(storePositions, numChunks, saltTargetPostings))
    // the term exchange needs MANY more partitions than cores: each partition
    // is sorted in memory, so size them to ~100-200k token rows, not to the
    // core count (a cores-sized exchange spills and kills scaling)
    val parts = if (shufflePartitions > 0) shufflePartitions
                else spark.sparkContext.defaultParallelism * 8

    for (k <- 0 until numChunks) {
      if (done.contains(k)) {
        // resume: skip without recomputation (reference checksum-skip analog)
      } else {
        val chunkDf = webtext.filter(pmod(col("docId"), lit(numChunks)) === k)
        Manifest.append(outDir,
          buildChunk(spark, chunkDf, outDir, k, saltTargetPostings, parts, storePositions))
        if (k >= failAfterChunk)
          throw new RuntimeException(s"injected failure after chunk $k (test hook)")
      }
    }
    finalizeStats(spark, outDir)
    // journal cleared LAST, mirroring replayJournaled's ordering: the
    // superseding rebuilds and the stats they feed are durable first, so a
    // crash anywhere above re-enters the force-rebuild path (idempotent)
    if (journalSupersede.nonEmpty) {
      TableIO.deleteRecursive(pendingPath(outDir))
      journalSupersede.foreach(k => TableIO.deleteRecursive(tmpPath(outDir, k)))
    }
    } finally if (derivedIds) webtext.unpersist()
  }

  /** Build ONE chunk's docstore + segments + facets from its (already
    * normalized) input slice. The unit of both the initial build loop and the
    * Q12 delete/reindex partition overwrite.
    */
  private[graft] def buildChunk(
      spark: SparkSession,
      chunkDf: DataFrame,
      outDir: String,
      k: Int,
      saltTargetPostings: Int,
      shufflePartitions: Int = 0,
      storePositions: Boolean = true): ManifestRow = {
    import spark.implicits._
    val parts = if (shufflePartitions > 0) shufflePartitions
                else spark.sparkContext.defaultParallelism * 8
    val verbose = sys.env.get("GRAFT_BUILD_VERBOSE").contains("1")
    def phase[T](name: String)(f: => T): T = {
      val p0 = System.nanoTime()
      val r = f
      if (verbose) println(f"[build] $name: ${(System.nanoTime() - p0) / 1e9}%.1f s")
      r
    }
    locally {
      {
        val t0 = System.nanoTime()

        // ---- one-pass tokenize: docstore row + per-doc postings together ----
        // per-doc aggregation is a HashMap of unboxed int buffers: entry
        // ORDER doesn't matter (the term exchange re-sorts globally, and the
        // input signature xor is order-free), so the old TreeMap's O(log d)
        // string compares + boxed position appends were pure allocation/
        // memory-bandwidth overhead on the build's hottest phase
        val tokenized = chunkDf
          .as[(Long, String, java.sql.Timestamp, String, String, Map[String, String])]
          .map { case (docId, url, ts, text, lang, meta) =>
            val m = new java.util.HashMap[String, IndexBuild.TfPos]()
            var dl = 0
            // straight through the analyzer loop — no Token array/object per
            // token (Analyzer.foreachToken is the same loop analyze() wraps,
            // so rank parity holds by construction)
            Analyzer.foreachToken(text, lang) { (term, pos, _, _) =>
              var tp = m.get(term)
              if (tp == null) { tp = new IndexBuild.TfPos(storePositions); m.put(term, tp) }
              tp.add(pos)
              dl += 1
            }
            val entries = new Array[(String, Int, Array[Int])](m.size)
            var i = 0
            val it = m.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              entries(i) = (e.getKey, e.getValue.tf, e.getValue.positions)
              i += 1
            }
            (docId, url, ts, text, lang, meta, dl, entries)
          }
          .toDF("docId", "url", "warc_ts", "text", "lang", "meta", "dl", "entries")
          .persist(StorageLevel.MEMORY_AND_DISK) // DISK_ONLY at 100TB scale

        // declared OUTSIDE the try so the finally can release them: a
        // mid-chunk failure (reserved-key require, transient job failure)
        // on a long-lived session doing repeated mutations must not strand
        // chunk-sized caches / the head broadcast in the block manager —
        // each recovery retry would pin another copy
        var runsP: org.apache.spark.sql.Dataset[Run] = null
        var headsB: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]] = null
        try {

        // ---- stats agg (also materializes the tokenize cache) ----
        // runs BEFORE the docstore write since round 6: its byte totals now
        // drive the scale-adaptive output file sizing below, and a reserved-
        // key violation fails before any file lands on disk
        val (nDocs, nTokens, textBytes, inputSig) = phase(s"stats agg c$k") {
          // same scan also validates meta keys against THE shared reserved
          // set (see reservedFacetKeys — the pre-journal mutation check
          // enforces the same definition)
          val r = tokenized.agg(count(lit(1)), coalesce(sum($"dl"), lit(0L)),
            coalesce(expr(Manifest.RowHashExpr), lit(0L)),
            reservedMetaHits($"meta"),
            coalesce(sum(octet_length($"text")), lit(0L)),
            countDistinct($"docId"),
            coalesce(min($"docId"), lit(0L))).collect()(0)
          require(r.getLong(3) == 0L,
            s"chunk $k: ${r.getLong(3)} meta entries use reserved facet keys " +
              s"(${reservedFacetKeys.mkString(", ")}: derived at build time or " +
              "query-kernel routing names) — rename them in the input")
          // docId uniqueness/non-negativity ride THIS aggregation (duplicates
          // of an id always share the chunk — chunk = docId mod numChunks),
          // replacing the former standalone corpus-wide groupBy(docId) job.
          // Duplicates would crash the posting writer's strictly-increasing
          // contract deep in the term exchange or corrupt the docstore;
          // negative ids break the first VByte delta. The example-id lookup
          // runs only on the failure path.
          require(r.getLong(0) == r.getLong(5), {
            val ex = tokenized.groupBy($"docId").count()
              .where(col("count") > 1).limit(1).collect()
              .headOption.map(_.get(0)).getOrElse("")
            s"chunk $k input carries duplicate doc_id values (e.g. $ex) — " +
              "each document must appear once (for url-derived ids this is " +
              "an xxhash64 collision: supply an explicit doc_id column)"
          })
          require(r.getLong(6) >= 0L,
            s"chunk $k input carries a negative doc_id (min=${r.getLong(6)}) " +
              "— posting codecs require docId >= 0")
          (r.getLong(0), r.getLong(1), r.getLong(4),
            Manifest.sig(storePositions, r.getLong(0), r.getLong(2)))
        }

        // ---- scale-adaptive output file sizing (guide §6) ----
        // File counts derive from the CHUNK'S OWN measured volume, not from a
        // parallelism constant: the old parts/4 target wrote ~64 files per
        // chunk at any size, and every query-time point read paid ~2 ms of
        // footer/open overhead PER FILE (measured — 128 segment files made a
        // 3-term postings read 0.23 s on a warm page cache). Files aim at
        // [[TargetFileBytes]]; partitions stay ≥1 and ≤ parts/4, so a huge
        // chunk still writes enough files for scan parallelism at 100 TB
        // while a bench-scale chunk writes a handful. Rows stay sorted
        // within files, so parquet page-level column indexes keep point
        // reads pruned regardless of file size.
        def filesFor(estBytes: Long): Int =
          math.max(1, math.min(parts / 4,
            ((estBytes + TargetFileBytes - 1) / TargetFileBytes).toInt))
        // postings ≈ 6 B/token encoded (docId delta + tf + positions);
        // docstore ≈ the raw text bytes (url/meta/ts are small next to text)
        val segFiles = filesFor(nTokens * 6L)
        val docFiles = filesFor(textBytes)

        // ---- docstore ----
        // pages of ~128 KB of text, so a payload read decodes ~one page per
        // hit (see docPageRows)
        val docRows = docPageRows(nDocs, textBytes)
        phase(s"docstore+tokenize c$k") {
          tokenized
            .select($"docId", $"url", $"warc_ts", $"text", $"lang", $"meta", $"dl",
              year($"warc_ts").as("year"))
            // RANGE-partitioned by docId (files hold disjoint docId bands)
            // + docId-sorted: a point fetch prunes to ~ONE file via
            // row-group min/max, then ~one page via the column index. The
            // old layout round-robined docIds across files, so every file's
            // [min, max] spanned the whole id space and a 20-id payload
            // fetch opened and paged through every docstore file. The range
            // sampling pass reads the already-cached tokenize output —
            // cheap, unlike the term exchange where sampling re-ran the
            // tokenizer (see the hash repartition note there).
            .repartitionByRange(docFiles, $"docId")
            .sortWithinPartitions($"docId")
            .write.option("parquet.page.row.count.limit", docRows.toString)
            // parquet first checks a row group's page at row 100 (its
            // default minimum), so below 100 rows the first page would
            // overshoot the limit without this
            .option("parquet.page.size.row.check.min", math.min(docRows, 100).toString)
            .mode(SaveMode.Overwrite).parquet(s"$outDir/docstore/chunk=$k")
        }

        // ---- term-doc postings input ----
        val termDocs = tokenized
          .select($"lang", $"docId", $"dl", explode($"entries").as("e"))
          .select($"lang", $"e._1".as("term"), $"docId", $"e._2".as("tf"),
            $"e._3".as("positions"), $"dl")
          .as[TermDoc]

        // ---- head-term detection for salting (per-chunk df agg) ----
        // Bounded driver memory: take only the TOP-N heaviest head terms
        // (TakeOrderedAndProject — per-partition top-N, never a full collect).
        // At web scale the df > saltTarget set is itself huge (long Zipf
        // tail); terms beyond the cap stay unsalted — their runs are bigger
        // but bounded by the chunk doc count, while the true skew bombs (the
        // cap-N heaviest) are always salted.
        val headCap = sys.env.getOrElse("GRAFT_HEAD_CAP", "100000").toInt
        // DETERMINISTIC DOC SAMPLE for head detection: salting is provably
        // output-invariant (salted runs of a term k-way merge back into the
        // identical blob — the "different chunking + salting yields identical
        // postings" spec builds with different salt targets and compares), so
        // the head-df pass only needs heavy-hitter ESTIMATES, not exact
        // counts. Sampling 1/HeadSampleMod of DOCS (by docId hash — stable
        // across runs/resumes, no RNG) cuts this full explode+agg pass ~10×.
        // Estimation error at the df > saltTarget boundary only moves a
        // term's salt factor or head membership, never a byte of output. A
        // missed borderline head leaves one unsalted run, LIKELY ≤2× target:
        // that is a probabilistic bound, not a hard one — a term moderately
        // above the target can draw a low sample count and stay unsalted.
        // GRAFT_HEAD_SAMPLE_MOD=1 counts exactly; a mergeable heavy-hitter
        // summary (ROADMAP Direction 4) would make the bound hard. True skew
        // bombs (df ≫ target) have sample counts far above the cut.
        val sampleMod = HeadSampleMod
        val heads: Map[(String, String), Int] = phase(s"head df agg c$k") {
          val sampled =
            if (sampleMod <= 1) termDocs.toDF()
            else tokenized
              .where(pmod(xxhash64($"docId", lit(0x4EAD5EEDL)), lit(sampleMod)) === 0)
              .select($"lang", explode($"entries").as("e"))
              .select($"lang", $"e._1".as("term"))
          val rows = sampled
            .groupBy($"lang", $"term").agg(count(lit(1)).as("df"))
            .filter($"df" * sampleMod > saltTargetPostings)
            .orderBy($"df".desc)
            .limit(headCap)
            .collect()
          if (rows.length == headCap)
            println(s"[build] WARN chunk $k: head-term set hit cap $headCap; " +
              "terms below the cap-th df stay unsalted")
          rows.map(r => (r.getString(0), r.getString(1)) ->
              math.min(1024, math.ceil(r.getLong(2).toDouble * sampleMod /
                saltTargetPostings).toInt))
            .toMap
        }
        headsB = spark.sparkContext.broadcast(heads)
        // closures capture a local val, not the cleanup var (a captured var
        // serializes as an ObjectRef — fragile under closure cleaning)
        val hb = headsB
        val saltOf = udf((lang: String, term: String, docId: Long) =>
          hb.value.get((lang, term)) match {
            case Some(s) => Math.floorMod(Webtext.mix64(docId), s.toLong).toInt
            case None    => 0
          })

        // ---- the one wide exchange: hash-partition by (lang, term, salt) ----
        // HASH, not repartitionByRange: range partitioning pays a whole extra
        // sampling pass over the token stream (RangePartitioner's reservoir
        // job — one full explode of the cached corpus per chunk) just to
        // compute bounds, and hash partitioning gives the same property the
        // writer needs — every (lang, term, salt) group colocated in exactly
        // one partition — for free. Balance is equivalent or better: the
        // 200k+ distinct keys (salting caps any one key at ~saltTarget
        // postings) spread uniformly by hash, with no sampling error.
        val runs = termDocs
          .withColumn("salt", saltOf($"lang", $"term", $"docId"))
          .repartition(parts, $"lang", $"term", $"salt")
          .sortWithinPartitions($"lang", $"term", $"salt", $"docId")
          .as[(String, String, Long, Int, Array[Int], Int, Int)] // lang,term,docId,tf,pos,dl,salt
          .mapPartitions { it =>
            new Iterator[Run] {
              private var cur: (String, String, Long, Int, Array[Int], Int, Int) = _
              private var hasCur = false
              private def pull(): Unit = { hasCur = it.hasNext; if (hasCur) cur = it.next() }
              pull()
              def hasNext: Boolean = hasCur
              def next(): Run = {
                val (lang, term, _, _, _, _, salt) = cur
                val w = new PostingListWriter
                while (hasCur && cur._1 == lang && cur._2 == term && cur._7 == salt) {
                  w.add(cur._3, cur._4, cur._6, if (cur._5.isEmpty) null else cur._5)
                  pull()
                }
                val (blob, posBlob, _, _) = w.finish()
                Run(lang, term, salt, blob, posBlob)
              }
            }
          }

        // ---- sort-merge across salted runs → final per-term postings ----
        // Non-salted terms (the overwhelming majority) have exactly ONE run
        // (range partitioning colocates the whole (lang,term,0) key), already
        // in final format → bypass the merge shuffle entirely. Only head-term
        // runs are exchanged and k-way merged.
        def toSegment(r: Run): SegmentRow = {
          val reader = new PostingListReader(r.blob, r.posBlob)
          SegmentRow(k, r.lang, termBucketOf(r.term),
            r.term, reader.df.toLong, reader.cf, r.blob, r.posBlob)
        }
        val segments =
          if (heads.isEmpty) runs.map(toSegment _)
          else {
            // persist before branching: the two branches would otherwise each
            // re-run the sort+encode stage (the exchange is reused by Spark,
            // the post-shuffle map stages are not)
            runsP = runs.persist(StorageLevel.MEMORY_AND_DISK)
            val direct = runsP
              .filter(r => !hb.value.contains((r.lang, r.term)))
              .map(toSegment _)
            val merged = runsP
              .filter(r => hb.value.contains((r.lang, r.term)))
              .groupByKey(r => (r.lang, r.term))
              .mapGroups { (key: (String, String), rs: Iterator[Run]) =>
                val (blob, posBlob, df, cf) =
                  PostingListMerger.merge(rs.map(r => (r.blob, r.posBlob)).toSeq)
                SegmentRow(k, key._1, termBucketOf(key._2),
                  key._2, df.toLong, cf, blob, posBlob)
              }
            direct.union(merged)
          }

        phase(s"exchange+encode+merge+write segments c$k") {
          segments
            .toDF()
            .drop("chunk") // supplied by the chunk=K partition dir on read
            // coalesce, NOT repartition($"term"): the old plan paid a SECOND
            // full exchange of the encoded posting blobs (≈ the index bytes)
            // purely to bound the file count — coalesce bounds it with a
            // narrow dependency, zero shuffle. File count is size-derived
            // (see filesFor above); sortWithinPartitions still sorts each
            // output file by (lang, term), so parquet row-group stats and
            // page column indexes keep term pushdown exactly as before.
            .coalesce(segFiles)
            .sortWithinPartitions($"lang", $"term") // parquet row-group stats → term pushdown
            .write.option("parquet.page.row.count.limit", PageRowLimit.toString)
            // no dictionary pages on the posting blobs: no point read needs
            // them, yet every segments read decoded the ~850 KB dictionary
            // page of each (snappy + PlainBinaryDictionary, the largest share
            // of a segments read when stack-sampled). Off, the `disk`
            // workload's median segments read went 5.6 → 2.9 ms for +137 KB
            // of segments (traced, seed 301, 4-core host)
            .option("parquet.enable.dictionary#blob", "false")
            .option("parquet.enable.dictionary#posBlob", "false")
            .mode(SaveMode.Overwrite).parquet(s"$outDir/segments/chunk=$k")
        }
        // the cached runs are dead once the segments are on disk — release
        // them eagerly so the facets phase isn't competing with a stale
        // chunk-sized cache for block-manager space (the finally below is
        // the failure path; a second unpersist there is a no-op). The head
        // broadcast is destroyed only in the finally: destroy() is not
        // idempotent and the broadcast is tiny (≤headCap entries).
        if (runsP != null) { runsP.unpersist(); runsP = null }
        // exact distinct-term count from the parquet footers of the segment
        // slice just written (metadata-only, no data scan) — the previous
        // LongAccumulator in segments.map over-counted on task retries /
        // speculative execution (Spark guarantees exactly-once accumulator
        // updates only inside actions)
        val nTerms = spark.read.parquet(s"$outDir/segments/chunk=$k").count()

        // per-chunk term-dictionary slice (stats columns only — the blobs are
        // never read): rebuilt WITH the chunk, so mutations keep the global
        // rollup's inputs proportional to the affected chunks
        phase(s"termdict slice c$k") {
          spark.read.parquet(s"$outDir/segments/chunk=$k")
            .select($"lang", $"term", $"df", $"cf", $"bucket")
            .write.option("parquet.page.row.count.limit", PageRowLimit.toString)
            .mode(SaveMode.Overwrite).parquet(s"$outDir/termdict_chunks/chunk=$k")
        }

        // ---- facet index: sorted docId lists per (lang, key, value) + year ----
        phase(s"facets c$k") {
        val metaPairs = tokenized.select($"lang", $"docId", explode($"meta").as(Seq("key", "value")))
          .union(tokenized.select($"lang", $"docId",
            lit("year").as("key"), year($"warc_ts").cast("string").as("value")))
          // Q5 date OR-filter needs the "no bookmark date" complement as a
          // positive list (bitmap complements need the universe); meta `date`
          // and `series_*_date` values index via the explode branch above
          .union(tokenized.select($"lang", $"docId", lit("has_date").as("key"),
            when(element_at($"meta", "date").isNotNull, "1").otherwise("0").as("value")))
        metaPairs
          .as[(String, Long, String, String)]
          .groupByKey(t => (t._1, t._3, t._4))
          // flatMapGroups + grouped: a CHUNK-WIDE facet value (has_date is
          // '0'/'1' for every doc by construction) must not materialize the
          // whole chunk's docId list in one task — emit bounded SLICES, each
          // independently sorted + delta-encoded. Every reader already
          // unions multiple rows per (lang,key,value) (multi-chunk indexes
          // have always produced them), so slices merge for free; at bench
          // scale groups fit one slice and the output is byte-identical.
          .flatMapGroups { (key: (String, String, String), it: Iterator[(String, Long, String, String)]) =>
            val (lang, fkey, value) = key
            it.map(_._2).grouped(FacetSliceDocs).map { slice =>
              val ids = slice.toArray
              FacetRow(k, lang, facetBucketOf(fkey), fkey, value,
                ids.length.toLong, SortedIds.sortAndEncode(ids))
            }
          }
          .toDF()
          .drop("chunk") // supplied by the chunk=K partition dir on read
          .write.option("parquet.page.row.count.limit", PageRowLimit.toString)
            .mode(SaveMode.Overwrite).parquet(s"$outDir/facets/chunk=$k")
        }

        val wallMs = (System.nanoTime() - t0) / 1000000
        ManifestRow(k, "done", nDocs, nTokens, nTerms, inputSig, wallMs)
        } finally {
          // success AND failure path — see the declaration comment above
          tokenized.unpersist()
          if (runsP != null) runsP.unpersist()
          if (headsB != null) headsB.destroy()
        }
      }
    }
  }

  // ---- mutation journal: crash-safe chunk rewrites ----
  // A mutation rewrites a chunk with SEVERAL jobs (docstore overwrite, then
  // segments, termdict slice, facets); a crash in between leaves the chunk
  // internally inconsistent while its old manifest row still reads "done" —
  // queries would resurrect deleted docIds whose payload rows are gone, and
  // re-running the same deleteByQuery would no-op (the docstore no longer
  // matches the predicate). The journal closes that window: the rewrite
  // input is materialized to a tmp dir FIRST, a pending entry names it, and
  // the entry is cleared only after the manifest commit. Replaying
  // buildChunk from the tmp input is idempotent, so recovery at any crash
  // point converges. Serving refuses a journaled index (IndexHandle.load).

  private def pendingPath(outDir: String) = s"$outDir/mutation_pending.json"

  private def tmpPath(outDir: String, k: Int) = s"$outDir/tmp_rewrite_chunk_$k"

  /** One read + parse of the journal: (chunks, salt). The journal is
    * MUTATION-SCOPED (one entry lists every chunk the mutation rewrites) so
    * a crash between per-chunk rewrites can never leave a delete silently
    * half-applied with nothing recording the remainder. Legacy journals
    * carry a single "chunk" field; salt is absent on pre-salt journals —
    * recovery falls back to props for both.
    */
  private def pendingJournal(outDir: String): Option[(Seq[Int], Option[Int])] =
    TableIO.readString(pendingPath(outDir)).flatMap { txt =>
      def intField(name: String): Option[Int] = {
        val m = java.util.regex.Pattern
          .compile("\"" + name + "\":\\s*(\\d+)").matcher(txt)
        if (m.find()) Some(m.group(1).toInt) else None
      }
      def intsField(name: String): Option[Seq[Int]] = {
        val m = java.util.regex.Pattern
          .compile("\"" + name + "\":\\s*\\[([0-9,\\s]*)\\]").matcher(txt)
        if (m.find())
          Some(m.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
        else None
      }
      intsField("chunks").orElse(intField("chunk").map(Seq(_)))
        .filter(_.nonEmpty)
        .map(ks => (ks, intField("salt")))
    }

  /** First chunk of an interrupted (journaled but uncommitted) mutation, if
    * any — the serving-refusal signal (the full set is internal).
    */
  def pendingMutation(outDir: String): Option[Int] =
    pendingJournal(outDir).flatMap(_._1.headOption)

  /** Replay an interrupted mutation from its journaled tmp inputs. Returns
    * true if a pending rewrite was found and completed. Called automatically
    * at the start of every mutation, so its format check comes first: an
    * index of another format fails with "rebuild", never with a replay.
    */
  def recoverPendingMutation(spark: SparkSession, outDir: String): Boolean = {
    val props = readProps(outDir)
    pendingJournal(outDir) match {
      case None => false
      case Some((ks, salt)) =>
        println(s"[build] recovering interrupted mutation on chunk" +
          s"${if (ks.size > 1) "s" else ""} ${ks.mkString(",")} of $outDir")
        replayJournaled(spark, outDir, ks,
          salt.getOrElse(props.saltTargetPostings), props.storePositions)
        true
    }
  }

  /** Rebuild every journaled chunk from its tmp input, finalize the global
    * stats/termdict, and only THEN clear the journal and tmps — shared by
    * the mutation apply path and crash recovery, idempotent at any crash
    * point (buildChunk from an immutable tmp is a deterministic overwrite).
    */
  private def replayJournaled(spark: SparkSession, outDir: String,
      ks: Seq[Int], salt: Int, storePositions: Boolean): Unit = {
    // existence of EVERY tmp checked before rebuilding ANY chunk: a missing
    // later tmp detected mid-loop would re-pay the earlier chunks' full
    // rebuild on every recovery attempt before failing on the same require
    ks.foreach { k =>
      require(TableIO.exists(tmpPath(outDir, k)),
        s"$outDir journals an interrupted mutation on chunk $k but its " +
          s"rewrite input ${tmpPath(outDir, k)} is gone — restore it or rebuild the index")
    }
    ks.foreach { k =>
      Manifest.append(outDir,
        buildChunk(spark, spark.read.parquet(tmpPath(outDir, k)), outDir, k, salt,
          storePositions = storePositions))
    }
    // stats BEFORE the journal clears: serving stays refused until N/avgdl/
    // termdict reflect every rewritten chunk (a crash in between re-replays)
    finalizeStats(spark, outDir)
    TableIO.deleteRecursive(pendingPath(outDir))
    ks.foreach(k => TableIO.deleteRecursive(tmpPath(outDir, k)))
  }

  /** Journal and apply ONE MUTATION's chunk rewrites, atomically at the
    * mutation scope:
    *   1. materialize EVERY chunk's rewrite input to its tmp dir (outside the
    *      dirs being overwritten — a lazy self-overwriting read would corrupt
    *      the chunk) and validate it BEFORE any journal exists: a duplicate
    *      docId (e.g. a reindexDocs batch carrying the same explicit id
    *      twice) would crash buildChunk after journaling, and recovery would
    *      replay the same bad input forever, wedging serving. A failure here
    *      leaves the index untouched and serving (at worst orphan tmp dirs
    *      the next mutation overwrites);
    *   2. write ONE journal entry naming every chunk + the mutation's salt
    *      (recovery must replay with the same salt the dying call used);
    *   3. rebuild the chunks, finalize stats, clear ([[replayJournaled]]) —
    *      a crash anywhere in 3 re-enters the same step via recovery, so a
    *      multi-chunk delete can never end up silently half-applied.
    * Requires a COMPLETE index (every chunk committed) for any non-empty
    * rewrite. Shared by deleteByQuery and reindexDocs.
    */
  private def journaledRewriteAll(spark: SparkSession, outDir: String,
      inputs: Seq[(Int, DataFrame)], salt: Int, storePositions: Boolean,
      numChunks: Int): Unit = {
    if (inputs.isEmpty) {
      // an empty mutation (predicate matched nothing) leaves content
      // untouched. Its only job is self-repair for an index whose build
      // died INSIDE finalizeStats (no journal exists for that crash). Every such crash point leaves a
      // cheap signature — missing stats.json, missing termdict, or an
      // orphan termdict_tmp/termdict_old from a death inside the swap — so
      // the corpus-sized finalize runs ONLY when one is present: a routine
      // no-match mutation against a healthy web-scale index stays O(exists
      // checks), not O(docstore scan). And ONLY when the manifest proves
      // every chunk committed: finalizing a build that died BETWEEN chunks
      // would write stats over the truncated docstore and silently un-gate
      // serving of a partial corpus — that index must keep refusing to load
      // until build() resumes it. (build() unconditionally re-finalizes at
      // its end, so it also heals the one signature-less sliver this gate
      // skips: a death between the stats.json write and the termdict_tmp
      // job start, which leaves a fresh stats.json over a stale termdict.)
      val damaged = !TableIO.exists(s"$outDir/stats.json") ||
        !TableIO.exists(s"$outDir/termdict") ||
        TableIO.exists(s"$outDir/termdict_tmp") ||
        TableIO.exists(s"$outDir/termdict_old")
      val covered = Manifest.doneChunks(outDir)
      if (damaged && (0 until numChunks).forall(covered.contains))
        finalizeStats(spark, outDir)
      return
    }
    // a mutation is defined over a COMPLETE index: rebuilding chunks of a
    // half-built one would end in replayJournaled's finalizeStats over the
    // truncated docstore, un-gating serving of a partial corpus (the exact
    // state the missing stats.json exists to refuse) — resume build() first
    locally {
      val covered = Manifest.doneChunks(outDir)
      val missing = (0 until numChunks).filterNot(covered.contains)
      require(missing.isEmpty,
        s"$outDir is half-built (chunk(s) ${missing.mkString(",")} never " +
          "committed) — resume build() before mutating")
    }
    try {
      inputs.foreach { case (k, input) =>
        val tmp = tmpPath(outDir, k)
        input.write.mode(SaveMode.Overwrite).parquet(tmp)
        // EVERY input class that would crash buildChunk later must fail
        // HERE, before the journal exists — a post-journal crash wedges
        // serving and recovery replays the identical bad input forever. The
        // checks mirror buildChunk's own invariants: unique docIds (posting
        // writer's strictly-increasing contract), non-negative docIds
        // (VByte), no reserved facet keys (the stats-agg require). One agg
        // over the just-written tmp.
        val r = spark.read.parquet(tmp)
          .agg(count(lit(1)), countDistinct(col("docId")),
            coalesce(min(col("docId")), lit(0L)),
            reservedMetaHits(col("meta"))).collect()(0)
        require(r.getLong(0) == r.getLong(1),
          s"chunk $k rewrite input has ${r.getLong(0) - r.getLong(1)} duplicate " +
            "docIds — the mutation batch must carry each docId once")
        require(r.getLong(2) >= 0L,
          s"chunk $k rewrite input carries a negative docId " +
            s"(min=${r.getLong(2)}) — posting codecs require docId >= 0")
        require(r.getLong(3) == 0L,
          s"chunk $k rewrite input: ${r.getLong(3)} meta entries use reserved " +
            s"facet keys (${reservedFacetKeys.mkString(", ")}) — rename them " +
            "in the batch")
      }
    } catch {
      case t: Throwable =>
        // no journal exists yet, so the tmps are pure orphans — a failed
        // validation must not strand up to a docstore-sized copy on disk
        // (nothing else ever cleans tmp dirs for chunks no later mutation
        // happens to touch)
        inputs.foreach { case (k, _) => TableIO.deleteRecursive(tmpPath(outDir, k)) }
        throw t
    }
    TableIO.writeStringAtomic(pendingPath(outDir),
      s"""{"chunks": [${inputs.map(_._1).mkString(", ")}], "salt": $salt}""")
    replayJournaled(spark, outDir, inputs.map(_._1), salt, storePositions)
  }

  /** Q12 delete-by-query — the engine's `delete_by_query` analog
    * (reference backend/common/opensearch.py:304-339, term-match delete of a
    * whole file's documents): a PARTITION OVERWRITE keyed by the predicate.
    * Only the chunks containing matching docs are rewritten — docstore rows
    * are filtered, that chunk's segments + facets rebuilt from the remainder,
    * and a fresh manifest row (with the new input signature) appended. All
    * other chunks are untouched.
    */
  def deleteByQuery(spark: SparkSession, outDir: String, pred: org.apache.spark.sql.Column,
      saltTargetPostings: Int = -1): Unit = {
    import spark.implicits._
    recoverPendingMutation(spark, outDir)
    // rebuild with the RECORDED build mode, not API defaults (a mixed
    // positions/no-positions index would be silently wrong)
    val props = readProps(outDir)
    val salt = if (saltTargetPostings > 0) saltTargetPostings else props.saltTargetPostings
    val store = spark.read.parquet(s"$outDir/docstore")
    val affected = store.where(pred).select($"chunk").distinct().as[Int].collect().sorted
    // three-valued logic: a NULL predicate (e.g. a missing meta key) must
    // KEEP the doc — bare `!pred` is NULL there and would silently delete
    // every non-matching doc the predicate can't evaluate
    journaledRewriteAll(spark, outDir,
      affected.toSeq.map { k =>
        k -> store.where($"chunk" === k && !coalesce(pred, lit(false)))
          .select($"docId", $"url", $"warc_ts", $"text", $"lang", $"meta")
      }, salt, props.storePositions, props.numChunks)
  }

  /** Q12 reindex (MERGE): delete every doc whose docId appears in `docs`,
    * then add the new versions — the reference's "delete by filename, index
    * the regenerated pages" flow (opensearch.py:304-339 + index_generator).
    * One partition overwrite per affected chunk.
    */
  def reindexDocs(spark: SparkSession, outDir: String, docs: DataFrame,
      saltTargetPostings: Int = -1): Unit = {
    import spark.implicits._
    recoverPendingMutation(spark, outDir)
    val props = readProps(outDir)
    val salt = if (saltTargetPostings > 0) saltTargetPostings else props.saltTargetPostings
    // same persist rationale as build(): a derived-id batch embeds the
    // corpus-wide url-dedup window in normalizeInput — without a persist the
    // affected-chunk collect plus every per-chunk tmp write re-pays that
    // shuffle (~affected+1 times). Explicit-id batches stay lazy (narrow
    // projection).
    val derivedIds = !docs.columns.contains("docId") && !docs.columns.contains("doc_id")
    val incoming0 = normalizeInput(docs)
      // the RECORDED chunking: the chunk each doc's old version lives in
      .withColumn("chunk", pmod(col("docId"), lit(props.numChunks)).cast("int"))
    val incoming =
      if (derivedIds) incoming0.persist(StorageLevel.MEMORY_AND_DISK) else incoming0
    try {
      val store = spark.read.parquet(s"$outDir/docstore")
      val affected = incoming.select($"chunk").distinct().as[Int].collect().sorted
      journaledRewriteAll(spark, outDir,
        affected.toSeq.map { k =>
          val incomingK = incoming.where($"chunk" === k).drop("chunk")
          val keep = store.where($"chunk" === k)
            .select($"docId", $"url", $"warc_ts", $"text", $"lang", $"meta")
            .join(incomingK.select($"docId"), Seq("docId"), "left_anti")
          k -> keep.union(incomingK)
        }, salt, props.storePositions, props.numChunks)
    } finally {
      if (derivedIds) incoming.unpersist()
    }
  }

  /** The on-disk index format, recorded in `props.json` by every build.
    * A constant, not an option: [[readProps]] — the entry of every reader
    * and mutation — refuses any other value, so an index this code did not
    * write fails at open with a "rebuild" error instead of being served
    * through a compatibility path. A future change to the chunk layout bumps
    * this AND [[Manifest.sig]]'s prefix: build() reads the old props without
    * the gate, and the prefix bump is what makes its resume rebuild every
    * chunk instead of trusting the old files.
    */
  val FormatVersion = 1

  /** Persist the index-level build properties (`props.json`). */
  def writeProps(outDir: String, p: IndexProps): Unit = {
    val json = s"""{"formatVersion": $FormatVersion, "storePositions": ${p.storePositions}, """ +
      s""""numChunks": ${p.numChunks}, "saltTargetPostings": ${p.saltTargetPostings}}"""
    TableIO.writeStringAtomic(s"$outDir/props.json", json)
  }

  /** The recorded build properties of an index of THIS format — the one
    * format check. A missing `props.json`, or a `formatVersion` that is
    * absent or differs from [[FormatVersion]], fails naming the dir.
    */
  def readProps(outDir: String): IndexProps = {
    val txt = TableIO.readString(s"$outDir/props.json")
    val found = txt.flatMap(propField(_, "formatVersion"))
    if (!found.contains(FormatVersion.toString))
      throw new IllegalStateException(s"$outDir has index formatVersion " +
        s"${found.getOrElse("absent")}, expected $FormatVersion — rebuild the " +
        "index into a fresh directory")
    parseProps(txt.get)
  }

  /** `props.json` as recorded, without the format gate — for build()'s
    * resume guard only.
    */
  private def recordedProps(outDir: String): Option[IndexProps] =
    TableIO.readString(s"$outDir/props.json").map(parseProps)

  private def propField(txt: String, k: String): Option[String] = {
    val m = java.util.regex.Pattern.compile("\"" + k + "\":\\s*([^,}\\s]+)").matcher(txt)
    if (m.find()) Some(m.group(1)) else None
  }

  private def parseProps(txt: String): IndexProps = {
    def grab(k: String): String = propField(txt, k).getOrElse("")
    IndexProps(grab("storePositions").toBoolean, grab("numChunks").toInt,
      grab("saltTargetPostings").toInt)
  }

  /** J6 GC anti-join: chunk partitions present on disk but NOT marked done in
    * the manifest (crashed builds leave partial chunk dirs; a manifest
    * rollback orphans completed ones). Returns the orphan chunk ids found and,
    * when `delete`, removes their dirs across docstore/segments/facets.
    */
  def gcOrphanChunks(outDir: String, delete: Boolean = false): Seq[Int] = {
    val done = Manifest.doneChunks(outDir)
    val onDisk = Seq("docstore", "segments", "facets", "termdict_chunks")
      .flatMap(sub => TableIO.listChunkIds(s"$outDir/$sub")).distinct.sorted
    val orphans = onDisk.filterNot(done.contains)
    if (delete) orphans.foreach { k =>
      Seq("docstore", "segments", "facets", "termdict_chunks").foreach { sub =>
        TableIO.deleteRecursive(s"$outDir/$sub/chunk=$k")
      }
    }
    orphans
  }

  /** S11 debug text sink — the reference dumps per-page OCR text files for
    * debugging (its `--debug` crawl path). One line per doc:
    * docId \t url \t text (newlines escaped), written as plain text.
    */
  def debugTextSink(spark: SparkSession, outDir: String, debugDir: String): Unit = {
    spark.read.parquet(s"$outDir/docstore")
      .select(concat_ws("\t", col("docId"), col("url"),
        regexp_replace(col("text"), "\n", "\\\\n")).as("value"))
      .write.mode(SaveMode.Overwrite).text(debugDir)
  }

  /** Corpus stats (N, avgdl per lang) from manifest-covered docstore chunks,
    * plus the materialized term dictionary.
    */
  def finalizeStats(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    val stats = spark.read.parquet(s"$outDir/docstore")
      .groupBy($"lang").agg(count(lit(1)).as("docs"), sum($"dl").as("totalTokens"))
      .as[LangStats].collect()
    val json = stats.sortBy(_.lang).map { s =>
      s"""  "${s.lang}": {"docs": ${s.docs}, "totalTokens": ${s.totalTokens}}"""
    }.mkString("{\n", ",\n", "\n}")
    // termdict FIRST, stats.json LAST: both are fingerprinted by
    // IndexVersion, so the final artifact write must be a fingerprinted one —
    // a hot-reloading node that polled mid-finalize is then re-triggered by
    // a later fingerprint move and converges on the fully-written state
    // (stats.json content equality implies semantic equality, so a no-op
    // rewrite needing no re-trigger is exactly the case where none fires)
    writeTermDict(spark, outDir)
    TableIO.writeStringAtomic(s"$outDir/stats.json", json)
  }

  /** A5/Q8/W7 artifact: the term dictionary (lang, term, df, cf, bucket) as
    * its own small table — the analog of Lucene's terms dictionary. Suggest /
    * transliterate / df-lookup consumers scan THIS instead of re-aggregating
    * the segment table per query (at web scale that re-aggregation is a
    * full-dictionary shuffle on every misspelled query). Chunk doc sets are
    * disjoint, so per-chunk df/cf sum to corpus df/cf.
    *
    * Incremental shape: buildChunk maintains `termdict_chunks/chunk=K`
    * slices (rebuilt only with their chunk), and this rollup aggregates
    * THOSE — a vocabulary-sized, stats-columns-only job, independent of the
    * posting bytes, so a streaming micro-batch pays its affected chunks plus
    * one narrow rollup, never a segments-table pass.
    */
  private def writeTermDict(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    val tmp = s"$outDir/termdict_tmp"
    // the rollup must COVER every done chunk: aggregating the slices of only
    // some chunks would silently truncate the dictionary
    val missing = Manifest.doneChunks(outDir) --
      TableIO.listChunkIds(s"$outDir/termdict_chunks")
    if (missing.nonEmpty)
      throw new IllegalStateException(s"$outDir: done chunk(s) " +
        s"${missing.toSeq.sorted.mkString(",")} have no termdict_chunks slice — " +
        "rebuild the index")
    spark.read.parquet(s"$outDir/termdict_chunks")
      .select($"lang", $"term", $"df", $"cf", $"bucket")
      .groupBy($"lang", $"term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"), first($"bucket").as("bucket"))
      .repartition(math.max(spark.sparkContext.defaultParallelism / 4, 1), $"term")
      .sortWithinPartitions($"lang", $"term") // row-group stats → term pushdown
      .write.option("parquet.page.row.count.limit", PageRowLimit.toString)
            .mode(SaveMode.Overwrite).parquet(tmp)
    // swap via two renames, not delete-then-rename: a crash between a DELETE
    // and the rename-in would leave NO termdict at all (every df lookup
    // failing until some later finalizeStats). With
    // rename-out → rename-in the no-termdict window is two metadata ops, and
    // a crash inside it leaves termdict_old for inspection; the orphan is
    // cleaned on the next rollup. Readers hold the old listing; single writer.
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      spark.sessionState.newHadoopConf())
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val live = s"$outDir/termdict"
    val old = s"$outDir/termdict_old"
    TableIO.deleteRecursive(old) // orphan from a prior crash
    if (TableIO.exists(live) && !fs.rename(hp(live), hp(old)))
      throw new java.io.IOException(s"rename $live -> $old failed")
    if (!fs.rename(hp(tmp), hp(live)))
      throw new java.io.IOException(s"rename $tmp -> $live failed")
    TableIO.deleteRecursive(old)
  }
}

/** Chunk-commit manifest: one immutable JSON file per commit under
  * `manifest.d/` (Iceberg-snapshot style). Appending a commit is a single
  * O(1) small-file write — never a rewrite of prior history, so a
  * 100k-chunk build pays 100k tiny creates, not the O(chunks²) bytes a
  * grow-and-rewrite JSONL would. Per-chunk ordering (latest row wins on
  * resume/rebuild) comes from a (ts, per-JVM counter) sequence in the file
  * name, where ts is monotonic over the directory's existing commits (not
  * raw wall clock — see [[nextTs]]); valid for the single writer this
  * manifest documents; a multi-writer deployment swaps this object for
  * conditional commits.
  */
object Manifest {
  private def commitDir(outDir: String) = s"$outDir/manifest.d"
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong()
  // Per-outDir monotonic timestamp: seeded ONCE per JVM from the max
  // name-embedded ts already in manifest.d, then max(prev+1, now). "Latest
  // commit wins" must follow true commit order, not the wall clock — a
  // clock stepped backwards across JVM restarts (NTP) would otherwise make
  // a REBUILT chunk's commit sort before the stale one it replaces. One
  // listing per (JVM, outDir); appends stay O(1) after that.
  private val tsBase =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def nextTs(outDir: String): Long = {
    val base = tsBase.computeIfAbsent(outDir, { d =>
      val maxExisting = TableIO.listFiles(commitDir(d), "chunk-")
        .flatMap(_.split("-").lift(2).flatMap(_.toLongOption))
        .foldLeft(0L)(math.max)
      new java.util.concurrent.atomic.AtomicLong(maxExisting)
    })
    base.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
  }

  def append(outDir: String, row: ManifestRow): Unit = {
    val line = s"""{"chunk":${row.chunk},"status":"${row.status}","docs":${row.docs},""" +
      s""""tokens":${row.tokens},"terms":${row.terms},"inputChecksum":"${row.inputChecksum}","wallMs":${row.wallMs}}"""
    // graft.Fmt.zpad, not the f interpolator: commit names are RECENCY-SORTED
    // as strings (IndexVersion, latestByChunk) — a non-ASCII-digit default
    // locale would break both the sort and the fixed-width parse
    val name = s"chunk-${graft.Fmt.zpad(row.chunk.toLong, 8)}-" +
      s"${graft.Fmt.zpad(nextTs(outDir), 13)}-" +
      s"${graft.Fmt.zpad(seqCounter.getAndIncrement().toLong, 6)}.json"
    TableIO.writeStringAtomic(s"${commitDir(outDir)}/$name", line)
  }

  private def parseRow(l: String): ManifestRow = {
    def grab(k: String): String = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":\"?([^,}\"]*)\"?").matcher(l)
      if (m.find()) m.group(1) else ""
    }
    ManifestRow(grab("chunk").toInt, grab("status"), grab("docs").toLong,
      grab("tokens").toLong, grab("terms").toLong, grab("inputChecksum"), grab("wallMs").toLong)
  }

  /** All commit rows, ordered so that per-chunk `.last` is the most recent
    * commit (commit files by their name-embedded sequence — names sort
    * lexicographically by (chunk, time, counter) thanks to fixed-width zero
    * padding).
    */
  def rows(outDir: String): Seq[ManifestRow] =
    TableIO.listFiles(commitDir(outDir), "chunk-").sorted
      .flatMap(n => TableIO.readString(s"${commitDir(outDir)}/$n").map(parseRow))

  /** Chunks already built — the anti-join side of resume (J5 in SURVEY §2.4).
    * Latest row per chunk wins (a rebuilt chunk appends a new row).
    */
  def doneChunks(outDir: String): Set[Int] =
    rows(outDir).groupBy(_.chunk).collect {
      case (c, rs) if rs.last.status == "done" => c
    }.toSet

  /** Per-row content hash used in input signatures. warc_ts IS included:
    * year facets, Q5 date behavior and docstore timestamps all derive from it,
    * so a timestamp-only input change must invalidate the chunk (v3 bump).
    */
  // sort_array: the recorded sig is computed AFTER buildChunk's typed-map
  // roundtrip (scala HashMap iteration order) while the resume-side sig runs
  // on the raw input (stored entry order) — for meta maps of 5+ keys the two
  // orders differ, and an order-SENSITIVE hash would mismatch on every
  // resume, silently disabling the checksum-skip. Sorting the entries makes
  // the hash order-free on both sides. (v4: the scheme change itself
  // invalidates v3 manifests — one deliberate full rebuild on old indexes.)
  // EVERY column the chunk build consumes is hashed — lang included: a
  // lang-only change (upstream language re-detection) flips the analyzer,
  // stats bucket and facet lang for the row, so a signature without it would
  // validate the chunk as done on resume and serve stale analysis
  val RowHashExpr =
    "bit_xor(xxhash64(docId, url, warc_ts, text, lang, sort_array(map_entries(meta))))"

  /** Signature format "v5:<p|n>:<docCount>:<xor of row hashes>" — the
    * positions-mode prefix distinguishes the modes in emptySig comparisons
    * (in-place mode flips themselves are refused at build entry). v4→v5:
    * lang joined the row hash; old manifests re-validate as changed input
    * (one deliberate full rebuild, same policy as v3→v4).
    */
  def sig(storePositions: Boolean, docs: Long, xor: Long): String =
    s"v5:${if (storePositions) "p" else "n"}:$docs:$xor"

  def emptySig(storePositions: Boolean): String = sig(storePositions, 0L, 0L)

  /** Current input signature per chunk. One agg job over the input; used to
    * validate manifest rows on resume.
    */
  def inputSignatures(webtext: DataFrame, numChunks: Int,
      storePositions: Boolean = true): Map[Int, String] = {
    webtext
      .groupBy(pmod(col("docId"), lit(numChunks)).cast("int").as("chunk"))
      .agg(count(lit(1)).as("docs"), expr(RowHashExpr).as("sig"))
      .collect()
      .map(r => r.getInt(0) -> sig(storePositions, r.getLong(1), r.getLong(2)))
      .toMap
  }
}
