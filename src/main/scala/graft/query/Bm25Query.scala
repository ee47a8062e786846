package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.index.{PostingIterator, PostingListReader, SortedIds, VByte}

/** Query request — mirrors the reference SearchRequest surface
  * (backend/api/search_api.py:180-213): query text, language, exact phrase
  * flag, excluded words, metadata terms-filters, year range, pagination.
  */
case class QuerySpec(
    lang: String,
    query: String,
    mode: String = "all", // "all" = match operator:and; "any" = WAND top-k
    phrase: Boolean = false,
    excludeWords: Seq[String] = Nil,
    metaFilters: Map[String, Seq[String]] = Map.empty,
    yearRange: Option[(Int, Int)] = None,
    // Full reference date semantics (index_searcher.py:64-150), start/end
    // years each optional: (doc HAS a bookmark `date` ∧ date ∈ [start-01-01,
    // end-12-31]) ∨ (doc has NO date ∧ series_start ≤ end ∧ series_end ≥
    // start). Distinct from `yearRange`, which facets on year(warc_ts).
    dateRange: Option[(Option[Int], Option[Int])] = None,
    pageSize: Int = 20,
    from: Int = 0,
    trackTotalHits: Long = 1000L)

case class Hit(docId: Long, score: Double, url: String, lang: String, highlighted: String)

/** Full docstore row for point-read endpoints (context, similar-documents) —
  * the reference's `_source` of an indexed chunk (index_searcher.py:301-357
  * _extract_results reads original_filename/paragraph_id/metadata from it).
  */
case class DocPayload(docId: Long, url: String, text: String, lang: String,
    meta: Map[String, String])

/** @param coverageDegraded true when a fleet coordinator served this page
  *   WITHOUT one or more wedged shards (opt-in policy, [[ProcFleet]]): the
  *   page is correct for the shards that answered but may be missing docs —
  *   never silent, the HTTP layer surfaces it as `coverage_degraded`.
  */
case class SearchResult(hits: Seq[Hit], totalHits: Long, totalRelation: String,
    suggestions: Seq[String], coverageDegraded: Boolean = false)

/** Loaded index metadata. Segments stay on disk (Parquet); only per-query
  * term rows are read, with predicate pushdown on (lang, term).
  */
case class IndexHandle(dir: String, stats: Map[String, (Long, Long)]) {
  def numDocs(lang: String): Long = stats.get(lang).map(_._1).getOrElse(0L)
  def avgdl(lang: String): Double =
    stats.get(lang).map { case (d, t) => if (d == 0) 0.0 else t.toDouble / d }.getOrElse(0.0)
  // the compacted caches are preferred only when BOTH exist: compaction
  // writes them in two jobs (segments first) and dropCompacted deletes them
  // in two steps — an independent per-path fallback in either window would
  // key kernels by compact chunk -1 while facets still carry 0..n-1 (or the
  // reverse), and every filtered query would silently return 0 hits
  // lazy val, not def: pinned on first use so one handle never flips source
  // mid-query (a handle is bound to one index version by contract)
  // compact()'s OWN completion marker (written after both cache jobs commit,
  // dropped before any overwrite/delete), not bare dir existence: a crash
  // mid facets_compact leaves a dir that EXISTS but holds partial data
  // (AnalysisException, or silently dropped facet matches). The shared
  // definition lives in IndexBuild.compactServable — IndexVersion MUST key
  // on the same predicate or reloads desync from the serving source.
  @transient private lazy val compactComplete: Boolean =
    graft.index.IndexBuild.compactServable(dir)
  def segmentsPath: String =
    if (compactComplete) s"$dir/segments_compact" else s"$dir/segments"
  def facetsPath: String =
    if (compactComplete) s"$dir/facets_compact" else s"$dir/facets"
  /** Materialized term dictionary (absent only on pre-termdict indexes).
    * Pinned on first use like [[compactComplete]] (one handle, one index
    * version): df-cache misses and suggestions would otherwise each pay a
    * Hadoop-conf build and a file-system stat.
    */
  @transient lazy val termdictPath: Option[String] =
    if (graft.index.TableIO.exists(s"$dir/termdict")) Some(s"$dir/termdict") else None

  /** Driver-resident (lang, term) → corpus df for terms queried through this
    * handle — the analog of Lucene's in-memory term dictionary. Entries never
    * go stale within a handle: a handle is bound to one index version, and
    * mutations (delete-by-query / reindex / incremental merge) require a
    * fresh [[IndexHandle.load]], exactly like the resident numDocs/avgdl
    * stats. Bounded by [[Bm25Query.DfCacheMax]].
    */
  @transient private[query] lazy val dfCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** (lang, canonical filter selection) → Σdf of the facet rows that
    * selection reads — the filter-side twin of [[dfCache]], feeding the
    * driver-vs-executor path choice (same staleness contract: one handle,
    * one index version). Bounded crudely like dfCache.
    */
  @transient private[query] lazy val facetVolCache =
    new java.util.concurrent.ConcurrentHashMap[(String, AnyRef), java.lang.Long]()
}

object IndexHandle {
  def load(dir: String): IndexHandle = {
    // a mutation journal entry means a deleteByQuery/reindexDocs died
    // between its docstore overwrite and its manifest commit — that chunk's
    // postings and docstore disagree (deleted docs would resurrect with
    // missing payloads). Refuse to serve; the next mutation (or
    // IndexBuild.recoverPendingMutation) replays the journaled rewrite.
    graft.index.IndexBuild.pendingMutation(dir).foreach { k =>
      sys.error(s"$dir has an interrupted mutation on chunk $k — run " +
        "IndexBuild.recoverPendingMutation (or any mutation, which recovers " +
        "first) before serving")
    }
    val txt = graft.index.TableIO.readString(s"$dir/stats.json")
      .getOrElse(sys.error(s"no stats.json under $dir — index not finalized"))
    // [^"]+ not \w+: lang codes like "pt-br"/"zh-hant" must not silently
    // drop out of stats (n=0 would zero every BM25 score for that lang)
    val m = java.util.regex.Pattern
      .compile("\"([^\"]+)\":\\s*\\{\"docs\":\\s*(\\d+),\\s*\"totalTokens\":\\s*(\\d+)\\}")
      .matcher(txt)
    val b = Map.newBuilder[String, (Long, Long)]
    while (m.find()) b += m.group(1) -> (m.group(2).toLong, m.group(3).toLong)
    IndexHandle(dir, b.result())
  }
}

/** The query engine: replaces the `client.search(...)` boundary of the
  * reference (backend/search/index_searcher.py:368-373) with Spark jobs over
  * the posting segments.
  *
  * Execution: postings/facet rows for the query terms are read with
  * (lang, term) pushdown, grouped by segment (chunk), and each segment runs
  * the [[SearchKernel]] IN AN EXECUTOR TASK — per-segment parallel top-k, then
  * a driver-side k-way merge of the tiny per-segment heaps. No shuffle of
  * postings ever happens at query time; the only data movement is
  * O(#segments × (from+k)) ScoredDocs.
  */
object Bm25Query {

  /** Below this Σdf the query collects its posting blobs and runs the kernel
    * on the driver (one Spark job instead of a cogroup shuffle); above it the
    * per-segment kernels run in executor tasks. ~5M postings ≈ tens of MB.
    * Driver-side config knob (mutable for tests / tuning).
    */
  @volatile var MaxDriverPostings: Long =
    sys.env.getOrElse("GRAFT_MAX_DRIVER_POSTINGS", "5000000").toLong

  /** Cap on [[IndexHandle.dfCache]] entries (~32 MB of boxed map at the cap;
    * cleared wholesale when exceeded — queries repeat head terms, so a crude
    * reset keeps the hit rate high without LRU bookkeeping).
    */
  @volatile var DfCacheMax: Int = 1 << 20

  /** Corpus-wide df for `terms`, served from the handle's driver-resident
    * term-df cache; only UNCACHED terms pay the Spark probe job (a
    * groupBy(term).sum(df) over the (lang, term)-pruned segments scan).
    * A query whose terms are all cached skips one of its three sequential
    * Spark jobs — repeat terms are the norm (head terms at web scale), so
    * steady-state query latency drops to kernel + payload-fetch.
    */
  def globalDfMap(spark: SparkSession, idx: IndexHandle, lang: String,
      terms: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    val cached = terms.flatMap(t =>
      Option(idx.dfCache.get((lang, t))).map(v => t -> v.longValue)).toMap
    val missing = terms.filterNot(cached.contains)
    if (missing.isEmpty) cached
    else {
      // termdict when present (one pruned row per term, no aggregation);
      // local indexes read it directly on the driver (LocalParquet — same
      // pushdown, no Spark job); pre-termdict indexes fall back to the
      // segments aggregation
      val probed: Map[String, Long] = idx.termdictPath match {
        case Some(p) if graft.index.LocalParquet.isLocalDir(p) =>
          graft.index.LocalParquet.readTermDict(p, lang, missing).toMap
        case _ =>
          termDictDf(spark, idx, lang)
            .where(col("term").isin(missing: _*))
            .as[(String, Long)].collect().toMap
      }
      if (idx.dfCache.size > DfCacheMax) idx.dfCache.clear()
      missing.foreach(t => idx.dfCache.put((lang, t), Long.box(probed.getOrElse(t, 0L))))
      cached ++ missing.map(t => t -> probed.getOrElse(t, 0L))
    }
  }

  /** Analyze query text with the same analyzer as the index (rank parity
    * precondition) → (term, qPos) pairs; dedup semantics live in ONE place,
    * [[QueryCore.dedupQueryTerms]] (shared with the serving kernel's
    * context builder).
    */
  def queryTerms(q: QuerySpec): Array[(String, Int)] =
    QueryCore.dedupQueryTerms(Analyzer.analyze(q.query, q.lang))

  def search(spark: SparkSession, idx: IndexHandle, q: QuerySpec): SearchResult = {
    val n = idx.numDocs(q.lang)
    val avgdl = idx.avgdl(q.lang)
    val ctxOpt = QueryCore.context(q, n, avgdl)
    if (ctxOpt.isEmpty)
      return SearchResult(Nil, 0L, "eq", suggest(spark, idx, q.lang, q.query))
    val ctx = ctxOpt.get
    val terms = ctx.terms

    val allTerms = (terms.map(_._1) ++ ctx.excludeTerms).distinct
    val hasFilters = ctx.facetSel.nonEmpty || ctx.dateSel.nonEmpty
    val local = graft.index.LocalParquet.isLocalDir(idx.dir)

    // global df per term (for idf + execution-path choice) — from the
    // handle's term-df cache; only first-seen terms pay a probe job
    import spark.implicits._
    val dfMap: Map[String, Long] = globalDfMap(spark, idx, q.lang, allTerms)
    // ctx.mode, not q.mode: context() forces "all" for phrase queries, so a
    // phrase issued with mode="any" must still take this early exit (the
    // kernels would return nothing after 2-3 wasted Spark jobs otherwise) —
    // same field matchedDocsDf gates on
    if (ctx.mode == "all" && terms.exists(t => dfMap.getOrElse(t._1, 0L) == 0L))
      return SearchResult(Nil, 0L, "eq", suggest(spark, idx, q.lang, q.query))
    val info = QueryCore.termInfo(ctx, t => dfMap.getOrElse(t, 0L))

    // path choice: total candidate volume ≈ Σ df over the query's terms
    // PLUS Σ df over the filter's facet rows — the driver path collects BOTH
    // streams, and a rare-term query over a broad filter (date-range's
    // has_date='0' branch, a category covering half the corpus) is
    // facet-dominated: gating on postings alone would pull corpus-scale
    // docId lists onto the driver. Small → collect the blobs and run kernels
    // ON THE DRIVER (one Spark job, Lucene-like latency). Large → per-segment
    // kernels in executor tasks via cogroup (nothing ever concentrates on
    // the driver). The facet volume is one pruned df-column probe (no blobs
    // read), cached per (lang, selection) on the handle like term dfs.
    val dfSum = dfMap.values.sum
    val totalPostings =
      if (!hasFilters || dfSum > MaxDriverPostings) dfSum // probe can't change the verdict
      else dfSum + facetVolume(spark, idx, q.lang, ctx)
    val segResults: Array[SegmentResult] =
      if (totalPostings <= MaxDriverPostings && local) {
        // LOCAL driver path: the query's posting/facet rows are a few
        // pushdown-pruned KB that land on the driver either way — read the
        // parquet directly (LocalParquet: same PushedFilters-shaped
        // predicates, row-group pruning, projection) instead of paying a
        // full Spark job's scheduling latency per read. Same rows, gated by
        // LocalParquetSpec + RankParitySpec.
        val postList: Array[QueryCore.PostRow] =
          graft.index.LocalParquet.readSegmentRows(
            idx.segmentsPath, q.lang, allTerms.toSeq, ctx.phrase).toArray
        val facetList: Array[QueryCore.FacetRow] =
          if (!hasFilters) Array.empty else localFacetRows(idx, q.lang, ctx)
        val facetByChunk = QueryCore.decodeFacets(facetList).groupBy(_._1)
        postList.groupBy(_._1).iterator.flatMap { case (chunk, posts) =>
          QueryCore.segmentKernel(ctx, info, posts, facetByChunk.getOrElse(chunk, Array.empty))
        }.toArray
      } else if (totalPostings <= MaxDriverPostings) {
        // non-local index dir: same driver path through Spark collects.
        // postings and facet lists are independent reads — submit both jobs
        // concurrently (Spark schedules parallel jobs from separate threads),
        // so a filtered query pays max(post, facet) latency, not the sum
        val posCol = if (ctx.phrase) col("posBlob") else lit(null).cast("binary").as("posBlob")
        val rows = spark.read.parquet(idx.segmentsPath)
          .where(col("lang") === q.lang && col("term").isin(allTerms.toSeq: _*))
          .select(col("chunk"), col("term"), col("df"), col("blob"), posCol)
        val facetRows: DataFrame = facetReadDf(spark, idx, q.lang, ctx)
        val facetFut =
          if (facetRows == null) null
          else scala.concurrent.Future(
            // blocking{}: the collect parks this global-pool thread for a
            // full Spark job; the hint lets the pool compensate instead of
            // starving under concurrent filtered searches
            scala.concurrent.blocking { facetRows.as[QueryCore.FacetRow].collect() })(
            scala.concurrent.ExecutionContext.global)
        val postList =
          try rows.as[QueryCore.PostRow].collect()
          catch { case t: Throwable =>
            // the concurrent facet job cannot be cancelled from here (no
            // job-group tagging on this path) — observe its future so the
            // in-flight job's own failure is never an unobserved orphan,
            // then surface the postings failure as THE error
            if (facetFut != null)
              facetFut.onComplete(_ => ())(scala.concurrent.ExecutionContext.global)
            throw t
          }
        val facetList =
          if (facetFut == null) Array.empty[QueryCore.FacetRow]
          // Duration.Inf is deliberate: this parallels the synchronous
          // .collect() above, which is itself an unbounded same-JVM wait on
          // the same scheduler — a bound here would time out legitimate
          // large-corpus facet reads while protecting against nothing the
          // sibling collect isn't equally exposed to (PeerRpc's bounded
          // waits guard CROSS-PROCESS hangs, a different failure domain)
          else scala.concurrent.Await.result(facetFut, scala.concurrent.duration.Duration.Inf)
        val facetByChunk = QueryCore.decodeFacets(facetList).groupBy(_._1)
        postList.groupBy(_._1).iterator.flatMap { case (chunk, posts) =>
          QueryCore.segmentKernel(ctx, info, posts, facetByChunk.getOrElse(chunk, Array.empty))
        }.toArray
      } else {
        val posCol = if (ctx.phrase) col("posBlob") else lit(null).cast("binary").as("posBlob")
        val rows = spark.read.parquet(idx.segmentsPath)
          .where(col("lang") === q.lang && col("term").isin(allTerms.toSeq: _*))
          .select(col("chunk"), col("term"), col("df"), col("blob"), posCol)
        val facetRows: DataFrame = facetReadDf(spark, idx, q.lang, ctx)
        val postingRows = rows.as[QueryCore.PostRow]
        val facetRowsDs =
          if (facetRows == null) spark.emptyDataset[QueryCore.FacetRow]
          else facetRows.as[QueryCore.FacetRow]
        postingRows
          .groupByKey(_._1)
          .cogroup(facetRowsDs.groupByKey(_._1)) { (_: Int, posts, facets) =>
            QueryCore.segmentKernel(ctx, info, posts.toArray,
              QueryCore.decodeFacets(facets.toSeq))
          }
          .collect()
      }

    val (page, total, relation) = QueryCore.merge(q, segResults)

    // --- payload fetch (J7: semi-join of winner ids against the doc store) ---
    val hits =
      if (page.isEmpty) Seq.empty[Hit]
      else {
        val ids = page.map(_.docId)
        // null url/text normalize to "" exactly like the resident path
        // (InMemoryIndex.load documents NULL columns as legal docstore
        // rows); a null Hit.url would NPE the JSON render downstream
        val docs: Map[Long, (String, String)] =
          if (local)
            // page-sized point read — docId-sorted row groups prune the same
            // way the Spark isin scan did, minus the job overhead
            graft.index.LocalParquet.readDocPayloads(s"${idx.dir}/docstore", ids.toSeq)
              .map { case (id, url, _, text) =>
                id -> (if (url == null) "" else url, if (text == null) "" else text)
              }.toMap
          else spark.read.parquet(s"${idx.dir}/docstore")
            .where(col("docId").isin(ids.toSeq: _*))
            .select("docId", "url", "lang", "text")
            .collect()
            .map(r => r.getLong(0) ->
              (Option(r.getString(1)).getOrElse(""), Option(r.getString(3)).getOrElse("")))
            .toMap
        val qset = terms.map(_._1).toSet
        page.toSeq.map { sd =>
          // a winner can be missing from the docstore when a mutation
          // overwrites the chunk between the kernel pass and this fetch —
          // degrade to an empty payload like the resident path, don't 500
          val (url, text) = docs.getOrElse(sd.docId, ("", ""))
          Hit(sd.docId, sd.score, url, q.lang, highlight(text, q.lang, qset))
        }
      }
    // total == 0, not hits.isEmpty: deep pages / count-only queries of a
    // MATCHING query must not suggest (same trigger as the resident path)
    val sugg = if (total == 0L) suggest(spark, idx, q.lang, q.query) else Nil
    SearchResult(hits, total, relation, sugg)
  }

  /** Index-backed DISTRIBUTED scoring: every (chunk, term) posting row is
    * decoded inside an executor task into (docId, per-term BM25 contribution);
    * one groupBy(docId) shuffle sums them. Returns ALL matching docs as a
    * DataFrame (docId, score) — the scale path for full-result consumers
    * (hybrid fusion, analytics joins) where `search` returns only a page.
    * Nothing but the per-term df map (|query terms| rows) ever reaches the
    * driver. Supports mode/exclude/meta/year filters; phrase verification
    * needs positions → use [[matchedDocsDf]].
    */
  def scoreDf(spark: SparkSession, idx: IndexHandle, q: QuerySpec): DataFrame = {
    import spark.implicits._
    require(!q.phrase, "scoreDf has no positions; use matchedDocsDf for phrase")
    val n = idx.numDocs(q.lang)
    val avgdl = idx.avgdl(q.lang)
    val terms = queryTerms(q).map(_._1)
    if (terms.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("docId", "score")
    val rows = spark.read.parquet(idx.segmentsPath)
      .where(col("lang") === q.lang && col("term").isin(terms.toSeq: _*))
      .select(col("term"), col("df"), col("blob"))
    val dfMap = globalDfMap(spark, idx, q.lang, terms.toSeq)
    val idfB = spark.sparkContext.broadcast(
      terms.map(t => t -> Bm25.idf(n, dfMap.getOrElse(t, 0L))).toMap)
    val perTerm = rows.select(col("term"), col("blob"))
      .as[(String, Array[Byte])]
      .flatMap { case (term, blob) =>
        val idfV = idfB.value(term)
        val it = new PostingListReader(blob, null).iterator()
        it.start()
        new Iterator[(Long, Double)] {
          def hasNext: Boolean = !it.exhausted
          def next(): (Long, Double) = {
            val r = (it.docId, Bm25.score(it.tf, it.dl, avgdl, idfV))
            it.next()
            r
          }
        }
      }
      .toDF("docId", "s")
    val agg = perTerm.groupBy("docId")
      .agg(sum("s").as("score"), count(lit(1)).as("matched"))
    val afterMode =
      if (q.mode == "all") agg.where(col("matched") === terms.length)
      else agg
    val afterExclude = {
      val exTerms = q.excludeWords.flatMap(w => Analyzer.terms(w, q.lang)).distinct
      if (exTerms.isEmpty) afterMode
      else afterMode.join(postingDocIds(spark, idx, q.lang, exTerms),
        Seq("docId"), "left_anti")
    }
    // the SHARED filter derivation (year-ambiguity guard, yearRange
    // expansion, date-bound mapping) — one definition with the paged path
    val (facetSel, dateSel) = QueryCore.filterSelections(q)
    val afterFacets =
      if (facetSel.isEmpty) afterExclude
      else afterExclude.join(facetDocIds(spark, idx, q.lang, facetSel), Seq("docId"))
    val afterDate = dateSel match {
      case None => afterFacets
      case Some(sel) => afterFacets.join(dateDocIds(spark, idx, q.lang, sel), Seq("docId"))
    }
    afterDate.select(col("docId"), col("score"))
  }

  /** DocIds passing the Q5 date OR-filter, fully distributed (chunk doc sets
    * are disjoint, so the set algebra is global): (date ∈ range) ∪
    * (no date ∩ series_start ≤ end ∩ series_end ≥ start).
    */
  private def dateDocIds(spark: SparkSession, idx: IndexHandle, lang: String,
      sel: (Option[String], Option[String])): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(idx.facetsPath).where(col("lang") === lang)
    def ids(d: DataFrame): DataFrame = d
      .select(col("df"), col("docIds")).as[(Long, Array[Byte])]
      .flatMap { case (df, blob) => SortedIds.decode(blob, df.toInt) }
      .toDF("docId")
    // the same ONE rule definition as every other read layer; this path
    // renders the kernel's label algebra as distributed set ops — DateIn
    // unioned, every OTHER rule present intersected onto NoDate
    val byLabel = QueryCore.dateRules(sel)
      .map(rule => rule.label -> ids(base.where(dateRuleCond(rule)))).toMap
    val inRange = byLabel(QueryCore.DateInKey)
    val noDate = (byLabel - QueryCore.DateInKey - QueryCore.NoDateKey).values
      .foldLeft(byLabel(QueryCore.NoDateKey))((acc, d) => acc.join(d, Seq("docId")))
    inRange.union(noDate).distinct()
  }

  /** Σdf over the facet rows a query's filter selection reads — the volume
    * the driver path would collect. One aggregation over the ALREADY-PRUNED
    * facet read (column pruning drops the docId blobs from the scan: only
    * the tiny df column is read), cached on the handle per (lang, canonical
    * selection) so repeat filtered queries — the norm for UI-issued date
    * pickers and category filters — skip the probe entirely.
    */
  private def facetVolume(spark: SparkSession, idx: IndexHandle, lang: String,
      ctx: QueryCore.Ctx): Long = {
    // structural key, not toString: rendered strings collide (a value
    // containing ", " is indistinguishable from two values) and a collision
    // silently reuses another selection's volume in the path choice
    val key = (lang, (ctx.facetSel, ctx.dateSel): AnyRef)
    Option(idx.facetVolCache.get(key)).map(_.longValue).getOrElse {
      val v =
        if (graft.index.LocalParquet.isLocalDir(idx.dir))
          // df-column-only local probe (withBlob = false: the docId blobs are
          // never read), same label-multiplicity as the union the Spark agg
          // summed over
          localFacetRows(idx, lang, ctx, withBlob = false).iterator.map(_._3).sum
        else {
          val facetRows = facetReadDf(spark, idx, lang, ctx)
          val r = facetRows.agg(sum(col("df"))).collect()(0)
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      if (idx.facetVolCache.size > DfCacheMax) idx.facetVolCache.clear()
      idx.facetVolCache.put(key, Long.box(v))
      v
    }
  }

  /** Local-read analog of [[facetReadDf]]: ONE pass over the pruned facet
    * files, then the same per-branch labeling the Spark union produced — a
    * facetSel match keeps its physical key, a date-rule match is relabeled
    * to the rule's synthetic key, and a row matching both branches is
    * emitted for each (exactly the union's row multiset). Rule acceptance
    * uses DateRule.accepts, the same shared definition the resident path
    * consumes; values on the date keys are ASCII ISO dates, so Java string
    * order, Spark UTF8String order and the parquet STRING comparator agree.
    */
  private def localFacetRows(idx: IndexHandle, lang: String,
      ctx: QueryCore.Ctx, withBlob: Boolean = true): Array[QueryCore.FacetRow] = {
    val rules = ctx.dateSel.map(QueryCore.dateRules).getOrElse(Seq.empty)
    val conds: Seq[(String, Option[Seq[String]], Option[(Option[String], Option[String])])] =
      ctx.facetSel.map { case (k, vs) => (k, Some(vs): Option[Seq[String]], None) } ++
        rules.map(r => (r.key, None, Some((r.lo, r.hi))))
    val rows = graft.index.LocalParquet.readFacetRows(
      idx.facetsPath, lang, conds, withBlob)
    val out = Array.newBuilder[QueryCore.FacetRow]
    rows.foreach { case (chunk, key, value, df, blob) =>
      if (ctx.facetSel.exists { case (k, vs) => k == key && vs.contains(value) })
        out += ((chunk, key, df, blob))
      rules.foreach { r =>
        if (r.key == key && r.accepts(value)) out += ((chunk, r.label, df, blob))
      }
    }
    out.result()
  }

  /** Facet rows a query's filters need, with the Q5 date-filter rows
    * RELABELED to the [[QueryCore.DateKeys]] synthetic keys (value predicates
    * — range on `date`, equality on `has_date`, bound checks on the series
    * dates — are pushed into the parquet scan; the kernel then only unions /
    * intersects pre-selected docId lists). Returns null when the query has no
    * filters at all.
    */
  private[query] def facetReadDf(spark: SparkSession, idx: IndexHandle,
      lang: String, ctx: QueryCore.Ctx): DataFrame = {
    if (ctx.facetSel.isEmpty && ctx.dateSel.isEmpty) return null
    val base = spark.read.parquet(idx.facetsPath).where(col("lang") === lang)
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (ctx.facetSel.nonEmpty) {
      val cond = ctx.facetSel.map { case (k, vs) =>
        col("key") === k && col("value").isin(vs: _*)
      }.reduce(_ || _)
      parts += base.where(cond).select(col("chunk"), col("key"), col("df"), col("docIds"))
    }
    ctx.dateSel.foreach { sel =>
      parts ++= QueryCore.dateRules(sel).map(rule =>
        base.where(dateRuleCond(rule))
          .select(col("chunk"), lit(rule.label).as("key"), col("df"), col("docIds")))
    }
    parts.reduce(_ union _)
  }

  /** One [[QueryCore.DateRule]] as a pushdown-able Column predicate — the
    * Spark rendering of the ONE shared rule definition (the resident path
    * consumes `rule.accepts` directly); range bounds stay plain value
    * comparisons so they reach the parquet scan as PushedFilters.
    */
  private def dateRuleCond(rule: QueryCore.DateRule): org.apache.spark.sql.Column = {
    var cond = col("key") === rule.key
    rule.lo.foreach(l => cond = cond && col("value") >= l)
    rule.hi.foreach(h => cond = cond && col("value") <= h)
    cond
  }

  /** DocIds carrying any of `terms`, decoded in executors. */
  private def postingDocIds(spark: SparkSession, idx: IndexHandle, lang: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.parquet(idx.segmentsPath)
      .where(col("lang") === lang && col("term").isin(terms: _*))
      .select(col("blob")).as[Array[Byte]]
      .flatMap(blob => PostingListReader.docIds(blob))
      .distinct()
      .toDF("docId")
  }

  /** DocIds passing ALL facet selections (values within a key OR'd, keys
    * AND'd) — decoded per (chunk, key, value) row in executors, intersected
    * with a count == nKeys aggregation (chunk doc sets are disjoint, and a
    * docId appears at most once per key across its chunk's values).
    */
  private def facetDocIds(spark: SparkSession, idx: IndexHandle, lang: String,
      facetSel: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val nKeys = facetSel.map(_._1).distinct.size
    val cond = facetSel.map { case (k, vs) =>
      col("key") === k && col("value").isin(vs: _*)
    }.reduce(_ || _)
    spark.read.parquet(idx.facetsPath)
      .where(col("lang") === lang && cond)
      .select(col("key"), col("df"), col("docIds"))
      .as[(String, Long, Array[Byte])]
      .flatMap { case (key, df, blob) =>
        SortedIds.decode(blob, df.toInt).iterator.map(id => (id, key))
      }
      .toDF("docId", "key")
      .groupBy("docId")
      .agg(countDistinct("key").as("nk"))
      .where(col("nk") === nKeys)
      .select("docId")
  }

  /** ALL kernel matches (AND/phrase/exclude/filters) as a Dataset — the
    * per-segment kernels run in executor tasks with an unbounded heap, so the
    * full match set never funnels through the driver. Used by full-result
    * consumers of position-dependent queries (phrase scans).
    */
  def matchedDocsDf(spark: SparkSession, idx: IndexHandle, q: QuerySpec): DataFrame = {
    import spark.implicits._
    val qAll = q.copy(pageSize = Int.MaxValue - 1, from = 0,
      trackTotalHits = Long.MaxValue)
    val n = idx.numDocs(qAll.lang)
    val avgdl = idx.avgdl(qAll.lang)
    val ctxOpt = QueryCore.context(qAll, n, avgdl)
    if (ctxOpt.isEmpty) return spark.emptyDataset[ScoredDoc].toDF()
    val ctx = ctxOpt.get
    val allTerms = (ctx.terms.map(_._1) ++ ctx.excludeTerms).distinct
    val posCol = if (ctx.phrase) col("posBlob") else lit(null).cast("binary").as("posBlob")
    val rows = spark.read.parquet(idx.segmentsPath)
      .where(col("lang") === qAll.lang && col("term").isin(allTerms.toSeq: _*))
      .select(col("chunk"), col("term"), col("df"), col("blob"), posCol)
    val dfMap: Map[String, Long] = globalDfMap(spark, idx, qAll.lang, allTerms)
    if (ctx.mode == "all" && ctx.terms.exists(t => dfMap.getOrElse(t._1, 0L) == 0L))
      return spark.emptyDataset[ScoredDoc].toDF()
    val info = QueryCore.termInfo(ctx, t => dfMap.getOrElse(t, 0L))
    val facetRead = facetReadDf(spark, idx, qAll.lang, ctx)
    val facetRowsDs =
      if (facetRead == null) spark.emptyDataset[QueryCore.FacetRow]
      else facetRead.as[QueryCore.FacetRow]
    rows.as[QueryCore.PostRow]
      .groupByKey(_._1)
      .cogroup(facetRowsDs.groupByKey(_._1)) { (_: Int, posts, facets) =>
        QueryCore.segmentKernel(ctx, info, posts.toArray,
          QueryCore.decodeFacets(facets.toSeq))
          .flatMap(_.top.iterator)
      }
      .toDF()
  }

  /** Whole-field highlighter: wrap every query-term occurrence in <em> tags
    * (reference: unified highlighter, number_of_fragments: 0, <em> tags —
    * index_searcher.py:194-204).
    */
  def highlight(text: String, lang: String, queryTerms: Set[String]): String = {
    val toks = Analyzer.analyze(text, lang).filter(t => queryTerms.contains(t.term))
    if (toks.isEmpty) return text
    val sb = new java.lang.StringBuilder(text.length + toks.length * 9)
    var pos = 0
    toks.sortBy(_.startOffset).foreach { t =>
      if (t.startOffset >= pos) {
        sb.append(text, pos, t.startOffset).append("<em>")
          .append(text, t.startOffset, t.endOffset).append("</em>")
        pos = t.endOffset
      }
    }
    sb.append(text, pos, text.length)
    sb.toString
  }

  /** Spelling suggestions from the index's term dictionary — reference term
    * suggester semantics (index_searcher.py:660-674): min_word_length 3,
    * prefix_length 1, candidates within Damerau-Levenshtein ≤ 2, score =
    * 1 − d/maxLen ≥ 0.6, ranked by (score desc, docFreq desc).
    *
    * A local termdict is read on the driver (no Spark job): only the query
    * words' first-code-point buckets, only rows passing the length
    * prefilter, ranked by [[QueryCore.suggest]] — the rule the resident
    * node runs. Other index dirs collect [[suggestPlan]], which scores in
    * executors and brings only the per-word top-`size` to the driver.
    */
  def suggest(spark: SparkSession, idx: IndexHandle, lang: String, query: String,
      size: Int = 5, minScore: Double = 0.6): Seq[String] = {
    val words = QueryCore.suggestWords(query, lang)
    if (words.isEmpty) return Nil
    idx.termdictPath match {
      case Some(p) if graft.index.LocalParquet.isLocalDir(p) =>
        // a row is kept while reading when it could correct SOME word of its
        // bucket; the ranking re-checks it per word
        val byCp = words.groupBy(_.codePointAt(0)).toArray
        val cps = byCp.map(_._1)
        val lens = byCp.map(_._2.map(QueryCore.cpLen).distinct.toArray)
        val rows = graft.index.LocalParquet.readTermDictBuckets(p, lang, cps.toSeq,
          (cp, tl) => tl >= QueryCore.SuggestMinLen && {
            val k = cps.indexOf(cp)
            k >= 0 && lens(k).exists(wl => QueryCore.suggestLenOk(wl, tl, minScore))
          })
        val byPrefix = rows.groupBy(_._1.codePointAt(0))
        QueryCore.suggest(words, cp => byPrefix.getOrElse(cp, Nil).iterator, size, minScore)
      case _ => suggestSpark(spark, idx, lang, words, size, minScore)
    }
  }

  /** [[suggest]] through the Spark plan: collects [[suggestPlan]] for
    * `words` and orders it like [[QueryCore.suggest]] (word order, then
    * rank, deduped).
    */
  private[query] def suggestSpark(spark: SparkSession, idx: IndexHandle, lang: String,
      words: Seq[String], size: Int, minScore: Double): Seq[String] = {
    import spark.implicits._
    val byWord = suggestPlan(spark, idx, lang, words, size, minScore)
      .as[(String, Int, String)]
      .collect() // ≤ size rows per query word
      .groupBy(_._1)
    words.flatMap(w => byWord.getOrElse(w, Array.empty).sortBy(_._2).map(_._3)).distinct
  }

  /** THE batched Spark suggest plan, for index dirs [[suggest]] cannot read
    * locally — shared by [[suggest]] (which collects it) and
    * `tools.ExplainCli` (which explains it), so the inspected plan can never
    * desync from the executed one. `qSeq` are [[QueryCore.suggestWords]].
    * Columns: (qword, rank, term).
    *
    * ONE Spark job for the whole (possibly multi-term) query: a single dict
    * scan filtered to the query terms' first-code-point buckets (the term
    * dictionary is never collected), each dict row exploded against only the
    * query terms sharing its first code point, per-term top-`size` via a
    * window — a 3-term misspelled query doesn't pay 3× job-scheduling
    * latency. Lengths are code points (Spark's length/levenshtein), the unit
    * of [[QueryCore.damerauLevenshtein]].
    *
    * Prefilter soundness: lev(a,b) <= 2*osa(a,b), and a candidate must pass
    * BOTH osa <= max_edits and score >= minScore
    * (osa <= (1-minScore)*maxLen), so lev <= least(2*max_edits,
    * 2*(1-minScore)*maxLen) admits every OSA-valid candidate.
    */
  def suggestPlan(spark: SparkSession, idx: IndexHandle, lang: String,
      qSeq: Seq[String], size: Int, minScore: Double): DataFrame = {
    // suggest() guards this internally; name the precondition for any other
    // caller instead of letting the StartsWith reduce throw empty.reduce
    require(qSeq.nonEmpty, "suggestPlan needs at least one query term")
    val osaUdf = udf((a: String, b: String) => QueryCore.damerauLevenshtein(a, b))
    val qArr = array(qSeq.map(lit(_)): _*)
    val maxLen = greatest(length(col("term")), length(col("qword"))).cast("double")
    // dictionary source: the materialized termdict table (one pruned scan —
    // no per-query segment aggregation); segments agg only as a fallback for
    // pre-termdict indexes
    termDictDf(spark, idx, lang)
      .where(length(col("term")) >= QueryCore.SuggestMinLen)
      // OR of literal StartsWith predicates — unlike substring(term,1,1)
      // this pushes to the term-sorted termdict parquet as row-group-
      // prunable filters. First CODE POINT, not substring(0,1): a
      // supplementary-plane first char would make the literal a lone high
      // surrogate, which UTF-8 mangles — the predicate would match nothing
      .where(qSeq.map(w => col("term").startsWith(
        w.substring(0, Character.charCount(w.codePointAt(0))))).reduce(_ || _))
      .withColumn("qword", explode(filter(qArr, q =>
        substring(q, 1, 1) === substring(col("term"), 1, 1) && q =!= col("term"))))
      .where(levenshtein(col("qword"), col("term")) <=
        least(lit(2 * QueryCore.SuggestMaxEdits),
          floor(lit(2.0 * (1.0 - minScore)) * maxLen)))
      .withColumn("osa", osaUdf(col("qword"), col("term")))
      // max_edits cap: without it a length-10 term at OSA distance 4 scores
      // 0.6 and sneaks in — the reference suggester never returns edits > 2
      .where(col("osa") <= QueryCore.SuggestMaxEdits)
      .withColumn("score", lit(1.0) - col("osa") / maxLen)
      .where(col("score") >= minScore)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qword"))
        .orderBy(col("score").desc, col("df").desc, col("term"))))
      .where(col("rank") <= size)
      .select(col("qword"), col("rank"), col("term"))
  }

  /** (term, df) rows of a language's dictionary — termdict scan when the
    * artifact exists, per-query segments aggregation otherwise.
    */
  def termDictDf(spark: SparkSession, idx: IndexHandle, lang: String): DataFrame =
    idx.termdictPath match {
      case Some(p) =>
        spark.read.parquet(p).where(col("lang") === lang).select(col("term"), col("df"))
      case None =>
        spark.read.parquet(idx.segmentsPath)
          .where(col("lang") === lang)
          .groupBy("term").agg(sum("df").as("df"))
    }

  /** (term, df) summed across ALL languages (langs partition the docs), with
    * the same pre-termdict fallback.
    */
  def termDictAllLangsDf(spark: SparkSession, idx: IndexHandle): DataFrame = {
    val base = idx.termdictPath match {
      case Some(p) => spark.read.parquet(p)
      case None    => spark.read.parquet(idx.segmentsPath)
    }
    base.groupBy("term").agg(sum("df").as("df"))
  }
}
