package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer

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
  def segmentsPath: String = s"$dir/segments"
  def facetsPath: String = s"$dir/facets"
  /** Materialized term dictionary: df lookups and suggestions read it. */
  def termdict: String = s"$dir/termdict"
  /** [[termdict]] under its earlier Option-typed name, kept for callers
    * outside `src`; new code reads [[termdict]].
    */
  def termdictPath: Option[String] = Some(termdict)

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
    // the format check first: an index of another format says "rebuild",
    // not "recover" or "not finalized"
    graft.index.IndexBuild.readProps(dir)
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
  * reference (backend/search/index_searcher.py:368-373) with reads of the
  * on-disk posting segments.
  *
  * Execution: postings/facet rows for the query terms are read with
  * (lang, term) pushdown, grouped by segment (chunk), and each segment runs
  * the [[SearchKernel]] for a per-segment top-k, then a k-way merge of the
  * per-segment heaps. A query whose candidate volume fits under
  * [[MaxDriverPostings]] reads its rows on the driver through
  * [[graft.index.LocalParquet]] (df lookups, postings, facets, payloads and
  * suggestions: no Spark job, on any FileSystem scheme); a larger one runs
  * the segment kernels IN EXECUTOR TASKS over the posting rows grouped by
  * chunk (cogrouped with the facet rows when the query filters), and only
  * O(#segments × (from+k)) ScoredDocs reach the driver.
  */
object Bm25Query {

  /** Below this Σdf the query reads its posting blobs on the driver and runs
    * the kernel there (no Spark job); above it the per-segment kernels run
    * in executor tasks. ~5M postings ≈ tens of MB. Mutable so tests can
    * force the executor path.
    */
  @volatile var MaxDriverPostings: Long = 5000000L

  /** Cap on [[IndexHandle.dfCache]] entries (~32 MB of boxed map at the cap;
    * cleared wholesale when exceeded — queries repeat head terms, so a crude
    * reset keeps the hit rate high without LRU bookkeeping).
    */
  val DfCacheMax: Int = 1 << 20

  /** Corpus-wide df for `terms`, served from the handle's driver-resident
    * term-df cache; only UNCACHED terms pay a probe: a (lang, term)-pruned
    * termdict read on the driver. Repeat terms are the norm (head terms at
    * web scale), so steady-state query latency drops to kernel +
    * payload-fetch.
    */
  def globalDfMap(spark: SparkSession, idx: IndexHandle, lang: String,
      terms: Seq[String]): Map[String, Long] = {
    val cached = terms.flatMap(t =>
      Option(idx.dfCache.get((lang, t))).map(v => t -> v.longValue)).toMap
    val missing = terms.filterNot(cached.contains)
    if (missing.isEmpty) cached
    else {
      // one pruned termdict row per term, read on the driver with no
      // aggregation
      val probed: Map[String, Long] =
        graft.index.LocalParquet.readTermDict(idx.termdict, lang, missing).toMap
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

  /** What every scoring path derives from a query before reading postings:
    * the context, the terms to read (query terms plus excludes), their
    * global df and the per-term idf.
    */
  private case class Prepared(ctx: QueryCore.Ctx, allTerms: Array[String],
      dfMap: Map[String, Long], info: Array[(String, Int, Double)])

  /** The shared prelude of [[search]] and [[matchedDocsDf]]. None when
    * nothing can match: the query analyzed to no terms, or an AND query has
    * a term of df 0. Global dfs come from the handle's term-df cache; only
    * first-seen terms pay a probe.
    */
  private def prepare(spark: SparkSession, idx: IndexHandle, q: QuerySpec): Option[Prepared] =
    QueryCore.context(q, idx.numDocs(q.lang), idx.avgdl(q.lang)).flatMap { ctx =>
      val allTerms = (ctx.terms.map(_._1) ++ ctx.excludeTerms).distinct
      val dfMap = globalDfMap(spark, idx, q.lang, allTerms.toSeq)
      // ctx.mode, not q.mode: context() forces "all" for phrase queries, so
      // a phrase issued with mode="any" must take this exit too (the kernels
      // would return nothing after wasted reads otherwise)
      if (ctx.mode == "all" && ctx.terms.exists(t => dfMap.getOrElse(t._1, 0L) == 0L)) None
      else Some(Prepared(ctx, allTerms, dfMap,
        QueryCore.termInfo(ctx, t => dfMap.getOrElse(t, 0L))))
    }

  def search(spark: SparkSession, idx: IndexHandle, q: QuerySpec): SearchResult = {
    val prep = prepare(spark, idx, q)
    if (prep.isEmpty)
      return SearchResult(Nil, 0L, "eq", suggest(spark, idx, q.lang, q.query))
    val p @ Prepared(ctx, allTerms, dfMap, info) = prep.get
    val hasFilters = ctx.facetSel.nonEmpty || ctx.dateSel.nonEmpty

    // path choice: total candidate volume ≈ Σ df over the query's terms
    // PLUS Σ df over the filter's facet rows — the driver path collects BOTH
    // streams, and a rare-term query over a broad filter (date-range's
    // has_date='0' branch, a category covering half the corpus) is
    // facet-dominated: gating on postings alone would pull corpus-scale
    // docId lists onto the driver. Small → read the blobs and run kernels
    // ON THE DRIVER (no Spark job, Lucene-like latency). Large → per-segment
    // kernels in executor tasks (nothing ever concentrates on
    // the driver). The facet volume is one pruned df-column probe (no blobs
    // read), cached per (lang, selection) on the handle like term dfs.
    val dfSum = dfMap.values.sum
    val totalPostings =
      if (!hasFilters || dfSum > MaxDriverPostings) dfSum // probe can't change the verdict
      else dfSum + facetVolume(idx, q.lang, ctx)
    val segResults: Array[SegmentResult] =
      if (totalPostings <= MaxDriverPostings) {
        // driver path: the query's posting/facet rows are a few
        // pushdown-pruned KB that land on the driver either way — read the
        // parquet directly (LocalParquet: PushedFilters-shaped predicates,
        // row-group pruning, projection) instead of paying a Spark job's
        // scheduling latency per read (LocalParquetSpec + RankParitySpec)
        val postList: Array[QueryCore.PostRow] =
          graft.index.LocalParquet.readSegmentRows(
            idx.segmentsPath, q.lang, allTerms.toSeq, ctx.phrase).toArray
        val facetList: Array[QueryCore.FacetRow] =
          if (!hasFilters) Array.empty else driverFacetRows(idx, q.lang, ctx)
        val facetByChunk = QueryCore.decodeFacets(facetList).groupBy(_._1)
        postList.groupBy(_._1).iterator.flatMap { case (chunk, posts) =>
          QueryCore.segmentKernel(ctx, info, posts, facetByChunk.getOrElse(chunk, Array.empty))
        }.toArray
      } else segmentResultsDs(spark, idx, q.lang, p).collect()

    val (page, total, relation) = QueryCore.merge(q, segResults)

    // --- payload fetch (J7: semi-join of winner ids against the doc store) ---
    val hits =
      if (page.isEmpty) Seq.empty[Hit]
      else {
        val ids = page.map(_.docId)
        // null url/text normalize to "" exactly like the resident path
        // (InMemoryIndex.load documents NULL columns as legal docstore
        // rows); a null Hit.url would NPE the JSON render downstream
        // page-sized point read: docId-sorted row groups prune to ~one
        // row group per file
        val docs: Map[Long, (String, String)] =
          graft.index.LocalParquet.readDocPayloads(s"${idx.dir}/docstore", ids.toSeq)
            .map { case (id, url, _, text) =>
              id -> (if (url == null) "" else url, if (text == null) "" else text)
            }.toMap
        val qset = ctx.terms.map(_._1).toSet
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

  /** THE executor plan, shared by [[search]] above [[MaxDriverPostings]]
    * and [[matchedDocsDf]]: the query's segment rows (`posBlob` only for
    * phrase queries) grouped by chunk, each chunk running
    * [[QueryCore.segmentKernel]] in one executor task. A filtered query
    * cogroups its filter's facet rows in by chunk; an unfiltered one groups
    * the segment rows alone, one exchange (a cogroup with an empty facet side
    * still planned an exchange and a sort of it). Chunks partition the docs,
    * so one chunk's result is final for its docs.
    */
  private def segmentResultsDs(spark: SparkSession, idx: IndexHandle, lang: String,
      p: Prepared): Dataset[SegmentResult] = {
    import spark.implicits._
    val ctx = p.ctx
    val info = p.info
    val posCol = if (ctx.phrase) col("posBlob") else lit(null).cast("binary").as("posBlob")
    val posts = spark.read.parquet(idx.segmentsPath)
      .where(col("lang") === lang && col("term").isin(p.allTerms.toSeq: _*))
      .select(col("chunk"), col("term"), col("df"), col("blob"), posCol)
      .as[QueryCore.PostRow]
      .groupByKey(_._1)
    if (ctx.facetSel.isEmpty && ctx.dateSel.isEmpty)
      posts.flatMapGroups { (_: Int, rows) =>
        QueryCore.segmentKernel(ctx, info, rows.toArray, Array.empty)
      }
    else
      posts.cogroup(facetReadDs(spark, idx, lang, ctx).groupByKey(_._1)) { (_: Int, rows, facets) =>
        QueryCore.segmentKernel(ctx, info, rows.toArray, QueryCore.decodeFacets(facets.toSeq))
      }
  }

  /** ALL matches of a query (mode, phrase, excludes, meta/year and date
    * filters) as a (docId, score) DataFrame — the full-result path for
    * consumers such as hybrid fusion and phrase scans, where [[search]]
    * returns one page. It is [[segmentResultsDs]] with an unbounded heap:
    * each chunk's kernel keeps all of its matches, so one task holds up to a
    * chunk's doc count of ScoredDocs (mode "any" included); nothing is
    * shuffled per posting and nothing funnels through the driver.
    */
  def matchedDocsDf(spark: SparkSession, idx: IndexHandle, q: QuerySpec): DataFrame = {
    import spark.implicits._
    prepare(spark, idx, q.copy(pageSize = Int.MaxValue - 1, from = 0,
      trackTotalHits = Long.MaxValue)) match {
      case None => spark.emptyDataset[ScoredDoc].toDF()
      case Some(p) => segmentResultsDs(spark, idx, q.lang, p).flatMap(_.top.iterator).toDF()
    }
  }

  /** Σdf over the facet rows a query's filter selection reads — the volume
    * the driver path would read. One df-column-only driver read of the
    * pruned facet rows (the docId blobs are never read), cached on the
    * handle per (lang, canonical selection) so repeat filtered queries — the
    * norm for UI-issued date pickers and category filters — skip the probe
    * entirely.
    */
  private def facetVolume(idx: IndexHandle, lang: String, ctx: QueryCore.Ctx): Long = {
    // structural key, not toString: rendered strings collide (a value
    // containing ", " is indistinguishable from two values) and a collision
    // silently reuses another selection's volume in the path choice
    val key = (lang, (ctx.facetSel, ctx.dateSel): AnyRef)
    Option(idx.facetVolCache.get(key)).map(_.longValue).getOrElse {
      // same label multiplicity as the rows the kernel reads
      val v = driverFacetRows(idx, lang, ctx, withBlob = false).iterator.map(_._3).sum
      if (idx.facetVolCache.size > DfCacheMax) idx.facetVolCache.clear()
      idx.facetVolCache.put(key, Long.box(v))
      v
    }
  }

  /** Driver-read analog of [[facetReadDs]]: ONE pass over the pruned facet
    * files, then the same per-branch labeling the Spark union produced — a
    * facetSel match keeps its physical key, a date-rule match is relabeled
    * to the rule's synthetic key, and a row matching both branches is
    * emitted for each (exactly the union's row multiset). Rule acceptance
    * uses DateRule.accepts, the same shared definition the resident path
    * consumes; values on the date keys are ASCII ISO dates, so Java string
    * order, Spark UTF8String order and the parquet STRING comparator agree.
    */
  private def driverFacetRows(idx: IndexHandle, lang: String,
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
    * intersects pre-selected docId lists). Only a query with filters reads
    * them.
    */
  private def facetReadDs(spark: SparkSession, idx: IndexHandle,
      lang: String, ctx: QueryCore.Ctx): Dataset[QueryCore.FacetRow] = {
    import spark.implicits._
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
    parts.reduce(_ union _).as[QueryCore.FacetRow]
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
    * The termdict is read on the driver (no Spark job): only the query
    * words' first-code-point buckets, only rows passing the length
    * prefilter, ranked by [[QueryCore.suggest]] — the rule the resident
    * node runs.
    */
  def suggest(spark: SparkSession, idx: IndexHandle, lang: String, query: String,
      size: Int = 5, minScore: Double = 0.6): Seq[String] = {
    val words = QueryCore.suggestWords(query, lang)
    if (words.isEmpty) return Nil
    // a row is kept while reading when it could correct SOME word of its
    // bucket; the ranking re-checks it per word
    val byCp = words.groupBy(_.codePointAt(0)).toArray
    val cps = byCp.map(_._1)
    val lens = byCp.map(_._2.map(QueryCore.cpLen).distinct.toArray)
    val rows = graft.index.LocalParquet.readTermDictBuckets(idx.termdict, lang, cps.toSeq,
      (cp, tl) => tl >= QueryCore.SuggestMinLen && {
        val k = cps.indexOf(cp)
        k >= 0 && lens(k).exists(wl => QueryCore.suggestLenOk(wl, tl, minScore))
      })
    val byPrefix = rows.groupBy(_._1.codePointAt(0))
    QueryCore.suggest(words, cp => byPrefix.getOrElse(cp, Nil).iterator, size, minScore)
  }

  /** THE batched Spark suggest plan, the distributed form of [[suggest]]:
    * a reference plan that no serving path runs. RankParitySpec's three-way
    * suggest parity compares [[suggest]] against it, and `tools.ExplainCli`
    * explains it. `qSeq` are [[QueryCore.suggestWords]].
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
    // no per-query segment aggregation)
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

  /** (term, df) rows of a language's dictionary: a termdict scan. */
  def termDictDf(spark: SparkSession, idx: IndexHandle, lang: String): DataFrame =
    spark.read.parquet(idx.termdict).where(col("lang") === lang).select(col("term"), col("df"))

  /** (term, df) summed across ALL languages (langs partition the docs). */
  def termDictAllLangsDf(spark: SparkSession, idx: IndexHandle): DataFrame =
    spark.read.parquet(idx.termdict).groupBy("term").agg(sum("df").as("df"))
}
