package graft.query

import graft.analysis.Analyzer
import graft.index.{PostingListReader, SortedIds}

/** Engine-core pieces shared by every execution surface of the query engine:
  * the Spark paths in [[Bm25Query]] (driver-collected and executor-side
  * cogroup) and the resident serving path in [[InMemoryIndex]]. Pure
  * functions of blobs — no SparkSession.
  */
object QueryCore {

  /** One posting row: (chunk, term, df, blob, posBlob). */
  type PostRow = (Int, String, Long, Array[Byte], Array[Byte])
  /** One facet row: (chunk, key, df, docIdsBlob). */
  type FacetRow = (Int, String, Long, Array[Byte])

  /** A facet row with its docId list already decoded — the kernel's input.
    * The Spark path decodes collected blobs once ([[decodeFacets]]); the
    * resident path passes its in-memory arrays directly (no per-query
    * encode/decode round-trip on the serving hot path).
    */
  type FacetIds = (Int, String, Long, Array[Long])

  def decodeFacets(rows: Iterable[FacetRow]): Array[FacetIds] =
    rows.iterator.map(r => (r._1, r._2, r._3, SortedIds.decode(r._4, r._3.toInt)))
      .toArray

  /** Synthetic facet keys carrying the Q5 date-filter components — the read
    * layers relabel matching facet rows with these before the kernel runs:
    * docs whose `date` is in range; docs with NO date; docs whose
    * series_start ≤ search end; docs whose series_end ≥ search start.
    */
  val DateInKey = "__date_in"
  val NoDateKey = "__no_date"
  val SeriesStartOkKey = "__ss_ok"
  val SeriesEndOkKey = "__se_ok"
  val DateKeys: Set[String] = Set(DateInKey, NoDateKey, SeriesStartOkKey, SeriesEndOkKey)

  /** The physical facet keys the Q5 date filter reads (routing + load-time
    * key selection; the per-selection read rules are [[dateRules]]).
    */
  val PhysicalDateKeys: Set[String] =
    Set("date", "has_date", "series_start_date", "series_end_date")

  /** ONE read rule of the Q5 date filter: relabel facet lists of physical
    * `key` whose value lies in [lo, hi] (string/ISO-date order, either bound
    * open) as synthetic `label`. Range-shaped ON PURPOSE: the Spark read
    * layer pushes `lo <= value <= hi` into the parquet scan as-is.
    */
  case class DateRule(key: String, label: String,
      lo: Option[String], hi: Option[String]) {
    def accepts(value: String): Boolean =
      lo.forall(value >= _) && hi.forall(value <= _)
  }

  /** THE Q5 date-filter read semantics — the single source every layer
    * derives from (resident [[InMemoryIndex.partialFor]], Spark
    * [[Bm25Query.facetReadDf]] and [[Bm25Query.dateDocIds]]); the kernel's
    * consumption of the labels lives in [[segmentKernel]]. A hand-copied
    * predicate in any layer would silently desync serving from the Spark
    * paths on the next semantics change. Rules, given search range
    * `(sOpt, eOpt)` as "yyyy-MM-dd" bounds:
    *   - `date` in [s, e]                 → [[DateInKey]]
    *   - `has_date` == "0"                → [[NoDateKey]]
    *   - `series_start_date` <= e (if e)  → [[SeriesStartOkKey]]
    *   - `series_end_date` >= s (if s)    → [[SeriesEndOkKey]]
    * combined by the kernel as (DateIn) ∪ (NoDate ∩ SeriesStartOk ∩
    * SeriesEndOk), the reference's index_searcher.py:64-150 OR-logic.
    */
  def dateRules(sel: (Option[String], Option[String])): Seq[DateRule] = {
    val (sOpt, eOpt) = sel
    Seq(Some(DateRule("date", DateInKey, sOpt, eOpt)),
      Some(DateRule("has_date", NoDateKey, Some("0"), Some("0"))),
      eOpt.map(e0 => DateRule("series_start_date", SeriesStartOkKey, None, Some(e0))),
      sOpt.map(s0 => DateRule("series_end_date", SeriesEndOkKey, Some(s0), None))
    ).flatten
  }

  /** Query-wide immutable context derived from the QuerySpec + corpus stats. */
  case class Ctx(
      terms: Array[(String, Int)], // distinct (term, first qPos)
      phrasePlan: Array[(Int, Int)],
      excludeTerms: Array[String],
      facetSel: Seq[(String, Seq[String])],
      n: Long,
      avgdl: Double,
      mode: String,
      phrase: Boolean,
      k: Int,
      cap: Long,
      // (start date, end date) as "yyyy-MM-dd" strings, either bound open
      dateSel: Option[(Option[String], Option[String])] = None) {
    val exSet: Set[String] = excludeTerms.toSet
    val nFilters: Int = facetSel.map(_._1).distinct.size
  }

  /** First-position dedup over an analyzed token array → (term, qPos) —
    * THE query-term-list semantics (Lucene would score duplicate terms
    * twice; the reference UI never issues them, so dedup is documented as
    * ours). One copy: [[context]] and [[Bm25Query.queryTerms]] both call
    * this, so a semantics change can never desync the serving kernel's
    * term list from the Spark path's.
    */
  def dedupQueryTerms(toks: Array[graft.analysis.Token]): Array[(String, Int)] = {
    val seen = scala.collection.mutable.LinkedHashMap[String, Int]()
    toks.foreach(t => if (!seen.contains(t.term)) seen(t.term) = t.pos)
    seen.toArray
  }

  /** Build the context; None if the analyzed query is empty. */
  def context(q: QuerySpec, n: Long, avgdl: Double): Option[Ctx] = {
    // ONE analyzer pass: the deduped term list and the phrase plan both
    // derive from the same token array (queryTerms re-analyzing the same
    // text doubled analyzer work per phrase query on the serving hot path)
    val toks = Analyzer.analyze(q.query, q.lang)
    val terms = dedupQueryTerms(toks)
    // paging validation lives HERE, not per-surface: k = from + pageSize
    // wrapped negative would flip every kernel into count-only mode and
    // return a successful-looking empty page with totalHits > 0 for any
    // non-HTTP caller (the HTTP layer's MaxResultWindow is a policy cap on
    // top, not the correctness guard). pageSize 0 stays legal — that IS the
    // count-only query. Validated BEFORE the empty-analysis early return:
    // the same invalid from must throw identically whether the query text
    // analyzed to terms or to nothing (a stopword-only query previously
    // returned a successful empty result for from=-5). trackTotalHits must
    // be positive — at <= 0 every segment reports capped immediately,
    // total collapses to 0/"gte" and the suggester fires on a MATCHING
    // query, violating its documented trigger.
    require(q.from >= 0 && q.pageSize >= 0 &&
      q.from.toLong + q.pageSize <= Int.MaxValue,
      s"invalid paging: from=${q.from} pageSize=${q.pageSize}")
    require(q.trackTotalHits > 0,
      s"invalid trackTotalHits=${q.trackTotalHits} (must be positive)")
    // filterSelections ALSO validates (the year/yearRange ambiguity refuse)
    // — run it before the early return for the same reason as the paging
    // requires above: a stopword-only query with ambiguous filters must
    // throw identically to a matching one, not silently succeed empty
    val (facetSel, dateSel) = filterSelections(q)
    if (terms.isEmpty) return None
    val termIndex = terms.map(_._1).zipWithIndex.toMap
    val phrasePlan: Array[(Int, Int)] =
      if (!q.phrase) Array.empty
      else toks.map(t => (termIndex(t.term), t.pos))
    val excludeTerms = q.excludeWords
      .flatMap(w => Analyzer.terms(w, q.lang)).distinct.toArray
    // match_phrase is conjunctive (reference slop-0 phrase): phrase + "any"
    // would silently skip verification in the WAND path, so force "all"
    val mode = if (q.phrase) "all" else q.mode
    Some(Ctx(terms, phrasePlan, excludeTerms, facetSel, n, avgdl,
      mode, q.phrase, q.from + q.pageSize, q.trackTotalHits, dateSel))
  }

  /** The ONE definition of a query's filter selections, shared by the paged
    * kernel path ([[context]]) and the analytics/fusion path
    * ([[Bm25Query.scoreDf]]): the year-ambiguity guard, the yearRange →
    * "year" facet-value expansion, and the dateRange → physical year-bound
    * mapping. A change to any of these made here reaches every path —
    * hand-copies would desync filter semantics between the paged and
    * DataFrame engines.
    */
  def filterSelections(q: QuerySpec)
      : (Seq[(String, Seq[String])], Option[(Option[String], Option[String])]) = {
    // a metaFilter on "year" PLUS a yearRange would put two value lists
    // under one key — the kernel (and the facet-join path) would OR them
    // while the naive oracle ANDs two predicates; refuse the ambiguity
    require(!(q.metaFilters.contains("year") && q.yearRange.isDefined),
      "metaFilters(\"year\") combined with yearRange is ambiguous — " +
        "express the year constraint once")
    val facetSel: Seq[(String, Seq[String])] =
      q.metaFilters.toSeq ++ q.yearRange.map { case (a, b) =>
        "year" -> (a to b).map(_.toString)
      }.toSeq
    val dateSel = q.dateRange.collect { case (s, e) if s.isDefined || e.isDefined =>
      (s.map(graft.Fmt.yearStart), e.map(graft.Fmt.yearEnd))
    }
    (facetSel, dateSel)
  }

  /** termInfo = (term, qPos, idf from GLOBAL df). */
  def termInfo(ctx: Ctx, dfOf: String => Long): Array[(String, Int, Double)] =
    ctx.terms.map { case (t, p) => (t, p, Bm25.idf(ctx.n, dfOf(t))) }

  /** One segment's kernel over its posting/facet rows. */
  def segmentKernel(ctx: Ctx, info: Array[(String, Int, Double)],
      postList: Array[PostRow], facetList: Array[FacetIds]): Iterator[SegmentResult] = {
    val (dateRows, metaRows) = facetList.partition(r => DateKeys.contains(r._2))
    val metaAllowed: Option[Array[Long]] =
      if (ctx.nFilters == 0) None
      else {
        val byKey = metaRows.groupBy(_._2)
        if (byKey.size < ctx.nFilters) Some(Array.emptyLongArray)
        else {
          val lists = byKey.values.map { rowsOfKey =>
            SortedIds.unionAll(rowsOfKey.map(_._4).toSeq)
          }.toArray
          Some(SortedIds.intersectAll(lists))
        }
      }
    // Q5 date OR-filter: (date exists ∧ in range) ∨ (no date ∧ series overlap)
    val dateAllowed: Option[Array[Long]] = ctx.dateSel.map { case (sOpt, eOpt) =>
      val byKey = dateRows.groupBy(_._2)
      def u(k: String): Array[Long] = SortedIds.unionAll(
        byKey.getOrElse(k, Array.empty[FacetIds]).map(_._4).toSeq)
      val inRange = u(DateInKey)
      var noDate = u(NoDateKey)
      // docs missing a series bound fail the corresponding range condition
      // (OpenSearch range on a missing field never matches)
      if (eOpt.isDefined) noDate = SortedIds.intersectAll(Array(noDate, u(SeriesStartOkKey)))
      if (sOpt.isDefined) noDate = SortedIds.intersectAll(Array(noDate, u(SeriesEndOkKey)))
      SortedIds.unionAll(Seq(inRange, noDate))
    }
    val allowed: Option[SortedIdSet] = (metaAllowed, dateAllowed) match {
      case (None, None)       => None
      case (Some(m), None)    => Some(new SortedIdSet(m))
      case (None, Some(d))    => Some(new SortedIdSet(d))
      case (Some(m), Some(d)) => Some(new SortedIdSet(SortedIds.intersectAll(Array(m, d))))
    }
    // a provably-empty selection (filter key absent from this chunk, date
    // range matching nothing) admits no doc — skip the kernel instead of
    // walking EVERY posting of every query term with passesFilters rejecting
    // each one (theta never rises off -inf when no hit lands, so WAND's
    // pruning never engages on that walk). Result is bit-identical to the
    // full run: empty top, 0 hits, uncapped.
    if (allowed.exists(_.isEmpty))
      return Iterator.single(SegmentResult(Array.empty[ScoredDoc], 0L, capped = false))
    val exIts = postList.filter(r => ctx.exSet.contains(r._2)).map { r =>
      val it = new PostingListReader(r._4, null).iterator()
      it.start(); it
    }
    val tsArr = info.flatMap { case (t, qp, idfV) =>
      postList.find(r => r._2 == t && !ctx.exSet.contains(t)).map { r =>
        if (ctx.phrase && (r._5 == null || r._5.isEmpty))
          throw new IllegalStateException(
            s"phrase query requires a positions-enabled index (term '$t' was " +
              "built with storePositions = false)")
        val reader = new PostingListReader(r._4, r._5)
        val it = reader.iterator(withPositions = ctx.phrase)
        it.start()
        new TermState(t, it, idfV, reader.maxTfNorm(Bm25.K1, Bm25.B, ctx.avgdl), qp)
      }
    }
    if (ctx.mode == "all" && tsArr.length < info.length) Iterator.empty
    else Iterator.single(SearchKernel.run(tsArr, ctx.avgdl, ctx.mode, ctx.phrase,
      exIts, allowed, ctx.k, ctx.cap, ctx.phrasePlan))
  }

  // ---- the term suggester (reference index_searcher.py:660-674) ----
  // ONE rule for every deployment: the resident node's dictionary buckets,
  // the local termdict read and the Spark plan's OSA UDF all go through the
  // functions below. Lengths, distances and the term tie-break are in CODE
  // POINTS — the unit Spark's length/levenshtein/substring and the parquet
  // UTF-8 byte order use — so a supplementary-plane term scores and ranks
  // the same on every path.

  /** The suggester's min_word_length, in code points. */
  val SuggestMinLen = 3
  /** The suggester's max_edits (OpenSearch term-suggester default, which
    * the reference never overrides). */
  val SuggestMaxEdits = 2

  def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Query words the suggester corrects: analyzed terms of at least
    * [[SuggestMinLen]] code points, first occurrence only (a repeated word
    * would otherwise re-rank the same bucket for output the final dedup
    * drops).
    */
  def suggestWords(query: String, lang: String): Seq[String] =
    Analyzer.terms(query, lang).iterator.filter(cpLen(_) >= SuggestMinLen).distinct.toSeq

  /** Length-delta prefilter, run before the OSA DP: |len diff| lower-bounds
    * the edit distance, so a candidate of code-point length `tl` can only
    * pass the max_edits cap and the score floor for a word of length `wl`
    * when the delta is within both.
    */
  def suggestLenOk(wl: Int, tl: Int, minScore: Double): Boolean = {
    val d = math.abs(tl - wl)
    d <= SuggestMaxEdits && d <= (1.0 - minScore) * math.max(wl, tl)
  }

  /** Top-`size` corrections of one word among `candidates` (term, df) that
    * share its first code point: length ≥ [[SuggestMinLen]], not the word
    * itself, OSA distance ≤ [[SuggestMaxEdits]], score 1 − d/maxLen ≥
    * `minScore`, ranked by (score desc, df desc, term in code-point order).
    */
  def rankSuggestions(w: String, candidates: Iterator[(String, Long)],
      size: Int, minScore: Double): Seq[String] = {
    val wcp = codePoints(w)
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Double)]()
    candidates.foreach { case (t, df) =>
      val tl = cpLen(t)
      if (tl >= SuggestMinLen && suggestLenOk(wcp.length, tl, minScore) && t != w) {
        val dist = osa(wcp, codePoints(t))
        val score = 1.0 - dist.toDouble / math.max(wcp.length, tl)
        if (dist <= SuggestMaxEdits && score >= minScore) out += ((t, df, score))
      }
    }
    out.sortWith { (a, b) =>
      if (a._3 != b._3) a._3 > b._3
      else if (a._2 != b._2) a._2 > b._2
      else cpCompare(a._1, b._1) < 0
    }.iterator.take(size).map(_._1).toSeq
  }

  /** Suggestions for a query's words: each word ranked against its
    * first-code-point bucket, concatenated in word order, deduped.
    */
  def suggest(words: Seq[String], bucket: Int => Iterator[(String, Long)],
      size: Int, minScore: Double): Seq[String] =
    words.flatMap(w => rankSuggestions(w, bucket(w.codePointAt(0)), size, minScore)).distinct

  /** Code-point order (= UTF-8 byte order, Spark's string order); differs
    * from String.compareTo only between surrogates and U+E000..U+FFFF.
    */
  def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val x = a.codePointAt(i); val y = b.codePointAt(j)
      if (x != y) return Integer.compare(x, y)
      i += Character.charCount(x); j += Character.charCount(y)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Optimal-string-alignment Damerau-Levenshtein over code points (the
    * variant Lucene's suggester uses).
    */
  def damerauLevenshtein(a: String, b: String): Int = osa(codePoints(a), codePoints(b))

  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](cpLen(s))
    var i = 0; var k = 0
    while (i < s.length) {
      val c = s.codePointAt(i)
      out(k) = c; k += 1
      i += Character.charCount(c)
    }
    out
  }

  /** OSA distance with three rolling DP rows (i-2, i-1, i). */
  private def osa(a: Array[Int], b: Array[Int]): Int = {
    val m = a.length; val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    var prev2 = new Array[Int](n + 1)
    var prev = Array.tabulate(n + 1)(identity)
    var cur = new Array[Int](n + 1)
    var i = 1
    while (i <= m) {
      cur(0) = i
      var j = 1
      while (j <= n) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var d = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          d = math.min(d, prev2(j - 2) + cost)
        cur(j) = d
        j += 1
      }
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    prev(n)
  }

  /** Merge per-segment heaps → (page, totalHits, relation). */
  def merge(q: QuerySpec, segResults: Array[SegmentResult]): (Array[ScoredDoc], Long, String) = {
    val merged = new TopK(q.from + q.pageSize)
    segResults.foreach(_.top.foreach(merged.offer))
    val page = merged.toArray
      .sortBy(s => (-s.score, s.docId))
      .slice(q.from, q.from + q.pageSize)
    val rawTotal = segResults.map(_.hitCount).sum
    val total = math.min(rawTotal, q.trackTotalHits)
    // "gte" when any single segment capped OR the cross-segment sum exceeds
    // the cap (each segment's count is exact up to the cap, but their sum can
    // pass it with no individual segment capping)
    val relation =
      if (segResults.exists(_.capped) || rawTotal > q.trackTotalHits) "gte" else "eq"
    (page, total, relation)
  }
}
