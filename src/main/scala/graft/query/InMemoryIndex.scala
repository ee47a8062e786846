package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.{PostingListMerger, PostingListReader, SortedIds, TableIO}
import scala.collection.parallel.CollectionConverters._

/** Resident serving layer — the analog of the reference's always-on
  * OpenSearch process (its prod serving box is a 2-vCPU/4 GB VM,
  * DEPLOYMENT.md:181): Spark BUILDS the index; a query node loads the
  * segments once and serves top-k lookups at memory latency, no Spark job per
  * query.
  *
  * Load-time work: per-(lang,term) chunk segments are k-way merged into one
  * resident posting list (same [[PostingListMerger]] as the build), facet
  * lists decoded, doc payloads resident OR fetched on demand. Identical
  * results to the Spark paths are gated by RankParitySpec.
  *
  * SHARDING (the serving-fleet model at scale): a node's memory is bounded by
  * what it loads —
  *   - postings shard by TERM bucket (`buckets`),
  *   - facet lists shard by facet KEY bucket (`facetBuckets`,
  *     [[graft.index.IndexBuild.facetBucketOf]]) — key-level, so a query can
  *     enumerate the shards its filters need even for range filters,
  *   - doc payloads are NOT resident on bucket-subset nodes: the page's ≤k
  *     winners are point-read from the docId-sorted docstore (parquet min/max
  *     row-group pruning) at answer time.
  * A subset node returns results identical to a full node for any query whose
  * terms/filter-keys fall inside its shards.
  */
final class InMemoryIndex(
    idx: IndexHandle,
    postings: java.util.HashMap[(String, String), (Long, Array[Byte], Array[Byte])],
    facets: Map[(String, String, String), Array[Long]],
    dict: Map[String, Array[(String, Long)]],
    docs: java.util.HashMap[Long, (String, String)],
    /** bytes of blobs/payloads resident on this node — the RSS proxy the
      * shard-scaling spec gates on */
    val loadedBytes: Long,
    /** GLOBAL (lang, term) → df from the termdict artifact, loaded on
      * doc-shard (chunk-subset) nodes: BM25 idf must come from corpus-wide
      * df, not this shard's local df, for per-doc scores to be identical to
      * a full node's (the DFS-query analog of distributed Lucene).
      */
    globalDf: Map[(String, String), Long] = Map.empty,
    /** chunk subset this node serves (None = the whole index) — lets a
      * fleet coordinator VERIFY disjoint-and-complete coverage instead of
      * silently serving pages missing unassigned chunks.
      */
    val servedChunks: Option[Set[Int]] = None) extends SearchNode {

  // ONE implementation of the stats-derived scoring inputs (IndexHandle's):
  // a second copy here could silently diverge from the Spark path
  private def numDocs(lang: String): Long = idx.numDocs(lang)
  private def avgdl(lang: String): Double = idx.avgdl(lang)

  // (lang, key) → value lists, so range filters (date/series) iterate ONE
  // key's values instead of scanning every resident facet entry per query
  private val facetsByKey: Map[(String, String), Array[(String, Array[Long])]] =
    facets.toSeq.groupBy(e => (e._1._1, e._1._2))
      .map { case (k, es) => k -> es.map(e => (e._1._3, e._2)).toArray }

  def search(q: QuerySpec): SearchResult = {
    // analyze the query ONCE: the same Ctx drives the kernel and supplies
    // the highlight term set materialize needs
    val ctxOpt = QueryCore.context(q, numDocs(q.lang), avgdl(q.lang))
    val partials = ctxOpt.map(partialFor(q, _)).getOrElse(Array.empty[SegmentResult])
    materialize(q, partials, ctxOpt.map(_.terms.map(_._1).toSet))
  }

  /** This node's un-materialized contribution to a query: the per-segment
    * top-k heaps + hit counts, scored with GLOBAL idf — directly mergeable
    * across doc-shard nodes by [[QueryCore.merge]] (scatter side of
    * [[ShardedServe]]). Empty when the query analyzes to nothing or a
    * required term has no posting ON THIS NODE (a doc missing a term on this
    * shard is missing it globally: chunks partition docs).
    */
  def searchPartial(q: QuerySpec): Array[SegmentResult] =
    QueryCore.context(q, numDocs(q.lang), avgdl(q.lang))
      .map(partialFor(q, _)).getOrElse(Array.empty)

  private def partialFor(q: QuerySpec, ctx: QueryCore.Ctx): Array[SegmentResult] = {
    def localDf(t: String): Long =
      Option(postings.get((q.lang, t))).map(_._1).getOrElse(0L)
    // idf from corpus-wide df (termdict) on shard nodes; local == global on
    // full nodes. Local absence still prunes "all"-mode queries.
    def dfOf(t: String): Long = globalDf.getOrElse((q.lang, t), localDf(t))
    // ctx.mode, not q.mode: context() forces "all" for phrase queries — a
    // phrase issued with mode="any" must take this early exit too (same
    // field the Spark path gates on in Bm25Query.search)
    if (ctx.mode == "all" && ctx.terms.exists(t => localDf(t._1) == 0L))
      return Array.empty
    val info = QueryCore.termInfo(ctx, dfOf)

    val allTerms = (ctx.terms.map(_._1) ++ ctx.excludeTerms).distinct
    val postList: Array[QueryCore.PostRow] = allTerms.flatMap { t =>
      Option(postings.get((q.lang, t))).map { case (df, blob, posBlob) =>
        (0, t, df, blob, if (ctx.phrase) posBlob else null)
      }
    }
    // resident docId arrays feed the kernel DIRECTLY — no per-query
    // encode/decode round-trip on the serving hot path
    val metaFacetList: Array[QueryCore.FacetIds] = ctx.facetSel.flatMap { case (key, vs) =>
      vs.flatMap { v =>
        facets.get((q.lang, key, v)).map { ids =>
          (0, key, ids.length.toLong, ids)
        }
      }
    }.toArray
    // Q5 date-filter rows: relabel matching (key, value) lists with the
    // synthetic keys the kernel's OR-filter consumes. The predicate family
    // has ONE definition (QueryCore.dateRules) shared with the Spark read
    // layer — a per-layer copy is how serving would silently desync.
    val dateFacetList: Array[QueryCore.FacetIds] = ctx.dateSel match {
      case None => Array.empty
      case Some(sel) =>
        QueryCore.dateRules(sel).iterator.flatMap { rule =>
          facetsByKey.getOrElse((q.lang, rule.key), Array.empty).iterator.collect {
            case (value, ids) if rule.accepts(value) =>
              (0, rule.label, ids.length.toLong, ids): QueryCore.FacetIds
          }
        }.toArray
    }
    val facetList = metaFacetList ++ dateFacetList
    QueryCore.segmentKernel(ctx, info, postList, facetList).toArray
  }

  /** Merge partials (this node's, or a fleet's) and materialize the page:
    * payload fetch, highlighting, empty-result suggestions.
    */
  private[query] def materialize(q: QuerySpec, segResults: Array[SegmentResult],
      qsetOpt: Option[Set[String]] = None): SearchResult = {
    if (segResults.isEmpty)
      return SearchResult(Nil, 0L, "eq", suggest(q.lang, q.query))
    val (page, total, relation) = QueryCore.merge(q, segResults)
    // fleet coordinators call without a precomputed term set (their nodes
    // analyzed independently); the single-node path passes Ctx's terms
    val qset = qsetOpt.getOrElse(Bm25Query.queryTerms(q).map(_._1).toSet)
    val pageIds = page.toSeq.map(_.docId)
    // snapshot cached VALUES up front (not containsKey): a concurrent
    // wholesale clear() between check and read must not leave a hit with an
    // empty payload — anything not in this snapshot gets fetched
    val cachedPayloads: Map[Long, (String, String)] =
      pageIds.flatMap(id => Option(payloadCache.get(id)).map(id -> _)).toMap
    val missing = pageIds.filterNot(id =>
      docs.containsKey(id) || cachedPayloads.contains(id))
    val fetched: Map[Long, (String, String)] =
      if (missing.isEmpty) Map.empty else fetchDocs(missing)
    if (fetched.nonEmpty) {
      if (payloadCache.size > InMemoryIndex.PayloadCacheMax) payloadCache.clear()
      fetched.foreach { case (k, v) => payloadCache.put(k, v) }
    }
    val hits = page.toSeq.map { sd =>
      val id = sd.docId
      val (url, text) = Option(docs.get(id)).orElse(cachedPayloads.get(id))
        .orElse(fetched.get(id)).getOrElse(("", ""))
      Hit(id, sd.score, url, q.lang, Bm25Query.highlight(text, q.lang, qset))
    }
    // suggest on ZERO MATCHES (the reference's fallback trigger), not on an
    // empty page: a deep-pagination request past the last page or a
    // pageSize=0 count-only query has hits.isEmpty with total > 0 and must
    // not pay a vocabulary scan or attach corrections to a successful query
    val sugg = if (total == 0L) suggest(q.lang, q.query) else Nil
    SearchResult(hits, total, relation, sugg)
  }

  // Bounded payload cache for bucket/chunk-subset nodes (no resident
  // docstore): head queries repeat their winners, so only FIRST-seen page
  // docs pay the docstore point read — the same serving-cache idea as the
  // reference's 30-min metadata TTL cache (search_api.py:86). Node is bound
  // to one index version (reload after mutations), so entries never go stale.
  private val payloadCache = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()

  /** On-demand payload point-read for a page of winners: docId IN-list over
    * the docId-sorted docstore, read on the driver — parquet min/max stats
    * prune to ~one row group per file (same read as Bm25Query's payload
    * fetch). Null url/text normalize to "", the convention of load().
    */
  private def fetchDocs(ids: Seq[Long]): Map[Long, (String, String)] =
    graft.index.LocalParquet
      .readDocPayloads(s"${idx.dir}/docstore", ids)
      .map { case (id, url, _, text) =>
        id -> (if (url == null) "" else url, if (text == null) "" else text) }
      .toMap

  /** Full-row point-read for the context / similar-documents endpoints —
    * same docId-sorted row-group pruning as [[fetchDocs]], plus lang + meta
    * (the reference reads these off the chunk's `_source`). Not on the
    * search hot path, so no cache tier.
    */
  def docPayloads(ids: Seq[Long]): Map[Long, DocPayload] = {
    if (ids.isEmpty) return Map.empty
    graft.index.LocalParquet
      .readDocPayloadsMeta(s"${idx.dir}/docstore", ids)
      .map { case (id, url, lang, text, meta) =>
        id -> DocPayload(id,
          if (url == null) "" else url, // null-safe url/text, same as load()
          if (text == null) "" else text,
          lang,
          // a NULL meta map is a legal docstore row (normalizeInput passes
          // meta through; every build stage tolerates it) — normalize like
          // url/text or neighborIds' meta.get NPEs the /api/context render
          if (meta == null) Map.empty else meta)
      }.toMap
  }

  /** Previous/next chunk ids for the /api/context endpoint, from the RESIDENT
    * facet lists (no docstore scan — the reference's indexed term query on
    * (document_id, paragraph_id±1), index_searcher.py:600-610, maps to a
    * sorted-list intersection here):
    *   - corpora that chunk documents into paragraphs (meta carries
    *     document_id + numeric paragraph_id): neighbor = the doc in the
    *     document_id facet list that also appears in the paragraph_id (p±1)
    *     list — two-pointer intersection of sorted docId arrays;
    *   - flat corpora (webtext): neighbors are the adjacent docIds of the
    *     same `source` facet list (exactly the oracled `neighbor_context`
    *     window semantics), found by binary search. On a chunk-subset fleet
    *     node the doc itself may live on another shard — the insertion point
    *     still yields this shard's nearest same-source docIds on either
    *     side, and the coordinator takes max(prev)/min(next) across shards.
    */
  def neighborIds(lang: String, docId: Long,
      meta: Map[String, String]): (Option[Long], Option[Long]) = {
    def firstIntersect(a: Array[Long], b: Array[Long]): Option[Long] = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) return Some(a(i))
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      None
    }
    (meta.get("document_id"),
     meta.get("paragraph_id").flatMap(p => p.toLongOption)) match {
      case (Some(d), Some(p)) =>
        val docList = facets.getOrElse((lang, "document_id", d), Array.empty[Long])
        def byPara(pv: Long): Option[Long] =
          firstIntersect(docList,
            facets.getOrElse((lang, "paragraph_id", pv.toString), Array.empty[Long]))
        (byPara(p - 1), byPara(p + 1))
      case _ =>
        meta.get("source") match {
          case Some(src) =>
            val ids = facets.getOrElse((lang, "source", src), Array.empty[Long])
            val i = java.util.Arrays.binarySearch(ids, docId)
            val ip = if (i >= 0) i else -(i + 1) // insertion point on misses
            val prev = if (ip > 0) Some(ids(ip - 1)) else None
            val nextIdx = if (i >= 0) i + 1 else ip
            val next = if (nextIdx < ids.length) Some(ids(nextIdx)) else None
            (prev, next)
          case None => (None, None)
        }
    }
  }

  def context(chunkId: Long): Option[(DocPayload, Option[DocPayload], Option[DocPayload])] =
    docPayloads(Seq(chunkId)).get(chunkId).map { cur =>
      val (p, n) = neighborIds(cur.lang, cur.docId, cur.meta)
      val fetched = docPayloads(p.toSeq ++ n.toSeq)
      (cur, p.flatMap(fetched.get), n.flatMap(fetched.get))
    }

  /** The /metadata payload of the reference API
    * (search_api.py:112-162 get_metadata_api + common/opensearch.py
    * get_metadata): per content type, per "<Key>_<lang>" composite key, the
    * sorted distinct facet values that CO-OCCUR with that content type —
    * computed exactly by intersecting the resident sorted docId lists
    * (content list ∩ value list nonempty), restricted to `fields`
    * (FILTERED_METADATA_FIELDS analog).
    */
  def facetMetadata(fields: Set[String],
      contentKey: String): Map[String, Map[String, Seq[String]]] = {
    def intersects(a: Array[Long], b: Array[Long]): Boolean = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) return true
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      false
    }
    val catEntries = facets.toSeq.collect {
      case ((lang, k, v), ids) if k == contentKey => (v, lang, ids)
    }
    catEntries.groupBy(_._1).map { case (ct, entries) =>
      val byLang = entries.map(e => e._2 -> e._3).toMap
      val inner = scala.collection.mutable.Map[String, scala.collection.mutable.TreeSet[String]]()
      facets.foreach { case ((lang, key, value), ids) =>
        if (fields.contains(key)) byLang.get(lang).foreach { catIds =>
          if (intersects(catIds, ids))
            inner.getOrElseUpdate(s"${key}_$lang",
              scala.collection.mutable.TreeSet.empty[String]) += value
        }
      }
      ct -> inner.map { case (k, vs) => k -> vs.toSeq }.toMap
    }
  }

  // first-code-point buckets of the suggest dictionary: a misspelled term
  // ranks only its prefix bucket, not the whole vocabulary (the suggester
  // restricts candidates to the same first code point — the same bucket key
  // the Spark plan's startsWith and the local termdict read use)
  private val dictByPrefix: Map[String, Map[Int, Array[(String, Long)]]] =
    dict.map { case (lang, entries) =>
      lang -> entries.filter(e => QueryCore.cpLen(e._1) >= QueryCore.SuggestMinLen)
        .groupBy(_._1.codePointAt(0))
    }

  /** Spelling suggestions from the resident term dictionary (Q8 semantics;
    * the ranking rule is [[QueryCore.suggest]], shared with
    * [[Bm25Query.suggest]]).
    */
  def suggest(lang: String, query: String, size: Int = 5, minScore: Double = 0.6): Seq[String] = {
    val byPrefix = dictByPrefix.getOrElse(lang, Map.empty)
    QueryCore.suggest(QueryCore.suggestWords(query, lang),
      cp => byPrefix.getOrElse(cp, Array.empty[(String, Long)]).iterator, size, minScore)
  }
}

object InMemoryIndex {

  /** Payload-cache entry cap per node (pages are ≤ from+k docs; 64k entries
    * of url+text is tens of MB — cleared wholesale when exceeded). */
  @volatile var PayloadCacheMax: Int = 1 << 16

  /** Term-shard id of a term — delegates to THE bucket definition the build
    * writes ([[graft.index.IndexBuild.termBucketOf]]); a second formula copy
    * here could silently desync query routing from the built column.
    */
  def bucketOf(term: String): Int = graft.index.IndexBuild.termBucketOf(term)

  /** Facet shards a query's filters need (key-level sharding, matching the
    * facet `bucket` column): metaFilter keys, `year` for year ranges, and the
    * Q5 date/series keys for date ranges. Route a query to term shards via
    * [[bucketOf]] and facet shards via this.
    */
  def facetBucketsFor(q: QuerySpec): Set[Int] = {
    val keys = q.metaFilters.keySet ++
      (if (q.yearRange.isDefined) Set("year") else Set.empty[String]) ++
      (if (q.dateRange.exists(d => d._1.isDefined || d._2.isDefined))
        QueryCore.PhysicalDateKeys
      else Set.empty[String])
    keys.map(graft.index.IndexBuild.facetBucketOf)
  }

  /** Load (and per-term merge) segments of an index into memory.
    *
    * MEMORY BOUND / SHARDING: a resident node's footprint ([[InMemoryIndex
    * .loadedBytes]]) is the posting bytes of its term `buckets` + the facet
    * lists of its `facetBuckets` + (full nodes only) doc payloads. On any
    * bucket-subset load the docstore is NEVER collected — page payloads are
    * point-read on demand. `facetBuckets` defaults to: all facets on a full
    * load (None buckets), and NO facets on a subset load unless given —
    * pass [[facetBucketsFor]] of the queries the node serves.
    *
    * DOC-SHARDING (`chunks`): a node may instead (or additionally) load a
    * subset of the index's chunks — chunks partition DOCS (docId mod
    * numChunks), so a chunk-subset node serves a slice of the corpus with
    * every term present. Scores stay identical to a full node because idf
    * comes from the termdict artifact's corpus-wide df (loaded here), and
    * [[ShardedServe]] merges per-node partials into the global page. Chunk-
    * subset nodes never collect the docstore, and their suggest dictionary
    * is the GLOBAL termdict (so fleet suggestions match a full node's).
    *
    * @param withDocs     resident (url, text) payloads (full loads only)
    * @param buckets      term-shard subset to load; None = all buckets
    * @param facetBuckets facet-key-shard subset; None = follow `buckets`
    * @param chunks       doc-shard subset (chunk ids); None = all chunks
    */
  /** Corpus-wide (lang, term) → df — from the termdict artifact when
    * present, else aggregated across ALL chunks of the segments table
    * (chunks partition docs, so per-chunk df sums to global df). A
    * chunk-subset node MUST score with this, never its shard-local df, or
    * its BM25 scores silently diverge from a full node's.
    */
  def loadGlobalDf(spark: SparkSession, idx: IndexHandle): Map[(String, String), Long] = {
    import spark.implicits._
    // source resolution delegates to IndexHandle.termdictPath — THE
    // definition of where the artifact lives and when to fall back (a third
    // inline existence check here could desync doc-shard nodes' global df
    // from the Spark paths on an artifact-location change)
    val rows: Seq[(String, String, Long)] = idx.termdictPath match {
      // driver read of the (small) stats-only artifact — no Spark job
      case Some(p) => graft.index.LocalParquet.readTermDictFull(p)
      case None =>
        // legacy index without the artifact: one column-pruned read of
        // (lang, term, df) over all chunks (chunks partition docs, so
        // per-chunk df sums to global df) — parity over silent drift
        spark.read.parquet(idx.segmentsPath)
          .groupBy(col("lang"), col("term"))
          .agg(sum("df").as("df"))
          .as[(String, String, Long)]
          .collect().toSeq
    }
    rows.map { case (l, t, d) => (l, t) -> d }.toMap
  }

  /** @param sharedGlobalDf a termdict map loaded once via [[loadGlobalDf]]
    *   and shared across the chunk-subset nodes of an in-process fleet —
    *   without it each node would read and hold its own full copy of the
    *   corpus dictionary (the largest map in the system, duplicated N×).
    */
  def load(spark: SparkSession, idx: IndexHandle, withDocs: Boolean = true,
      buckets: Option[Set[Int]] = None,
      facetBuckets: Option[Set[Int]] = None,
      chunks: Option[Set[Int]] = None,
      sharedGlobalDf: Option[Map[(String, String), Long]] = None): InMemoryIndex = {
    var bytes = 0L
    val postings = new java.util.HashMap[(String, String), (Long, Array[Byte], Array[Byte])]()
    // a doc-shard (chunk-subset) load needs the PER-CHUNK tables: the
    // compacted rewrite carries chunk = -1, which a chunk filter would
    // silently reduce to an empty node — read the originals, which
    // compaction keeps alongside the *_compact dirs
    val segSrc =
      if (chunks.isDefined && idx.segmentsPath.endsWith("_compact"))
        s"${idx.dir}/segments"
      else idx.segmentsPath
    val facetSrc =
      if (chunks.isDefined && idx.facetsPath.endsWith("_compact"))
        s"${idx.dir}/facets"
      else idx.facetsPath
    // load-time scans read whole tables (pruned only by bucket/chunk shard
    // selection) destined for THIS process's heap: a driver read skips the
    // executor→driver row serialization round trip entirely
    // (LocalParquetSpec gates row parity with the Spark read)
    val segRows: Array[(String, String, Array[Byte], Array[Byte])] =
      graft.index.LocalParquet.readSegmentsFull(segSrc, buckets, chunks).toArray
    // per-term chunk-run merges are independent pure CPU — spread them over
    // the node's cores (load time is node startup; ~3× faster than the
    // single-thread loop on a 3-chunk index)
    val byteSum = new java.util.concurrent.atomic.AtomicLong()
    val syncPostings = java.util.Collections.synchronizedMap(postings)
    segRows
      .groupBy(r => (r._1, r._2))
      .toSeq.par
      .foreach { case (key, rows) =>
        val (blob, posBlob, df, _) =
          PostingListMerger.merge(rows.map(r => (r._3, r._4)).toSeq)
        byteSum.addAndGet(blob.length + (if (posBlob == null) 0 else posBlob.length))
        syncPostings.put(key, (df.toLong, blob, posBlob))
      }
    bytes += byteSum.get()
    val facetShard = facetBuckets.orElse(buckets.map(_ => Set.empty[Int]))
    val facetRows: Array[(String, String, String, Long, Array[Byte])] =
      graft.index.LocalParquet.readFacetsFull(facetSrc, facetShard, chunks).toArray
    val facets = facetRows
      .groupBy(r => (r._1, r._2, r._3))
      .map { case (key, rows) =>
        val all = rows.flatMap(r => SortedIds.decode(r._5, r._4.toInt))
        java.util.Arrays.sort(all)
        bytes += all.length * 8L
        key -> all
      }
    // doc-shard nodes need corpus-wide df: idf parity with a full node, and
    // the GLOBAL suggest dictionary. loadGlobalDf falls back to aggregating
    // the full segments table when the termdict artifact is absent (legacy
    // indexes) — a shard-local df here would silently break score parity.
    val globalDf: Map[(String, String), Long] = chunks match {
      case Some(_) =>
        val m = sharedGlobalDf.getOrElse(loadGlobalDf(spark, idx))
        if (sharedGlobalDf.isEmpty)
          m.foreach { case ((_, t), _) => bytes += t.length * 2L + 8L }
        m
      case _ => Map.empty
    }
    val dict: Map[String, Array[(String, Long)]] =
      if (globalDf.nonEmpty)
        globalDf.toSeq.groupBy(_._1._1)
          .map { case (lang, es) => lang -> es.map(e => (e._1._2, e._2)).toArray }
      else {
        import scala.jdk.CollectionConverters._
        postings.entrySet().asScala.toSeq
          .groupBy(_.getKey._1)
          .map { case (lang, es) =>
            lang -> es.map(e => (e.getKey._2, e.getValue._1)).toArray
          }
      }
    val docs = new java.util.HashMap[Long, (String, String)]()
    if (withDocs && buckets.isEmpty && chunks.isEmpty) {
      graft.index.LocalParquet.readDocstoreFull(s"${idx.dir}/docstore").foreach {
        case (id, url, text) =>
          // NULL text/url rows are legal in the docstore (the build indexes
          // them with zero postings — Analyzer.foreachToken no-ops on null):
          // normalize to "" so the resident node neither NPEs here nor
          // hands a null to highlight()
          val u = if (url == null) "" else url
          val t = if (text == null) "" else text
          bytes += (u.length + t.length) * 2L // UTF-16 chars resident
          docs.put(id, (u, t))
      }
    }
    new InMemoryIndex(idx, postings, facets, dict, docs, bytes,
      globalDf, chunks)
  }
}
