package graftbench

import graft.analysis.Analyzer
import graft.index.{LocalParquet, PostingListReader, PostingListWriter}
import graft.query._

/** Per-layer probes of the traced run. Each times calls into one layer's
  * public functions from here, with the workload's own inputs, and records
  * them as spans.
  */
object Layers {
  private def us(t0: Long): Double = (System.nanoTime() - t0) / 1e3
  private def mb(b: Long): Double = b / 1e6

  /** Probes every workload reports: analysis, the build's Spark work, the
    * codec, index bytes, the resident kernel and the stream's properties.
    * `runs` gives the queries the workload runs for one request. Returns the
    * kernel's mean time per request, in µs.
    */
  def common(r: Run, idxDir: String, idx: IndexHandle, mem: InMemoryIndex,
      reqs: Seq[Req], build: (Double, SparkWork, Long), runs: QuerySpec => Seq[QuerySpec]): Double = {
    analysis(r, reqs, idx)
    buildWork(r, build)
    val segs = r.tracer.span("index.read.segments_full") {
      LocalParquet.readSegmentsFull(idx.segmentsPath, None, None)
    }
    codec(r, segs)
    r.put("index.bytes.postings_mb", mb(segs.map(_._3.length.toLong).sum))
    r.put("index.bytes.positions_mb", mb(segs.map(s => Option(s._4).map(_.length.toLong).getOrElse(0L)).sum))
    r.put("index.bytes.docstore_mb", mb(Steps.dirBytes(s"$idxDir/docstore")))
    r.put("index.bytes.facets_mb", mb(Steps.dirBytes(s"$idxDir/facets")))
    r.put("index.bytes.termdict_mb", mb(Steps.dirBytes(s"$idxDir/termdict")))
    r.put("index.files", Steps.files(idxDir).keys.count(_.endsWith(".parquet")).toDouble)
    r.put("query.resident_mb", mb(mem.loadedBytes))
    val df = InMemoryIndex.loadGlobalDf(r.spark, idx)
    streamProps(r, mem, reqs.take(Size.StreamProps), df, runs)
    kernel(r, mem, reqs.take(Size.StreamProps), df, runs)
  }

  def analysis(r: Run, reqs: Seq[Req], idx: IndexHandle): Unit = {
    val texts = (0L until 500L).map(i => graft.corpus.Webtext.genDoc(r.seed, i))
    var tokens = 0L
    texts.foreach(d => Analyzer.analyze(d.text, d.lang)) // JIT
    val t0 = System.nanoTime()
    r.tracer.span("analysis.analyze") { texts.foreach(d => tokens += Analyzer.analyze(d.text, d.lang).length) }
    r.put("analysis.tokens_per_s", tokens / ((System.nanoTime() - t0) / 1e9))
    val q = reqs.take(Size.LayerRequests).map { q =>
      val t = System.nanoTime()
      r.tracer.span("analysis.query", "", q.id.toLong) {
        QueryCore.context(q.spec, idx.numDocs(q.spec.lang), idx.avgdl(q.spec.lang))
      }
      us(t)
    }
    r.put("analysis.query_us", Stats.median(q))
  }

  def buildWork(r: Run, build: (Double, SparkWork, Long)): Unit = {
    val (secs, w, gcMs) = build
    r.put("index.build.spark_jobs", w.jobs)
    r.put("index.build.stages", w.stages)
    r.put("index.build.shuffle_write_mb", mb(w.shuffleWrite))
    r.put("index.build.shuffle_read_mb", mb(w.shuffleRead))
    r.put("index.build.spill_mb", mb(w.spill))
    r.put("index.build.task_cpu_s", w.taskCpuNs / 1e9)
    r.put("index.build.core_busy_share", w.taskRunMs / 1e3 / (secs * r.sparkThreads))
    r.put("index.build.task_skew", w.skew)
    r.put("jvm.build_gc_s", gcMs / 1e3)
  }

  /** Decode every block of every posting blob; re-encode the decoded
    * postings through a fresh writer. Rates are postings per second.
    */
  def codec(r: Run, segs: Seq[(String, String, Array[Byte], Array[Byte])]): Unit = {
    def decodeAll(): (Long, Seq[Array[(Long, Int, Int, Array[Int])]]) = {
      var n = 0L
      val lists = segs.map { case (_, _, blob, pos) =>
        val rd = new PostingListReader(blob, pos)
        val withPos = pos != null && pos.length > 0
        (0 until rd.numBlocks).toArray.flatMap { i =>
          val (ids, tfs, dls) = rd.decodeBlock(i)
          val ps = if (withPos) rd.decodePositions(i, tfs) else null
          n += ids.length
          ids.indices.map(k => (ids(k), tfs(k), dls(k), if (ps == null) null else ps(k)))
        }
      }
      (n, lists)
    }
    decodeAll() // JIT
    val t0 = System.nanoTime()
    var postings = 0L
    r.tracer.span("codec.decode") {
      segs.foreach { case (_, _, blob, _) =>
        val rd = new PostingListReader(blob, null)
        var i = 0
        while (i < rd.numBlocks) { postings += rd.decodeBlock(i)._1.length; i += 1 }
      }
    }
    r.put("index.codec.decode_postings_per_s", postings / ((System.nanoTime() - t0) / 1e9))
    val (n, lists) = decodeAll()
    def encodeAll(): Unit = lists.foreach { l =>
      val w = new PostingListWriter
      l.foreach { case (id, tf, dl, ps) => w.add(id, tf, dl, ps) }
      w.finish()
    }
    encodeAll() // JIT
    val t1 = System.nanoTime()
    r.tracer.span("codec.encode") { encodeAll() }
    r.put("index.codec.encode_postings_per_s", n / ((System.nanoTime() - t1) / 1e9))
  }

  private def terms(q: QuerySpec): Seq[String] = Bm25Query.queryTerms(q).map(_._1)

  /** Resident kernel (`searchPartial`) per request shape, its cost per
    * posting of the query terms, and page materialization (`search` minus
    * `searchPartial`); a request's time sums the queries it runs. Second of
    * two passes. Returns the mean kernel µs per request.
    */
  def kernel(r: Run, mem: InMemoryIndex, reqs: Seq[Req], df: Map[(String, String), Long],
      runs: QuerySpec => Seq[QuerySpec]): Double = {
    var times: Seq[(Req, Double, Double)] = Nil
    for (pass <- 0 until 2) {
      times = reqs.map { q =>
        runs(q.spec).map { spec =>
          val t0 = System.nanoTime()
          r.tracer.span("query.kernel", "", q.id.toLong) { mem.searchPartial(spec) }
          val k = us(t0)
          val t1 = System.nanoTime()
          r.tracer.span("query.search", "", q.id.toLong) { mem.search(spec) }
          (k, us(t1))
        }.foldLeft((q, 0.0, 0.0)) { case ((q, k, s), (k1, s1)) => (q, k + k1, s + s1) }
      }
    }
    Seq("and", "any", "phrase", "filtered").foreach { s =>
      val ks = times.filter(_._1.kernelShape == s).map(_._2)
      r.put(s"query.kernel_us.$s", if (ks.isEmpty) 0.0 else Stats.median(ks))
    }
    val posts = times.map(t => runs(t._1.spec).map(sumDf(_, df)).sum).sum
    r.put("query.kernel_ns_per_posting", if (posts == 0) 0.0 else times.map(_._2).sum * 1e3 / posts)
    r.put("query.materialize_us", Stats.median(times.map(t => t._3 - t._2)))
    times.map(_._2).sum / times.size
  }

  private def sumDf(q: QuerySpec, df: Map[(String, String), Long]): Long =
    terms(q).map(t => df.getOrElse((q.lang, t), 0L)).sum

  /** Properties of the queries the workload runs (`runs` of each request):
    * the share of requests with zero hits, distinct analyzed terms (the
    * df-cache working set), mean Σdf per query, the posting lengths of the
    * query terms in blocks of 128 (one entry per term of each query), and
    * the share of ANY queries that reach `trackTotalHits` matches, past
    * which WAND pruning engages. Exact counts.
    */
  def streamProps(r: Run, mem: InMemoryIndex, reqs: Seq[Req], df: Map[(String, String), Long],
      runs: QuerySpec => Seq[QuerySpec]): Unit = {
    val specs = reqs.map(q => runs(q.spec))
    r.put("stream.zero_hit_share",
      specs.count(_.forall(mem.search(_).totalHits == 0)).toDouble / reqs.size)
    r.put("stream.distinct_terms", specs.flatten.flatMap(q => terms(q).map((q.lang, _))).distinct.size)
    r.put("stream.sum_df_per_query", specs.flatten.map(sumDf(_, df)).sum.toDouble / specs.flatten.size)
    val blocks = specs.flatten.flatMap(q => terms(q).map { t =>
      math.ceil(df.getOrElse((q.lang, t), 0L).toDouble / graft.index.Postings.BlockSize)
    })
    r.put("stream.term_blocks_p50", if (blocks.isEmpty) 0.0 else Stats.quantile(blocks, 0.5))
    r.put("stream.term_blocks_p90", if (blocks.isEmpty) 0.0 else Stats.quantile(blocks, 0.9))
    r.put("stream.term_blocks_max", if (blocks.isEmpty) 0.0 else blocks.max)
    val any = specs.flatten.filter(q => q.mode == "any" && !q.phrase)
    r.put("stream.any_capped_share", if (any.isEmpty) 0.0 else
      any.count(q => mem.search(q).totalHits >= q.trackTotalHits).toDouble / any.size)
  }

  /** Update batches: medians per batch, and the reload's fingerprint read. */
  def mutations(r: Run, idxDir: String, bs: Seq[BatchStats]): Unit = {
    def med(f: BatchStats => Double) = Stats.median(bs.map(f))
    r.put("index.mutation.commit_s", med(_.commit))
    r.put("index.mutation.spark_jobs", med(_.jobs))
    r.put("index.mutation.chunks_rewritten", med(_.rewritten))
    r.put("index.mutation.bytes_written_per_text_byte", med(_.written))
    r.put("query.reload.load_s", med(_.reload))
    r.put("query.reload.visible_s", med(_.visible))
    val v = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      r.tracer.span("index.version") { IndexVersion.of(idxDir) }
      (System.nanoTime() - t0) / 1e6
    }
    r.put("query.reload.version_ms", Stats.median(v))
  }

  def latencyTail(r: Run, lat: Seq[Double]): Unit =
    r.put("query.p99_ms", Stats.percentile(lat, 0.99).getOrElse(0.0))

  /** Client round trip minus the handler's `node.search` calls, per traced
    * HTTP request.
    */
  def apiOverhead(r: Run): Unit = {
    val node = scala.collection.mutable.HashMap[Long, Double]()
    val reqs = scala.collection.mutable.ArrayBuffer[Span]()
    r.tracer.spans.forEach { s =>
      if (s.name == "node.search" && s.req >= 0) node(s.req) = node.getOrElse(s.req, 0.0) + s.ms
      else if (s.name == "http.request") reqs += s
    }
    val over = reqs.flatMap(s => node.get(s.req).map(n => (s.ms - n) * 1e3)).toSeq
    r.put("api.overhead_us", if (over.isEmpty) 0.0 else Stats.median(over))
  }

  /** Driver point reads with each request's own arguments. */
  def reads(r: Run, idxDir: String, idx: IndexHandle, mem: InMemoryIndex, reqs: Seq[Req]): Unit = {
    val seg, dict, pay, fac = scala.collection.mutable.ArrayBuffer[Double]()
    for (q <- reqs; ctx <- QueryCore.context(q.spec, idx.numDocs(q.spec.lang), idx.avgdl(q.spec.lang))) {
      val lang = q.spec.lang
      val terms = (ctx.terms.map(_._1) ++ ctx.excludeTerms).distinct.toSeq
      def time(name: String, into: scala.collection.mutable.ArrayBuffer[Double])(f: => Any): Unit = {
        val t0 = System.nanoTime()
        r.tracer.span(name, "", q.id.toLong)(f)
        into += (System.nanoTime() - t0) / 1e6
      }
      time("read.segment", seg)(LocalParquet.readSegmentRows(idx.segmentsPath, lang, terms, ctx.phrase))
      idx.termdictPath.foreach(p => time("read.termdict", dict)(LocalParquet.readTermDict(p, lang, terms)))
      val ids = mem.search(q.spec).hits.map(_.docId)
      if (ids.nonEmpty) time("read.payload", pay)(LocalParquet.readDocPayloads(s"$idxDir/docstore", ids))
      if (q.filtered) {
        val rules = ctx.dateSel.map(QueryCore.dateRules).getOrElse(Seq.empty)
        val conds = ctx.facetSel.map { case (k, vs) => (k, Some(vs): Option[Seq[String]], None) } ++
          rules.map(x => (x.key, None, Some((x.lo, x.hi))))
        time("read.facet", fac)(LocalParquet.readFacetRows(idx.facetsPath, lang, conds))
      }
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    r.put("index.read.segment_ms", med(seg.toSeq))
    r.put("index.read.termdict_ms", med(dict.toSeq))
    r.put("index.read.payload_ms", med(pay.toSeq))
    r.put("index.read.facet_ms", med(fac.toSeq))
  }

  /** `globalDfMap` in stream order on a fresh handle; a hit is a term the
    * handle has already seen.
    */
  def diskDf(r: Run, idxDir: String, reqs: Seq[Req]): Unit = {
    val idx = IndexHandle.load(idxDir)
    val seen = scala.collection.mutable.HashSet[(String, String)]()
    var hits, lookups = 0
    val ms = reqs.map { q =>
      val terms = Bm25Query.queryTerms(q.spec).map(_._1) ++
        q.spec.excludeWords.flatMap(w => Analyzer.terms(w, q.spec.lang))
      val distinct = terms.distinct
      distinct.foreach { t => lookups += 1; if (!seen.add((q.spec.lang, t))) hits += 1 }
      val t0 = System.nanoTime()
      r.tracer.span("query.df", "", q.id.toLong) { Bm25Query.globalDfMap(r.spark, idx, q.spec.lang, distinct) }
      (System.nanoTime() - t0) / 1e6
    }
    r.put("query.disk.df_ms", Stats.median(ms))
    r.put("query.disk.df_cache_hit_ratio", if (lookups == 0) 0.0 else hits.toDouble / lookups)
  }

  def suggest(r: Run, idx: IndexHandle, zeroHit: Seq[Req]): Unit = {
    val ms = zeroHit.take(10).map { q =>
      val t0 = System.nanoTime()
      r.tracer.span("query.suggest", "", q.id.toLong) { Bm25Query.suggest(r.spark, idx, q.spec.lang, q.spec.query) }
      (System.nanoTime() - t0) / 1e6
    }
    r.put("query.disk.suggest_ms", if (ms.isEmpty) 0.0 else Stats.median(ms))
  }
}
