package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import graft.api.SearchHttpServer
import graft.index.{IndexBuild, Manifest}
import graft.query._

/** Cost of one update batch: commit and visible seconds, reload seconds,
  * Spark jobs, chunks rewritten, and bytes written per byte of batch text.
  */
case class BatchStats(commit: Double, visible: Double, reload: Double, jobs: Double,
    rewritten: Double, written: Double)

/** One request of a closed loop: its index in the request list, start,
  * latency and response size.
  */
case class Sent(k: Int, startNs: Long, ms: Double, bytes: Int)

/** Steps every workload shares. */
object Steps {
  def corpus(r: Run, name: String): String = {
    r.rm(name)
    r.tracer.span("corpus.write", "setup") { Gen.writeCorpus(r.spark, r.seed, r.docs, r.dir(name)) }
    r.dir(name)
  }

  /** One `IndexBuild.build` over the parquet corpus into a fresh dir: wall
    * seconds, what Spark did, and GC ms.
    */
  def build(r: Run, corpusDir: String, idxName: String, chunks: Int): (Double, SparkWork, Long) = {
    r.rm(idxName)
    val gc0 = Gc.ms()
    var secs = 0.0
    val work = r.meter.window(r.sparkThreads) {
      r.tracer.span("index.build", "setup") {
        val t0 = System.nanoTime()
        IndexBuild.build(r.spark, r.spark.read.parquet(corpusDir), r.dir(idxName), numChunks = chunks)
        secs = (System.nanoTime() - t0) / 1e9
      }
    }
    (secs, work, Gc.ms() - gc0)
  }

  def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val s = java.nio.file.Files.walk(root)
    try {
      val b = Map.newBuilder[String, Long]
      s.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_")) b += p.toString -> java.nio.file.Files.size(p)
      }
      b.result()
    } finally s.close()
  }

  def dirBytes(dir: String): Long = files(dir).values.sum

  def textBytes(r: Run, corpusDir: String): Long =
    r.spark.read.parquet(corpusDir).selectExpr("sum(octet_length(text))").head.getLong(0)

  def loader(r: Run, dir: String): () => InMemoryIndex =
    () => r.tracer.span("index.load", "reload") { InMemoryIndex.load(r.spark, IndexHandle.load(dir)) }

  def serve(node: SearchNode, r: Run, inflight: ConcurrentHashMap[String, java.lang.Long]): SearchHttpServer = {
    val s = new SearchHttpServer(new TracedNode(node, r.tracer, inflight), port = 0)
    s.start()
    s
  }

  /** Seeded pick of requests that have hits, for the oracle comparison. */
  def oracleSample(r: Run, reqs: Seq[Req], hits: Req => Long, salt: Long): Seq[Req] = {
    val withHits = reqs.filter(q => hits(q) > 0)
    (0 until math.min(Size.OracleSamples, withHits.size)).map { k =>
      withHits(Math.floorMod(graft.corpus.Webtext.mix(r.seed, salt, k.toLong), withHits.size.toLong).toInt)
    }.distinct
  }

  /** Batch `b` of the update stream: reindexDocs, then the reload that
    * makes it visible, then the check that the node serves the new texts and
    * not the replaced ones.
    */
  def mutate(r: Run, idxDir: String, node: ReloadingNode, b: Int): BatchStats = {
    val docs = Gen.batchDocs(r.seed, r.docs, b, Size.BatchDocs)
    val frame = Gen.batchFrame(r.spark, docs)
    val rows0 = Manifest.rows(idxDir).size
    val files0 = files(idxDir)
    r.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val work = r.meter.window(r.sparkThreads) {
      r.tracer.span("index.reindex", "batch", b.toLong) { IndexBuild.reindexDocs(r.spark, idxDir, frame) }
    }
    val t1 = System.nanoTime()
    val swapped = r.tracer.span("reload", "batch", b.toLong) { node.checkAndReload() }
    val t2 = System.nanoTime()
    if (!swapped) r.fail(s"batch $b: the node did not reload")
    val newBytes = files(idxDir).collect { case (p, n) if !files0.get(p).contains(n) => n }.sum
    val stats = BatchStats((t1 - t0) / 1e9, (t2 - t0) / 1e9, (t2 - t1) / 1e9, work.jobs,
      Manifest.rows(idxDir).size - rows0,
      newBytes.toDouble / docs.map(_.text.getBytes("UTF-8").length).sum)
    val mem = node.current
    val payloads = mem.docPayloads(docs.map(_.docId))
    docs.foreach { d =>
      r.attempted.incrementAndGet()
      if (!payloads.get(d.docId).exists(_.text == d.text)) r.fail(s"batch $b: doc ${d.docId} not visible")
    }
    // by search too: the new text's phrase finds the doc; the replaced
    // version's phrase no longer does (unless the new text has it as well)
    docs.filter(_.docId < r.docs).take(2).foreach { d =>
      r.attempted.incrementAndGet()
      def phrase(text: String) = Gen.words(text).slice(3, 6).mkString(" ")
      def finds(p: String) = mem.search(QuerySpec(d.lang, p, phrase = true, pageSize = 1000,
        trackTotalHits = 100000L)).hits.exists(_.docId == d.docId)
      val oldPhrase = phrase(graft.corpus.Webtext.genDoc(r.seed, d.docId).text)
      if (!finds(phrase(d.text))) r.fail(s"batch $b: doc ${d.docId} new text not found")
      else if (!Gen.words(d.text).sliding(3).exists(_.mkString(" ") == oldPhrase) && finds(oldPhrase))
        r.fail(s"batch $b: doc ${d.docId} still found by its replaced text")
    }
    stats
  }

  /** Latency percentiles and rate of a closed loop. */
  def latency(into: mutable.Map[String, Double], lat: Seq[Double], seconds: Double): Unit = {
    require(lat.size >= 100, s"only ${lat.size} requests completed; p90 needs 100")
    into("query_qps") = lat.size / seconds
    into("query.p50_ms") = Stats.median(lat)
    into("query_p90_ms") = Stats.percentile(lat, 0.9).get
  }

  /** Rate and latency percentiles of a closed loop that cycles a request
    * list. The rate is the median of `windows`, the requests started in
    * each one-second window of the loop. The percentiles are taken over
    * the list, each request's latency being the median of its repetitions,
    * so a burst of host contention, which hits only some repetitions of
    * each request, does not move them.
    */
  def cycled(into: mutable.Map[String, Double], sent: Seq[Sent], windows: Seq[Double]): Unit = {
    into("query_qps") = Stats.median(windows)
    val reps = sent.groupBy(_.k).values.map(v => Stats.median(v.map(_.ms))).toSeq
    into("query.p50_ms") = Stats.median(reps)
    into("query_p90_ms") = Stats.percentile(reps, 0.9).getOrElse(sys.error(
      s"only ${reps.size} distinct requests completed; p90 needs 100"))
  }

  /** Closed-loop HTTP clients over `bodies`, cycled: each client takes the
    * next request number n, from `from` on, until `stop(n)`. Every response
    * must be 200 and pass `ok`; returns one [[Sent]] per request.
    */
  def httpLoop(r: Run, port: Int, host: String, clients: Int, reqs: IndexedSeq[Req],
      bodies: IndexedSeq[String], inflight: ConcurrentHashMap[String, java.lang.Long],
      from: Int, stop: Int => Boolean, ok: (Int, String) => Option[String]): Seq[Sent] = {
    val next = new AtomicInteger(from)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val http = new Http(host, port)
        var n = next.getAndIncrement()
        while (!stop(n)) {
          val k = n % reqs.size
          val id = r.requestIds.getAndIncrement()
          val key = TracedNode.key(reqs(k).spec.lang, reqs(k).spec.query)
          if (r.tracer.on) inflight.put(key, Long.box(id))
          r.attempted.incrementAndGet()
          val t0 = System.nanoTime()
          try {
            val (code, body) = http.search(bodies(k))
            val t1 = System.nanoTime()
            if (r.tracer.on) {
              inflight.remove(key, Long.box(id))
              r.tracer.record(Span("http.request", t0, t1, "", id))
            }
            out.add(Sent(k, t0, (t1 - t0) / 1e6, body.length))
            if (code != 200) r.fail(s"http $code for request ${reqs(k).id}")
            else ok(k, body).foreach(r.fail)
          } catch { case e: Exception => r.fail(s"http request ${reqs(k).id}: $e") }
          n = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val b = Seq.newBuilder[Sent]
    out.forEach(b += _)
    b.result()
  }
}

/** `serve`: closed-loop HTTP clients against ServeCli's default topology, a
  * ReloadingNode over one resident InMemoryIndex. No Spark job or parquet
  * read runs in the timed phase.
  */
final class Serve extends Workload {
  private var idxDir = ""
  private var node: ReloadingNode = _
  private var server: SearchHttpServer = _
  private val inflight = new ConcurrentHashMap[String, java.lang.Long]()
  /** Build seconds of the set-up passes after pass 0, untraced and traced. */
  private val buildSecs = Map(false -> mutable.ArrayBuffer[Double](), true -> mutable.ArrayBuffer[Double]())
  private var lastBuild: (Double, SparkWork, Long) = _
  /** The stream as the HTTP front runs it (see [[Gen.viaHttp]]). */
  private var reqs: IndexedSeq[Req] = _
  private var bodies: IndexedSeq[String] = _
  private var expect: Array[String] = _
  /** Requests, one-second window counts and GC ms of the slices since the
    * last [[result]], and the number of the next request to send.
    */
  private val sent = mutable.ArrayBuffer[Sent]()
  private val windows = mutable.ArrayBuffer[Double]()
  private var gcMs = 0L
  private var nextReq = 0
  private var lat: Seq[Sent] = Nil
  private var gcPer1k = 0.0

  def setup(r: Run, pass: Int, keep: Boolean): Unit = {
    val corpus = Steps.corpus(r, s"corpus$pass")
    val b = Steps.build(r, corpus, s"index$pass", Size.Chunks)
    val dir = r.dir(s"index$pass")
    if (pass > 0) buildSecs(r.tracer.on) += b._1
    lastBuild = b
    val n = new ReloadingNode(dir, Steps.loader(r, dir), pollMs = Long.MaxValue)
    val s = r.tracer.span("server.start", "setup") { Steps.serve(n, r, inflight) }
    if (keep) {
      idxDir = dir; node = n; server = s
    } else {
      s.stop(); n.stop(); r.rm(s"index$pass")
    }
    r.rm(s"corpus$pass")
  }

  private def loop(r: Run, from: Int, stop: Int => Boolean, ok: (Int, String) => Option[String]) =
    Steps.httpLoop(r, server.boundPort, server.boundHostForUrl, Size.ServeClients, reqs,
      bodies, inflight, from, stop, ok)

  /** Every later response must equal the first one byte for byte. */
  private def same(k: Int, body: String): Option[String] =
    if (body == expect(k)) None else Some(s"response for request ${reqs(k).id} changed")

  def warm(r: Run): Unit = {
    reqs = Gen.stream(r.seed, r.docs, Size.ServeRequests).map(Gen.viaHttp)
    bodies = reqs.map(q => Gen.httpBody(q.spec))
    // every distinct request once: the page must equal the node's own
    // answer; its body is then the expected body in the timed loop
    expect = new Array[String](reqs.size)
    loop(r, 0, _ >= reqs.size, (k, body) => {
      expect(k) = body
      Check.httpVsNode(body, reqs(k).spec, node.current)
    })
    // a round sends every request once
    Harness.warm("serve") { loop(r, 0, _ >= reqs.size, same) }
  }

  def slice(r: Run, seconds: Int, last: Boolean): Unit = {
    val gc0 = Gc.ms()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val got = loop(r, nextReq, _ => System.nanoTime() > deadline, same)
    gcMs += Gc.ms() - gc0
    nextReq += got.size
    val byWindow = got.groupBy(s => ((s.startNs - t0) / 1000000000L).toInt)
    windows ++= (0 until seconds).map(w => byWindow.getOrElse(w, Nil).size.toDouble)
    sent ++= got
  }

  def result(r: Run, into: mutable.Map[String, Double]): Unit = {
    Steps.cycled(into, sent.toSeq, windows.toSeq)
    lat = sent.toSeq
    gcPer1k = gcMs * 1000.0 / lat.size
    sent.clear(); windows.clear(); gcMs = 0; nextReq = 0
    into("build_docs_per_s") = r.docs / Stats.median(buildSecs(r.tracer.on).toSeq)
    into("index_bytes_per_text_byte") = Steps.dirBytes(idxDir) /
      Steps.textBytes(r, s"$idxDir/docstore").toDouble
  }

  def check(r: Run): Unit = {
    val docstore = r.spark.read.parquet(s"$idxDir/docstore")
    val mem = node.current
    Steps.oracleSample(r, reqs, q => mem.search(Gen.httpSpecs(q.spec).head).totalHits, 0x5E7L).foreach { q =>
      val spec = Gen.httpSpecs(q.spec).head
      r.attempted.incrementAndGet()
      Check.oracle(r.spark, docstore, spec, mem.search(spec)).foreach(r.fail)
    }
  }

  def layers(r: Run): Unit = {
    val mem = node.current
    val idx = IndexHandle.load(idxDir)
    val kernelUs = Layers.common(r, idxDir, idx, mem, reqs, lastBuild, Gen.httpSpecs)
    Layers.latencyTail(r, lat.map(_.ms))
    // the loop cycles the stream, so its mean latency is the mean over reqs
    r.put("query.kernel_share", kernelUs / (lat.map(_.ms).sum / lat.size * 1e3))
    r.put("jvm.gc_ms_per_1k_queries", gcPer1k)
    r.put("api.response_kb", Stats.median(lat.map(_.bytes / 1024.0)))
    Layers.apiOverhead(r)
    // the write path, last: update batches on the served index, each made
    // visible by the node's reload
    Layers.mutations(r, idxDir, (0 until Size.Batches).map(Steps.mutate(r, idxDir, node, _)))
  }

  def close(): Unit = {
    if (server != null) server.stop()
    if (node != null) node.stop()
  }
}

/** `disk`: one client calls Bm25Query.search on an IndexHandle over the
  * on-disk index: LocalParquet point reads, the df cache and termdict, and
  * the Spark suggest job of zero-hit queries.
  */
final class Disk extends Workload {
  private var idxDir = ""
  /** Build seconds of the set-up passes after pass 0, untraced and traced. */
  private val buildSecs = Map(false -> mutable.ArrayBuffer[Double](), true -> mutable.ArrayBuffer[Double]())
  private var lastBuild: (Double, SparkWork, Long) = _
  private var reqs: IndexedSeq[Req] = _
  private var mem: InMemoryIndex = _
  private var lat: Seq[Double] = Nil
  private var served: Seq[(Req, SearchResult)] = Nil
  /** The handle, answers (null when the search failed), wall seconds, GC
    * ms and Spark jobs of the slices since the last [[result]]; the stream
    * runs on from slice to slice.
    */
  private var idx: IndexHandle = _
  private val out = mutable.ArrayBuffer[(Req, SearchResult, Double)]()
  private var secs = 0.0
  private var gcMs = 0L
  private var jobs = 0
  private var jobsPerQuery = 0.0
  private var gcPer1k = 0.0

  def setup(r: Run, pass: Int, keep: Boolean): Unit = {
    val corpus = Steps.corpus(r, s"corpus$pass")
    val b = Steps.build(r, corpus, s"index$pass", Size.Chunks)
    val dir = r.dir(s"index$pass")
    IndexHandle.load(dir) // what a disk-serving process opens at start
    if (keep) idxDir = dir else r.rm(s"index$pass")
    if (pass > 0) buildSecs(r.tracer.on) += b._1
    lastBuild = b
    r.rm(s"corpus$pass")
  }

  def warm(r: Run): Unit = {
    reqs = Gen.stream(r.seed, r.docs, 2000)
    mem = InMemoryIndex.load(r.spark, IndexHandle.load(idxDir))
    // a round: another seed's requests on a fresh handle, so every round
    // does the same work, df lookups included
    val warmReqs = Gen.stream(r.seed + 1, r.docs, Size.DiskWarmRequests)
    Harness.warm("disk") {
      val h = IndexHandle.load(idxDir)
      warmReqs.foreach(q => Bm25Query.search(r.spark, h, q.spec))
    }
  }

  def slice(r: Run, seconds: Int, last: Boolean): Unit = {
    // a fresh handle per timed phase: its df cache starts empty, as on a
    // new serving process
    if (idx == null) idx = IndexHandle.load(idxDir)
    val gc0 = Gc.ms()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val work = r.meter.window(1) {
      while ((System.nanoTime() < deadline || (last && out.size < 100)) && out.size < reqs.size) {
        val q = reqs(out.size)
        r.attempted.incrementAndGet()
        val a = System.nanoTime()
        val res = try r.tracer.span("bm25.search", "", q.id.toLong) { Bm25Query.search(r.spark, idx, q.spec) }
          catch { case e: Exception => r.fail(s"search ${q.id}: $e"); null }
        out += ((q, res, (System.nanoTime() - a) / 1e6))
      }
    }
    secs += (System.nanoTime() - t0) / 1e9
    gcMs += Gc.ms() - gc0
    jobs += work.jobs
  }

  def result(r: Run, into: mutable.Map[String, Double]): Unit = {
    val ok = out.filter(_._2 != null)
    gcPer1k = gcMs * 1000.0 / ok.size
    jobsPerQuery = jobs.toDouble / ok.size
    // every answer against the resident node's answer for the same query
    ok.foreach { case (q, res, _) =>
      Check.diff(Page.of(res), Page.of(mem.search(q.spec))).foreach(d => r.fail(s"disk vs resident: $d for ${q.spec}"))
    }
    lat = ok.map(_._3).toSeq
    served = ok.map(o => (o._1, o._2)).toSeq
    Steps.latency(into, lat, secs)
    idx = null; out.clear(); secs = 0; gcMs = 0; jobs = 0
    into("build_docs_per_s") = r.docs / Stats.median(buildSecs(r.tracer.on).toSeq)
    into("index_bytes_per_text_byte") = Steps.dirBytes(idxDir) /
      Steps.textBytes(r, s"$idxDir/docstore").toDouble
  }

  def check(r: Run): Unit = {
    val docstore = r.spark.read.parquet(s"$idxDir/docstore")
    val got = served.map { case (q, res) => q.id -> res }.toMap
    Steps.oracleSample(r, served.map(_._1), q => got(q.id).totalHits, 0xD15CL)
      .foreach { q =>
        r.attempted.incrementAndGet()
        Check.oracle(r.spark, docstore, q.spec, got(q.id)).foreach(r.fail)
      }
  }

  def layers(r: Run): Unit = {
    val idx = IndexHandle.load(idxDir)
    Layers.common(r, idxDir, idx, mem, reqs.take(Size.StreamProps), lastBuild, Seq(_))
    Layers.latencyTail(r, lat)
    Layers.reads(r, idxDir, idx, mem, reqs.take(Size.LayerRequests))
    Layers.diskDf(r, idxDir, reqs.take(Size.LayerRequests))
    Layers.suggest(r, idx, reqs.take(Size.StreamProps).filter(q => mem.search(q.spec).totalHits == 0))
    r.put("query.disk.spark_jobs_per_query", jobsPerQuery)
    r.put("jvm.gc_ms_per_1k_queries", gcPer1k)
  }

  def close(): Unit = ()
}
