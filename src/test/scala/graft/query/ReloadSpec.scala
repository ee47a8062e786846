package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.corpus.{SparkTestSession, Webtext}
import graft.index.{IndexBuild, TableIO}

/** Hot-reload gate (round-5 task #1): a serving node must pick up index
  * mutations WITHOUT a restart — the reference reindexes every 6 h into a
  * live OpenSearch (scripts/discovery_cli.py:330-331, delete-by-query
  * backend/common/opensearch.py:304-339) and serves continuously. Gated
  * here: mutation (deleteByQuery) → the node swaps to post-mutation results
  * with FULL parity vs a fresh node, a poll inside a mutation's journal
  * window keeps the old snapshot and the next poll converges, queries
  * racing the swap never fail and always see exactly one of the two
  * snapshots, and fleet shard nodes reload independently without tripping
  * the coverage handshake.
  */
class ReloadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshIndex(dir: String, docs: Long = 600, numChunks: Int = 2): Unit = {
    TableIO.deleteRecursive(dir)
    IndexBuild.build(spark, Webtext.synthesize(spark, docs).toDF(), dir,
      numChunks = numChunks)
  }

  private def page(n: SearchNode, q: QuerySpec): Seq[(Long, Double)] =
    n.search(q).hits.map(h => (h.docId, h.score))

  test("IndexVersion moves on every mutation class and is stable otherwise") {
    val dir = "/tmp/gidx-reload-ver"
    freshIndex(dir)
    val v0 = IndexVersion.of(dir)
    assert(IndexVersion.of(dir) == v0, "fingerprint must be read-stable")
    IndexBuild.deleteByQuery(spark, dir, col("docId") === 3L)
    val v1 = IndexVersion.of(dir)
    assert(v1 != v0, "deleteByQuery must move the fingerprint")
    // reindexDocs (IncrementalIndex's path) must ALSO move it
    IndexBuild.reindexDocs(spark, dir,
      Webtext.synthesize(spark, 600).toDF().where(col("docId") === 5L)
        .withColumn("text", org.apache.spark.sql.functions.lit("reindexed text")))
    assert(IndexVersion.of(dir) != v1, "reindexDocs must move the fingerprint")
    // finalizeStats (stats/termdict rewrite, NO manifest append — build()'s
    // final step) must ALSO move it: pre-fix, a reload triggered by the last
    // chunk commit raced the corpus-wide stats rewrite and pinned PRE-build
    // stats (skewing every BM25 score) with nothing ever re-triggering
    val v2 = IndexVersion.of(dir)
    IndexBuild.finalizeStats(spark, dir)
    assert(IndexVersion.of(dir) != v2, "finalizeStats must move the fingerprint")
  }

  test("deleteByQuery swaps to post-mutation results with full parity") {
    val dir = "/tmp/gidx-reload-swap"
    freshIndex(dir)
    val rn = new ReloadingNode(dir,
      () => InMemoryIndex.load(spark, IndexHandle.load(dir)))
    var swaps = 0
    rn.onSwap = () => swaps += 1
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
    val before = page(rn, q)
    assert(before.nonEmpty)
    val victim = before.head._1
    assert(!rn.checkAndReload(), "no mutation -> no swap")
    IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
    assert(rn.checkAndReload(), "mutation must trigger a swap")
    assert(swaps == 1)
    val after = page(rn, q)
    assert(!after.exists(_._1 == victim), "deleted doc still served after reload")
    // FULL parity with a node loaded fresh from the post-mutation index —
    // scores included (stats.json N/avgdl re-read by the loader)
    val fresh = InMemoryIndex.load(spark, IndexHandle.load(dir))
    assert(after == page(fresh, q))
    assert(rn.search(q).totalHits == fresh.search(q).totalHits)
  }

  test("a poll inside a mutation's journal window keeps the old snapshot; the next converges") {
    val dir = "/tmp/gidx-reload-journal"
    freshIndex(dir)
    val rn = new ReloadingNode(dir,
      () => InMemoryIndex.load(spark, IndexHandle.load(dir)))
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
    val before = page(rn, q)
    val victim = before.head._1
    IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
    // the state a poll sees between a mutation's last fingerprinted write
    // (stats.json) and its journal clear
    val journal = s"$dir/mutation_pending.json"
    TableIO.writeStringAtomic(journal, """{"chunks": [0], "salt": 64}""")
    val e = intercept[RuntimeException](rn.checkAndReload())
    assert(e.getMessage.contains("interrupted mutation"), e.getMessage)
    assert(page(rn, q) == before, "a failed reload must keep the old snapshot")
    TableIO.deleteRecursive(journal)
    assert(rn.checkAndReload(), "the poll after the journal clears must swap")
    val fresh = InMemoryIndex.load(spark, IndexHandle.load(dir))
    assert(page(rn, q) == page(fresh, q))
    assert(!page(rn, q).exists(_._1 == victim))
  }

  test("pinned binds multi-call operations to ONE snapshot across a swap") {
    val dir = "/tmp/gidx-reload-pin"
    freshIndex(dir)
    val rn = new ReloadingNode(dir,
      () => InMemoryIndex.load(spark, IndexHandle.load(dir)))
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
    val pin = rn.pinned // e.g. the HTTP layer starting a two-section request
    val before = page(pin, q)
    val victim = before.head._1
    IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
    assert(rn.checkAndReload(), "mutation must trigger a swap")
    // the pin still serves the PRE-swap snapshot (the request that captured
    // it stays internally consistent), while the node itself moved on
    assert(page(pin, q) == before,
      "a pinned snapshot must be immutable across the swap")
    assert(!page(rn, q).exists(_._1 == victim),
      "the node itself must serve the post-mutation snapshot")
    assert(rn.pinned ne pin, "a new pin must capture the new snapshot")
    // a plain resident node pins to itself (it IS a snapshot)
    val full = InMemoryIndex.load(spark, IndexHandle.load(dir))
    assert(full.pinned eq full)
  }

  test("zero downtime: queries racing the swap always see exactly one snapshot, never an error") {
    val dir = "/tmp/gidx-reload-race"
    freshIndex(dir)
    val rn = new ReloadingNode(dir,
      () => InMemoryIndex.load(spark, IndexHandle.load(dir)))
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
    val before = page(rn, q)
    val victim = before.head._1
    IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
    val after = page(InMemoryIndex.load(spark, IndexHandle.load(dir)), q)
    assert(before != after)
    // hammer the node from 4 threads while the swap happens mid-flight
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to 4).map { _ =>
      val t = new Thread(() => {
        while (!stop.get()) {
          try {
            val p = page(rn, q)
            if (p != before && p != after) torn.incrementAndGet()
          } catch { case e: Throwable => errors.add(e) }
        }
      })
      t.start(); t
    }
    Thread.sleep(50)
    assert(rn.checkAndReload())
    Thread.sleep(50)
    stop.set(true)
    threads.foreach(_.join(10000))
    assert(errors.isEmpty, s"queries failed during swap: ${errors.peek()}")
    assert(torn.get() == 0, "a query observed a mix of snapshots")
    assert(page(rn, q) == after)
  }

  test("background poller picks up a mutation without any explicit call") {
    val dir = "/tmp/gidx-reload-poll"
    freshIndex(dir)
    val rn = new ReloadingNode(dir,
      () => InMemoryIndex.load(spark, IndexHandle.load(dir)), pollMs = 50)
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
    val victim = page(rn, q).head._1
    rn.start()
    try {
      IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (page(rn, q).exists(_._1 == victim) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(!page(rn, q).exists(_._1 == victim),
        "poller did not pick up the mutation within 30 s")
    } finally rn.stop()
  }

  test("poller survives an Error from the loader (OOM class) and retries next tick") {
    val dir = "/tmp/gidx-reload-err"
    freshIndex(dir)
    // loader call 1 = initial resident load; call 2 (first reload) throws an
    // Error — the daemon must NOT die (pre-fix it caught only Exception), so
    // call 3 on the next tick completes the swap
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val rn = new ReloadingNode(dir,
      () => {
        if (calls.incrementAndGet() == 2)
          throw new OutOfMemoryError("injected: shard too big for this heap")
        InMemoryIndex.load(spark, IndexHandle.load(dir))
      }, pollMs = 50)
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
    val victim = page(rn, q).head._1
    rn.start()
    try {
      IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (page(rn, q).exists(_._1 == victim) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(calls.get() >= 3, s"loader must have been retried (calls=${calls.get()})")
      assert(!page(rn, q).exists(_._1 == victim),
        "poller died on the loader Error instead of retrying next tick")
    } finally rn.stop()
  }

  test("fleet shard nodes reload independently; coverage handshake stays valid; parity vs fresh full node") {
    val dir = "/tmp/gidx-reload-fleet"
    freshIndex(dir)
    val mk = (chunks: Set[Int]) => new ReloadingNode(dir,
      () => InMemoryIndex.load(spark, IndexHandle.load(dir), chunks = Some(chunks)))
    val peerRn = mk(Set(1))
    val peerServer = new graft.api.SearchHttpServer(peerRn,
      internalNode = Some(() => peerRn.current), internalOnly = true)
    peerServer.start()
    try {
      val localRn = mk(Set(0))
      val fleet = new ProcFleet(() => localRn.current,
        Seq(s"http://127.0.0.1:${peerServer.boundPort}"), numChunks = 2)
      val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "))
      val before = fleet.search(q) // also runs the coverage handshake
      val victims = before.hits.take(2).map(_.docId)
      IndexBuild.deleteByQuery(spark, dir, col("docId").isin(victims: _*))
      // each node polls and swaps on its own schedule — simulate "peer
      // first, coordinator later"; between the two swaps the fleet serves a
      // mixed-version page (the same transient a rolling OpenSearch reindex
      // exposes), and NEVER errors
      assert(peerRn.checkAndReload())
      fleet.search(q)
      assert(localRn.checkAndReload())
      val after = fleet.search(q)
      assert(!after.hits.exists(h => victims.contains(h.docId)))
      val fresh = InMemoryIndex.load(spark, IndexHandle.load(dir))
      assert(after.hits.map(h => (h.docId, h.score)) ==
        fresh.search(q).hits.map(h => (h.docId, h.score)))
      assert(after.totalHits == fresh.search(q).totalHits)
      // chunk assignment is untouched by reloads → handshake still green
      fleet.verifyCoverage()
    } finally peerServer.stop()
  }

  test("shard nodes refuse public traffic (503) but serve the internal scatter surface") {
    val dir = "/tmp/gidx-reload-fleet" // reuse the fleet fixture's index
    if (!TableIO.exists(s"$dir/stats.json")) freshIndex(dir)
    val node = InMemoryIndex.load(spark, IndexHandle.load(dir), chunks = Some(Set(0)))
    val s = new graft.api.SearchHttpServer(node,
      internalNode = Some(() => node), internalOnly = true)
    s.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def status(method: String, path: String, body: String = "{}"): Int = {
        val b = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:${s.boundPort}$path"))
        val req = (if (method == "GET") b.GET()
                   else b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))).build()
        client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(status("POST", "/api/search", """{"query":"x"}""") == 503)
      assert(status("GET", "/api/metadata") == 503)
      assert(status("GET", "/api/context/40") == 503)
      assert(status("POST", "/api/feedback") == 503)
      // the scatter surface still answers
      assert(status("POST", "/api/internal/chunks") == 200)
      assert(status("POST", "/api/internal/partials",
        Wire.encodeQuery(QuerySpec("hi", Webtext.word("hi", 1)))) == 200)
    } finally s.stop()
  }
}
