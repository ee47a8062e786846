package graft.query

import graft.index.TableIO

/** Mutation fingerprint of an on-disk index — the poll target for serving
  * nodes that hot-reload (the reference serves from a LIVE OpenSearch while
  * its 6-hourly crawl daemon reindexes into it, scripts/discovery_cli.py:330
  * + delete-by-query backend/common/opensearch.py:304-339; our analog is an
  * immutable resident snapshot, so "live" means: detect the commit, rebuild
  * off-thread, swap atomically).
  *
  * Every mutation path moves this fingerprint:
  *   - build / deleteByQuery / reindexDocs / snapshot-ingest consume append
  *     manifest commit files (names carry a monotonic (ts, counter) — see
  *     [[graft.index.Manifest]]), changing the count and the max sequence;
  *   - finalizeStats rewrites `termdict/` then `stats.json` (both
  *     fingerprinted directly — see [[IndexVersion.of]] for why the manifest
  *     commits alone don't cover the build path's final stats rewrite).
  * Cost per poll: two small-directory listings + one tiny file read — no
  * Spark job, no parquet footer reads.
  */
object IndexVersion {
  def of(dir: String): String = {
    val commits = TableIO.listFiles(s"$dir/manifest.d", "chunk-")
    // latest commit by the NAME-EMBEDDED (ts, counter): commit names sort by
    // (chunk, ts, counter), so the plain max name would track chunk id, not
    // recency — strip to the fixed-width ts-counter suffix first
    val latest = commits.map(_.split("-").drop(2).mkString("-"))
      .sorted.lastOption.getOrElse("")
    // finalizeStats' artifacts move the fingerprint too: build()'s LAST
    // manifest commit lands BEFORE the corpus-wide stats/termdict rewrite
    // (minutes at scale), so a reload triggered by that commit would pin
    // PRE-build stats (every BM25 score skewed) with nothing re-triggering.
    // finalizeStats writes the termdict part files, then stats.json, and
    // that is the last fingerprinted write of every build and mutation (a
    // mutation clears its journal after it; a poll inside that window fails
    // in IndexHandle.load and ReloadingNode retries on the next poll).
    // stats.json is hashed by content (written last — content equality IS
    // semantic equality); the termdict swap is fingerprinted by its
    // part-file names (fresh task UUIDs every rewrite, one dir listing per
    // poll)
    val stats = md5(TableIO.readString(s"$dir/stats.json").getOrElse(""))
    val termdict = md5(
      TableIO.listFiles(s"$dir/termdict", "part-").sorted.mkString(","))
    s"${commits.size}|$latest|$stats|$termdict"
  }

  private def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }
}

/** A serving node that atomically swaps its resident [[InMemoryIndex]] when
  * the on-disk index mutates — zero downtime: queries in flight (and new
  * queries during the rebuild) keep hitting the OLD immutable snapshot; the
  * reference swap is a single volatile write once the new node is fully
  * loaded. The per-node payload cache drops with the old node for free (it
  * is instance state), and [[onSwap]] lets the HTTP layer drop its metadata
  * TTL cache in the same step.
  *
  * Torn reads: a poll can fire mid-mutation (the writer rewrites one chunk
  * partition at a time). A reload that fails keeps serving the old snapshot
  * and, because [[checkAndReload]] advances `version` only after a
  * successful load, retries on the next poll. Two facts make the node
  * converge on the fully-committed state within one poll interval:
  *   - while a mutation's journal (`mutation_pending.json`) exists,
  *     `IndexHandle.load` fails, so no poll loads a half-rewritten chunk;
  *   - finalizeStats (the `termdict/` part names, then `stats.json`) is the
  *     last fingerprinted write of every build and mutation, so a reload
  *     that succeeded on an earlier state (a build between chunk commits)
  *     is re-triggered by that move.
  *
  * Fleet use: each shard JVM wraps its chunk-subset node in one of these and
  * reloads independently; the chunk assignment never changes across a
  * reload, so the coordinator's coverage handshake stays valid by
  * construction. Corpus-wide stats (N, avgdl, termdict df) are re-read by
  * the loader on every swap — BM25 parity with a fresh full node holds
  * after mutations (gated by ReloadSpec).
  *
  * @param loader builds a fresh node from the CURRENT on-disk state; must
  *   re-read stats/termdict (e.g. `InMemoryIndex.load(spark,
  *   IndexHandle.load(dir), chunks = ...)`) — capturing a stale IndexHandle
  *   would pin pre-mutation corpus stats
  */
final class ReloadingNode(
    idxDir: String,
    loader: () => InMemoryIndex,
    pollMs: Long = 2000) extends SearchNode {

  // fingerprint FIRST, then load: a mutation that commits while the initial
  // load is in flight (loads take seconds-to-minutes on a real shard) then
  // moves the fingerprint relative to this pre-load capture and the first
  // poll reloads — capturing the version after the load would mask that
  // mutation until the next one, serving deleted docs for a whole cycle
  @volatile private var version: String = IndexVersion.of(idxDir)
  @volatile private var cur: InMemoryIndex = loader()

  /** Hook run after each successful swap (HTTP layer: metadata-cache drop). */
  @volatile var onSwap: () => Unit = () => ()

  /** The node serving RIGHT NOW — pass `() => current` wherever a supplier
    * of the live index is needed (internal scatter endpoints, ProcFleet
    * head shard).
    */
  def current: InMemoryIndex = cur

  /** One poll step, callable directly for deterministic tests: reload+swap
    * iff the fingerprint moved. Synchronized so the poller and an explicit
    * caller never build two nodes concurrently; readers never block (they
    * read the volatile).
    */
  def checkAndReload(): Boolean = synchronized {
    if (stopped) return false // a quiesced node must never swap again
    val v = IndexVersion.of(idxDir)
    if (v == version) false
    else {
      val fresh = loader() // built entirely off the serving path
      cur = fresh
      version = v
      onSwap()
      true
    }
  }

  // stop() cannot rely on InterruptedException alone: an interrupt landing
  // while checkAndReload is inside a Spark collect gets CONSUMED and
  // resurfaces as a generic SparkException, which the transient-IO catch
  // would swallow — the poller would outlive stop() and could swap an index
  // into a node the caller believes is quiesced
  @volatile private var stopped = false
  private val poller = new Thread(() => {
    while (!stopped) {
      try {
        Thread.sleep(pollMs)
        checkAndReload()
      } catch {
        case _: InterruptedException => // stop() — loop condition exits
        case t: Throwable =>
          // Throwable, not Exception: an Error (OOM loading a multi-GB
          // shard, StackOverflow) thrown inside loader() would otherwise
          // kill this daemon thread and silently disable reloading forever —
          // the node would serve the pre-mutation snapshot (deleted docs
          // included) with no retry and no log line. The old snapshot is
          // still serving and the failed build's garbage is collectable, so
          // logging and retrying next tick is safe for Errors too.
          if (!stopped) System.err.println(
            s"[reload] WARN reload failed (${t.getClass.getName}), " +
              s"serving the previous snapshot: ${t.getMessage}")
      }
    }
  }, "graft-index-reload")
  poller.setDaemon(true)

  def start(): Unit = poller.start()

  /** Quiesce: after this returns, no swap will ever land. Blocks on the node
    * lock so a reload already past the guard (inside loader()) drains first —
    * the interrupt alone can be consumed by a Spark collect and the flag
    * alone doesn't bound a pass that already started.
    */
  def stop(): Unit = {
    stopped = true
    poller.interrupt()
    synchronized {}
  }

  // SearchNode delegation — each call binds to ONE snapshot for its duration
  /** Multi-call operations pin the CURRENT snapshot once: two sequential
    * delegated calls could otherwise straddle a swap and mix versions in
    * one response. */
  override def pinned: SearchNode = cur
  def search(q: QuerySpec): SearchResult = cur.search(q)
  def facetMetadata(fields: Set[String],
      contentKey: String): Map[String, Map[String, Seq[String]]] =
    cur.facetMetadata(fields, contentKey)
  def context(chunkId: Long): Option[(DocPayload, Option[DocPayload], Option[DocPayload])] =
    cur.context(chunkId)
  def docPayloads(ids: Seq[Long]): Map[Long, DocPayload] = cur.docPayloads(ids)
}
