package graft.tools

import org.apache.spark.sql.SparkSession
import graft.corpus.Webtext
import graft.index.IndexBuild
import graft.query.{IndexHandle, InMemoryIndex, ProcFleet, QuerySpec}

/** N-shard FLEET scaling curve at a fixed large corpus (round-5 task #4):
  * BuildLadder proved resident load is linear in corpus size (the stated
  * answer being the doc-sharded fleet), so this measures the fleet itself —
  * 1 / 2 / 4 shard processes over the SAME index:
  *
  *   - per-node LOAD cost: the head shard's resident load, expected ∝ 1/N
  *     (each node holds numChunks/N chunks; this is the number that keeps a
  *     node's boot time and RSS flat as the corpus grows N×);
  *   - serve qps through the REAL multi-process path (peer shards in their
  *     own JVMs, ProcFleet scatter over sockets) vs N;
  *   - the coverage handshake at every topology (a mis-assigned ladder run
  *     fails loudly instead of publishing an under-covered qps).
  *
  * N=1 is the single-node reference: no scatter, ALL chunks loaded by one
  * in-process node — loaded with the same chunk-scoped load the shard
  * topologies use (chunks=all), so every rung pays the identical per-chunk
  * load path and point-reads payloads on demand; the docstore is NOT bulk
  * collected at any rung. Comparable-load by construction — do not compare
  * its qps against earlier rounds' fully-resident-docstore single-node
  * numbers. Emits one JSON line (BENCH_r*_fleet artifact).
  *
  * Env: GRAFT_FLEETLADDER_DOCS (default 2000000), GRAFT_FLEETLADDER_SHARDS
  * ("1,2,4"), GRAFT_FLEETLADDER_DIR (/tmp/graft-fleetladder),
  * GRAFT_FLEETLADDER_DOCS_PER_CHUNK (200000), SPARK_GRAFT_CPUS (32).
  */
object FleetLadder {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val docs = sys.env.getOrElse("GRAFT_FLEETLADDER_DOCS", "2000000").toLong
    val shardCounts = sys.env.getOrElse("GRAFT_FLEETLADDER_SHARDS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    val docsPerChunk =
      sys.env.getOrElse("GRAFT_FLEETLADDER_DOCS_PER_CHUNK", "200000").toLong
    val workDir = sys.env.getOrElse("GRAFT_FLEETLADDER_DIR", "/tmp/graft-fleetladder")
    val numChunks = math.max(shardCounts.max, (docs / docsPerChunk).toInt)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.maxResultSize", "0") // resident loads ARE collects
      .config("spark.local.dir", s"/dev/shm/graft-spark-${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- corpus + index, built ONCE and reused across ladder runs ----
    val corpusDir = s"$workDir/corpus_$docs"
    if (!new java.io.File(corpusDir, "_SUCCESS").exists()) {
      CpuProbe.rmDir(corpusDir)
      Webtext.synthesize(spark, docs, partitions = 256).toDF()
        .drop("html").write.parquet(corpusDir)
    }
    val idxDir = s"$workDir/idx_${docs}_c$numChunks"
    // trust only a FINALIZED index of this format whose manifest covers
    // every chunk — a killed prior run, or a cache written by an older
    // format, must rebuild, not fabricate ladder numbers
    val complete = graft.index.TableIO.exists(s"$idxDir/stats.json") &&
      (try graft.index.IndexBuild.readProps(idxDir).numChunks == numChunks
       catch { case _: IllegalStateException => false })
    if (!complete) {
      CpuProbe.rmDir(idxDir)
      val t0 = System.nanoTime()
      IndexBuild.build(spark, spark.read.parquet(corpusDir), idxDir, numChunks = numChunks)
      System.err.println(f"[fleet-ladder] built $docs docs / $numChunks chunks in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val idx = IndexHandle.load(idxDir)

    // ---- mixed-shape qps load — the SHARED driver (same shapes and drain
    // loop as graft.Bench, one implementation for both tools) ----
    val qpsMix = QpsLoad.mix("hi")
    val qpsThreads = math.max(2, cpus / 2)
    val qpsQueries = 2000
    def qpsRun(node: graft.query.SearchNode): Double =
      QpsLoad.run(node, qpsThreads, qpsQueries, qpsMix)

    // ---- the ladder ----
    val qpsAttempts = 4
    // one step per function call: the step's resident index (several GB at
    // 2M docs) becomes unreachable when the call returns, so the gc between
    // steps actually reclaims it — without this, dead index state survives
    // into the next step's TIMED load (the ∝1/N number this tool measures)
    // and the ladder JVM's RSS stays maximal while N-1 peer JVMs boot
    def runStep(n: Int): (Int, Int, Double, Seq[Double], Seq[Double], Double) = {
      val preProbe = CpuProbe.efficiency(cpus)
      // a step runs for minutes — publish min(pre, post) so a cap that
      // ARRIVES mid-step is visible in the artifact (same discipline as
      // Bench's section probes)
      def stepProbe: Double = math.min(preProbe, CpuProbe.efficiency(cpus))
      if (n == 1) {
        // COMPARABLE to the N>1 head loads: same chunk-scoped load path
        // (explicit all-chunks set) with the termdict pre-shared OUTSIDE the
        // timer. The old full-node load timed docstore + termdict that the
        // N>1 head loads exclude, inflating load_ratio_1_to_max ~3x beyond
        // the true ∝1/N postings scaling.
        val shared = InMemoryIndex.loadGlobalDf(spark, idx)
        val t0 = System.nanoTime()
        val mem = InMemoryIndex.load(spark, idx,
          chunks = Some((0 until numChunks).toSet), sharedGlobalDf = Some(shared))
        val loadSec = (System.nanoTime() - t0) / 1e9
        qpsRun(mem) // warmup
        val att = (1 to qpsAttempts).map(_ => qpsRun(mem))
        val probe = stepProbe
        System.err.println(f"[fleet-ladder] N=1 load=$loadSec%.1f s qps=${att.max}%.1f probe=$probe%.2f")
        (n, numChunks, loadSec, Seq.empty[Double], att, probe)
      } else {
        val assign = graft.query.ShardedServe.chunkAssignment(numChunks, n)
        // head load measured ALONE (the per-node ∝1/N number) — spawning
        // peers first put N-1 concurrent Spark boots under the measurement
        // and inverted the curve in the first 2M run
        val shared = InMemoryIndex.loadGlobalDf(spark, idx)
        val t0 = System.nanoTime()
        val head = InMemoryIndex.load(spark, idx,
          chunks = Some(assign.head), sharedGlobalDf = Some(shared))
        val headLoadSec = (System.nanoTime() - t0) / 1e9
        // peers accumulate as they boot so a failed LATER spawn still
        // destroys the earlier ones (each is a -Xmx10g JVM that would
        // otherwise outlive the ladder and poison every later window);
        // fair CPU share per shard JVM — a real fleet gives each node its
        // own machine, here N nodes split one host
        val peers = scala.collection.mutable.ArrayBuffer.empty[(Process, String, Double)]
        try {
          assign.tail.foreach { c =>
            peers += PeerShard.spawn(idxDir, c, xmx = "10g", deadlineSec = 600,
              cpus = Some(math.max(2, cpus / n)))
          }
          val fleet = new ProcFleet(() => head, peers.map(_._2).toSeq, numChunks)
          fleet.verifyCoverage() // fails loudly on a mis-assigned ladder
          qpsRun(fleet) // warmup (JITs the wire codec too)
          val att = (1 to qpsAttempts).map(_ => qpsRun(fleet))
          val probe = stepProbe
          System.err.println(f"[fleet-ladder] N=$n head_load=$headLoadSec%.1f s " +
            f"peer_ready=${peers.map(_._3).map(x => f"$x%.1f").mkString("/")} s " +
            f"qps=${att.max}%.1f probe=$probe%.2f")
          (n, numChunks, headLoadSec, peers.map(_._3).toSeq, att, probe)
        } finally {
          peers.foreach { case (p, _, _) => p.destroy(); p.waitFor() }
        }
      }
    }
    val steps = shardCounts.map { n =>
      val r = runStep(n)
      System.gc() // the returned step's index is unreachable now
      r
    }

    val stepJson = steps.map { case (n, chunks, loadSec, peerReady, att, probe) =>
      val headChunks = graft.query.ShardedServe.chunkAssignment(chunks, n).head.size
      f"""{"shards":$n,"chunks":$chunks,"head_chunks":$headChunks,""" +
        f""""head_load_sec":$loadSec%.2f,"peer_ready_sec":[${peerReady.map(x => f"$x%.1f").mkString(",")}],""" +
        f""""qps":${att.max}%.1f,"qps_attempts":[${att.map(x => f"$x%.1f").mkString(",")}],""" +
        f""""probe":$probe%.3f}"""
    }.mkString("[", ",", "]")
    val loadByShards = steps.map(s => s._1 -> s._3).toMap
    val loadRatio =
      if (loadByShards.contains(1) && loadByShards.contains(shardCounts.max))
        loadByShards(1) / loadByShards(shardCounts.max)
      else 0.0
    println(f"""{"metric":"fleet_ladder","docs":$docs,"chunks":$numChunks,"cpus":$cpus,""" +
      f""""qps_threads":$qpsThreads,"load_ratio_1_to_max":$loadRatio%.2f,"steps":$stepJson}""")
    spark.stop()
    CpuProbe.rmDir(s"/dev/shm/graft-spark-${ProcessHandle.current().pid()}")
  }
}
