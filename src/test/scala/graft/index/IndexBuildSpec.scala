package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{SparkTestSession, Webtext}

/** Build determinism + resumability gates (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics"; SURVEY §5.2 #3, #5).
  */
class IndexBuildSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rm(p: String): Unit = {
    val d = new java.io.File(p)
    if (d.exists()) scala.reflect.io.Directory(d).deleteRecursively()
  }

  /** Decode every (lang,term) posting list of an index into a canonical map
    * for content comparison (file layout may differ; content must not).
    */
  private def postingsFingerprint(dir: String): Map[(String, String), (Long, Long, Seq[(Long, Int, Int)])] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments")
      .select("lang", "term", "df", "cf", "blob", "posBlob")
      .as[(String, String, Long, Long, Array[Byte], Array[Byte])]
      .collect()
      .groupBy(r => (r._1, r._2))
      .map { case (key, rows) =>
        val (blob, posBlob, df, cf) = PostingListMerger.merge(rows.map(r => (r._5, r._6)).toSeq)
        val it = new PostingListReader(blob, posBlob).iterator()
        it.start()
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
        while (!it.exhausted) { buf += ((it.docId, it.tf, it.dl)); it.next() }
        key -> (df.toLong, cf, buf.toSeq)
      }
  }

  test("determinism: different chunking + salting yields identical postings") {
    val corpus = Webtext.synthesize(spark, 1200, partitions = 5).toDF()
    rm("/tmp/gidx-a"); rm("/tmp/gidx-b")
    IndexBuild.build(spark, corpus, "/tmp/gidx-a", numChunks = 1, saltTargetPostings = 1 << 30)
    IndexBuild.build(spark, corpus, "/tmp/gidx-b", numChunks = 3, saltTargetPostings = 32)
    val a = postingsFingerprint("/tmp/gidx-a")
    val b = postingsFingerprint("/tmp/gidx-b")
    assert(a.keySet == b.keySet, "term dictionaries differ")
    a.foreach { case (k, v) => assert(b(k) == v, s"postings differ for $k") }
    // salting must actually have produced >1 run for head terms in build b
    // (sanity that the test exercised the merge path)
    val hiHead = ("hi", "hihead0")
    assert(a.contains(hiHead))
  }

  test("resume: killed build resumes from manifest without recomputation, same index") {
    val corpus = Webtext.synthesize(spark, 1000, partitions = 4).toDF()
    rm("/tmp/gidx-clean"); rm("/tmp/gidx-resume")
    IndexBuild.build(spark, corpus, "/tmp/gidx-clean", numChunks = 4)
    // killed after chunk 1 completes
    intercept[RuntimeException] {
      IndexBuild.build(spark, corpus, "/tmp/gidx-resume", numChunks = 4, failAfterChunk = 1)
    }
    val doneAfterKill = Manifest.doneChunks("/tmp/gidx-resume")
    assert(doneAfterKill == Set(0, 1), s"manifest after kill: $doneAfterKill")
    // record mtimes of completed chunk outputs
    val seg0 = new java.io.File("/tmp/gidx-resume/segments/chunk=0")
    val mtimeBefore = seg0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(1100)
    IndexBuild.build(spark, corpus, "/tmp/gidx-resume", numChunks = 4)
    // chunks 0-1 not recomputed
    val mtimeAfter = seg0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(mtimeAfter == mtimeBefore, "chunk 0 was recomputed on resume")
    assert(Manifest.doneChunks("/tmp/gidx-resume") == Set(0, 1, 2, 3))
    // resumed index content == clean build content
    val clean = postingsFingerprint("/tmp/gidx-clean")
    val resumed = postingsFingerprint("/tmp/gidx-resume")
    assert(clean == resumed)
    // manifest carries per-partition metrics (lineage)
    val rows = Manifest.rows("/tmp/gidx-resume")
    assert(rows.forall(r => r.docs > 0 && r.tokens > 0 && r.terms > 0 && r.wallMs >= 0))
  }

  test("fallback docId (no doc_id column) is hash-derived, non-negative, and builds") {
    import spark.implicits._
    val corpus = Webtext.synthesize(spark, 300, partitions = 3).toDF()
      .drop("docId") // force the xxhash64(url) fallback path
    rm("/tmp/gidx-nofid")
    IndexBuild.build(spark, corpus, "/tmp/gidx-nofid", numChunks = 2)
    val ids = spark.read.parquet("/tmp/gidx-nofid/docstore")
      .select("docId").as[Long].collect()
    assert(ids.length == 300)
    assert(ids.forall(_ >= 0L), "hash-derived docIds must be non-negative")
    assert(ids.distinct.length == 300, "urls are unique → ids must be unique")
  }

  test("explicit doc_id duplicates fail the build fast with an actionable message") {
    // pre-fix only DERIVED (xxhash64) ids were checked: an explicit-id batch
    // carrying a docId twice either crashed hours later deep in the posting
    // writer's strictly-increasing invariant (same-lang duplicates sharing a
    // term) or built a silently corrupt index (two docstore rows under one
    // id, point-reads serving an arbitrary one)
    val corpus = Webtext.synthesize(spark, 200, partitions = 2).toDF()
    val dup = corpus.limit(1).union(corpus) // one docId appears twice
    rm("/tmp/gidx-dupid")
    val e = intercept[IllegalArgumentException] {
      IndexBuild.build(spark, dup, "/tmp/gidx-dupid", numChunks = 2)
    }
    assert(e.getMessage.contains("duplicate doc_id"), e.getMessage)
  }

  test("negative explicit doc_id fails the build fast, not deep in the codec") {
    // derived ids are masked non-negative at normalizeInput; an explicit
    // negative id previously survived the dup check and crashed hours later
    // in an executor task (VByte's non-negative delta require) — the same
    // up-front job now rejects it with an actionable message
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 100, partitions = 2).toDF()
      .withColumn("docId", when(col("docId") === 5L, lit(-7L)).otherwise(col("docId")))
    rm("/tmp/gidx-negid")
    val e = intercept[IllegalArgumentException] {
      IndexBuild.build(spark, corpus, "/tmp/gidx-negid", numChunks = 2)
    }
    assert(e.getMessage.contains("negative doc_id"), e.getMessage)
  }

  test("resume invalidation: changed input rebuilds stale chunks (checksum mismatch)") {
    val corpusA = Webtext.synthesize(spark, 400, seed = 42L, partitions = 4).toDF()
    val corpusB = Webtext.synthesize(spark, 400, seed = 43L, partitions = 4).toDF()
    rm("/tmp/gidx-stale"); rm("/tmp/gidx-fresh")
    IndexBuild.build(spark, corpusA, "/tmp/gidx-stale", numChunks = 2)
    // same outDir, DIFFERENT input: the manifest says chunks 0-1 are done, but
    // the recorded signatures no longer match → both chunks must rebuild
    IndexBuild.build(spark, corpusB, "/tmp/gidx-stale", numChunks = 2)
    IndexBuild.build(spark, corpusB, "/tmp/gidx-fresh", numChunks = 2)
    val stale = postingsFingerprint("/tmp/gidx-stale")
    val fresh = postingsFingerprint("/tmp/gidx-fresh")
    assert(stale == fresh, "rebuild into the changed-input dir must serve the NEW input")
    // and unchanged input still resumes as a no-op
    val seg0 = new java.io.File("/tmp/gidx-stale/segments/chunk=0")
    val before = seg0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(1100)
    IndexBuild.build(spark, corpusB, "/tmp/gidx-stale", numChunks = 2)
    val after = seg0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "unchanged input must not recompute")
  }

  test("Q12 delete-by-query: partition overwrite == fresh build of the remainder") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 600, partitions = 4).toDF()
    rm("/tmp/gidx-del"); rm("/tmp/gidx-del-fresh")
    IndexBuild.build(spark, corpus, "/tmp/gidx-del", numChunks = 3)
    // predicate hits docs only in chunk 0 (docId % 3 == 0) → chunks 1-2 untouched
    val seg1 = new java.io.File("/tmp/gidx-del/segments/chunk=1")
    val before = seg1.listFiles().map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(1100)
    IndexBuild.deleteByQuery(spark, "/tmp/gidx-del",
      pmod(col("docId"), lit(3)) === 0 && col("docId") < 300)
    val after = seg1.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "unaffected chunk was rewritten")
    IndexBuild.build(spark,
      corpus.filter(!(pmod(col("docId"), lit(3)) === 0 && col("docId") < 300)),
      "/tmp/gidx-del-fresh", numChunks = 3)
    assert(postingsFingerprint("/tmp/gidx-del") ==
      postingsFingerprint("/tmp/gidx-del-fresh"))
  }

  test("Q12 reindex (MERGE): delete + add == fresh build of the modified corpus") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 500, partitions = 4).toDF()
    rm("/tmp/gidx-re"); rm("/tmp/gidx-re-fresh")
    IndexBuild.build(spark, corpus, "/tmp/gidx-re", numChunks = 2)
    val regen = corpus.where(pmod(col("docId"), lit(5)) === 0)
      .withColumn("text", concat(col("text"), lit(" regenerated")))
    IndexBuild.reindexDocs(spark, "/tmp/gidx-re", regen)
    val modified = corpus.withColumn("text",
      when(pmod(col("docId"), lit(5)) === 0, concat(col("text"), lit(" regenerated")))
        .otherwise(col("text")))
    IndexBuild.build(spark, modified, "/tmp/gidx-re-fresh", numChunks = 2)
    assert(postingsFingerprint("/tmp/gidx-re") ==
      postingsFingerprint("/tmp/gidx-re-fresh"))
    // stats reflect the merged corpus
    val h = graft.query.IndexHandle.load("/tmp/gidx-re")
    val hf = graft.query.IndexHandle.load("/tmp/gidx-re-fresh")
    assert(h.stats == hf.stats)
  }

  test("Q12 delete-by-query that empties a whole chunk leaves a valid index") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    rm("/tmp/gidx-empty")
    IndexBuild.build(spark, corpus, "/tmp/gidx-empty", numChunks = 3)
    // delete EVERY doc of chunk 1 (docId % 3 == 1)
    IndexBuild.deleteByQuery(spark, "/tmp/gidx-empty", pmod(col("docId"), lit(3)) === 1)
    val store = spark.read.parquet("/tmp/gidx-empty/docstore")
    assert(store.where(pmod(col("docId"), lit(3)) === 1).count() == 0)
    assert(store.count() == 200)
    // index still serves queries (stats + segments consistent)
    val idx = graft.query.IndexHandle.load("/tmp/gidx-empty")
    // gu: phrase plants land on gu-language ids within 300 docs
    val res = graft.query.Bm25Query.search(spark, idx,
      graft.query.QuerySpec("gu", Webtext.GoldenPhrase("gu").mkString(" ")))
    assert(res.hits.nonEmpty)
    assert(res.hits.forall(h => h.docId % 3 != 1))
  }

  test("empty-match mutation must NOT finalize a half-built index (coverage-gated heal)") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-halfbuild"
    rm(dir)
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    intercept[RuntimeException] {
      IndexBuild.build(spark, corpus, dir, numChunks = 2, failAfterChunk = 0)
    }
    assert(!TableIO.exists(s"$dir/stats.json"))
    IndexBuild.deleteByQuery(spark, dir, col("docId") === -1L)
    assert(!TableIO.exists(s"$dir/stats.json"),
      "healing a half-built index would un-gate serving of a truncated corpus")
    // a MATCHING mutation must be refused outright: rebuilding chunk 0 and
    // finalizing would write stats over the truncated docstore and silently
    // serve half the corpus
    val ex = intercept[IllegalArgumentException] {
      IndexBuild.deleteByQuery(spark, dir, lit(true))
    }
    assert(ex.getMessage.contains("half-built"))
    assert(!TableIO.exists(s"$dir/stats.json"),
      "a refused mutation must leave the half-built index un-finalized")
    // build() resume completes the missing chunk; the index then serves
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    assert(graft.query.IndexHandle.load(dir).stats.nonEmpty)
  }

  test("no-match mutation leaves the serving version unchanged; a matching one moves it") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-noopmut"
    rm(dir)
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    val v0 = graft.query.IndexVersion.of(dir)
    IndexBuild.deleteByQuery(spark, dir, col("docId") === -1L)
    assert(graft.query.IndexVersion.of(dir) == v0,
      "no content change -> no reload fingerprint movement -> no fleet-wide reload")
    IndexBuild.deleteByQuery(spark, dir, col("docId") % 7 === 0L)
    assert(graft.query.IndexVersion.of(dir) != v0)
  }

  test("leftover compaction caches of an earlier build are never served") {
    import org.apache.spark.sql.functions._
    import graft.query.{Bm25Query, IndexHandle, InMemoryIndex, QuerySpec}
    val dir = "/tmp/gidx-leftoverc"
    rm(dir)
    val corpus = Webtext.synthesize(spark, 600, partitions = 2).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    // what an earlier graft's compaction left: copies of the live tables
    // under *_compact plus its completion marker
    Seq("segments", "facets").foreach { t =>
      val from = java.nio.file.Paths.get(s"$dir/$t")
      val walk = java.nio.file.Files.walk(from)
      try walk.forEach { f =>
        java.nio.file.Files.copy(f,
          java.nio.file.Paths.get(s"$dir/${t}_compact").resolve(from.relativize(f)))
      } finally walk.close()
    }
    TableIO.writeStringAtomic(s"$dir/compact_done.json", """{"done": true}""")
    TableIO.writeStringAtomic(s"$dir/compact_state.json", """{"mutationsSinceCompact": 0}""")
    val q = QuerySpec("hi", Webtext.GoldenPhrase("hi").mkString(" "),
      pageSize = 1000, trackTotalHits = 100000L)
    val before = Bm25Query.search(spark, IndexHandle.load(dir), q)
    assert(before.hits.nonEmpty, "precondition: the golden phrase has hits")
    val victim = before.hits.head.docId
    IndexBuild.deleteByQuery(spark, dir, col("docId") === victim)
    val h = IndexHandle.load(dir)
    assert(h.segmentsPath.endsWith("/segments") && h.facetsPath.endsWith("/facets"))
    val disk = Bm25Query.search(spark, h, q)
    val mem = InMemoryIndex.load(spark, h).search(q)
    assert(disk.totalHits == before.totalHits - 1 && mem.totalHits == disk.totalHits)
    assert(!disk.hits.exists(_.docId == victim), "disk search served a deleted doc")
    assert(!mem.hits.exists(_.docId == victim), "resident load served a deleted doc")
  }

  test("empty-match mutation repairs stats/termdict (self-heal after a crash inside finalizeStats)") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-emptymut"
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    rm(dir)
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    val stats = s"$dir/stats.json"
    val statsJson = TableIO.readString(stats).get
    // simulate a build that died INSIDE finalizeStats (chunks committed, no
    // journal): stats.json missing — serving refuses to load this index
    TableIO.deleteRecursive(stats)
    IndexBuild.deleteByQuery(spark, dir, col("docId") === -1L)
    assert(TableIO.readString(stats).contains(statsJson),
      "a mutation matching nothing must still re-finalize global stats")
    // and the repaired index loads and serves
    val h = graft.query.IndexHandle.load(dir)
    assert(h.stats.nonEmpty)
  }

  test("positions-free build: smaller index, identical non-phrase results, phrase fails fast") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 600, partitions = 3).toDF()
    rm("/tmp/gidx-pos"); rm("/tmp/gidx-nopos")
    IndexBuild.build(spark, corpus, "/tmp/gidx-pos", numChunks = 2, saltTargetPostings = 64)
    IndexBuild.build(spark, corpus, "/tmp/gidx-nopos", numChunks = 2,
      saltTargetPostings = 64, storePositions = false)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(s"$p/segments"))
    }
    assert(bytes("/tmp/gidx-nopos") < bytes("/tmp/gidx-pos"),
      s"positions-free segments must be smaller: ${bytes("/tmp/gidx-nopos")} vs ${bytes("/tmp/gidx-pos")}")
    // identical non-phrase results (AND, any, filters)
    val a = graft.query.IndexHandle.load("/tmp/gidx-pos")
    val b = graft.query.IndexHandle.load("/tmp/gidx-nopos")
    val phrase = Webtext.GoldenPhrase("hi").mkString(" ")
    Seq(
      graft.query.QuerySpec("hi", phrase),
      graft.query.QuerySpec("hi", phrase, mode = "any"),
      graft.query.QuerySpec("hi", phrase, yearRange = Some((2020, 2020)))).foreach { q =>
      val ra = graft.query.Bm25Query.search(spark, a, q)
      val rb = graft.query.Bm25Query.search(spark, b, q)
      assert(ra.hits.map(h => (h.docId, h.score)) == rb.hits.map(h => (h.docId, h.score)), s"$q")
      assert(ra.totalHits == rb.totalHits)
    }
    // phrase against the positions-free index fails fast with a clear error
    val e = intercept[Exception] {
      graft.query.Bm25Query.search(spark, b,
        graft.query.QuerySpec("hi", phrase, phrase = true))
    }
    assert(e.getMessage != null && e.getMessage.contains("positions"), s"got: ${e.getMessage}")
  }

  test("positions mode survives mutations: reindex/delete into a nopos index stays nopos") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
    rm("/tmp/gidx-noposmut"); rm("/tmp/gidx-noposmut-fresh")
    IndexBuild.build(spark, corpus, "/tmp/gidx-noposmut", numChunks = 2, storePositions = false)
    // mutate: regenerate a fifth of the docs (rewrites both chunks)
    val regen = corpus.where(pmod(col("docId"), lit(5)) === 0)
      .withColumn("text", concat(col("text"), lit(" regenerated")))
    IndexBuild.reindexDocs(spark, "/tmp/gidx-noposmut", regen)
    IndexBuild.deleteByQuery(spark, "/tmp/gidx-noposmut", col("docId") < 20)
    // every chunk (including the rewritten ones) must still be positions-free
    import spark.implicits._
    val posBytes = spark.read.parquet("/tmp/gidx-noposmut/segments")
      .select(coalesce(length(col("posBlob")), lit(0)).cast("long")).as[Long].collect().sum
    assert(posBytes == 0L, s"mutated chunks re-acquired positions ($posBytes bytes)")
    // and content equals a fresh nopos build of the merged corpus
    val modified = corpus.withColumn("text",
      when(pmod(col("docId"), lit(5)) === 0, concat(col("text"), lit(" regenerated")))
        .otherwise(col("text")))
      .where(col("docId") >= 20)
    IndexBuild.build(spark, modified, "/tmp/gidx-noposmut-fresh", numChunks = 2,
      storePositions = false)
    assert(postingsFingerprint("/tmp/gidx-noposmut") ==
      postingsFingerprint("/tmp/gidx-noposmut-fresh"))
    // phrase still fails fast after the mutations (gu plants — docIds 106,
    // 207, 308 — survive the docId < 20 delete, so the kernel must reach for
    // positions and find none)
    val h = graft.query.IndexHandle.load("/tmp/gidx-noposmut")
    val e = intercept[Exception] {
      graft.query.Bm25Query.search(spark, h,
        graft.query.QuerySpec("gu", Webtext.GoldenPhrase("gu").mkString(" "), phrase = true))
    }
    assert(e.getMessage != null && e.getMessage.contains("positions"))
  }

  test("resume invalidation: a warc_ts-only change rebuilds the chunk (year facets fresh)") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    rm("/tmp/gidx-ts")
    IndexBuild.build(spark, corpus, "/tmp/gidx-ts", numChunks = 2)
    import spark.implicits._
    def years(): Set[String] = spark.read.parquet("/tmp/gidx-ts/facets")
      .where(col("key") === "year").select("value").as[String].collect().toSet
    val before = years()
    // shift every timestamp by 10 years; text/meta/url unchanged
    val shifted = corpus.withColumn("warc_ts",
      col("warc_ts") + expr("INTERVAL 3653 DAYS"))
    IndexBuild.build(spark, shifted, "/tmp/gidx-ts", numChunks = 2)
    val after = years()
    assert(before != after, "timestamp-only change was skipped on resume (stale year facets)")
    assert(after.exists(_.startsWith("203")), s"shifted years missing: $after")
  }

  test("termdict artifact: matches segment aggregation and refreshes on mutation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
    rm("/tmp/gidx-td")
    IndexBuild.build(spark, corpus, "/tmp/gidx-td", numChunks = 2, saltTargetPostings = 64)
    def tdMap(): Map[(String, String), (Long, Long)] =
      spark.read.parquet("/tmp/gidx-td/termdict")
        .select("lang", "term", "df", "cf")
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    def segMap(): Map[(String, String), (Long, Long)] =
      spark.read.parquet("/tmp/gidx-td/segments")
        .groupBy("lang", "term").agg(sum("df").as("df"), sum("cf").as("cf"))
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(tdMap() == segMap())
    // suggest routes through the termdict scan and stays consistent
    val idx = graft.query.IndexHandle.load("/tmp/gidx-td")
    assert(TableIO.exists(idx.termdict))
    // mutation refreshes the dictionary
    IndexBuild.deleteByQuery(spark, "/tmp/gidx-td", col("docId") < 100)
    assert(tdMap() == segMap(), "termdict stale after delete-by-query")
    // bucket column matches the serving shard function
    val badBucket = spark.read.parquet("/tmp/gidx-td/termdict")
      .select("term", "bucket").as[(String, Int)].collect()
      .count { case (t, b) => b != graft.query.InMemoryIndex.bucketOf(t) }
    assert(badBucket == 0)
  }

  test("finalizeStats refuses a done chunk with no termdict slice, naming it") {
    val dir = "/tmp/gidx-tdslice"
    rm(dir)
    IndexBuild.build(spark, Webtext.synthesize(spark, 200, partitions = 2).toDF(), dir,
      numChunks = 2)
    TableIO.deleteRecursive(s"$dir/termdict_chunks/chunk=1")
    // the rollup must not silently drop chunk 1's terms from the dictionary
    val e = intercept[IllegalStateException](IndexBuild.finalizeStats(spark, dir))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("chunk(s) 1 have no termdict_chunks slice"), e.getMessage)
  }

  test("format gate: open and mutations refuse other versions; build() resumes") {
    import org.apache.spark.sql.functions._
    val src = "/tmp/gidx-fmt"
    val corpus = Webtext.synthesize(spark, 200, partitions = 2).toDF()
    rm(src)
    IndexBuild.build(spark, corpus, src, numChunks = 2)
    val props = TableIO.readString(s"$src/props.json").get
    assert(props.contains(s"\"formatVersion\": ${IndexBuild.FormatVersion}"), props)
    def copyOf(name: String)(edit: String => Unit): String = {
      val d = s"$src-$name"
      rm(d)
      val from = java.nio.file.Paths.get(src)
      val walk = java.nio.file.Files.walk(from)
      try walk.forEach { f =>
        java.nio.file.Files.copy(f, java.nio.file.Paths.get(d).resolve(from.relativize(f)))
      } finally walk.close()
      edit(d)
      d
    }
    val versionField = "\"formatVersion\":\\s*\\d+"
    // the format every index had before the field existed
    val stripped = copyOf("stripped")(d =>
      TableIO.writeStringAtomic(s"$d/props.json", props.replaceFirst(versionField + ",\\s*", "")))
    val noProps = copyOf("noprops")(d => TableIO.deleteRecursive(s"$d/props.json"))
    val future = copyOf("future")(d =>
      TableIO.writeStringAtomic(s"$d/props.json",
        props.replaceFirst(versionField, "\"formatVersion\": 999")))
    Seq(stripped -> "absent", noProps -> "absent", future -> "999").foreach { case (d, found) =>
      Seq[(String, () => Any)](
        "load" -> (() => graft.query.IndexHandle.load(d)),
        "deleteByQuery" -> (() => IndexBuild.deleteByQuery(spark, d, col("docId") === 1L)),
        "reindexDocs" -> (() => IndexBuild.reindexDocs(spark, d, corpus.where(col("docId") === 1L)))
      ).foreach { case (op, run) =>
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains(s"$d has index formatVersion $found") &&
          e.getMessage.contains("rebuild"), s"$op: ${e.getMessage}")
      }
    }
    // same chunk layout: build() resumes over the stripped copy (no chunk
    // rebuilt), records the current version, and the copy then loads
    val commits = Manifest.rows(stripped).size
    IndexBuild.build(spark, corpus, stripped, numChunks = 2)
    assert(Manifest.rows(stripped).size == commits, "resume rebuilt a chunk")
    assert(graft.query.IndexHandle.load(stripped).stats ==
      graft.query.IndexHandle.load(src).stats)
  }

  test("positions-free SERVING: resident node over a nopos index == Spark path; phrase fails fast") {
    val corpus = Webtext.synthesize(spark, 600, partitions = 3).toDF()
    rm("/tmp/gidx-noposserve")
    IndexBuild.build(spark, corpus, "/tmp/gidx-noposserve", numChunks = 2,
      saltTargetPostings = 64, storePositions = false)
    val idx = graft.query.IndexHandle.load("/tmp/gidx-noposserve")
    val mem = graft.query.InMemoryIndex.load(spark, idx)
    val phrase = Webtext.GoldenPhrase("hi").mkString(" ")
    Seq(
      graft.query.QuerySpec("hi", phrase),
      graft.query.QuerySpec("hi", phrase, mode = "any"),
      graft.query.QuerySpec("hi", phrase, yearRange = Some((2020, 2020))),
      graft.query.QuerySpec("hi", phrase, metaFilters = Map("category" -> Seq("Pravachan"))))
      .foreach { q =>
        val a = mem.search(q)
        val b = graft.query.Bm25Query.search(spark, idx, q)
        assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)), s"$q")
        assert(a.totalHits == b.totalHits)
      }
    val e = intercept[Exception] {
      mem.search(graft.query.QuerySpec("hi", phrase, phrase = true))
    }
    assert(e.getMessage != null && e.getMessage.contains("positions"), s"got: ${e.getMessage}")
  }

  test("J6 GC: orphan chunk dirs (not in manifest) are found and deleted") {
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    rm("/tmp/gidx-gc")
    IndexBuild.build(spark, corpus, "/tmp/gidx-gc", numChunks = 2)
    // plant a stray chunk dir (crashed build residue)
    val stray = new java.io.File("/tmp/gidx-gc/segments/chunk=9")
    stray.mkdirs()
    java.nio.file.Files.writeString(stray.toPath.resolve("junk.parquet"), "x")
    assert(IndexBuild.gcOrphanChunks("/tmp/gidx-gc") == Seq(9))
    assert(IndexBuild.gcOrphanChunks("/tmp/gidx-gc", delete = true) == Seq(9))
    assert(!stray.exists())
    assert(IndexBuild.gcOrphanChunks("/tmp/gidx-gc").isEmpty)
    // live chunks untouched
    assert(new java.io.File("/tmp/gidx-gc/segments/chunk=0").exists())
  }

  test("S11 debug text sink dumps one line per doc") {
    val corpus = Webtext.synthesize(spark, 120, partitions = 2).toDF()
    rm("/tmp/gidx-dbg"); rm("/tmp/gidx-dbg-out")
    IndexBuild.build(spark, corpus, "/tmp/gidx-dbg", numChunks = 1)
    IndexBuild.debugTextSink(spark, "/tmp/gidx-dbg", "/tmp/gidx-dbg-out")
    val lines = spark.read.text("/tmp/gidx-dbg-out").count()
    assert(lines == 120)
  }

  test("manifest: O(1) commit files, per-chunk latest wins") {
    val dir = "/tmp/gidx-manifest"
    rm(dir)
    // chunk 1 rebuilt twice — its LATEST commit must win
    Manifest.append(dir, ManifestRow(1, "done", 12, 120, 60, "v3:p:12:3", 7))
    Manifest.append(dir, ManifestRow(1, "done", 13, 130, 65, "v3:p:13:4", 8))
    Manifest.append(dir, ManifestRow(2, "done", 14, 140, 70, "v3:p:14:5", 9))
    // each append created exactly one immutable file; nothing was rewritten
    val commits = graft.index.TableIO.listFiles(s"$dir/manifest.d", "chunk-")
    assert(commits.size == 3, s"expected 3 commit files, saw $commits")
    assert(Manifest.doneChunks(dir) == Set(1, 2))
    val latest = Manifest.rows(dir).groupBy(_.chunk).map { case (c, rs) => c -> rs.last }
    assert(latest(1).inputChecksum == "v3:p:13:4",
      "latest commit file must supersede the earlier commit")
    assert(latest(2).docs == 14)
  }

  test("manifest: commit order survives a wall clock behind existing commits") {
    // Simulate a clock stepped backwards across a JVM restart: an existing
    // commit carries a FUTURE name-timestamp relative to this "JVM"'s clock.
    // The next append must still sort after it (latest-wins ordering follows
    // true commit order, not the wall clock).
    val dir = "/tmp/gidx-manifest-clock"
    rm(dir)
    val future = System.currentTimeMillis() + 86400000L // tomorrow
    graft.index.TableIO.writeStringAtomic(
      f"$dir/manifest.d/chunk-${3}%08d-$future%013d-000000.json",
      """{"chunk":3,"status":"done","docs":1,"tokens":10,"terms":5,"inputChecksum":"v3:stale","wallMs":1}""")
    Manifest.append(dir, ManifestRow(3, "done", 2, 20, 10, "v3:fresh", 2))
    val latest = Manifest.rows(dir).groupBy(_.chunk).map { case (c, rs) => c -> rs.last }
    assert(latest(3).inputChecksum == "v3:fresh",
      "a rebuild committed after a clock step-back must supersede the stale commit")
  }

  test("deleteByQuery with a NULL-evaluating predicate keeps non-matching docs (3VL)") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
      // plant a meta key on SOME docs only — for the rest the delete
      // predicate evaluates to NULL, which must mean KEEP, not delete
      .withColumn("meta", when(col("docId") % 10 === 0,
        map_concat(col("meta"), map(lit("feed"), lit("feedX"))))
        .otherwise(col("meta")))
    rm("/tmp/gidx-nullpred")
    IndexBuild.build(spark, corpus, "/tmp/gidx-nullpred", numChunks = 2,
      saltTargetPostings = 64)
    IndexBuild.deleteByQuery(spark, "/tmp/gidx-nullpred",
      element_at(col("meta"), "feed") === "feedX")
    val left = spark.read.parquet("/tmp/gidx-nullpred/docstore")
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(left.size == 360, s"expected 360 survivors, got ${left.size}")
    assert(left.forall(_ % 10 != 0))
  }

  test("re-building with a different numChunks into an existing index is refused") {
    val corpus = Webtext.synthesize(spark, 300, partitions = 2).toDF()
    rm("/tmp/gidx-chunkswap")
    IndexBuild.build(spark, corpus, "/tmp/gidx-chunkswap", numChunks = 4,
      saltTargetPostings = 64)
    val e = intercept[IllegalArgumentException] {
      IndexBuild.build(spark, corpus, "/tmp/gidx-chunkswap", numChunks = 2,
        saltTargetPostings = 64)
    }
    assert(e.getMessage.contains("numChunks"))
  }

  test("url-derived docIds: recrawled urls dedup to the latest capture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq(
      ("https://r.example/a", "2024-01-01 00:00:00", "old capture text alpha"),
      ("https://r.example/a", "2024-06-01 00:00:00", "new capture text beta"),
      ("https://r.example/b", "2024-03-01 00:00:00", "only capture gamma"))
      .toDF("url", "ts", "text")
      .select(col("url"), to_timestamp(col("ts")).as("warc_ts"), col("text"),
        lit("hi").as("lang"))
    rm("/tmp/gidx-recrawl")
    IndexBuild.build(spark, base, "/tmp/gidx-recrawl", numChunks = 1,
      saltTargetPostings = 64)
    val store = spark.read.parquet("/tmp/gidx-recrawl/docstore")
      .select("url", "text").as[(String, String)].collect().toMap
    assert(store.size == 2)
    assert(store("https://r.example/a") == "new capture text beta")
    // the superseded capture's tokens are not in the index
    val idx = graft.query.IndexHandle.load("/tmp/gidx-recrawl")
    val mem = graft.query.InMemoryIndex.load(spark, idx)
    assert(mem.search(graft.query.QuerySpec("hi", "alpha")).hits.isEmpty)
    assert(mem.search(graft.query.QuerySpec("hi", "beta")).hits.nonEmpty)
  }

  test("reserved facet keys in user meta fail the build fast") {
    import org.apache.spark.sql.functions._
    val corpus = Webtext.synthesize(spark, 100, partitions = 2).toDF()
      .withColumn("meta", map_concat(col("meta"), map(lit("year"), lit("1999"))))
    rm("/tmp/gidx-reserved")
    val e = intercept[Exception] {
      IndexBuild.build(spark, corpus, "/tmp/gidx-reserved", numChunks = 1,
        saltTargetPostings = 64)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("reserved facet")), chain(e).mkString(" | "))
    // the kernel's synthetic date-routing keys are reserved too: user meta
    // under "__date_in" would be MISROUTED into the date-OR logic at query
    // time (silent 0-hit queries), so the build refuses it up front
    val corpus2 = Webtext.synthesize(spark, 100, partitions = 2).toDF()
      .withColumn("meta", map_concat(col("meta"), map(lit("__date_in"), lit("x"))))
    rm("/tmp/gidx-reserved")
    val e2 = intercept[Exception] {
      IndexBuild.build(spark, corpus2, "/tmp/gidx-reserved", numChunks = 1,
        saltTargetPostings = 64)
    }
    assert(chain(e2).exists(_.contains("reserved facet")), chain(e2).mkString(" | "))
  }

  test("metaFilters(year) combined with yearRange is refused as ambiguous") {
    val e = intercept[IllegalArgumentException] {
      graft.query.QueryCore.context(graft.query.QuerySpec("hi", "x",
        metaFilters = Map("year" -> Seq("2020")),
        yearRange = Some((2021, 2022))), 10L, 5.0)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("interrupted mutation: journal blocks serving, recovery replays and converges") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-journal"
    val fresh = "/tmp/gidx-journal-fresh"
    rm(dir); rm(fresh)
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    // simulate deleteByQuery(docId < 40) dying mid-rewrite of chunk 0: the
    // rewrite input is journaled (tmp + pending entry) but the chunk's
    // tables are inconsistent (segments gone, as if the overwrite died)
    val remainder = IndexBuild.normalizeInput(corpus)
      .where(pmod(col("docId"), lit(2)) === 0 && col("docId") >= 40)
    remainder.write.mode("overwrite").parquet(s"$dir/tmp_rewrite_chunk_0")
    TableIO.writeStringAtomic(s"$dir/mutation_pending.json", """{"chunk": 0}""")
    rm(s"$dir/segments/chunk=0")
    // serving refuses the journaled index instead of resurrecting deleted docs
    val e = intercept[RuntimeException](graft.query.IndexHandle.load(dir))
    assert(e.getMessage.contains("interrupted mutation"))
    // recovery replays the journaled rewrite and clears the journal
    assert(IndexBuild.recoverPendingMutation(spark, dir))
    assert(IndexBuild.pendingMutation(dir).isEmpty)
    assert(!new java.io.File(s"$dir/tmp_rewrite_chunk_0").exists())
    assert(!IndexBuild.recoverPendingMutation(spark, dir)) // idempotent no-op
    // the recovered index equals a fresh build over the post-delete corpus
    IndexBuild.build(spark,
      corpus.where(!(pmod(col("docId"), lit(2)) === 0 && col("docId") < 40)),
      fresh, numChunks = 2)
    assert(postingsFingerprint(dir) ==
      postingsFingerprint(fresh))
    // and serving works again
    assert(graft.query.IndexHandle.load(dir).stats.nonEmpty)
  }

  test("build() over a journaled index recovers the mutation FIRST — no stale-replay corruption") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-journal-build"
    val fresh = "/tmp/gidx-journal-build-fresh"
    rm(dir); rm(fresh)
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    // a delete on chunk 0 died mid-rewrite: journal + tmp persist, chunk torn
    IndexBuild.normalizeInput(corpus)
      .where(pmod(col("docId"), lit(2)) === 0 && col("docId") >= 40)
      .write.mode("overwrite").parquet(s"$dir/tmp_rewrite_chunk_0")
    TableIO.writeStringAtomic(s"$dir/mutation_pending.json", """{"chunk": 0}""")
    rm(s"$dir/segments/chunk=0")
    // a routine refresh then rebuilds the SAME outDir from a NEW corpus.
    // Pre-fix, build() ignored the journal: the rebuild "succeeded", serving
    // still refused on the journal, and the operator-mandated recovery
    // replayed the PRE-CRASH tmp over the freshly rebuilt chunk 0 — a silent
    // old/new corpus mix. Post-fix build() recovers first, then resume
    // validation rebuilds every drifted chunk from the new corpus.
    val corpus2 = Webtext.synthesize(spark, 500, partitions = 3).toDF()
    IndexBuild.build(spark, corpus2, dir, numChunks = 2)
    assert(IndexBuild.pendingMutation(dir).isEmpty)
    assert(!new java.io.File(s"$dir/tmp_rewrite_chunk_0").exists())
    // content equals a from-scratch build of the new corpus, and serving loads
    IndexBuild.build(spark, corpus2, fresh, numChunks = 2)
    assert(postingsFingerprint(dir) ==
      postingsFingerprint(fresh))
    assert(graft.query.IndexHandle.load(dir).stats ==
      graft.query.IndexHandle.load(fresh).stats)
  }

  test("build() supersedes a journaled mutation whose tmp input is gone — no wedge, no signature-skip corruption") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-journal-notmp"
    val fresh = "/tmp/gidx-journal-notmp-fresh"
    rm(dir); rm(fresh)
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    // a mutation on chunk 0 died mid-rewrite AND its tmp input was later
    // deleted (disk cleanup): journal present, replay impossible, chunk torn
    TableIO.writeStringAtomic(s"$dir/mutation_pending.json", """{"chunk": 0}""")
    rm(s"$dir/segments/chunk=0")
    // serving refuses, and the replay path refuses too (it prescribes a
    // rebuild — which pre-fix was itself wedged on the same require)
    assert(intercept[RuntimeException](graft.query.IndexHandle.load(dir))
      .getMessage.contains("interrupted mutation"))
    assert(intercept[IllegalArgumentException](
      IndexBuild.recoverPendingMutation(spark, dir))
      .getMessage.contains("rebuild the index"))
    // rebuild over the UNCHANGED corpus — the harshest case: chunk 0's
    // manifest signature still matches the input, so without the forced
    // rebuild it would be resume-skipped with torn files on disk
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    assert(IndexBuild.pendingMutation(dir).isEmpty)
    // content equals a from-scratch build, and serving loads again
    IndexBuild.build(spark, corpus, fresh, numChunks = 2)
    assert(postingsFingerprint(dir) ==
      postingsFingerprint(fresh))
    assert(graft.query.IndexHandle.load(dir).stats.nonEmpty)
  }

  test("multi-chunk mutation: ONE journal covers every chunk — a crash between chunk rewrites recovers fully") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-journal-multi"
    val fresh = "/tmp/gidx-journal-multi-fresh"
    rm(dir); rm(fresh)
    val corpus = Webtext.synthesize(spark, 400, partitions = 3).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 2)
    // a deleteByQuery(docId % 10 == 0) touching BOTH chunks died after
    // materializing the tmps and journaling, before rewriting anything: the
    // mutation-scope journal must list both chunks so recovery applies the
    // WHOLE delete (the old per-chunk journal left chunk 1 silently intact)
    val keepPred = !(pmod(col("docId"), lit(10)) === 0)
    (0 to 1).foreach { k =>
      IndexBuild.normalizeInput(corpus)
        .where(pmod(col("docId"), lit(2)) === k && keepPred)
        .write.mode("overwrite").parquet(s"$dir/tmp_rewrite_chunk_$k")
    }
    TableIO.writeStringAtomic(s"$dir/mutation_pending.json",
      """{"chunks": [0, 1], "salt": 8192}""")
    rm(s"$dir/segments/chunk=0") // chunk 0 mid-overwrite at the crash
    // serving refuses the journaled index
    intercept[RuntimeException](graft.query.IndexHandle.load(dir))
    assert(IndexBuild.pendingMutation(dir).contains(0))
    assert(IndexBuild.recoverPendingMutation(spark, dir))
    assert(IndexBuild.pendingMutation(dir).isEmpty)
    (0 to 1).foreach(k => assert(!new java.io.File(s"$dir/tmp_rewrite_chunk_$k").exists()))
    // BOTH chunks converged to a fresh post-delete build (incl. stats)
    IndexBuild.build(spark, corpus.where(keepPred), fresh, numChunks = 2)
    assert(postingsFingerprint(dir) ==
      postingsFingerprint(fresh))
    assert(graft.query.IndexHandle.load(dir).stats ==
      graft.query.IndexHandle.load(fresh).stats)
  }

  test("a duplicate-docId mutation batch fails BEFORE journaling — the index keeps serving") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-journal-dup"
    rm(dir)
    val corpus = Webtext.synthesize(spark, 200, partitions = 2).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 1)
    val dupBatch = Webtext.synthesize(spark, 4).toDF()
      .withColumn("docId", lit(2L)) // every row the same explicit id
    val e = intercept[Exception](IndexBuild.reindexDocs(spark, dir, dupBatch))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("duplicate")), chain(e).mkString(" | "))
    // no journal was written: the index is untouched and still serves
    assert(IndexBuild.pendingMutation(dir).isEmpty)
    assert(graft.query.IndexHandle.load(dir).stats.nonEmpty)
  }

  test("reserved-key and negative-id mutation batches fail BEFORE journaling") {
    // pre-fix the validation checked only duplicates: a batch that crashes
    // buildChunk later (reserved meta key → the stats-agg require; negative
    // docId → VByte's non-negative require) was journaled FIRST, wedging the
    // index — serving refused, and recovery replaying the identical bad
    // input forever
    import org.apache.spark.sql.functions._
    val dir = "/tmp/gidx-journal-badinput"
    rm(dir)
    val corpus = Webtext.synthesize(spark, 200, partitions = 2).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 1)
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val reservedBatch = Webtext.synthesize(spark, 3).toDF()
      .withColumn("meta", map_concat(col("meta"), map(lit("has_date"), lit("1"))))
    val e1 = intercept[Exception](IndexBuild.reindexDocs(spark, dir, reservedBatch))
    assert(chain(e1).exists(_.contains("reserved")), chain(e1).mkString(" | "))
    assert(IndexBuild.pendingMutation(dir).isEmpty, "reserved-key batch must not journal")
    val negBatch = Webtext.synthesize(spark, 3).toDF()
      .withColumn("docId", col("docId") * -1 - 1) // strictly negative
    val e2 = intercept[Exception](IndexBuild.reindexDocs(spark, dir, negBatch))
    assert(chain(e2).exists(_.contains("negative")), chain(e2).mkString(" | "))
    assert(IndexBuild.pendingMutation(dir).isEmpty, "negative-id batch must not journal")
    // the index is untouched and still serves after both refusals
    assert(graft.query.IndexHandle.load(dir).stats.nonEmpty)
  }

  test("a salt-carrying journal recovers and converges (replay fidelity)") {
    import org.apache.spark.sql.functions._
    // The journal records the interrupted mutation's saltTargetPostings so
    // recovery replays the rewrite EXACTLY as the dying call ran it (same
    // head-term set, same exchange split). The final on-disk layout is
    // salt-INDEPENDENT (salted runs k-way merge back to one row per term —
    // gated by the determinism test above), so the observable contract here
    // is: the new journal shape parses, recovery completes, and the result
    // is byte-identical to a fresh post-delete build.
    val dir = "/tmp/gidx-journal-salt"
    val fresh = "/tmp/gidx-journal-salt-fresh"
    rm(dir); rm(fresh)
    val corpus = Webtext.synthesize(spark, 200, partitions = 2).toDF()
    IndexBuild.build(spark, corpus, dir, numChunks = 1)
    IndexBuild.normalizeInput(corpus).where(col("docId") >= 20)
      .write.mode("overwrite").parquet(s"$dir/tmp_rewrite_chunk_0")
    TableIO.writeStringAtomic(s"$dir/mutation_pending.json",
      """{"chunk": 0, "salt": 64}""")
    rm(s"$dir/segments/chunk=0")
    assert(IndexBuild.pendingMutation(dir).contains(0)) // chunk parses past the salt field
    assert(IndexBuild.recoverPendingMutation(spark, dir))
    assert(IndexBuild.pendingMutation(dir).isEmpty)
    IndexBuild.build(spark, corpus.where(col("docId") >= 20), fresh,
      numChunks = 1, saltTargetPostings = 64)
    assert(postingsFingerprint(dir) ==
      postingsFingerprint(fresh))
  }
}
