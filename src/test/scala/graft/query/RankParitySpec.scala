package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.corpus.{SparkTestSession, Webtext}
import graft.index.IndexBuild

/** The reference-engine gate (SURVEY §5.2#4): the distributed WAND engine must
  * return identical docIDs and near-identical scores to the naive full-scan
  * oracle on reference-style golden queries (mirrors
  * tests/backend/test_search.py:111-501 query shapes).
  */
class RankParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val dir = "/tmp/graft-test-idx"
  lazy val idx: IndexHandle = {
    val d = new java.io.File(dir)
    if (d.exists()) scala.reflect.io.Directory(d).deleteRecursively()
    IndexBuild.build(spark, Webtext.synthesize(spark, 3000, partitions = 8).toDF(),
      dir, numChunks = 2, saltTargetPostings = 64)
    IndexHandle.load(dir)
  }
  lazy val docstore: DataFrame = { idx; spark.read.parquet(s"$dir/docstore") }

  private def assertParity(q: QuerySpec, expectNonEmpty: Boolean = true): Unit = {
    val got = Bm25Query.search(spark, idx, q)
    val (oracle, oracleTotal) = NaiveBm25.search(spark, docstore, q)
    if (expectNonEmpty) assert(oracle.nonEmpty, s"oracle empty for $q — bad fixture")
    assert(got.hits.map(_.docId) == oracle.map(_.docId),
      s"docId order mismatch for $q:\n got=${got.hits.map(h => (h.docId, h.score))}\n exp=${oracle.map(s => (s.docId, s.score))}")
    got.hits.zip(oracle).foreach { case (h, o) =>
      assert(math.abs(h.score - o.score) <= 1e-9 * math.max(1.0, math.abs(o.score)),
        s"score mismatch doc=${h.docId}: ${h.score} vs ${o.score}")
    }
    val cappedExpected = math.min(oracleTotal, q.trackTotalHits)
    assert(got.totalHits == cappedExpected,
      s"total mismatch: ${got.totalHits} vs $oracleTotal (cap ${q.trackTotalHits})")
  }

  val hiPhrase = Webtext.GoldenPhrase("hi").mkString(" ")
  val guPhrase = Webtext.GoldenPhrase("gu").mkString(" ")

  test("G1: AND match multi-term (hi golden phrase words)") {
    assertParity(QuerySpec("hi", hiPhrase))
  }

  test("G2: AND match (gu)") {
    assertParity(QuerySpec("gu", guPhrase))
  }

  test("G3: phrase positive matches planted docs; scores parity") {
    assertParity(QuerySpec("hi", hiPhrase, phrase = true))
    // phrase hits are a strict subset of AND hits (reversed plants excluded)
    val andTotal = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase)).totalHits
    val phrTotal = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, phrase = true)).totalHits
    assert(phrTotal < andTotal, s"phrase=$phrTotal and=$andTotal")
  }

  test("G4: phrase negative — reversed word order finds only reversed plants") {
    val rev = Webtext.GoldenPhrase("hi").reverse.mkString(" ")
    assertParity(QuerySpec("hi", rev, phrase = true))
    val fwd = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, phrase = true))
    val bwd = Bm25Query.search(spark, idx, QuerySpec("hi", rev, phrase = true))
    assert(fwd.hits.map(_.docId).toSet.intersect(bwd.hits.map(_.docId).toSet).isEmpty)
  }

  test("G5: exclude words (must_not) removes docs containing them") {
    val ex = Webtext.word("hi", 30) // mid-frequency: removes some matches, not all
    assertParity(QuerySpec("hi", hiPhrase, excludeWords = Seq(ex)))
    val without = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, excludeWords = Seq(ex)))
    val base = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase))
    assert(without.totalHits < base.totalHits)
  }

  test("G6: metadata terms filter (category)") {
    assertParity(QuerySpec("hi", hiPhrase, metaFilters = Map("category" -> Seq("Granth"))))
    assertParity(QuerySpec("hi", hiPhrase,
      metaFilters = Map("category" -> Seq("Granth", "Pravachan"), "Author" -> Seq("author1", "author2"))))
  }

  test("G7: year-range filter on warc_ts") {
    assertParity(QuerySpec("hi", hiPhrase, yearRange = Some((2020, 2020))))
    // a terms filter on the DERIVED "year" facet (not user meta): the
    // engine serves it from the warc_ts-derived facet lists, and the naive
    // oracle must resolve it from warc_ts the same way
    assertParity(QuerySpec("hi", hiPhrase,
      metaFilters = Map("year" -> Seq("2020", "2021"))))
  }

  test("Q5 full date-range: (date in range) OR (no date AND series overlap)") {
    // fixtures: i%3==0 docs carry `date` (2019-01-01 + i%1000 d); i%2==0 docs
    // carry a 400-day series; odd non-date docs have neither → excluded
    assertParity(QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2019)))))
    assertParity(QuerySpec("hi", hiPhrase, dateRange = Some((None, Some(2019))))) // open start
    assertParity(QuerySpec("hi", hiPhrase, dateRange = Some((Some(2021), None)))) // open end
    // stacked with a meta terms-filter (Pravachan = docs WITHOUT a date —
    // exercises the series-overlap branch under intersection)
    assertParity(QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2020))),
      metaFilters = Map("category" -> Seq("Pravachan"))))
  }

  test("G8: pagination page 2 (from = pageSize)") {
    assertParity(QuerySpec("hi", Webtext.word("hi", 5), from = 20, pageSize = 20))
  }

  test("G9: track_total_hits cap reports gte at the cap") {
    val head = Webtext.word("hi", 0) // natural Zipf head — matches most docs
    val q = QuerySpec("hi", head, trackTotalHits = 50)
    val got = Bm25Query.search(spark, idx, q)
    val (_, exact) = NaiveBm25.search(spark, docstore, q)
    assert(exact > 50, s"fixture too small: $exact")
    assert(got.totalHits == 50 && got.totalRelation == "gte")
    assertParity(q) // top-k unaffected by the cap
  }

  test("G11: stopword-only query yields zero hits") {
    val got = Bm25Query.search(spark, idx, QuerySpec("hi", "और की"))
    assert(got.hits.isEmpty && got.totalHits == 0)
  }

  test("G12: nasal-variant query (conjunct form) matches anusvara docs") {
    // docs plant शान्ति (conjunct); query uses the same conjunct form — both
    // normalize to शांति; also query the anusvara form directly
    assertParity(QuerySpec("hi", "शान्ति"))
    val a = Bm25Query.search(spark, idx, QuerySpec("hi", "शान्ति"))
    val b = Bm25Query.search(spark, idx, QuerySpec("hi", "शांति"))
    assert(a.hits.map(_.docId) == b.hits.map(_.docId))
    assert(a.totalHits > 0)
  }

  test("phrase with a REPEATED word requires two adjacent occurrences") {
    val w0 = Webtext.word("hi", 0)
    val q = QuerySpec("hi", s"$w0 $w0", phrase = true, pageSize = 50)
    assertParity(q)
    // sanity: strictly fewer hits than the single-word query (uncapped)
    val single = Bm25Query.search(spark, idx,
      QuerySpec("hi", w0, trackTotalHits = 1000000L)).totalHits
    val doubled = Bm25Query.search(spark, idx,
      q.copy(trackTotalHits = 1000000L)).totalHits
    assert(doubled < single && doubled > 0, s"double=$doubled single=$single")
  }

  test("distributed executor-side kernel path gives identical results") {
    val q = QuerySpec("hi", hiPhrase, phrase = true)
    val driverRes = Bm25Query.search(spark, idx, q)
    val saved = Bm25Query.MaxDriverPostings
    try {
      Bm25Query.MaxDriverPostings = 0 // force the cogroup/executor path
      val distRes = Bm25Query.search(spark, idx, q)
      assert(distRes.hits.map(h => (h.docId, h.score)) ==
        driverRes.hits.map(h => (h.docId, h.score)))
      assert(distRes.totalHits == driverRes.totalHits)
      assertParity(q) // and against the oracle, still on the distributed path
    } finally Bm25Query.MaxDriverPostings = saved
  }

  test("resident InMemoryIndex serving layer == Spark query path on all shapes") {
    val mem = InMemoryIndex.load(spark, idx)
    val queries = Seq(
      QuerySpec("hi", hiPhrase),
      QuerySpec("hi", hiPhrase, phrase = true),
      QuerySpec("hi", hiPhrase, mode = "any"),
      QuerySpec("gu", guPhrase),
      QuerySpec("hi", hiPhrase, excludeWords = Seq(Webtext.word("hi", 30))),
      QuerySpec("hi", hiPhrase, metaFilters = Map("category" -> Seq("Granth"))),
      QuerySpec("hi", hiPhrase, yearRange = Some((2020, 2020))),
      QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2019)))),
      QuerySpec("hi", hiPhrase, dateRange = Some((None, Some(2019)))),
      QuerySpec("hi", Webtext.word("hi", 0), trackTotalHits = 50),
      QuerySpec("hi", "और की")) // stopword-only
    queries.foreach { q =>
      val a = mem.search(q)
      val b = Bm25Query.search(spark, idx, q)
      assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)), s"$q")
      assert(a.totalHits == b.totalHits && a.totalRelation == b.totalRelation, s"$q")
      assert(a.hits.map(_.highlighted) == b.hits.map(_.highlighted), s"$q")
    }
    // suggestions too
    val real = Webtext.word("hi", 10)
    val missp = real.dropRight(1) + (if (real.last == 'क') 'ख' else 'क')
    assert(mem.suggest("hi", missp) == Bm25Query.suggest(spark, idx, "hi", missp))
    // a REPEATED misspelled term contributes once (the batched plan dedupes
    // up front; doubled explode rows would otherwise eat half the per-term
    // rank budget)
    assert(Bm25Query.suggest(spark, idx, "hi", s"$missp $missp") ==
      Bm25Query.suggest(spark, idx, "hi", missp))
    // job budget: on a local index dir suggest reads the termdict on the
    // driver — NO Spark job, for one misspelled word or three. The Spark
    // plan (non-local dirs) stays ONE batched action: its job count must
    // not scale with the number of words (AQE may split one action into a
    // few jobs, so the gate is 3-word == 1-word, not == 1)
    locally {
      def missp2(r: Int): String = {
        val w = Webtext.word("hi", r)
        w.dropRight(1) + (if (w.last == 'क') 'ख' else 'क')
      }
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      def jobsFor(body: => Unit): Int = {
        spark.sparkContext.addSparkListener(listener)
        try {
          jobs.set(0)
          body
          // listener events are posted asynchronously — poll to quiescence
          var last = -1
          while (jobs.get() != last) { last = jobs.get(); Thread.sleep(250) }
          last
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      val one = missp2(10)
      val three = Seq(10, 20, 40).map(missp2).mkString(" ")
      Seq(one, three).foreach { q =>
        val local = jobsFor(assert(Bm25Query.suggest(spark, idx, "hi", q).nonEmpty))
        assert(local == 0, s"local suggest ran $local Spark jobs for '$q'")
      }
      def planJobs(q: String): Int = jobsFor(assert(Bm25Query.suggestPlan(spark, idx,
        "hi", QueryCore.suggestWords(q, "hi"), size = 5, minScore = 0.6).collect().nonEmpty))
      val planOne = planJobs(one)
      val planThree = planJobs(three)
      assert(planThree == planOne,
        s"suggest plan job count scales with words: 1-word=$planOne vs 3-word=$planThree")
    }
  }

  test("suggest three-way parity: seeded hi/gu/en typos — local termdict read == resident == Spark plan") {
    val mem = InMemoryIndex.load(spark, idx, withDocs = false)
    val vocab: Map[String, Array[String]] =
      graft.index.LocalParquet.readTermDictFull(idx.termdictPath.get)
        .groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2).sorted.toArray }
    val rnd = new scala.util.Random(1207)
    def cps(s: String): Array[Int] = s.codePoints.toArray
    def str(a: Array[Int]): String = new String(a, 0, a.length)
    // one typo of `w`, never at the first code point (the suggester's
    // prefix_length 1 would make the source word unreachable)
    def typo(w: Array[Int], alphabet: Array[Int], kind: Int): String = {
      val i = 1 + rnd.nextInt(w.length - 1)
      kind match {
        case 0 => str(w.patch(i, Nil, 1))                                 // deletion
        case 1 if i < w.length - 1 =>                                     // transposition
          str(w.updated(i, w(i + 1)).updated(i + 1, w(i)))
        case 2 => str(w.updated(i, alphabet(rnd.nextInt(alphabet.length)))) // substitution
        case _ => str(w.patch(i, Seq(alphabet(rnd.nextInt(alphabet.length))), 0)) // insertion
      }
    }
    val queries: Seq[(String, String)] = Seq("hi", "gu", "en").flatMap { lang =>
      val words = vocab(lang).filter(QueryCore.cpLen(_) >= 3)
      val alphabet = words.flatMap(cps).distinct
      // length-3 boundary: words of 3 and 4 code points, so a deletion
      // lands on both sides of min_word_length
      val short = words.filter(w => QueryCore.cpLen(w) <= 4)
      val picks = Seq.fill(60)(words(rnd.nextInt(words.length))) ++
        Seq.fill(12)(short(rnd.nextInt(short.length)))
      picks.zipWithIndex.map { case (w, k) => lang -> typo(cps(w), alphabet, k % 4) } ++
        // a repeated word, and two typos in one query
        Seq(lang -> Seq.fill(2)(typo(cps(picks(0)), alphabet, 2)).mkString(" "),
          lang -> s"${typo(cps(picks(1)), alphabet, 0)} ${typo(cps(picks(2)), alphabet, 1)}")
    }
    assert(queries.size >= 200)
    // the Spark side: ONE plan per language over every query word (ranking
    // is per word), assembled per query exactly like suggestSpark
    val viaPlan: Map[(String, String), Seq[String]] =
      queries.groupBy(_._1).flatMap { case (lang, qs) =>
        import spark.implicits._
        val words = qs.flatMap(q => QueryCore.suggestWords(q._2, lang)).distinct
        val byWord = Bm25Query.suggestPlan(spark, idx, lang, words, 5, 0.6)
          .as[(String, Int, String)].collect().groupBy(_._1)
        qs.map(q => q -> QueryCore.suggestWords(q._2, lang)
          .flatMap(w => byWord.getOrElse(w, Array.empty).sortBy(_._2).map(_._3)).distinct)
      }
    var nonEmpty = 0
    queries.foreach { case q @ (lang, text) =>
      val local = Bm25Query.suggest(spark, idx, lang, text)
      assert(local == mem.suggest(lang, text), s"local vs resident on $q")
      assert(local == viaPlan(q), s"local vs Spark plan on $q")
      if (local.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= queries.size / 2, s"only $nonEmpty of ${queries.size} typos got suggestions")
    // the production Spark branch assembles the same answer
    queries.filter(_._2.contains(" ")).foreach { case q @ (lang, text) =>
      val words = QueryCore.suggestWords(text, lang)
      if (words.nonEmpty)
        assert(Bm25Query.suggestSpark(spark, idx, lang, words, 5, 0.6) == viaPlan(q), s"$q")
    }

    // supplementary-plane terms (Gothic letters: caseless, so the analyzer
    // keeps them): lengths and distances count CODE POINTS on every path
    import spark.implicits._
    val d = "/tmp/graft-test-sugg-astral-idx"
    val f = new java.io.File(d)
    if (f.exists()) scala.reflect.io.Directory(f).deleteRecursively()
    val now = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val g1 = new String(Character.toChars(0x10330))
    val g2 = new String(Character.toChars(0x10331))
    val texts = Seq(s"${g1}bxy ${g1}bcde ${g1}${g2}c ${g1}b filler", s"${g1}bcdf ${g1}${g2}x words")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      graft.corpus.WebDoc(i.toLong, s"https://t/$i", now, Array.emptyByteArray, t, "en",
        Map.empty[String, String]) }
    IndexBuild.build(spark, docs.toDF(), d, numChunks = 1)
    val aIdx = IndexHandle.load(d)
    val aMem = InMemoryIndex.load(spark, aIdx, withDocs = false)
    Seq(s"${g1}bcd", s"${g1}${g2}d", s"${g1}bc", s"${g1}b", s"${g1}bcd ${g1}${g2}d").foreach { q =>
      val local = Bm25Query.suggest(spark, aIdx, "en", q)
      val words = QueryCore.suggestWords(q, "en")
      assert(local == aMem.suggest("en", q), s"local vs resident on $q")
      assert(local == (if (words.isEmpty) Nil
        else Bm25Query.suggestSpark(spark, aIdx, "en", words, 5, 0.6)), s"local vs Spark plan on $q")
    }
    // "𐌰bxy" is 2 edits from "𐌰bcd" over 4 code points: score 0.5 < 0.6
    // (counting UTF-16 units, 5, would have admitted it at 0.6); "𐌰b" is 2
    // code points, under min_word_length
    assert(Bm25Query.suggest(spark, aIdx, "en", s"${g1}bcd") == Seq(s"${g1}bcde", s"${g1}bcdf"))
    assert(Bm25Query.suggest(spark, aIdx, "en", s"${g1}b").isEmpty)
  }

  test("shardable serving: bucket-subset load == full load for in-shard queries") {
    val full = InMemoryIndex.load(spark, idx)
    val queries = Seq(
      QuerySpec("hi", hiPhrase),
      QuerySpec("hi", hiPhrase, phrase = true),
      QuerySpec("hi", hiPhrase, mode = "any",
        excludeWords = Seq(Webtext.word("hi", 30)),
        metaFilters = Map("category" -> Seq("Pravachan"))),
      QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2020)))))
    queries.foreach { q =>
      val terms = (Bm25Query.queryTerms(q).map(_._1) ++
        q.excludeWords.flatMap(w => graft.analysis.Analyzer.terms(w, q.lang))).distinct
      val shardSet = terms.map(InMemoryIndex.bucketOf).toSet
      assert(shardSet.size < graft.index.IndexBuild.DefaultBuckets,
        "fixture query must not span every bucket")
      val shard = InMemoryIndex.load(spark, idx, buckets = Some(shardSet),
        facetBuckets = Some(InMemoryIndex.facetBucketsFor(q)))
      val a = shard.search(q)
      val b = full.search(q)
      assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)), s"$q")
      // payloads identical too: the subset node fetched them on demand
      assert(a.hits.map(h => (h.url, h.highlighted)) == b.hits.map(h => (h.url, h.highlighted)), s"$q")
      assert(a.totalHits == b.totalHits && a.totalRelation == b.totalRelation, s"$q")
    }
  }

  test("doc-sharded fleet: scatter-gather over chunk-subset nodes == single full node") {
    val full = InMemoryIndex.load(spark, idx)
    // two doc shards, one per chunk (chunks partition docs by docId mod 2)
    val nodes = ShardedServe.chunkAssignment(numChunks = 2, nNodes = 2).map { cs =>
      InMemoryIndex.load(spark, idx, chunks = Some(cs))
    }
    val queries = Seq(
      QuerySpec("hi", hiPhrase),
      QuerySpec("hi", hiPhrase, phrase = true),
      QuerySpec("hi", hiPhrase, mode = "any"),
      QuerySpec("gu", guPhrase),
      QuerySpec("hi", hiPhrase, excludeWords = Seq(Webtext.word("hi", 30))),
      QuerySpec("hi", hiPhrase, metaFilters = Map("category" -> Seq("Granth"))),
      QuerySpec("hi", hiPhrase, yearRange = Some((2020, 2020))),
      QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2019)))),
      QuerySpec("hi", Webtext.word("hi", 0), trackTotalHits = 50),
      QuerySpec("hi", hiPhrase, from = 20), // page 2 interleaves across shards
      QuerySpec("hi", "और की")) // stopword-only
    queries.foreach { q =>
      val a = ShardedServe.search(nodes, q)
      val b = full.search(q)
      // identical docIds AND scores: per-node idf comes from the global
      // termdict df, not the shard's local df
      assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)), s"$q")
      assert(a.hits.map(h => (h.url, h.highlighted)) == b.hits.map(h => (h.url, h.highlighted)), s"$q")
      assert(a.totalHits == b.totalHits && a.totalRelation == b.totalRelation, s"$q")
    }
    // fleet suggestions == full-node suggestions (global termdict dictionary)
    val real = Webtext.word("hi", 10)
    val missp = real.dropRight(1) + (if (real.last == 'क') 'ख' else 'क')
    assert(ShardedServe.search(nodes, QuerySpec("hi", missp)).suggestions ==
      full.search(QuerySpec("hi", missp)).suggestions)
    // doc shards never hold resident payloads, and each holds ~half the
    // posting bytes of a full node
    nodes.foreach(n => assert(n.loadedBytes < full.loadedBytes))
  }

  test("legacy index without termdict: chunk-subset nodes still score with GLOBAL df") {
    // Pre-termdict indexes are supported; a chunk-subset load must then fall
    // back to aggregating corpus-wide df from the segments table — never to
    // shard-LOCAL df, which would silently break fleet/full score parity.
    val legacyDir = "/tmp/graft-test-idx-legacy"
    val src = new java.io.File(idx.dir)
    val dst = new java.io.File(legacyDir)
    if (dst.exists()) scala.reflect.io.Directory(dst).deleteRecursively()
    def cp(f: java.io.File, t: java.io.File): Unit =
      if (f.isDirectory) { t.mkdirs(); f.listFiles().foreach(c => cp(c, new java.io.File(t, c.getName))) }
      else java.nio.file.Files.copy(f.toPath, t.toPath)
    cp(src, dst)
    scala.reflect.io.Directory(new java.io.File(s"$legacyDir/termdict")).deleteRecursively()
    val legacy = IndexHandle.load(legacyDir)
    val full = InMemoryIndex.load(spark, legacy)
    val nodes = ShardedServe.chunkAssignment(numChunks = 2, nNodes = 2).map { cs =>
      InMemoryIndex.load(spark, legacy, chunks = Some(cs))
    }
    Seq(QuerySpec("hi", hiPhrase), QuerySpec("hi", hiPhrase, mode = "any"))
      .foreach { q =>
        val a = ShardedServe.search(nodes, q)
        val b = full.search(q)
        assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)), s"$q")
        assert(a.totalHits == b.totalHits, s"$q")
      }
  }

  test("shard memory scales with shard count: loadedBytes subset ≪ full, monotone in buckets") {
    val full = InMemoryIndex.load(spark, idx)
    val q = QuerySpec("hi", hiPhrase, metaFilters = Map("category" -> Seq("Pravachan")))
    val termBuckets = Bm25Query.queryTerms(q).map(t => InMemoryIndex.bucketOf(t._1)).toSet
    val one = InMemoryIndex.load(spark, idx, buckets = Some(termBuckets),
      facetBuckets = Some(InMemoryIndex.facetBucketsFor(q)))
    // a subset node holds a small fraction of a full node's bytes (no resident
    // docstore, only its term + facet-key shards)
    assert(one.loadedBytes * 4 < full.loadedBytes,
      s"subset ${one.loadedBytes} vs full ${full.loadedBytes}")
    // more buckets → monotonically more resident bytes
    val more = InMemoryIndex.load(spark, idx,
      buckets = Some(termBuckets ++ (0 until 16)),
      facetBuckets = Some(InMemoryIndex.facetBucketsFor(q)))
    assert(more.loadedBytes > one.loadedBytes)
    assert(more.loadedBytes < full.loadedBytes)
    // and the subset node still serves the identical filtered result
    assert(one.search(q).hits.map(h => (h.docId, h.score)) ==
      full.search(q).hits.map(h => (h.docId, h.score)))
  }

  test("WAND any-mode (disjunctive top-k) parity with oracle") {
    assertParity(QuerySpec("hi", hiPhrase, mode = "any"))
    assertParity(QuerySpec("hi", s"${Webtext.word("hi", 3)} ${Webtext.word("hi", 4000)}", mode = "any"))
  }

  test("any-mode with filters and excludes parity") {
    assertParity(QuerySpec("hi", hiPhrase, mode = "any",
      excludeWords = Seq(Webtext.word("hi", 1)),
      metaFilters = Map("category" -> Seq("Pravachan")),
      yearRange = Some((2020, 2021))))
  }

  test("G10: misspelled term → zero hits → suggestions from term dictionary") {
    val real = Webtext.word("hi", 10)
    val misspelled = real.dropRight(1) + (if (real.last == 'क') 'ख' else 'क')
    val got = Bm25Query.search(spark, idx, QuerySpec("hi", misspelled))
    if (got.totalHits == 0) {
      assert(got.suggestions.contains(real), s"expected $real in ${got.suggestions}")
    }
    // the PRODUCTION suggester agrees across its two deployments: the
    // distributed Spark path and the resident node's dictionary scan (both
    // run OSA over the same termdict candidates)
    val mem = InMemoryIndex.load(spark, idx, withDocs = false)
    Seq(misspelled, real, real.drop(1) + "x").foreach { q =>
      assert(Bm25Query.suggest(spark, idx, "hi", q) == mem.suggest("hi", q),
        s"suggest paths diverge on '$q'")
    }
  }

  test("suggester max_edits=2 cap: distance-3 candidate above the score floor rejected") {
    import spark.implicits._
    // dist("abcdefgh","abcdefgha") = 1 → score 8/9 ≈ 0.889: suggested.
    // dist("abcdefgh","abcdefghxyz") = 3 → score 1-3/11 ≈ 0.727 ≥ 0.6, i.e.
    // the score floor ALONE admits it for long terms — the reference's
    // suggester (OpenSearch term suggester, default max_edits 2) never
    // returns it, so both deployments must reject it.
    val d = "/tmp/graft-test-sugg-idx"
    val f = new java.io.File(d)
    if (f.exists()) scala.reflect.io.Directory(f).deleteRecursively()
    val now = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val docs = Seq(
      graft.corpus.WebDoc(0L, "https://t/0", now, Array.emptyByteArray,
        "abcdefgha abcdefghxyz filler words", "en", Map.empty[String, String]),
      graft.corpus.WebDoc(1L, "https://t/1", now, Array.emptyByteArray,
        "abcdefgha other filler", "en", Map.empty[String, String]))
    IndexBuild.build(spark, docs.toDF(), d, numChunks = 1)
    val tIdx = IndexHandle.load(d)
    val viaSpark = Bm25Query.suggest(spark, tIdx, "en", "abcdefgh")
    val viaMem = InMemoryIndex.load(spark, tIdx, withDocs = false)
      .suggest("en", "abcdefgh")
    assert(viaSpark == viaMem, s"suggest paths diverge: $viaSpark vs $viaMem")
    assert(viaSpark.contains("abcdefgha"), s"distance-1 candidate missing: $viaSpark")
    assert(!viaSpark.contains("abcdefghxyz"), s"max_edits=2 violated: $viaSpark")
  }

  test("BMW pivot ties: multi-term any-mode with pruning engaged (cap exceeded)") {
    // head terms co-occur on many docs → iterators tie on docIds constantly;
    // a tight cap engages block-max pruning early. Without pivot widening over
    // docId ties the shallow bound omits tied lists and wrongly drops docs.
    val heads = s"${Webtext.word("hi", 0)} ${Webtext.word("hi", 1)} ${Webtext.word("hi", 2)}"
    val q = QuerySpec("hi", heads, mode = "any", trackTotalHits = 10)
    val got = Bm25Query.search(spark, idx, q)
    val (oracle, _) = NaiveBm25.search(spark, docstore, q)
    assert(got.hits.map(_.docId) == oracle.map(_.docId),
      s"got=${got.hits.map(_.docId).toSeq} exp=${oracle.map(_.docId)}")
    // wider term mix (head + designated head + tail), still capped
    val mix = (Seq(0, 1).map(Webtext.word("hi", _)) :+ "hihead0" :+ Webtext.word("hi", 4000)).mkString(" ")
    val q2 = QuerySpec("hi", mix, mode = "any", trackTotalHits = 5)
    val got2 = Bm25Query.search(spark, idx, q2)
    val (oracle2, _) = NaiveBm25.search(spark, docstore, q2)
    assert(got2.hits.map(_.docId) == oracle2.map(_.docId))
  }

  test("phrase + any-mode is forced conjunctive (reference match_phrase)") {
    val a = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, phrase = true, mode = "any"))
    val b = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, phrase = true))
    assert(a.hits.map(h => (h.docId, h.score)) == b.hits.map(h => (h.docId, h.score)))
    assert(a.totalHits == b.totalHits)
  }

  test("merge reports gte when the cross-segment sum exceeds the cap (no single segment capped)") {
    val s1 = SegmentResult(Array.empty, 600L, capped = false)
    val s2 = SegmentResult(Array.empty, 600L, capped = false)
    val (_, total, rel) = QueryCore.merge(QuerySpec("hi", "x", trackTotalHits = 1000L), Array(s1, s2))
    assert(total == 1000L && rel == "gte")
    val (_, t2, r2) = QueryCore.merge(QuerySpec("hi", "x", trackTotalHits = 2000L), Array(s1, s2))
    assert(t2 == 1200L && r2 == "eq")
  }

  test("scoreDf: index-backed distributed full scoring == naive oracle") {
    def check(q: QuerySpec): Unit = {
      val got = Bm25Query.scoreDf(spark, idx, q).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exp = NaiveBm25.scoreAll(spark, docstore, q).select("docId", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == exp.keySet, s"$q: got ${got.size} exp ${exp.size}")
      got.foreach { case (id, s) =>
        assert(math.abs(s - exp(id)) <= 1e-9 * math.max(1.0, math.abs(exp(id))), s"$q doc $id")
      }
      assert(got.nonEmpty, s"empty fixture for $q")
    }
    check(QuerySpec("hi", hiPhrase))
    check(QuerySpec("hi", hiPhrase, mode = "any"))
    check(QuerySpec("hi", hiPhrase, excludeWords = Seq(Webtext.word("hi", 30))))
    check(QuerySpec("hi", hiPhrase,
      metaFilters = Map("category" -> Seq("Granth")), yearRange = Some((2020, 2020))))
    check(QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2019)))))
  }

  test("matchedDocsDf: distributed full phrase-match set == naive oracle") {
    val q = QuerySpec("hi", hiPhrase, phrase = true)
    val got = Bm25Query.matchedDocsDf(spark, idx, q).collect().map(_.getLong(0)).toSet
    val exp = NaiveBm25.scoreAll(spark, docstore, q).select("docId").collect().map(_.getLong(0)).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("randomized parity sweep: 25 seeded query shapes — oracle == Spark == resident == fleet") {
    // deterministic-seeded sweep over term mixes (head/mid/tail ranks),
    // modes, caps, pagination, excludes, meta/year/date filters, phrase —
    // the corner-case net that caught the BMW tie bug class. Every shape is
    // checked FOUR ways: naive full-scan oracle, the distributed Spark path
    // (assertParity), the resident single node, and the doc-sharded
    // scatter-gather fleet — so a divergence in any serving topology on any
    // shape class fails here, not in production.
    val resident = InMemoryIndex.load(spark, idx)
    val fleet = new ShardedServe.Fleet(
      ShardedServe.chunkAssignment(numChunks = 2, nNodes = 2).map(cs =>
        InMemoryIndex.load(spark, idx, chunks = Some(cs))))
    val rnd = new scala.util.Random(20260816L)
    (1 to 25).foreach { i =>
      val nTerms = 1 + rnd.nextInt(4)
      val terms = Seq.fill(nTerms)(Webtext.word("hi", rnd.nextInt(5000)))
      val mode = if (rnd.nextBoolean()) "all" else "any"
      val phrase = mode == "all" && rnd.nextInt(5) == 0
      val cap = Seq(10L, 50L, 1000L)(rnd.nextInt(3))
      val from = if (rnd.nextInt(3) == 0) 10 else 0
      val ex = if (rnd.nextInt(4) == 0) Seq(Webtext.word("hi", rnd.nextInt(100))) else Nil
      val mf: Map[String, Seq[String]] =
        if (rnd.nextInt(4) == 0) Map("category" -> Seq("Pravachan")) else Map.empty
      val yr = if (rnd.nextInt(5) == 0) Some((2020, 2020)) else None
      val dr = if (rnd.nextInt(4) == 0)
        Some((Some(2019 + rnd.nextInt(2)): Option[Int], Some(2020 + rnd.nextInt(2)): Option[Int]))
      else None
      val q = QuerySpec("hi", terms.mkString(" "), mode = mode, phrase = phrase,
        excludeWords = ex, metaFilters = mf, yearRange = yr, dateRange = dr,
        trackTotalHits = cap, from = from, pageSize = 20)
      assertParity(q, expectNonEmpty = false)
      val sparkRes = Bm25Query.search(spark, idx, q)
      Seq("resident" -> resident.search(q), "fleet" -> fleet.search(q)).foreach {
        case (label, served) =>
          assert(served.hits.map(h => (h.docId, h.score)) ==
            sparkRes.hits.map(h => (h.docId, h.score)), s"$label diverged on $q")
          assert(served.totalHits == sparkRes.totalHits &&
            served.totalRelation == sparkRes.totalRelation, s"$label totals on $q")
      }
    }
  }

  test("highlights wrap every query term occurrence in <em>") {
    val got = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, phrase = true))
    assert(got.hits.nonEmpty)
    got.hits.foreach { h =>
      Webtext.GoldenPhrase("hi").foreach { w =>
        assert(h.highlighted.contains(s"<em>$w</em>"), s"missing <em>$w</em>")
      }
    }
  }

  test("pageSize 0 = count-only (OpenSearch size:0): empty page, exact totals, both modes") {
    val full = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase))
    Seq("all", "any").foreach { m =>
      val zero = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, mode = m, pageSize = 0))
      assert(zero.hits.isEmpty, s"mode=$m")
      // counts must stay exact — k=0 must not arm WAND pruning (threshold
      // stays -inf so every match is still counted)
      val expect = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, mode = m)).totalHits
      assert(zero.totalHits == expect, s"mode=$m: ${zero.totalHits} vs $expect")
    }
    assert(full.hits.nonEmpty)
  }

  test("count-only saturation early-terminates but stays exact at the cap (gte)") {
    // head term matches far more than the cap: with k=0 the kernel may stop
    // at the cap — the REPORTED (total, relation) must equal the uncapped
    // query's capped view exactly
    val head = Webtext.word("hi", 0)
    val uncapped = Bm25Query.search(spark, idx, QuerySpec("hi", head, mode = "any",
      trackTotalHits = Long.MaxValue))
    assert(uncapped.totalHits > 50, "fixture: head term must exceed the test cap")
    Seq("all", "any").foreach { m =>
      val r = Bm25Query.search(spark, idx, QuerySpec("hi", head, mode = m,
        pageSize = 0, trackTotalHits = 50))
      assert(r.totalHits == 50 && r.totalRelation == "gte", s"mode=$m: $r")
    }
  }

  test("suggestions fire on ZERO MATCHES, not on an empty deep page / count page") {
    // matching query, page far past the end: no suggestions
    val deep = Bm25Query.search(spark, idx,
      QuerySpec("hi", hiPhrase, from = 100000, pageSize = 20))
    assert(deep.totalHits > 0 && deep.hits.isEmpty)
    assert(deep.suggestions.isEmpty, "deep page of a MATCHING query must not suggest")
    // count-only of a matching query: no suggestions either
    val count = Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, pageSize = 0))
    assert(count.suggestions.isEmpty)
    // resident path agrees on both
    val mem = InMemoryIndex.load(spark, idx)
    assert(mem.search(QuerySpec("hi", hiPhrase, from = 100000, pageSize = 20))
      .suggestions.isEmpty)
    // and a zero-match typo still suggests (both paths)
    val typo = hiPhrase.split(" ").head.dropRight(1) + "ख़"
    assert(Bm25Query.search(spark, idx, QuerySpec("hi", typo)).totalHits == 0)
  }

  test("provably-empty filter selection: kernel short-circuit stays bit-identical") {
    // a filter value that exists nowhere makes every segment's allowed set
    // provably empty — the kernel now skips the posting walk entirely; the
    // result must be indistinguishable from the full run (and the naive
    // oracle): empty page, 0 total, exact relation, suggester untouched
    val q = QuerySpec("hi", hiPhrase, metaFilters = Map("category" -> Seq("NoSuchCategory")))
    assertParity(q, expectNonEmpty = false)
    val r = Bm25Query.search(spark, idx, q)
    assert(r.totalHits == 0L && r.hits.isEmpty && r.totalRelation == "eq")
    val mem = InMemoryIndex.load(spark, idx)
    val rm = mem.search(q)
    assert(rm.totalHits == 0L && rm.hits.isEmpty && rm.totalRelation == "eq")
  }

  test("NULL-meta docstore rows: payload meta normalizes to empty, context never NPEs") {
    import org.apache.spark.sql.functions._
    val d3 = "/tmp/graft-test-idx-nullmeta"
    val dd = new java.io.File(d3)
    if (dd.exists()) scala.reflect.io.Directory(dd).deleteRecursively()
    val corpus = Webtext.synthesize(spark, 200).toDF()
      .withColumn("meta", when(col("docId") === 5L,
        lit(null).cast("map<string,string>")).otherwise(col("meta")))
    IndexBuild.build(spark, corpus, d3, numChunks = 1)
    val mem = InMemoryIndex.load(spark, IndexHandle.load(d3))
    // pre-fix: DocPayload.meta was null for this row and neighborIds'
    // meta.get NPE'd the /api/context render (and the fleet neighbor wire)
    val p = mem.docPayloads(Seq(5L))
    assert(p.contains(5L) && p(5L).meta == Map.empty[String, String])
    mem.context(5L) // must not throw, whatever neighbors it resolves
  }

  test("NULL-text docstore rows: build indexes them, resident load serves them as empty") {
    import org.apache.spark.sql.functions._
    val d2 = "/tmp/graft-test-idx-nulltext"
    val dd = new java.io.File(d2)
    if (dd.exists()) scala.reflect.io.Directory(dd).deleteRecursively()
    val corpus = Webtext.synthesize(spark, 200).toDF()
      .withColumn("text", when(col("docId") === 7L, lit(null: String)).otherwise(col("text")))
    IndexBuild.build(spark, corpus, d2, numChunks = 1)
    val h = IndexHandle.load(d2)
    val mem = InMemoryIndex.load(spark, h) // pre-fix: NPE sizing null text
    // the null-text doc is point-readable with empty text, never null
    val p = mem.docPayloads(Seq(7L))
    assert(p.contains(7L) && p(7L).text == "" && p(7L).url.nonEmpty)
    // and queries over the rest of the corpus still work (head word — the
    // 200-doc corpus is too small to guarantee a golden-phrase plant)
    assert(mem.search(QuerySpec("hi", Webtext.word("hi", 0), mode = "any")).totalHits > 0)
  }

  test("paging overflow (from + pageSize past Int range) fails loudly, never an empty page") {
    // pre-fix: k wrapped negative, the kernel flipped to count-only mode and
    // returned a successful-looking empty page with totalHits > 0 — only the
    // HTTP layer's MaxResultWindow guarded it; the shared QueryCore.context
    // choke point must protect EVERY caller (library, tools, wire decode)
    val bad = QuerySpec("hi", hiPhrase, from = Int.MaxValue, pageSize = 2)
    intercept[IllegalArgumentException] { Bm25Query.search(spark, idx, bad) }
    val mem = InMemoryIndex.load(spark, idx)
    intercept[IllegalArgumentException] { mem.search(bad) }
    intercept[IllegalArgumentException] {
      Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, from = -1))
    }
    // the guard fires BEFORE the empty-analysis early return: the same
    // invalid from must throw identically when the query text analyzes to
    // nothing (pre-fix a stopword-only/garbage query returned a successful
    // empty result for from=-5)
    intercept[IllegalArgumentException] {
      Bm25Query.search(spark, idx, QuerySpec("hi", "???", from = -5))
    }
    // trackTotalHits <= 0 would make every segment report capped at once:
    // total collapses to 0/"gte" and the suggester fires on a MATCHING
    // query — rejected at the same choke point
    intercept[IllegalArgumentException] {
      Bm25Query.search(spark, idx, QuerySpec("hi", hiPhrase, trackTotalHits = 0))
    }
    // the year/yearRange ambiguity refuse must ALSO fire before the
    // empty-analysis early return — same rule as the paging requires: a
    // stopword-only query with ambiguous filters throws identically to a
    // matching one instead of silently succeeding empty
    intercept[IllegalArgumentException] {
      Bm25Query.search(spark, idx, QuerySpec("hi", "???",
        metaFilters = Map("year" -> Seq("2020")), yearRange = Some((2019, 2021))))
    }
  }

  test("driver-vs-executor path choice counts FACET volume, not just postings") {
    // a fresh handle so the probe is observable through its cache
    val fresh = IndexHandle.load(dir)
    val q = QuerySpec("hi", hiPhrase, dateRange = Some((Some(2019), Some(2020))))
    val r0 = Bm25Query.search(spark, fresh, q)
    assert(!fresh.facetVolCache.isEmpty, "filtered search must probe facet volume")
    val vol = fresh.facetVolCache.values.iterator.next().longValue
    assert(vol > 0L, "date filter over the fixture must select facet rows")
    // unfiltered search adds no facet-volume entries
    Bm25Query.search(spark, fresh, QuerySpec("hi", hiPhrase))
    assert(fresh.facetVolCache.size == 1)
    // postings alone would fit under the cap but postings+facets must not:
    // the query flips to the cogroup path and stays parity-identical
    val saved = Bm25Query.MaxDriverPostings
    try {
      Bm25Query.MaxDriverPostings = vol
      val r1 = Bm25Query.search(spark, fresh, q)
      assert(r1.hits.map(h => (h.docId, h.score)) ==
        r0.hits.map(h => (h.docId, h.score)))
      assert(r1.totalHits == r0.totalHits)
    } finally Bm25Query.MaxDriverPostings = saved
  }

  test("SortedIdSet galloping == linear reference on monotone target streams") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { trial =>
      val ids = Array.iterate(rnd.nextInt(5).toLong, 200 + rnd.nextInt(300))(
        v => v + 1 + rnd.nextInt(7)).sorted
      val idSet = ids.toSet
      val targets = Array.iterate(0L, 400)(v => v + rnd.nextInt(6)).sorted
      val s = new SortedIdSet(ids)
      targets.foreach { t =>
        assert(s.contains(t) == idSet.contains(t), s"trial=$trial target=$t")
      }
    }
  }
}
