package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.Webtext
import graft.functions.GraftFunctions
import graft.index.IndexBuild
import graft.ops.{Dedup, HybridRank, MultiModal, Similarity, TextAnalysis}
import graft.query.{Bm25Query, IndexHandle, QuerySpec}

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2), each with equivalent DuckDB SQL in [[oracleSql]] where the
  * op is SQL-expressible (sketch-hash ops — minhash, simhash, LSH, uuid5 —
  * get rows-only checks and are gated by ScalaTest specs instead).
  *
  * The engine queries run against a REAL index built from the webtext table
  * derived deterministically from `documents.parquet`
  * ([[Webtext.fromDocuments]]) — the same derivation the oracle SQL performs
  * in its `webtext` CTE, so DuckDB reproduces the input exactly.
  */
object SparkEntry {

  // ------------------------------------------------------------------
  // helpers
  // ------------------------------------------------------------------
  private def documents(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def events(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/events.parquet")
  private def embeddings(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def lineitem(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** BM25 index over the derived webtext, built once per sfDir; the manifest
    * makes re-invocations resume-as-no-op.
    */
  private val idxCache = new java.util.concurrent.ConcurrentHashMap[String, IndexHandle]()
  private def index(s: SparkSession, dir: String): IndexHandle =
    idxCache.computeIfAbsent(dir, { d =>
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_entry_idx_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      IndexBuild.build(s, Webtext.fromDocuments(s, d), out, numChunks = 2)
      IndexHandle.load(out)
    })

  /** 3-phase transliteration best-match flow (transliterate.py:207-323) over
    * the built index's term dictionary, with BATCHED df lookups (one filtered
    * index read per phase — never a dictionary collect).
    */
  private def transliterateFlow(s: SparkSession, dir: String, word: String): DataFrame = {
    import s.implicits._
    val idx = index(s, dir)
    // batched df lookups against the MATERIALIZED termdict (one pruned scan
    // per phase — never a per-query dictionary aggregation)
    def dfMap(terms: Seq[String]): Map[String, Long] =
      if (terms.isEmpty) Map.empty
      else Bm25Query.termDictDf(s, idx, "en")
        .where(col("term").isin(terms: _*))
        .as[(String, Long)].collect().toMap
    // ONE copy of the 3-phase semantics (take-5 / drop-5 / suggest+split),
    // shared with the engine-agnostic Transliterate.findBestMatches — this
    // call site only supplies the batched termdict lookup and the suggester
    graft.langtools.Transliterate.findBestMatches(word, "latin", dfMap,
      v => Bm25Query.suggest(s, idx, "en", v, size = 3, minScore = 0.5))
      .toDF("variant", "df")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Run an engine query and emit (doc_id, score) page rows, oracle-shaped. */
  private def engineTopK(s: SparkSession, dir: String, q: QuerySpec): DataFrame = {
    import s.implicits._
    val res = Bm25Query.search(s, index(s, dir), q)
    res.hits.map(h => (h.docId, round6(h.score))).toDF("doc_id", "score")
  }

  // shared oracle CTEs (DuckDB SQL over the SAME parquet tables)
  private val WebtextCte =
    """webtext AS (
      |  SELECT doc_id,
      |         'https://example.org/' || lang || '/' || source || '/' ||
      |           printf('%08d', doc_id) AS url,
      |         TIMESTAMP '2020-01-01 00:00:00' + (doc_id * 139733) * INTERVAL 1 SECOND AS warc_ts,
      |         text, lang, source
      |  FROM documents)""".stripMargin

  private def tokensCte(where: String) =
    s"""tok0 AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
       |  FROM documents $where),
       |tokens AS (SELECT doc_id, term FROM tok0 WHERE term <> '')""".stripMargin

  /** Full BM25 oracle in SQL: same formula, same stats scope (per-language
    * corpus), same tie-break, rounded to 6 decimals like the engine output.
    */
  private def bm25Oracle(terms: Seq[String], requireAll: Boolean, extra: String,
      k: Int): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val matchedCond = if (requireAll) s"matched = ${terms.size}" else "TRUE"
    s"""WITH $WebtextCte,
       |${tokensCte("WHERE lang = 'en'")},
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tokens GROUP BY doc_id),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tokens
       |       WHERE term IN ($termList) GROUP BY doc_id, term),
       |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1 + (stats.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |             (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))) AS score,
       |         CAST(count(*) AS BIGINT) AS matched
       |  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |WHERE $matchedCond $extra
       |ORDER BY scored.score DESC, doc_id LIMIT $k""".stripMargin
    // ORDER BY scored.score (the EXACT value), not the rounded output alias:
    // the engine ranks by exact score then docId, so a near-tie that rounds
    // equal at 6 decimals would order differently under the alias — a false
    // positional mismatch, or a genuinely different row set at the LIMIT edge
  }

  // fixed query constants (chosen from the corpus: 'dup' is rare (df≈10/218
  // en docs), the rest are mid-frequency; 'batch batch' occurs adjacently)
  private val QTerms = Seq("dup", "merge", "spark")

  // ------------------------------------------------------------------
  // flagship
  // ------------------------------------------------------------------
  /** Flagship: end-to-end index build + BM25 AND query on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    engineTopK(spark, "/root/testdata/sf0.001",
      QuerySpec(lang = "en", query = QTerms.mkString(" ")))

  // ------------------------------------------------------------------
  // queries + oracles
  // ------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational sanity (Spark built-ins end-to-end) ----
    "q1_agg" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(avg(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("avg_revenue"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_topk_join" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("c_mktsegment"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- extraction + analysis plane ----
    "ext_parity" -> ((s, dir) => {
      Webtext.fromDocuments(s, dir)
        .select(col("doc_id"),
          (GraftFunctions.extract_text(col("html")) === col("text")).as("matched"))
        .orderBy("doc_id")
    }),
    "tokenize_tf" -> ((s, dir) => {
      // tf computed per doc INSIDE the analyzer UDF (GraftFunctions
      // .analyze_tf): (doc_id, term) rows come out already aggregated, so
      // the old per-token groupBy exchange disappears entirely — the only
      // exchange left is the output orderBy (guide §2.3/§2.4). Same rows.
      documents(s, dir)
        .select(col("doc_id"),
          explode(GraftFunctions.analyze_tf(col("text"), col("lang"))).as("e"))
        .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
        .orderBy("doc_id", "term")
    }),
    "term_stats" -> ((s, dir) => {
      // (doc, term) pairs are unique after the map-side tf pass, so
      // df = count(*) replaces the two-phase countDistinct(doc_id) and the
      // exchange carries one row per (doc, term) instead of one per token
      documents(s, dir)
        .select(col("doc_id"),
          explode(GraftFunctions.analyze_tf(col("text"), col("lang"))).as("e"))
        .groupBy(col("e.term").as("term"))
        .agg(count(lit(1)).as("df"), sum(col("e.tf")).as("cf"))
        .orderBy("term")
    }),
    "doc_stats" -> ((s, dir) => {
      documents(s, dir)
        .select(col("lang"), size(GraftFunctions.analyze_terms(col("text"), col("lang"))).cast("long").as("dl"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("dl"), 6).as("avg_dl"))
        .orderBy("lang")
    }),

    // ---- Catalyst index-substitution (SURVEY §7's optimizer-rule stretch):
    // a declarative match predicate over the docstore table; IndexAccessRule
    // rewrites it into a (bucket,term)-pruned posting-list semi join when
    // the sibling index is servable, full scan otherwise — same rows either
    // way, which is exactly what this oracle pins down ----
    "index_scan_rewrite" -> ((s, dir) => {
      val idx = index(s, dir)
      graft.plans.IndexAccessRule.install(s)
      s.read.parquet(s"${idx.dir}/docstore")
        .where(col("lang") === "en" &&
          array_contains(GraftFunctions.analyze_terms(col("text"), col("lang")), "merge"))
        .select(col("docId").as("doc_id"), col("url"))
        .orderBy("doc_id")
    }),

    // ---- the BM25 engine itself (real index build + WAND/AND kernels) ----
    "bm25_topk" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", QTerms.mkString(" ")))),
    "bm25_wand_topk" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", QTerms.mkString(" "), mode = "any"))),
    "bm25_exclude" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", "merge spark", excludeWords = Seq("slow")))),
    "bm25_meta_filter" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", "spark data",
        metaFilters = Map("source" -> Seq("src1", "src3"))))),
    "bm25_year_filter" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", "spark data", yearRange = Some((2020, 2020))))),
    // Q5 FULL date semantics: (has bookmark date ∧ in range) ∨ (no date ∧
    // series range overlaps) — reference index_searcher.py:64-150
    "bm25_date_filter" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", "spark data",
        dateRange = Some((Some(2020), Some(2020)))))),
    // open start bound: only an end year given
    "bm25_date_open" -> ((s, dir) =>
      engineTopK(s, dir, QuerySpec("en", "spark data",
        dateRange = Some((None, Some(2019)))))),
    "phrase_match" -> ((s, dir) => {
      // full phrase match set via the executor kernel plan (one task per
      // chunk, unbounded heap) — no driver funnel
      Bm25Query.matchedDocsDf(s, index(s, dir),
        QuerySpec("en", "batch batch", phrase = true))
        .select(col("docId").as("doc_id"))
        .orderBy("doc_id")
    }),
    "suggest_terms" -> ((s, dir) => {
      // term-dictionary spelling suggestions (Q8): candidates share the first
      // char, length ≥ 3, levenshtein ≤ 2, score = 1 - d/maxLen ≥ 0.6 —
      // candidates scanned from the MATERIALIZED termdict (df summed across
      // langs to match the whole-corpus oracle; langs partition the docs)
      val dict = Bm25Query.termDictAllLangsDf(s, index(s, dir))
        .where(length(col("term")) >= 3 && col("term").startsWith("s") && col("term") =!= "spakr")
      dict
        .withColumn("dist", levenshtein(lit("spakr"), col("term")))
        .withColumn("score", round(lit(1.0) - col("dist") /
          greatest(length(col("term")), lit(5)).cast("double"), 6))
        // max_edits cap (reference = OpenSearch term-suggester default 2):
        // load-bearing for terms longer than the query word, where dist 3
        // can still score >= 0.6
        .where(col("dist") <= 2 && col("score") >= 0.6)
        .select("term", "df", "score")
        .orderBy(col("score").desc, col("df").desc, col("term"))
        .limit(5)
    }),
    "highlight" -> ((s, dir) => {
      // Q7: whole-field unified highlighter — every query-term occurrence in
      // the top-10 hits wrapped in <em> tags (number_of_fragments: 0)
      import s.implicits._
      val res = Bm25Query.search(s, index(s, dir),
        QuerySpec("en", QTerms.mkString(" "), pageSize = 10))
      res.hits.map(h => (h.docId, h.highlighted)).toDF("doc_id", "highlighted")
        .orderBy("doc_id")
    }),
    "term_dict_lookup" -> ((s, dir) => {
      // A5: document-frequency lookup straight from the BUILT index's term
      // dictionary (segments parquet) — chunk doc-sets are disjoint, so
      // per-chunk df/cf sum to corpus df/cf; DuckDB recomputes from raw text
      val idx = index(s, dir)
      s.read.parquet(s"${idx.dir}/segments")
        .where(col("lang") === "en" && col("term").isin(QTerms: _*))
        .groupBy("term")
        .agg(sum("df").as("df"), sum("cf").as("cf"))
        .orderBy("term")
    }),
    "phrase_combos" -> ((s, dir) => {
      // W7 (transliterate.py:417-497): per-word variant lists from the
      // MATERIALIZED term dictionary (edit distance ≤ 2, shared first char),
      // Cartesian product of variants, combo score = Σ per-word corpus
      // frequency, top-k. df summed across langs (langs partition the docs)
      // to match the whole-corpus oracle.
      val dict = Bm25Query.termDictAllLangsDf(s, index(s, dir))
      def variants(seed: String, w: String, d: String) = dict
        .where(col("term").startsWith(seed.substring(0, 1)) &&
          levenshtein(lit(seed), col("term")) <= 2)
        .select(col("term").as(w), col("df").as(d))
      variants("spark", "w1", "df1").crossJoin(variants("merge", "w2", "df2"))
        .select(col("w1"), col("w2"), (col("df1") + col("df2")).as("score"))
        .orderBy(col("score").desc, col("w1"), col("w2"))
        .limit(5)
    }),
    // ---- transliteration variant front-end + 3-phase flow (W7 front,
    // transliterate.py:113-167, 207-323) ----
    "transliterate_suggest" -> ((s, dir) =>
      // "duup" → latin-ambiguity variants [duup, dup]; phase 1 finds "dup"
      transliterateFlow(s, dir, "duup")),
    "transliterate_phase3" -> ((s, dir) =>
      // "spakr" → variants [spakr, spaakr], none indexed → phases 1-2 empty →
      // phase 3 suggester terms (min_score 0.5, 3 per variant) → df lookup
      transliterateFlow(s, dir, "spakr")),
    // ---- W2 rerank (reranker.py:19-55): top-40 candidates rescored with the
    // deterministic lexical cross-scorer (model swap point documented) ----
    "rerank_topk" -> ((s, dir) => {
      val hits = engineTopK(s, dir,
        QuerySpec("en", QTerms.mkString(" "), pageSize = graft.ops.Rerank.Depth))
      val withText = hits.join(documents(s, dir).select(col("doc_id"), col("text")), "doc_id")
      graft.ops.Rerank.rerank(withText, QTerms.mkString(" "), "en", k = 10)
    }),
    "topk_payload_join" -> ((s, dir) => {
      // J7: winners semi-joined back to the doc store for payloads
      val hits = engineTopK(s, dir, QuerySpec("en", QTerms.mkString(" "), pageSize = 10))
      hits.join(Webtext.fromDocuments(s, dir).select("doc_id", "url"), Seq("doc_id"))
        .select("doc_id", "score", "url")
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ---- windows / sequences ----
    "neighbor_context" -> ((s, dir) => {
      // J4/W4: lag/lead over the global doc_id order WITHOUT the naive
      // single-partition Window.orderBy plan — range-partitioned local
      // windows + a driver-resolved edge-row exchange (NeighborContext)
      graft.ops.NeighborContext.neighbors(s,
          documents(s, dir).where(col("source") === "src0"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "fwd_fill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
            .over(w).as("last_purchase_value"))
        .orderBy("event_id")
    }),
    "events_by_day" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("day", "event_type")
    }),

    // ---- Q10 get-by-id: docstore point fetch (docId-sorted row groups →
    // min/max pruned read) ----
    "doc_by_id" -> ((s, dir) => {
      val idx = index(s, dir)
      s.read.parquet(s"${idx.dir}/docstore")
        .where(col("docId").isin(3L, 57L, 110L, 999999993L)) // incl. a miss
        .select(col("docId").as("doc_id"), col("url"), col("lang"),
          col("dl").cast("long").as("dl"))
        .orderBy("doc_id")
    }),

    // ---- A3 metadata regroup: per-language {key: sorted distinct values}
    // (the reference /metadata endpoint shape) ----
    "metadata_regroup" -> ((s, dir) =>
      Webtext.fromDocuments(s, dir)
        .select(col("lang"), explode(col("meta")).as(Seq("key", "value")))
        .groupBy("lang", "key")
        .agg(array_join(sort_array(collect_set("value")), ",").as("vals"))
        .orderBy("lang", "key")),

    // ---- facets / metadata (A1) ----
    "facet_values" -> ((s, dir) =>
      documents(s, dir).select("lang", "source").distinct().orderBy("lang", "source")),

    // ---- metadata scripted-upsert recompute (S10/A1) ----
    "metadata_upsert" -> ((s, dir) => {
      // reference semantics (opensearch.py:341-496): upsert new batch's facet
      // values into existing per-key docs, keeping values sorted-distinct.
      // Deterministic recompute form: existing (even docs) ∪ incoming (odd
      // docs) → distinct → sort, one row per key
      val d = documents(s, dir)
      val existing = d.where(pmod(col("doc_id"), lit(2)) === 0)
        .groupBy("lang").agg(sort_array(collect_set("source")).as("vals"))
      val incoming = d.where(pmod(col("doc_id"), lit(2)) === 1)
        .select("lang", "source")
      existing.select(col("lang"), explode(col("vals")).as("source"))
        .union(incoming)
        .groupBy("lang")
        .agg(array_join(sort_array(collect_set(col("source"))), ",").as("vals"))
        .orderBy("lang")
    }),

    // ---- Q12 delete-by-query + MERGE reindex (opensearch.py:304-339) ----
    "reindex_doc" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_reindex_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val web = Webtext.fromDocuments(s, dir)
      IndexBuild.build(s, web, out, numChunks = 2)
      // delete all docs of one source (the reference deletes a whole file's
      // docs by original_filename before regenerating them)
      IndexBuild.deleteByQuery(s, out, element_at(col("meta"), "source") === "src3")
      // MERGE: reindex regenerated versions of another source's docs
      val regen = web.where(col("source") === "src1")
        .withColumn("text", concat(col("text"), lit(" reindexed")))
      IndexBuild.reindexDocs(s, out, regen)
      // verification surface: term stats read back from the UPDATED segments
      s.read.parquet(s"$out/segments")
        .where(col("lang") === "en" && col("term").isin("spark", "dup", "reindexed"))
        .groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf"))
        .orderBy("term")
    }),

    // ---- snapshot-incremental ingestion (Iceberg-style table consume) ----
    // two table commits; the second consume processes ONLY the appended rows,
    // yet the final segments match full-corpus term stats (DuckDB oracle)
    "snapshot_ingest" -> ((s, dir) => {
      val slug = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_snaptbl_$slug"
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_snapidx_$slug"
      graft.index.TableIO.deleteRecursive(tbl)
      graft.index.TableIO.deleteRecursive(out)
      val web = Webtext.fromDocuments(s, dir)
      graft.table.SnapshotTable.append(s, tbl, web.where(pmod(col("doc_id"), lit(2)) === 0))
      graft.table.SnapshotIngest.consume(s, tbl, out, numChunks = 2)
      graft.table.SnapshotTable.append(s, tbl, web.where(pmod(col("doc_id"), lit(2)) === 1))
      graft.table.SnapshotIngest.consume(s, tbl, out, numChunks = 2)
      s.read.parquet(s"$out/segments")
        .where(col("lang") === "en" && col("term").isin("spark", "dup", "batch"))
        .groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf"))
        .orderBy("term")
    }),

    // ---- J2 hierarchical config merge (scan_config.py:51-143) ----
    "config_merge" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir).select(col("doc_id"),
        concat(lit("base/"), col("source"), lit("/"), col("lang"), lit("/"),
          col("doc_id").cast("string"), lit(".pdf")).as("path"))
      val cfg = Seq(
        ("base", "default", "list", "header_prefix", 0, "^Page \\d+"),
        ("base", "default", "list", "typo_list", 0, "teh=>the"),
        ("base", "default", "scalar", "psm", 0, "3"),
        ("base", "default", "scalar", "crop.x", 0, "0"),
        ("base/src1", "default", "list", "header_prefix", 0, "^अध्याय \\d+"),
        ("base/src1", "default", "scalar", "psm", 0, "6"),
        ("base/src1/en", "default", "list", "typo_list", 0, "adn=>and"),
        ("base/src1/en", "default", "scalar", "crop.x", 0, "12"),
        ("base/src1/en", "42", "scalar", "psm", 0, "11"),
        ("base/src1/en", "42", "list", "header_prefix", 0, "^Footer"),
        // deepest config on doc 40's path has ONLY a file-specific section —
        // it must still claim the "last file read" slot (scan_config.py quirk)
        ("base/src0", "40", "scalar", "psm", 0, "99"),
        ("base/src0", "40", "list", "header_prefix", 0, "^Doc40"),
        // and an EMPTY config file (sentinel) at base/src3 blocks the
        // shallower base-level stem row for doc 43 from applying
        ("base", "43", "scalar", "psm", 0, "77"),
        ("base/src3", "default", "sentinel", "", 0, ""))
        .toDF("cfg_dir", "scope", "kind", "key", "ord", "value")
      graft.ops.ConfigMerge.effectiveConfigs(docs, cfg)
        .orderBy("doc_id", "key")
    }),

    // ---- checkpoint manifest anti-join (J5) ----
    "checkpoint_pending" -> ((s, dir) => {
      import s.implicits._
      val done = Seq(0L, 1L, 2L, 3L).toDF("chunk")
      documents(s, dir)
        .select(pmod(col("doc_id"), lit(8)).cast("long").as("chunk"), col("doc_id"))
        .join(done, Seq("chunk"), "left_anti")
        .groupBy("chunk").agg(count(lit(1)).as("docs"))
        .orderBy("chunk")
    }),

    // ---- scalar plane: uuid5 via native Catalyst Expression (codegen'd;
    // rows-only check — DuckDB lacks sha1; golden-vector gated in specs) ----
    "uuid5_ids" -> ((s, dir) =>
      Webtext.fromDocuments(s, dir)
        .select(col("doc_id"),
          graft.functions.Uuid5Expr.uuid5(col("url")).as("document_id"))
        .orderBy("doc_id")),

    // ---- stateful sequence op T1 (line→paragraph combine), declarative ----
    "paragraph_combine" -> ((s, dir) => {
      // deterministic "OCR lines" derived from documents: 8-word lines, every
      // (doc_id+i)%3==2 line gets a sentence terminator
      val words = split(col("text"), " ")
      val lines = documents(s, dir)
        .select(col("doc_id"), words.as("w"))
        .select(col("doc_id"), explode(sequence(lit(0),
          least(lit(4), ((size(col("w")) - 1) / 8).cast("int")))).as("line_num"),
          col("w"))
        .select(col("doc_id"), col("line_num"),
          concat(array_join(slice(col("w"), col("line_num") * 8 + 1, lit(8)), " "),
            when(pmod(col("doc_id") + col("line_num"), lit(3)) === 2, ".").otherwise(""))
            .as("line"))
      graft.ops.Paragraphs.combineLinesSql(lines)
    }),

    // ---- advanced 3-phase paragraph pipeline, ORACLED restriction: on a
    // prose-only fixture (no QA/centered/indented/low-conf lines; terminator
    // lines short, others full-width) the REAL FSM degenerates exactly to
    // "split the doc's line sequence after each terminator line, page
    // breaks healed by the phase-3 prose merge" — which DuckDB recomputes
    // with a running-sum window. The full battery (QA/verse/heading/
    // low-conf) runs as advanced_paragraphs_full below. ----
    "advanced_paragraphs" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.AdvancedParagraphs
      val words = split(col("text"), " ")
      val lines = documents(s, dir)
        .select(col("doc_id"), words.as("w"))
        .select(col("doc_id"), explode(sequence(lit(0),
          least(lit(7), ((size(col("w")) - 1) / 6).cast("int")))).as("i"), col("w"))
        .select(col("doc_id"), col("i"), col("w"),
          // sanitize the fixture line to [a-z0-9 ] single-spaced non-empty
          // BY CONSTRUCTION (mirrored in the oracle SQL): parity must not
          // depend on the corpus text never containing punctuation/digits/
          // space runs — a regenerated documents.parquet with realistic
          // text would otherwise trip FSM branches (endsPunct, QA,
          // absolute-terminator, per-line trim) the running-sum oracle
          // deliberately does not model
          trim(regexp_replace(regexp_replace(
            lower(array_join(slice(col("w"), col("i") * 6 + 1, lit(6)), " ")),
            "[^a-z0-9 ]", ""), " +", " ")).as("core"))
        .select(col("doc_id").as("docId"),
          (col("i") / 4 + 1).cast("int").as("page"),
          pmod(col("i"), lit(4)).cast("int").as("lineNum"),
          concat(when(col("core") === "", lit("w")).otherwise(col("core")),
            when(pmod(col("doc_id") + col("i"), lit(3)) === 0, lit("।"))
              .otherwise(lit(""))).as("text"),
          lit(10).as("xStart"),
          // terminator lines end short of the right margin (so the FSM's
          // hasSentenceTerminator && isNotRightJustified break fires);
          // others run to the full prose width
          when(pmod(col("doc_id") + col("i"), lit(3)) === 0, lit(60))
            .otherwise(lit(100)).as("xEnd"))
        .as[AdvancedParagraphs.OcrLine]
      AdvancedParagraphs.generate(s, lines, AdvancedParagraphs.Hindi)
        .toDF().orderBy("docId", "paraId")
    }),

    // ---- advanced 3-phase paragraph pipeline (F6+A4+T3-T5); rows-only:
    // order-dependent FSM with reprocess-on-transition, gated by
    // AdvancedParagraphsSpec goldens ----
    "advanced_paragraphs_full" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.AdvancedParagraphs
      // deterministic synthetic OCR lines from documents: 6-word lines over
      // 2 pages with planted QA prefixes, terminators, centered/indented
      // geometry (page body x 10..100, centered 40..70, indent 30)
      val words = split(col("text"), " ")
      val raw = documents(s, dir)
        .select(col("doc_id"), words.as("w"))
        .select(col("doc_id"), explode(sequence(lit(0),
          least(lit(7), ((size(col("w")) - 1) / 6).cast("int")))).as("i"), col("w"))
        .select(col("doc_id").as("docId"),
          (col("i") / 4 + 1).cast("int").as("page"),
          pmod(col("i"), lit(4)).cast("int").as("lineNum"),
          // planted F5 fixtures: every (docId+i)%13==6 line is low-confidence
          // OCR junk, every %17==9 line has a null text payload — both must be
          // rejected by the confidence filter before classification
          when(pmod(col("doc_id") + col("i"), lit(17)) === 9,
            lit(null).cast("string")).otherwise(concat(
            when(pmod(col("doc_id") + col("i"), lit(11)) === 5, lit("प्रश्न: "))
              .otherwise(lit("")),
            array_join(slice(col("w"), col("i") * 6 + 1, lit(6)), " "),
            when(pmod(col("doc_id") + col("i"), lit(3)) === 0, lit("।"))
              .otherwise(lit("")))).as("text"),
          when(pmod(col("doc_id") + col("i"), lit(13)) === 6, lit(7))
            .otherwise(lit(88)).cast("int").as("conf"),
          when(pmod(col("doc_id") + col("i"), lit(7)) === 3, lit(40))
            .otherwise(when(pmod(col("doc_id") + col("i"), lit(5)) === 2, lit(30))
              .otherwise(lit(10))).cast("int").as("xStart"),
          when(pmod(col("doc_id") + col("i"), lit(7)) === 3, lit(70))
            .otherwise(when(pmod(col("doc_id") + col("i"), lit(3)) === 0, lit(60))
              .otherwise(lit(100))).cast("int").as("xEnd"))
      // F5: conf > 10 && text non-null, ahead of the pipeline's one exchange
      val lines = AdvancedParagraphs.confidenceFilter(raw)
        .drop("conf").as[AdvancedParagraphs.OcrLine]
      AdvancedParagraphs.generate(s, lines, AdvancedParagraphs.Hindi)
        .toDF().orderBy("docId", "paraId")
    }),

    // ---- F4 header/footer rejection (paragraph_generator/base.py:205-232):
    // prefix strip + short-digit-heavy para-0 reject + digit-ratio reject ----
    "header_reject" -> ((s, dir) => {
      val did = col("doc_id").cast("string")
      val paras = documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(3)).cast("int").as("para_num"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("Page "), did, lit(" of "), (col("doc_id") * 7).cast("string")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("अध्याय 12 — "), substring(col("text"), 1, 50)))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(did, lit(" ॥ "), (col("doc_id") + 1).cast("string")))
        .otherwise(substring(col("text"), 1, 80)).as("para"))
      graft.ops.HeaderFooter.cleanParagraphs(paras, "para", "para_num",
        prefixes = Seq("^अध्याय \\d+ — "), headerRegexes = Seq("^\\s*$"))
        .orderBy("doc_id")
    }),

    // ---- F1 text normalization (unicode cleanup, purn-viram OCR fixes,
    // punctuation spacing, whitespace collapse) ----
    "text_normalize" -> ((s, dir) => {
      val noisy = concat(lit("( "), substring(col("text"), 1, 80),
        lit(" ) end ... |"))
      documents(s, dir)
        .select(col("doc_id"), graft.ops.TextNormalize.normalize(noisy).as("normalized"))
        .orderBy("doc_id")
    }),

    // ---- array scalar plane (U4 page-range expansion) ----
    "array_ops" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          explode(array_sort(array_distinct(concat(
            sequence(pmod(col("doc_id"), lit(5)), pmod(col("doc_id"), lit(5)) + 2),
            sequence(pmod(col("doc_id"), lit(3)), pmod(col("doc_id"), lit(3)) + 4)))))
            .as("page"))
        .orderBy("doc_id", "page")
    }),

    // ---- date scalar plane (dd-MM-yyyy parsing + year bounds) ----
    "date_parse" -> ((s, dir) => {
      val dstr = concat(
        lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"), lit("-"),
        lpad((pmod(col("doc_id"), lit(12)) + 1).cast("string"), 2, "0"), lit("-2021"))
      documents(s, dir)
        .select(col("doc_id"), to_date(dstr, "dd-MM-yyyy").as("parsed"),
          make_date(lit(2021), lit(1), lit(1)).as("year_start"),
          make_date(lit(2021), lit(12), lit(31)).as("year_end"))
        .orderBy("doc_id")
    }),

    // ---- §2.8 map/json scalar plane: to_json/from_json roundtrip over the
    // metadata map, then field extraction (incl. get_json_object) ----
    "json_ops" -> ((s, dir) => {
      import org.apache.spark.sql.types.{MapType, StringType}
      val roundtrip = from_json(to_json(col("meta")), MapType(StringType, StringType))
      Webtext.fromDocuments(s, dir)
        .select(col("doc_id"), col("meta"), roundtrip.as("m"))
        .select(col("doc_id"),
          element_at(col("m"), "source").as("src"),
          element_at(col("m"), "date").as("date"),
          element_at(col("m"), "series_start_date").as("series_start"),
          get_json_object(to_json(col("meta")), "$.series_end_date").as("series_end"))
        .orderBy("doc_id")
    }),

    // ---- dedup family ----
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicates(Dedup.withPlantedDups(documents(s, dir)))
        .select("doc_id", "canonical_id").orderBy("doc_id")
    }),
    "dedup_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Dedup.withPlantedDups(documents(s, dir)), n = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_minhash" -> ((s, dir) => {
      // ORACLED scale path: MinHash+LSH banding candidates → exact-Jaccard
      // verification, so the output is a pure function of the texts (DuckDB
      // recomputes the true-Jaccard pair set; band geometry makes candidate
      // recall ~1 at the threshold — see Dedup.minhashNearDupPairs)
      Dedup.minhashNearDupPairs(Dedup.withPlantedDups(documents(s, dir)),
        n = 3, numHashes = 64, bands = 32, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_canonical" -> ((s, dir) => {
      // near-dup REMOVAL step: connected components over the verified
      // near-dup pairs, canonical = min doc_id per cluster (keep canonical,
      // drop the rest). Distributed min-label propagation; oracle recomputes
      // components with a recursive CTE over the same true-Jaccard pair set
      val pairs = Dedup.minhashNearDupPairs(Dedup.withPlantedDups(documents(s, dir)),
        n = 3, numHashes = 64, bands = 32, threshold = 0.7)
      Dedup.canonicalizeNearDups(pairs).orderBy("doc_id")
    }),
    "dedup_minhash_est" -> ((s, dir) => {
      // FULLY ORACLED since the sketch gained a recomputable hash scheme
      // (md5-derived shingle hash mod 2^31-1 + fixed linear permutations —
      // Dedup.minhashSignatures(recomputable = true)): DuckDB recomputes
      // shingles, the 64 permutation minima, the 16×4 banding candidates
      // and the equal-position estimate from scratch. The production path
      // (`dedup_minhash`) keeps the cheap splitmix scheme — same signature/
      // banding/estimate code, different hash plug (simhash precedent).
      Dedup.minhashLshCandidates(Dedup.withPlantedDups(documents(s, dir)),
        n = 3, numHashes = 64, bands = 16, estThreshold = 0.5, recomputable = true)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_simhash" -> ((s, dir) => {
      // FULLY ORACLED since the sketch moved to md5-derived bit vectors
      // (Dedup.md5Low60): DuckDB recomputes token hashes, the 60 bit
      // majorities, the 4×15-bit block join and the xor hamming verify
      Dedup.simhashPairs(Dedup.withPlantedDups(documents(s, dir)), maxHamming = 6)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ---- similarity search ----
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_filtered_topk" -> ((s, dir) => {
      // Q9 filtered kNN: the metadata predicate is pushed INTO the candidate
      // scan (knn.filter analog) — returns k MATCHING neighbors, not a
      // post-filtered page
      val emb = embeddings(s, dir)
      Similarity.cosineTopK(emb.where(pmod(col("label"), lit(2)) === 0),
          emb.where(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_neardup" -> ((s, dir) => {
      // ORACLED bucketed scale path: axis-sign LSH buckets (DuckDB recomputes
      // the same buckets → the same equi-join → the same pair set); the
      // random-hyperplane production hash keeps the identical join shape
      // (Similarity.embeddingNearDupPairs, recall-gated in OpsSpec)
      Similarity.embeddingNearDupPairsAxis(embeddings(s, dir), 0.40, bits = 6)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    }),
    "ann_neardup_exact" -> ((s, dir) => { // n² baseline (small scale only)
      Similarity.embeddingNearDupPairsExact(embeddings(s, dir), 0.40)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    }),
    "ann_lsh_axis_topk" -> ((s, dir) => {
      // ORACLED bucketed ANN: axis-sign buckets + hamming-1 multiprobe, all
      // recomputable in SQL
      val emb = embeddings(s, dir)
      Similarity.lshTopKAxis(emb, emb.where(col("vec_id") < 5), k = 10,
        bits = 6, probeHamming = 1)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_lsh_filtered_topk" -> ((s, dir) => {
      // Q9 filtered kNN on the BUCKETED path: the metadata predicate is
      // pushed into the corpus scan BEFORE bucketing + the bucket equi-join
      // (knn.filter analog at scale) — k MATCHING neighbors per query
      val emb = embeddings(s, dir)
      Similarity.lshTopKAxis(emb.where(pmod(col("label"), lit(2)) === 0),
        emb.where(col("vec_id") < 5), k = 10, bits = 6, probeHamming = 1)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      // Q9 IVF scale path: corpus partitioned into cells around deterministic
      // centroid vectors (vec_id < nlist — SQL-recomputable), queries probe
      // their nProbe nearest cells; cell equi-join, never a full scan
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        nlist = 16, nProbe = 4)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_hnsw_topk" -> ((s, dir) => {
      // Q9 HNSW (the reference's actual kNN structure,
      // opensearch-config.yaml:152-160): one graph per partition, queries
      // fan out, window merge. Rows-only: the graph walk is ours — HnswSpec
      // gates recall ≥ 0.95 vs exact cosineTopK and run-to-run determinism
      val emb = embeddings(s, dir)
      graft.ops.Hnsw.hnswTopK(emb, emb.where(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_hnsw_routed_topk" -> ((s, dir) => {
      // Q9 IVF-routed HNSW (the partition router for hnswTopK's
      // all-partitions fan-out): one graph per IVF CELL, queries walk only
      // their nProbe nearest cells' graphs; unprobed cells never build a
      // graph. Rows-only for the same reason as ann_hnsw_topk (the graph
      // walk is ours) — but the ROUTING layer (centroids, assignment,
      // probes) is byte-shared with the fully-oracled ann_ivf_topk, and
      // HnswSpec gates agreement ≥ 0.95 vs ivfTopK's exact scoring at the
      // same (nlist, nProbe), probed-cell containment, and determinism
      val emb = embeddings(s, dir)
      graft.ops.Hnsw.hnswRoutedTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        nlist = 16, nProbe = 4)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      // FULLY ORACLED random-hyperplane LSH (round-5): planes are md5-derived
      // ±1 sign projections, so DuckDB re-derives the planes, the buckets,
      // the hamming-≤2 multiprobe set, the bucket join and the ranking from
      // scratch (dedup_simhash recipe). The splitmix-plane production hash
      // (Similarity.lshCode) keeps the identical join shape.
      val emb = embeddings(s, dir)
      Similarity.lshTopKMd5(emb, emb.where(col("vec_id") < 5), k = 10,
        bits = 6, seed = 7L, probeHamming = 2)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("nn_rank"))
        .orderBy("query_id", "nn_rank")
    }),

    // ---- web hygiene (training-data pipeline pre-filters) ----
    // URL canonicalization over deterministically-planted messy URLs (mixed
    // case, default port, tracking params, fragments — the oracle replants
    // the same arithmetic)
    "url_canonical" -> ((s, dir) => {
      val messy = documents(s, dir).select(col("doc_id"),
        concat(
          lit("HTTPS://Example.ORG:443/"), col("lang"), lit("/"), col("source"),
          lit("/"), format_string("%08d", col("doc_id")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("?UTM_Source=feed&utm_campaign=x&id="), pmod(col("doc_id"), lit(7))))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              concat(lit("?id="), pmod(col("doc_id"), lit(7)), lit("&utm_medium=em#frag")))
            .when(pmod(col("doc_id"), lit(4)) === 2, lit("#section2"))
            .otherwise(lit(""))).as("url"))
      messy.select(col("doc_id"), col("url"),
        graft.ops.Hygiene.canonicalUrl(col("url")).as("canonical"),
        graft.ops.Hygiene.hostOf(col("url")).as("host"),
        graft.ops.Hygiene.registrableDomain(
          graft.ops.Hygiene.hostOf(col("url"))).as("domain"))
        .orderBy("doc_id")
    }),
    // Gopher-style repetition metrics (dup-line / top-word fractions)
    "gopher_repetition" -> ((s, dir) =>
      graft.ops.Hygiene.gopherRepetition(
        documents(s, dir).select("doc_id", "text")).orderBy("doc_id")),
    // PII scrubbing over planted emails/phones/IPs
    "pii_scrub" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" Contact: user"), col("doc_id"),
              lit("@example.com or admin@test.org.")))
            .when(pmod(col("doc_id"), lit(5)) === 1,
              concat(lit(" Call 155-555-01"),
                lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"), lit(" now.")))
            .when(pmod(col("doc_id"), lit(5)) === 2,
              concat(lit(" Server at 10.0."), pmod(col("doc_id"), lit(256)),
                lit(".1 responded.")))
            .otherwise(lit(""))).as("text"))
      graft.ops.Hygiene.piiColumns(col("text")).foldLeft(planted) {
        case (d, (n, c)) => d.withColumn(n, c)
      }.drop("text").orderBy("doc_id")
    }),

    // CCNet-style cross-document line dedup: planted boilerplate (a shared
    // footer on every even doc) must drop, planted unique lines must stay
    "line_dedup" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("\nVisit our homepage\n(c) Example Site All Rights Reserved"))
            .otherwise(concat(lit("\nUnique line "), col("doc_id")))).as("text"))
      graft.ops.Hygiene.lineDedup(planted, minDocs = 3).orderBy("doc_id")
    }),
    // training-window chunking: overlapping fixed-token windows per doc
    "chunk_by_tokens" -> ((s, dir) =>
      graft.ops.TextAnalysis.chunkByTokens(
        documents(s, dir).select(col("doc_id"), col("text")),
        maxTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),
    // sequence packing: chunk rows → fixed-budget training sequences
    "pack_chunks" -> ((s, dir) => {
      val chunks = graft.ops.TextAnalysis.chunkByTokens(
        documents(s, dir).select(col("doc_id"), col("text")),
        maxTokens = 64, overlap = 16)
      graft.ops.TextAnalysis.packChunks(chunks, budget = 256, nShards = 4)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum("n_tokens").as("n_tokens"))
        .orderBy("shard", "pack_id")
    }),
    // Gopher n-gram repetition fractions (trigram variant)
    "ngram_repetition" -> ((s, dir) =>
      graft.ops.Hygiene.ngramRepetition(
        documents(s, dir).select(col("doc_id"), col("text")), n = 3)
        .orderBy("doc_id")),
    // C4 line-filter battery over planted boilerplate lines
    "c4_line_filter" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit("\nBuy now {click}\nlorem ipsum dolor sit amet.\nShort one.\nThis is a real sentence with enough words.")).as("text"))
      graft.ops.Hygiene.c4LineFilter(planted).orderBy("doc_id")
    }),
    // the CAPSTONE composite: the full training-data prep pipeline as ONE
    // lazy plan — C4 line filtering → exact dedup (planted copies dropped)
    // → overlapping token chunking → shard-parallel sequence packing —
    // oracled end-to-end in a single SQL statement, proving the operators
    // COMPOSE (each stage's output schema feeds the next, one optimizer
    // pass over the whole DAG, no materialization between stages)
    "training_pipeline" -> ((s, dir) => {
      // first line: the doc's own text terminated with '.' so the C4 filter
      // KEEPS it (each doc's clean text stays unique — dedup then drops only
      // the planted +2000000 copies, and chunking works over real volume)
      val planted = documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(".\nBuy now {click}\nlorem ipsum dolor sit amet.\nShort one.\nThis is a real sentence with enough words.")).as("text"))
      val clean = graft.ops.Hygiene.c4LineFilter(planted)
        .select(col("doc_id"), col("clean_text").as("text"))
      val dupped = clean.unionAll(
        clean.where(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val kept = dupped.join(
        graft.ops.Dedup.exactDuplicates(dupped).select("doc_id"),
        Seq("doc_id"), "left_anti")
      val chunks = graft.ops.TextAnalysis.chunkByTokens(kept,
        maxTokens = 64, overlap = 16)
      graft.ops.TextAnalysis.packChunks(chunks, budget = 256, nShards = 4)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum("n_tokens").as("n_tokens"))
        .orderBy("shard", "pack_id")
    }),
    // the API metrics plane: format each synthetic query event as the
    // reference's CSV line, parse it back with the exporter's tolerant
    // parser, and roll up the --summary statistics — format→parse must
    // round-trip for the oracle (which derives the rollup directly) to match
    "metrics_summary" -> ((s, dir) => {
      import graft.ops.Metrics
      val d = documents(s, dir)
      val id = col("doc_id")
      val lines = d.select(Metrics.line(
        expr("timestamp'2025-01-01 00:00:00' + make_interval(0, 0, 0, " +
          "CAST(doc_id % 7 AS INT), CAST(doc_id % 24 AS INT), 0, 0)"),
        concat(lit("10.0."), id % 4, lit("."), id % 200),
        substring(col("text"), 1, 40),
        when(id % 2 === 0, "lexical").otherwise("vector"),
        (id % 5 === 0).cast("boolean"),
        lit("['Pravachan'; 'Granth']"),
        when(id % 3 === 0, "hi").when(id % 3 === 1, "gu").otherwise("en"),
        lit(false), lit(20), (id % 3 + 1).cast("int"),
        (id % 250).cast("double"), (id % 50).cast("int")).as("line"))
      Metrics.summary(Metrics.parse(lines))
        .orderBy("date", "search_type", "language")
    }),
    // domain-level aggregation for wholesale quality filtering
    "domain_stats" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".site"),
          pmod(col("doc_id"), lit(4)), lit(".com/p/"), col("doc_id")).as("url"),
        col("text"))
      graft.ops.Hygiene.domainStats(planted).orderBy("domain")
    }),

    // ---- text analysis ----
    "lang_id" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langIdExpr(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "quality_score" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.qualityColumns(col("text")).foldLeft(base) {
        case (d, (name, c)) => d.withColumn(name, c)
      }.drop("text")
        .withColumn("n_chars", col("n_chars").cast("long"))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy("doc_id")
    }),
    "token_counts" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.tokenCountColumns(col("text")).foldLeft(base) {
        case (d, (name, c)) => d.withColumn(name, c.cast("long"))
      }.drop("text").orderBy("doc_id")
    }),
    "fingerprint" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("fp_md5"))
        .orderBy("doc_id")),

    // ---- hybrid lexical+vector fusion (J3 full outer, A8 max-norm, W3) ----
    "hybrid_rank" -> ((s, dir) => {
      // lexical side: ALL AND-matches for (spark, data) over en docs as a
      // DataFrame end-to-end (the executor kernel plan, one task per chunk —
      // normalization/fusion never touch the driver)
      val lex = Bm25Query.matchedDocsDf(s, index(s, dir), QuerySpec("en", "spark data"))
        .select(col("docId").as("doc_id"), col("score"))
      // vector side: cosine of every embedding to query vector vec_id=0
      val emb = embeddings(s, dir)
      val q0 = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      val vec = emb.crossJoin(broadcast(q0))
        .select(col("vec_id").as("doc_id"),
          graft.functions.CosineSimExpr.cosineSim(col("embedding"), col("q_embedding"))
            .as("score"))
      HybridRank.fuse(lex, vec, k = 20)
    }),

    // ---- granth nested-structure plane (S7 flatten, A2 facet) ----
    "granth_flatten" -> ((s, dir) =>
      // runs over REAL parser output (S7 markdown → verses), not synthesized
      // structs — MarkdownGranthSpec additionally pins parse == synthesize
      graft.ops.Granth.flattenVerses(graft.ops.Granth.fromMarkdown(s, 50))
        .orderBy("granthId", "seq_num")),
    "granth_prose_flatten" -> ((s, dir) =>
      // PROSE sections + subsections through the real parser, one search doc
      // per content paragraph (_create_prose_document, granth_index.py:380-427)
      graft.ops.Granth.flattenProse(graft.ops.Granth.proseFromMarkdown(s, 50))
        .orderBy("chunk_id")),
    "granth_date_facet" -> ((s, dir) =>
      graft.ops.Granth.dateRangeFacet(graft.ops.Granth.synthesize(s, 50))
        .select(col("author"), explode(col("date_ranges")).as("date_range"))
        .orderBy("author", "date_range")),

    // ---- multimodal plumbing (decode stub over binary column) ----
    "multimodal_meta" -> ((s, dir) => {
      MultiModal.decodeMedia(s, MultiModal.withMediaColumn(documents(s, dir)))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"),
          col("payload_bytes").cast("long").as("payload_bytes"))
        .orderBy("doc_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 4) AS sum_qty,
        |       round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_revenue,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_topk_join" ->
      """SELECT o_orderkey, c_mktsegment,
        |       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "ext_parity" ->
      s"""WITH ex AS (
         |  SELECT doc_id, text,
         |         '<html><head><title>doc-' || doc_id || '</title></head><body><p>' ||
         |           replace(text, chr(10) || chr(10), '</p><p>') || '</p></body></html>' AS html
         |  FROM documents)
         |SELECT doc_id,
         |       (replace(regexp_extract(html,
         |          '(?s)^<html><head><title>.*?</title></head><body><p>(.*)</p></body></html>$$', 1),
         |          '</p><p>', chr(10) || chr(10)) = text) AS matched
         |FROM ex ORDER BY doc_id""".stripMargin,
    "tokenize_tf" ->
      s"""WITH ${tokensCte("")}
         |SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |FROM tokens GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    "term_stats" ->
      s"""WITH ${tokensCte("")}
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS cf
         |FROM tokens GROUP BY term ORDER BY term""".stripMargin,
    "doc_stats" ->
      s"""WITH ${tokensCte("")},
         |dl AS (SELECT t.doc_id, d.lang, CAST(count(*) AS BIGINT) AS dl
         |       FROM tokens t JOIN documents d USING (doc_id) GROUP BY t.doc_id, d.lang)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, round(avg(dl), 6) AS avg_dl
         |FROM dl GROUP BY lang ORDER BY lang""".stripMargin,
    "index_scan_rewrite" ->
      s"""WITH $WebtextCte,
         |${tokensCte("WHERE lang = 'en'")}
         |SELECT DISTINCT t.doc_id, w.url
         |FROM tokens t JOIN webtext w USING (doc_id)
         |WHERE t.term = 'merge'
         |ORDER BY t.doc_id""".stripMargin,
    "bm25_topk" -> bm25Oracle(QTerms, requireAll = true, "", 20),
    "bm25_wand_topk" -> bm25Oracle(QTerms, requireAll = false, "", 20),
    "bm25_exclude" -> bm25Oracle(Seq("merge", "spark"), requireAll = true,
      "AND doc_id NOT IN (SELECT DISTINCT doc_id FROM tokens WHERE term = 'slow')", 20),
    "bm25_meta_filter" -> bm25Oracle(Seq("spark", "data"), requireAll = true,
      "AND doc_id IN (SELECT doc_id FROM documents WHERE source IN ('src1','src3'))", 20),
    "bm25_year_filter" -> bm25Oracle(Seq("spark", "data"), requireAll = true,
      "AND doc_id IN (SELECT doc_id FROM webtext WHERE EXTRACT(year FROM warc_ts) BETWEEN 2020 AND 2020)", 20),
    "bm25_date_filter" -> bm25Oracle(Seq("spark", "data"), requireAll = true,
      """AND doc_id IN (
        |  SELECT doc_id FROM documents
        |  WHERE (doc_id % 3 = 0
        |         AND (DATE '2019-01-01' + CAST(doc_id % 730 AS INT))
        |             BETWEEN DATE '2020-01-01' AND DATE '2020-12-31')
        |     OR (doc_id % 3 <> 0 AND doc_id % 2 = 0
        |         AND (DATE '2019-06-01' + CAST(doc_id % 400 AS INT)) <= DATE '2020-12-31'
        |         AND (DATE '2019-06-01' + CAST(doc_id % 400 AS INT) + 300) >= DATE '2020-01-01'))""".stripMargin, 20),
    "bm25_date_open" -> bm25Oracle(Seq("spark", "data"), requireAll = true,
      """AND doc_id IN (
        |  SELECT doc_id FROM documents
        |  WHERE (doc_id % 3 = 0
        |         AND (DATE '2019-01-01' + CAST(doc_id % 730 AS INT)) <= DATE '2019-12-31')
        |     OR (doc_id % 3 <> 0 AND doc_id % 2 = 0
        |         AND (DATE '2019-06-01' + CAST(doc_id % 400 AS INT)) <= DATE '2019-12-31'))""".stripMargin, 20),
    "phrase_match" ->
      """SELECT doc_id FROM documents
        |WHERE lang = 'en'
        |  AND (' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') || ' ')
        |      LIKE '% batch batch %'
        |ORDER BY doc_id""".stripMargin,
    "suggest_terms" ->
      s"""WITH ${tokensCte("")},
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |cand AS (
         |  SELECT term, df, levenshtein('spakr', term) AS dist
         |  FROM dict
         |  WHERE length(term) >= 3 AND term LIKE 's%' AND term <> 'spakr')
         |SELECT term, df, round(1.0 - dist / CAST(greatest(length(term), 5) AS DOUBLE), 6) AS score
         |FROM cand WHERE dist <= 2
         |  AND 1.0 - dist / CAST(greatest(length(term), 5) AS DOUBLE) >= 0.6
         |ORDER BY score DESC, df DESC, term LIMIT 5""".stripMargin,
    "highlight" -> {
      val inner = bm25Oracle(QTerms, requireAll = true, "", 10)
      s"""WITH hits AS ($inner)
         |SELECT h.doc_id,
         |       regexp_replace(d.text, '\\b(${QTerms.mkString("|")})\\b',
         |                      '<em>\\1</em>', 'g') AS highlighted
         |FROM hits h JOIN documents d USING (doc_id)
         |ORDER BY h.doc_id""".stripMargin
    },
    "term_dict_lookup" ->
      s"""WITH ${tokensCte("WHERE lang = 'en'")}
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS cf
         |FROM tokens WHERE term IN (${QTerms.map(t => s"'$t'").mkString(", ")})
         |GROUP BY term ORDER BY term""".stripMargin,
    "metadata_upsert" ->
      """SELECT lang, array_to_string(list_sort(list(DISTINCT source)), ',') AS vals
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "phrase_combos" ->
      s"""WITH ${tokensCte("")},
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |v1 AS (SELECT term AS w1, df AS df1 FROM dict
         |       WHERE term LIKE 's%' AND levenshtein('spark', term) <= 2),
         |v2 AS (SELECT term AS w2, df AS df2 FROM dict
         |       WHERE term LIKE 'm%' AND levenshtein('merge', term) <= 2)
         |SELECT w1, w2, df1 + df2 AS score FROM v1, v2
         |ORDER BY score DESC, w1, w2 LIMIT 5""".stripMargin,
    "transliterate_suggest" -> {
      // variant list inlined as literals (a pure function of the constant
      // query word — the generator itself is golden-gated in TransliterateSpec)
      val vs = graft.langtools.Transliterate.variants("duup", "latin", 10)
      val vals = vs.zipWithIndex.map { case (v, i) => s"('$v', ${i + 1})" }.mkString(", ")
      s"""WITH ${tokensCte("WHERE lang = 'en'")},
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |v AS (SELECT * FROM (VALUES $vals) t(variant, rnk)),
         |p1 AS (SELECT v.variant, d.df FROM v JOIN dict d ON d.term = v.variant
         |       WHERE v.rnk <= 5)
         |SELECT variant, df FROM p1 ORDER BY df DESC, variant""".stripMargin
    },
    // Known approximation: DuckDB's damerau_levenshtein is unrestricted DL
    // while the engine's suggester implements OSA (Lucene's suggest
    // distance). The two differ only on transposition-plus-edit
    // interactions; for this fixed query's variant set and the en
    // dictionary the scores coincide (empirically green) — the OSA kernel
    // itself is additionally pinned by golden vectors in spec.
    "transliterate_phase3" -> {
      val vs = graft.langtools.Transliterate.variants("spakr", "latin", 10)
      val vals = vs.map(v => s"('$v')").mkString(", ")
      s"""WITH ${tokensCte("WHERE lang = 'en'")},
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |v AS (SELECT * FROM (VALUES $vals) t(variant)),
         |cand AS (
         |  SELECT v.variant, d.term, d.df,
         |         1.0 - damerau_levenshtein(v.variant, d.term) /
         |               CAST(greatest(length(d.term), length(v.variant)) AS DOUBLE) AS score
         |  FROM v, dict d
         |  WHERE length(d.term) >= 3 AND substr(d.term, 1, 1) = substr(v.variant, 1, 1)
         |    AND d.term <> v.variant),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY variant
         |                     ORDER BY score DESC, df DESC, term) AS rn
         |           FROM cand
         |           WHERE score >= 0.5
         |             AND damerau_levenshtein(variant, term) <= 2),
         |suggested AS (SELECT DISTINCT term FROM ranked WHERE rn <= 3),
         |p3 AS (SELECT s.term AS variant, d.df FROM suggested s JOIN dict d USING (term))
         |SELECT variant, df FROM p3 ORDER BY df DESC, variant""".stripMargin
    },
    "rerank_topk" -> {
      val inner = bm25Oracle(QTerms, requireAll = true, "", graft.ops.Rerank.Depth)
      val qlist = QTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH hits AS ($inner),
         |toks AS (
         |  SELECT doc_id,
         |         list_distinct(list_filter(
         |           regexp_split_to_array(lower(substr(text, 1, 1000)), '[^a-z0-9]+'),
         |           x -> x <> '')) AS ts
         |  FROM documents),
         |scored AS (
         |  SELECT h.doc_id, h.score,
         |         round(CAST(len(list_filter(t.ts, x -> x IN ($qlist))) AS DOUBLE) /
         |               (${QTerms.size} + len(t.ts) -
         |                len(list_filter(t.ts, x -> x IN ($qlist)))), 6) AS rerank_score
         |  FROM hits h JOIN toks t USING (doc_id))
         |SELECT doc_id, rerank_score, score FROM scored
         |ORDER BY rerank_score DESC, score DESC, doc_id LIMIT 10""".stripMargin
    },
    "topk_payload_join" -> {
      val inner = bm25Oracle(QTerms, requireAll = true, "", 10)
      s"""WITH hits AS ($inner)
         |SELECT h.doc_id, h.score,
         |       'https://example.org/' || d.lang || '/' || d.source || '/' ||
         |         printf('%08d', d.doc_id) AS url
         |FROM hits h JOIN documents d USING (doc_id)
         |ORDER BY h.score DESC, h.doc_id""".stripMargin
    },
    "neighbor_context" ->
      """SELECT doc_id,
        |       lag(doc_id) OVER (ORDER BY doc_id) AS prev_id,
        |       lead(doc_id) OVER (ORDER BY doc_id) AS next_id,
        |       substr(lag(text) OVER (ORDER BY doc_id), 1, 20) AS prev_snippet
        |FROM documents WHERE source = 'src0' ORDER BY doc_id""".stripMargin,
    "fwd_fill" ->
      """SELECT event_id, user_id, ts,
        |       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,
    "events_by_day" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "doc_by_id" ->
      s"""WITH $WebtextCte,
         |${tokensCte("")},
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tokens GROUP BY doc_id)
         |SELECT w.doc_id, w.url, w.lang, CAST(coalesce(dl.dl, 0) AS BIGINT) AS dl
         |FROM webtext w LEFT JOIN dl USING (doc_id)
         |WHERE w.doc_id IN (3, 57, 110, 999999993)
         |ORDER BY w.doc_id""".stripMargin,
    "metadata_regroup" ->
      """WITH m AS (
        |  SELECT lang, 'source' AS key, source AS value FROM documents
        |  UNION ALL
        |  SELECT lang, 'date', strftime(DATE '2019-01-01' + CAST(doc_id % 730 AS INT), '%Y-%m-%d')
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT lang, 'series_start_date', strftime(DATE '2019-06-01' + CAST(doc_id % 400 AS INT), '%Y-%m-%d')
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, 'series_end_date', strftime(DATE '2019-06-01' + CAST(doc_id % 400 AS INT) + 300, '%Y-%m-%d')
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT lang, key, array_to_string(list_sort(list(DISTINCT value)), ',') AS vals
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "facet_values" ->
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source",
    "snapshot_ingest" ->
      """WITH tok0 AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        |  FROM documents WHERE lang = 'en'),
        |tokens AS (SELECT doc_id, term FROM tok0 WHERE term <> '')
        |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |       CAST(count(*) AS BIGINT) AS cf
        |FROM tokens WHERE term IN ('spark', 'dup', 'batch')
        |GROUP BY term ORDER BY term""".stripMargin,
    "reindex_doc" ->
      """WITH web AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN source = 'src1' THEN text || ' reindexed' ELSE text END AS text
        |  FROM documents WHERE source <> 'src3'),
        |tok0 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        |         FROM web WHERE lang = 'en'),
        |tokens AS (SELECT doc_id, term FROM tok0 WHERE term <> '')
        |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |       CAST(count(*) AS BIGINT) AS cf
        |FROM tokens WHERE term IN ('spark', 'dup', 'reindexed')
        |GROUP BY term ORDER BY term""".stripMargin,
    "config_merge" ->
      """WITH docs AS (
        |  SELECT doc_id, 'base/' || source || '/' || lang AS dir,
        |         CAST(doc_id AS VARCHAR) AS stem
        |  FROM documents),
        |cfg(cfg_dir, scope, kind, key, ord, value) AS (VALUES
        |  ('base', 'default', 'list', 'header_prefix', 0, '^Page \d+'),
        |  ('base', 'default', 'list', 'typo_list', 0, 'teh=>the'),
        |  ('base', 'default', 'scalar', 'psm', 0, '3'),
        |  ('base', 'default', 'scalar', 'crop.x', 0, '0'),
        |  ('base/src1', 'default', 'list', 'header_prefix', 0, '^अध्याय \d+'),
        |  ('base/src1', 'default', 'scalar', 'psm', 0, '6'),
        |  ('base/src1/en', 'default', 'list', 'typo_list', 0, 'adn=>and'),
        |  ('base/src1/en', 'default', 'scalar', 'crop.x', 0, '12'),
        |  ('base/src1/en', '42', 'scalar', 'psm', 0, '11'),
        |  ('base/src1/en', '42', 'list', 'header_prefix', 0, '^Footer'),
        |  ('base/src0', '40', 'scalar', 'psm', 0, '99'),
        |  ('base/src0', '40', 'list', 'header_prefix', 0, '^Doc40'),
        |  ('base', '43', 'scalar', 'psm', 0, '77'),
        |  ('base/src3', 'default', 'sentinel', '', 0, '')),
        |j AS (SELECT d.doc_id, d.stem, c.*
        |      FROM docs d JOIN cfg c
        |        ON d.dir = c.cfg_dir OR d.dir LIKE c.cfg_dir || '/%'),
        |wd AS (SELECT *, length(cfg_dir) AS depth,
        |              max(length(cfg_dir)) OVER (PARTITION BY doc_id) AS max_depth
        |       FROM j),
        |sc AS (SELECT *, CASE WHEN scope = 'default' THEN 0 ELSE 1 END AS layer
        |       FROM wd
        |       WHERE (scope = 'default' OR (scope = stem AND depth = max_depth))
        |         AND kind <> 'sentinel'),
        |lists AS (SELECT doc_id, key,
        |                 string_agg(value, ',' ORDER BY layer, depth, ord, value) AS value
        |          FROM sc WHERE kind = 'list' GROUP BY 1, 2),
        |scalars AS (SELECT doc_id, key,
        |                   arg_max(value, layer * 1000000 + depth * 1000 + ord) AS value
        |            FROM sc WHERE kind = 'scalar' GROUP BY 1, 2)
        |SELECT * FROM lists UNION ALL SELECT * FROM scalars
        |ORDER BY doc_id, key""".stripMargin,
    "checkpoint_pending" ->
      """SELECT CAST(doc_id % 8 AS BIGINT) AS chunk, CAST(count(*) AS BIGINT) AS docs
        |FROM documents WHERE doc_id % 8 NOT IN (0, 1, 2, 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "paragraph_combine" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS w FROM documents),
        |ls AS (SELECT doc_id, unnest(range(0, least(4, (len(w) - 1) // 8) + 1)) AS line_num, w
        |       FROM w),
        |lines0 AS (
        |  SELECT doc_id, CAST(line_num AS INT) AS line_num,
        |         array_to_string(w[line_num * 8 + 1 : line_num * 8 + 8], ' ') ||
        |           CASE WHEN (doc_id + line_num) % 3 = 2 THEN '.' ELSE '' END AS line
        |  FROM ls),
        |lines AS (
        |  SELECT doc_id, line_num, regexp_replace(line, '^\s+|\s+$', '', 'g') AS line
        |  FROM lines0 WHERE regexp_replace(line, '^\s+|\s+$', '', 'g') <> ''),
        |flagged AS (
        |  SELECT doc_id, line_num, line,
        |         CASE WHEN regexp_matches(line, '[.!?।॥]$') THEN 1 ELSE 0 END AS term_flag
        |  FROM lines),
        |grp AS (
        |  SELECT doc_id, line_num, line,
        |         CAST(COALESCE(SUM(term_flag) OVER (PARTITION BY doc_id ORDER BY line_num
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS para_id
        |  FROM flagged)
        |SELECT doc_id, para_id, string_agg(line, ' ' ORDER BY line_num) AS text
        |FROM grp GROUP BY doc_id, para_id ORDER BY doc_id, para_id""".stripMargin,
    // Prose-only FSM restriction: paragraph = maximal line run ending at a
    // planted-terminator line (short xEnd → isNotRightJustified → the FSM
    // break); page-end breaks heal in the phase-3 prose merge, so the merged
    // paragraph's page is its FIRST line's page. Running-sum grouping — a
    // fully independent re-derivation of generate()'s output on this fixture.
    "advanced_paragraphs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS w FROM documents),
        |ls AS (SELECT doc_id, unnest(range(0, least(7, (len(w) - 1) // 6) + 1)) AS i, w
        |       FROM w),
        |cores AS (
        |  SELECT doc_id, i,
        |         trim(regexp_replace(regexp_replace(
        |           lower(array_to_string(w[i * 6 + 1 : i * 6 + 6], ' ')),
        |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS core
        |  FROM ls),
        |lines AS (
        |  SELECT doc_id, i, CAST(i // 4 + 1 AS INT) AS page,
        |         (CASE WHEN core = '' THEN 'w' ELSE core END) ||
        |           CASE WHEN (doc_id + i) % 3 = 0 THEN '।' ELSE '' END AS line,
        |         CASE WHEN (doc_id + i) % 3 = 0 THEN 1 ELSE 0 END AS term
        |  FROM cores),
        |grp AS (
        |  SELECT doc_id, i, page, line,
        |         COALESCE(SUM(term) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pid
        |  FROM lines)
        |SELECT doc_id AS "docId", CAST(MIN(page) AS INT) AS page,
        |       CAST(pid AS INT) AS "paraId",
        |       string_agg(line, ' ' ORDER BY i) AS text
        |FROM grp GROUP BY doc_id, pid ORDER BY "docId", "paraId"""".stripMargin,
    "header_reject" ->
      """WITH paras AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS para_num,
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN 'Page ' || CAST(doc_id AS VARCHAR) || ' of ' || CAST(doc_id * 7 AS VARCHAR)
        |      WHEN doc_id % 4 = 1 THEN 'अध्याय 12 — ' || substr(text, 1, 50)
        |      WHEN doc_id % 4 = 2 THEN CAST(doc_id AS VARCHAR) || ' ॥ ' || CAST(doc_id + 1 AS VARCHAR)
        |      ELSE substr(text, 1, 80) END AS para
        |  FROM documents),
        |stripped AS (
        |  -- trim applies only when the prefix matched (reference strips
        |  -- whitespace per re.sub, inside the if-match branch); \s-trim like
        |  -- Python .strip(), not space-only SQL trim
        |  SELECT doc_id, para_num,
        |         CASE WHEN regexp_matches(para, '^अध्याय \d+ — ')
        |              THEN regexp_replace(regexp_replace(para, '^अध्याय \d+ — ', ''),
        |                                  '^\s+|\s+$', '', 'g')
        |              ELSE para END AS para
        |  FROM paras),
        |m AS (
        |  SELECT doc_id, para_num, para, length(para) AS len,
        |         length(para) - length(regexp_replace(para, '[0-9०-९]', '', 'g')) AS digits
        |  FROM stripped)
        |SELECT doc_id, para_num, para FROM m
        |WHERE NOT ((para_num = 0 AND len < 35 AND digits > 2)
        |        OR (len > 0 AND len < 20 AND CAST(digits AS DOUBLE) / len >= 0.3)
        |        OR regexp_matches(para, '^\s*$'))
        |ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """WITH noisy AS (
        |  SELECT doc_id, '( ' || substr(text, 1, 80) || ' ) end ... |' AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(t, '[|Il1]', '।', 'g') AS t FROM noisy),
        |s2 AS (SELECT doc_id, replace(t, '॥', '।') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '([(\[{''"])\s+', '\1', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '\s+([।.,?!:;)\]}''"])', '\1', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(t, '\s+(\.{2,})', '\1', 'g') AS t FROM s4)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS normalized
        |FROM s5 ORDER BY doc_id""".stripMargin,
    "array_ops" ->
      """SELECT doc_id,
        |       unnest(list_sort(list_distinct(
        |         range(doc_id % 5, doc_id % 5 + 3) || range(doc_id % 3, doc_id % 3 + 5)))) AS page
        |FROM documents ORDER BY doc_id, page""".stripMargin,
    "date_parse" ->
      """SELECT doc_id,
        |       CAST(strptime(lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '-' ||
        |            lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-2021',
        |            '%d-%m-%Y') AS DATE) AS parsed,
        |       make_date(2021, 1, 1) AS year_start,
        |       make_date(2021, 12, 31) AS year_end
        |FROM documents ORDER BY doc_id""".stripMargin,
    "json_ops" ->
      """SELECT doc_id, source AS src,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN strftime(DATE '2019-01-01' + CAST(doc_id % 730 AS INT), '%Y-%m-%d') END AS date,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN strftime(DATE '2019-06-01' + CAST(doc_id % 400 AS INT), '%Y-%m-%d') END AS series_start,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN strftime(DATE '2019-06-01' + CAST(doc_id % 400 AS INT) + 300, '%Y-%m-%d') END AS series_end
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' near dup suffix' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 23 = 0),
        |hashed AS (SELECT doc_id, sha256(text) AS h FROM planted WHERE text IS NOT NULL),
        |grp AS (SELECT h, min(doc_id) AS canonical_id, count(*) AS n FROM hashed GROUP BY h)
        |SELECT hashed.doc_id, grp.canonical_id
        |FROM hashed JOIN grp USING (h)
        |WHERE grp.n > 1 AND hashed.doc_id <> grp.canonical_id
        |ORDER BY hashed.doc_id""".stripMargin,
    "dedup_jaccard" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' near dup suffix' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 23 = 0),
        |arr AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a FROM planted),
        |arrf AS (SELECT doc_id, list_filter(a, x -> x <> '') AS a FROM arr),
        |sh0 AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i
        |        FROM arrf WHERE len(a) >= 3),
        |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS shingle
        |       FROM sh0),
        |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        |rare AS (SELECT sh.* FROM sh
        |         JOIN (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle) f USING (shingle)
        |         WHERE f.df <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS inter
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.query_id, e.vec_id,
        |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS sim
        |      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, sim,
        |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS nn_rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, nn_rank""".stripMargin,
    "ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |      FROM embeddings WHERE label % 2 = 0),
        |s AS (SELECT q.query_id, c.vec_id,
        |             list_cosine_similarity(c.e, q.qe) AS sim
        |      FROM c, q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, sim,
        |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS nn_rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, nn_rank""".stripMargin,
    "dedup_minhash" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' near dup suffix' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 23 = 0),
        |arr AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a FROM planted),
        |arrf AS (SELECT doc_id, list_filter(a, x -> x <> '') AS a FROM arr),
        |sh0 AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i
        |        FROM arrf WHERE len(a) >= 3),
        |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS shingle
        |       FROM sh0),
        |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE), 6) AS jaccard
        |FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,
    // SimHash recomputed from scratch: per-token 60-bit hash = first 15 hex
    // digits of md5 (folded digit-by-digit), per-doc bit majorities, 4×15-bit
    // block candidate join, xor bit_count verify — every step independent of
    // the Scala implementation except the shared md5 primitive
    "dedup_simhash" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' near dup suffix' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 23 = 0),
        |arr AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a FROM planted),
        |toks AS (SELECT doc_id, unnest(a) AS t FROM arr),
        |th AS (SELECT doc_id,
        |  list_reduce(list_transform(split(substr(md5(t), 1, 15), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) AS h
        |  FROM toks WHERE t <> ''),
        |bits AS (SELECT doc_id, b,
        |  SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY doc_id, b),
        |sh AS (SELECT doc_id,
        |  CAST(SUM(CASE WHEN acc > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |blocks AS (SELECT doc_id, simhash, b AS block,
        |  (simhash >> CAST(15 * b AS INT)) & 32767 AS value
        |  FROM sh CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |  FROM blocks a JOIN blocks b
        |    ON a.block = b.block AND a.value = b.value AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin,
    // MinHash-LSH estimate recomputed from scratch: per-shingle 60-bit md5
    // hash reduced mod P = 2^31-1, the 64 fixed linear permutations
    // h_i(x) = (a_i·x + b_i) mod P, per-doc minima, 16×4 banding (candidates
    // = any band's 4 minima all equal), estimate = equal positions / 64 —
    // every step independent of the Scala implementation except the shared
    // md5 primitive (same discipline as dedup_simhash)
    "dedup_minhash_est" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' near dup suffix' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 23 = 0),
        |arr AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a FROM planted),
        |arrf AS (SELECT doc_id, list_filter(a, x -> x <> '') AS a FROM arr),
        |sh0 AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i
        |        FROM arrf WHERE len(a) >= 3),
        |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS shingle
        |       FROM sh0),
        |shh AS (SELECT doc_id,
        |  list_reduce(list_transform(split(substr(md5(shingle), 1, 15), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) % 2147483647 AS x
        |  FROM sh),
        |perms AS (SELECT doc_id, i,
        |  min(((((i + 1) * 506952114 + 12345) % 2147483647) * x
        |       + ((i * 40503 + 271828183) % 2147483647)) % 2147483647) AS v
        |  FROM shh CROSS JOIN (SELECT unnest(range(64)) AS i) ps
        |  GROUP BY doc_id, i),
        |bnd AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS bkey
        |  FROM perms GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bnd a JOIN bnd b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |m AS (SELECT c.id_a, c.id_b, count(*) AS eq
        |  FROM cand c
        |  JOIN perms pa ON pa.doc_id = c.id_a
        |  JOIN perms pb ON pb.doc_id = c.id_b AND pb.i = pa.i AND pb.v = pa.v
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, round(eq / 64.0, 6) AS est_jaccard
        |FROM m WHERE eq / 64.0 >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "dedup_canonical" ->
      """WITH RECURSIVE planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' near dup suffix' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 23 = 0),
        |arr AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a FROM planted),
        |arrf AS (SELECT doc_id, list_filter(a, x -> x <> '') AS a FROM arr),
        |sh0 AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i
        |        FROM arrf WHERE len(a) >= 3),
        |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS shingle
        |       FROM sh0),
        |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        |p0 AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dup_pairs AS (
        |  SELECT id_a, id_b
        |  FROM p0 JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.7),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
        |          UNION SELECT id_b, id_a FROM dup_pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        |SELECT id AS doc_id, min(r) AS canonical_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "ann_neardup" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
        |       + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.e, b.e), 6) AS sim
        |FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.40
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_lsh_axis_topk" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
        |       + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM c WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, qe, qb AS bucket FROM q
        |  UNION ALL
        |  SELECT query_id, qe, xor(qb, (1 << CAST(i AS INT))) AS bucket
        |  FROM q, range(6) t(i)),
        |scored AS (
        |  SELECT p.query_id, c.vec_id, max(list_cosine_similarity(c.e, p.qe)) AS sim
        |  FROM probes p JOIN c ON c.bucket = p.bucket
        |  WHERE c.vec_id <> p.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, sim,
        |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
        |      FROM scored)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS nn_rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, nn_rank""".stripMargin,
    "ann_lsh_filtered_topk" ->
      """WITH ce AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
        |         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
        |       + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |c AS (SELECT * FROM ce WHERE label % 2 = 0),
        |q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM ce WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, qe, qb AS bucket FROM q
        |  UNION ALL
        |  SELECT query_id, qe, xor(qb, (1 << CAST(i AS INT))) AS bucket
        |  FROM q, range(6) t(i)),
        |scored AS (
        |  SELECT p.query_id, c.vec_id, max(list_cosine_similarity(c.e, p.qe)) AS sim
        |  FROM probes p JOIN c ON c.bucket = p.bucket
        |  WHERE c.vec_id <> p.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, sim,
        |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
        |      FROM scored)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS nn_rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, nn_rank""".stripMargin,
    // md5-hyperplane LSH recomputed from scratch: plane p's component for
    // dim d = +1 iff the last hex nibble of md5('7:p:d') is odd (the same
    // rule as Similarity.md5PlaneComponent); dots fold left-to-right via
    // list_reduce so the double accumulation order (and the sign/bucket)
    // matches the Scala loop bit-for-bit; hamming-≤2 multiprobe = xor with
    // every 6-bit mask of popcount ≤ 2
    "ann_lsh_topk" ->
      """WITH comps AS (
        |  SELECT p, list_transform(range(64), d ->
        |    CASE WHEN strpos('13579bdf', substr(md5('7:' || p || ':' || d), 32, 1)) > 0
        |         THEN 1.0 ELSE -1.0 END) AS cv
        |  FROM range(6) t(p)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |codes AS (
        |  SELECT e.vec_id, e.v,
        |    CAST(SUM(CASE WHEN list_reduce(
        |        list_transform(range(64), d -> e.v[CAST(d AS INT) + 1] * c.cv[CAST(d AS INT) + 1]),
        |        (x, y) -> x + y) >= 0
        |      THEN (1::BIGINT << CAST(c.p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e, comps c GROUP BY e.vec_id, e.v),
        |q AS (SELECT vec_id AS query_id, v AS qe, bucket AS qb FROM codes WHERE vec_id < 5),
        |masks AS (SELECT m FROM range(64) t(m) WHERE bit_count(m) <= 2),
        |probes AS (SELECT query_id, qe, xor(qb, CAST(m AS BIGINT)) AS bucket FROM q, masks),
        |scored AS (
        |  SELECT p.query_id, c.vec_id, max(list_cosine_similarity(c.v, p.qe)) AS sim
        |  FROM probes p JOIN codes c ON c.bucket = p.bucket
        |  WHERE c.vec_id <> p.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, sim,
        |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
        |      FROM scored)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS nn_rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, nn_rank""".stripMargin,
    "ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT e.vec_id, c.cid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS rn
        |    FROM e, cents c) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |qp AS (
        |  SELECT query_id, cid AS cell FROM (
        |    SELECT q.query_id, c.cid,
        |           row_number() OVER (PARTITION BY q.query_id
        |             ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS rn
        |    FROM q, cents c) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id, max(list_cosine_similarity(e.v, q.qv)) AS sim
        |  FROM qp p JOIN asg a ON a.cell = p.cell
        |  JOIN e ON e.vec_id = a.vec_id
        |  JOIN q ON q.query_id = p.query_id
        |  WHERE a.vec_id <> p.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, sim,
        |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
        |      FROM scored)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS nn_rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, nn_rank""".stripMargin,
    "ann_neardup_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |             CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) >= 0.40
        |ORDER BY id_a, id_b""".stripMargin,
    "lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN length(regexp_replace(text, '[^ऀ-ॿ]', '', 'g')) / greatest(length(text), 1) > 0.3 THEN 'hi'
        |       WHEN length(regexp_replace(text, '[^઀-૿]', '', 'g')) / greatest(length(text), 1) > 0.3 THEN 'gu'
        |       WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1) > 0.3 THEN 'en'
        |       ELSE 'und' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         length(text) AS n_chars,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |         length(regexp_replace(text, '\s+', '', 'g')) AS squeezed,
        |         length(regexp_replace(text, '[^.,;:!?।॥''"()\[\]-]', '', 'g')) AS punct,
        |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
        |         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |             w -> w IN ('the','a','of','and','to','in','is','और','की','के','અને','છે'))) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE squeezed / CAST(n_tokens AS DOUBLE) END, 6) AS avg_token_len,
        |       round(punct / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS punct_ratio,
        |       round(digits / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS digit_ratio,
        |       round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / CAST(n_tokens AS DOUBLE) END, 6) AS stopword_ratio,
        |       round(0.4 * (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END)
        |           + 0.3 * (1.0 - least(punct / CAST(greatest(n_chars, 1) AS DOUBLE) * 5, 1.0))
        |           + 0.3 * (1.0 - least(digits / CAST(greatest(n_chars, 1) AS DOUBLE) * 5, 1.0)), 6) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "token_counts" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[ऀ-ॿ઀-૿]+|[^A-Za-z0-9ऀ-ॿ઀-૿\s]')) AS BIGINT) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Independent derivation: the oracle replants the messy URL, then states
    // the EXPECTED canonical form directly from the planting arithmetic
    // (rather than re-running the same regexes), so a canonicalization bug
    // cannot cancel out on both sides.
    "url_canonical" ->
      """SELECT doc_id,
        |  'HTTPS://Example.ORG:443/' || lang || '/' || source || '/' ||
        |    printf('%08d', doc_id) ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN '?UTM_Source=feed&utm_campaign=x&id=' || (doc_id % 7)
        |      WHEN 1 THEN '?id=' || (doc_id % 7) || '&utm_medium=em#frag'
        |      WHEN 2 THEN '#section2' ELSE '' END AS url,
        |  'https://example.org/' || lang || '/' || source || '/' ||
        |    printf('%08d', doc_id) ||
        |    CASE WHEN doc_id % 4 IN (0, 1) THEN '?id=' || (doc_id % 7) ELSE '' END
        |    AS canonical,
        |  'example.org' AS host,
        |  'example.org' AS domain
        |FROM documents ORDER BY doc_id""".stripMargin,
    "gopher_repetition" ->
      """WITH ls AS (
        |  SELECT doc_id,
        |         len(string_split(text, chr(10))) AS n_lines,
        |         len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |ws AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word_count
        |       FROM w GROUP BY doc_id)
        |SELECT l.doc_id,
        |       CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
        |       CAST(l.n_lines AS INT) AS n_lines,
        |       round(1.0 - l.n_distinct_lines / CAST(l.n_lines AS DOUBLE), 6) AS dup_line_frac,
        |       round(coalesce(ws.top_word_count / CAST(ws.n_words AS DOUBLE), 0.0), 6) AS top_word_frac,
        |       (round(1.0 - l.n_distinct_lines / CAST(l.n_lines AS DOUBLE), 6) > 0.3
        |        OR round(coalesce(ws.top_word_count / CAST(ws.n_words AS DOUBLE), 0.0), 6) > 0.2)
        |         AS flagged
        |FROM ls l LEFT JOIN ws ON l.doc_id = ws.doc_id
        |ORDER BY l.doc_id""".stripMargin,
    "pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |         text || CASE CAST(doc_id % 5 AS INT)
        |           WHEN 0 THEN ' Contact: user' || doc_id || '@example.com or admin@test.org.'
        |           WHEN 1 THEN ' Call 155-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now.'
        |           WHEN 2 THEN ' Server at 10.0.' || (doc_id % 256) || '.1 responded.'
        |           ELSE '' END AS text
        |  FROM documents),
        |s1 AS (SELECT doc_id, text,
        |              regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                             '[EMAIL]', 'g') AS no_email
        |       FROM planted),
        |s2 AS (SELECT *, regexp_replace(no_email, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}',
        |                                '[PHONE]', 'g') AS no_phone FROM s1)
        |SELECT doc_id,
        |       regexp_replace(no_phone,
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS scrubbed,
        |       CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(no_email,
        |         '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |       CAST(len(regexp_extract_all(no_phone,
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 2 = 0
        |    THEN chr(10) || 'Visit our homepage' || chr(10) || '(c) Example Site All Rights Reserved'
        |    ELSE chr(10) || 'Unique line ' || doc_id END AS text
        |  FROM documents),
        |lines AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
        |ex AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS line_no
        |       FROM lines),
        |common AS (
        |  SELECT lower(regexp_replace(line, '^\s+|\s+$', '', 'g')) AS norm
        |  FROM ex WHERE regexp_replace(line, '^\s+|\s+$', '', 'g') <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
        |k AS (
        |  SELECT e.doc_id, e.line_no, e.line,
        |         (regexp_replace(e.line, '^\s+|\s+$', '', 'g') <> ''
        |          AND c.norm IS NOT NULL) AS dropped
        |  FROM ex e LEFT JOIN common c
        |    ON lower(regexp_replace(e.line, '^\s+|\s+$', '', 'g')) = c.norm)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_lines,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS INT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT dropped THEN line END, chr(10) ORDER BY line_no), '')
        |    AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "chunk_by_tokens" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |nw AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |         CASE WHEN len(ws) <= 0 THEN 0
        |              WHEN len(ws) <= 16 THEN 1
        |              ELSE 1 + (len(ws) - 16 - 1) // 48 END AS n_windows
        |  FROM w),
        |c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |         ws[i * 48 + 1 : i * 48 + 64] AS chunk
        |  FROM nw, LATERAL unnest(generate_series(0, n_windows - 1)) AS t(i))
        |SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_tokens,
        |       array_to_string(chunk, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "metrics_summary" ->
      """WITH m AS (
        |  SELECT
        |    strftime(TIMESTAMP '2025-01-01 00:00:00'
        |      + (doc_id % 7) * INTERVAL 1 DAY
        |      + (doc_id % 24) * INTERVAL 1 HOUR, '%Y-%m-%d') AS date,
        |    CASE WHEN doc_id % 2 = 0 THEN 'lexical' ELSE 'vector' END AS search_type,
        |    CASE WHEN doc_id % 3 = 0 THEN 'hi'
        |         WHEN doc_id % 3 = 1 THEN 'gu' ELSE 'en' END AS language,
        |    '10.0.' || (doc_id % 4) || '.' || (doc_id % 200) AS client_ip,
        |    CAST(doc_id % 250 AS DOUBLE) AS latency_ms,
        |    CAST(doc_id % 50 AS INT) AS total_results
        |  FROM documents)
        |SELECT date, search_type, language,
        |  CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN total_results = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(count(DISTINCT client_ip) AS BIGINT) AS unique_ips,
        |  round(avg(latency_ms), 6) AS avg_latency_ms,
        |  round(avg(CAST(total_results AS DOUBLE)), 6) AS avg_results
        |FROM m GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "training_pipeline" ->
      """WITH planted AS (
        |  SELECT doc_id, text || '.' || chr(10) || 'Buy now {click}' || chr(10) ||
        |    'lorem ipsum dolor sit amet.' || chr(10) || 'Short one.' || chr(10) ||
        |    'This is a real sentence with enough words.' AS text
        |  FROM documents),
        |lns AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
        |ex AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS line_no
        |       FROM lns),
        |k AS (
        |  SELECT doc_id, line_no, line,
        |    (regexp_matches(regexp_replace(line, '^\s+|\s+$', '', 'g'), '[.!?"'']$')
        |     AND len(list_filter(regexp_split_to_array(
        |           regexp_replace(line, '^\s+|\s+$', '', 'g'), '\s+'), x -> x <> '')) >= 3
        |     AND NOT contains(lower(line), 'lorem ipsum')
        |     AND NOT contains(lower(line), 'javascript')
        |     AND NOT contains(lower(line), '{')
        |     AND NOT contains(lower(line), 'cookie policy')
        |     AND NOT contains(lower(line), 'terms of use')) AS kept
        |  FROM ex),
        |clean AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN kept
        |        THEN regexp_replace(line, '^\s+|\s+$', '', 'g') END,
        |      chr(10) ORDER BY line_no), '') AS text
        |  FROM k GROUP BY doc_id),
        |dupped AS (
        |  SELECT doc_id, text FROM clean
        |  UNION ALL SELECT doc_id + 2000000, text FROM clean WHERE doc_id % 23 = 0),
        |hashed AS (SELECT doc_id, text, sha256(text) AS h FROM dupped),
        |kept_docs AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY h) AS keep_id FROM hashed)
        |  WHERE doc_id = keep_id),
        |w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
        |  FROM kept_docs),
        |nw AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |         CASE WHEN len(ws) <= 0 THEN 0
        |              WHEN len(ws) <= 16 THEN 1
        |              ELSE 1 + (len(ws) - 16 - 1) // 48 END AS n_windows
        |  FROM w),
        |c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |         len(ws[i * 48 + 1 : i * 48 + 64]) AS n_tokens
        |  FROM nw, LATERAL unnest(generate_series(0, n_windows - 1)) AS t(i)),
        |p AS (
        |  SELECT doc_id, chunk_id, n_tokens,
        |         CAST(doc_id % 4 AS INT) AS shard,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 4
        |           ORDER BY doc_id, chunk_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM c)
        |SELECT shard, CAST(cum_before // 256 AS INT) AS pack_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pack_chunks" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |nw AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |         CASE WHEN len(ws) <= 0 THEN 0
        |              WHEN len(ws) <= 16 THEN 1
        |              ELSE 1 + (len(ws) - 16 - 1) // 48 END AS n_windows
        |  FROM w),
        |c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |         len(ws[i * 48 + 1 : i * 48 + 64]) AS n_tokens
        |  FROM nw, LATERAL unnest(generate_series(0, n_windows - 1)) AS t(i)),
        |p AS (
        |  SELECT doc_id, chunk_id, n_tokens,
        |         CAST(doc_id % 4 AS INT) AS shard,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 4
        |           ORDER BY doc_id, chunk_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM c)
        |SELECT shard, CAST(cum_before // 256 AS INT) AS pack_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ngram_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        |  FROM w, LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, sum(c) AS n_ngrams, max(c) AS top_count,
        |         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_count
        |  FROM c GROUP BY 1)
        |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |       round(top_count / CAST(n_ngrams AS DOUBLE), 6) AS top_ngram_frac,
        |       round(dup_count / CAST(n_ngrams AS DOUBLE), 6) AS dup_ngram_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    "c4_line_filter" ->
      """WITH planted AS (
        |  SELECT doc_id, text || chr(10) || 'Buy now {click}' || chr(10) ||
        |    'lorem ipsum dolor sit amet.' || chr(10) || 'Short one.' || chr(10) ||
        |    'This is a real sentence with enough words.' AS text
        |  FROM documents),
        |lines AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
        |ex AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS line_no
        |       FROM lines),
        |k AS (
        |  SELECT doc_id, line_no, line,
        |    (regexp_matches(regexp_replace(line, '^\s+|\s+$', '', 'g'), '[.!?"'']$')
        |     AND len(list_filter(regexp_split_to_array(
        |           regexp_replace(line, '^\s+|\s+$', '', 'g'), '\s+'), x -> x <> '')) >= 3
        |     AND NOT contains(lower(line), 'lorem ipsum')
        |     AND NOT contains(lower(line), 'javascript')
        |     AND NOT contains(lower(line), '{')
        |     AND NOT contains(lower(line), 'cookie policy')
        |     AND NOT contains(lower(line), 'terms of use')) AS kept
        |  FROM ex)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_lines,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN kept
        |      THEN regexp_replace(line, '^\s+|\s+$', '', 'g') END,
        |    chr(10) ORDER BY line_no), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "domain_stats" ->
      """WITH ls AS (
        |  SELECT doc_id,
        |         len(string_split(text, chr(10))) AS n_lines,
        |         len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |ws AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word_count
        |       FROM w GROUP BY doc_id),
        |g AS (
        |  SELECT l.doc_id,
        |         CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
        |         (round(1.0 - l.n_distinct_lines / CAST(l.n_lines AS DOUBLE), 6) > 0.3
        |          OR round(coalesce(ws.top_word_count / CAST(ws.n_words AS DOUBLE), 0.0), 6) > 0.2)
        |           AS flagged
        |  FROM ls l LEFT JOIN ws ON l.doc_id = ws.doc_id),
        |d AS (
        |  SELECT doc_id, 'site' || (doc_id % 4) || '.com' AS domain,
        |         source || '.site' || (doc_id % 4) || '.com' AS host
        |  FROM documents)
        |SELECT d.domain, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT d.host) AS BIGINT) AS n_hosts,
        |       CAST(sum(g.n_words) AS BIGINT) AS total_words,
        |       round(avg(CASE WHEN g.flagged THEN 1.0 ELSE 0.0 END), 6) AS flagged_frac
        |FROM d JOIN g USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin,
    "hybrid_rank" -> {
      s"""WITH ${tokensCte("WHERE lang = 'en'")},
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tokens GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tokens
         |       WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
         |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |lex AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + (stats.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |             (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))) AS score,
         |         count(*) AS matched
         |  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |lexical AS (SELECT doc_id, score FROM lex WHERE matched = 2),
         |vector AS (
         |  SELECT e.vec_id AS doc_id,
         |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
         |  FROM embeddings e),
         |lmax AS (SELECT max(score) AS m FROM lexical),
         |vmax AS (SELECT max(score) AS m FROM vector),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |         round(0.6 * COALESCE(CASE WHEN COALESCE((SELECT m FROM lmax), 0) = 0
         |                 THEN 0.0 ELSE l.score / (SELECT m FROM lmax) END, 0.0) +
         |               0.4 * COALESCE(CASE WHEN COALESCE((SELECT m FROM vmax), 0) = 0
         |                 THEN 0.0 ELSE v.score / (SELECT m FROM vmax) END, 0.0), 6) AS hybrid_score
         |  FROM lexical l FULL OUTER JOIN vector v ON l.doc_id = v.doc_id)
         |SELECT doc_id, hybrid_score FROM fused
         |ORDER BY hybrid_score DESC, doc_id LIMIT 20""".stripMargin
    },
    "granth_flatten" ->
      """WITH g AS (SELECT unnest(range(0, 50)) AS granthId),
        |v AS (SELECT granthId, unnest(range(1, 4 + granthId % 4)) AS seq FROM g)
        |SELECT granthId,
        |       'granth' || granthId AS name,
        |       'author' || (granthId % 3) AS author,
        |       CAST(seq - 1 AS BIGINT) AS verse_idx,
        |       CAST(seq AS INT) AS seq_num,
        |       CASE WHEN seq % 2 = 0 THEN 'Shlok' ELSE 'Gatha' END AS vtype,
        |       'verse text ' || granthId || '-' || seq AS verse,
        |       'translation ' || granthId || '-' || seq AS translation,
        |       CAST(seq * 2 AS INT) AS page_num,
        |       'adhikar' || (seq % 2) AS adhikar,
        |       'teeka ' || granthId || '-' || seq || '-1 | teeka ' || granthId || '-' || seq || '-2' AS teeka_joined
        |FROM v ORDER BY granthId, seq_num""".stripMargin,
    "granth_prose_flatten" ->
      """WITH g AS (SELECT unnest(range(0, 50)) AS gid),
        |p AS (SELECT gid, 3 + gid % 4 AS nv FROM g),
        |main AS (SELECT gid, nv, unnest(range(0, 2)) AS i FROM p),
        |subs AS (SELECT gid, nv,
        |                unnest(range(0, CASE WHEN gid % 2 = 0 THEN 2 ELSE 1 END)) AS i
        |         FROM p),
        |rows_ AS (
        |  SELECT gid || '_p' || (nv + 1) || '_content_' || i AS chunk_id,
        |         CAST(gid AS BIGINT) AS granth_id,
        |         'prose_' || (nv + 1) || '_content_' || i AS paragraph_id,
        |         CAST(90 + gid % 7 AS INT) AS page_number,
        |         'main' AS prose_content_type,
        |         CAST(nv + 1 AS INT) AS prose_seq_num,
        |         'Prastavana ' || gid AS prose_heading,
        |         'adhikar' || (nv % 2) AS adhikar,
        |         'prose text ' || gid || '-' || (i + 1) AS content
        |  FROM main
        |  UNION ALL
        |  SELECT gid || '_p' || (nv + 1) || '_sub' || (nv + 2) || '_content_' || i,
        |         CAST(gid AS BIGINT),
        |         'prose_' || (nv + 2) || '_content_' || i,
        |         CAST(90 + gid % 7 AS INT),
        |         'subsection',
        |         CAST(nv + 2 AS INT),
        |         'Upodghat ' || gid,
        |         'adhikar' || (nv % 2),
        |         'sub text ' || gid || '-' || (i + 1)
        |  FROM subs)
        |SELECT * FROM rows_ ORDER BY chunk_id""".stripMargin,
    "granth_date_facet" ->
      """WITH g AS (SELECT unnest(range(0, 50)) AS gid)
        |SELECT DISTINCT 'author' || (gid % 3) AS author,
        |       lpad(CAST(2000 + gid % 5 AS VARCHAR), 4, '0') || '-01-01..' ||
        |       lpad(CAST(2000 + gid % 5 AS VARCHAR), 4, '0') || '-12-31' AS date_range
        |FROM g ORDER BY author, date_range""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(doc_id % 1920 + 16 AS BIGINT) AS width,
        |       CAST(doc_id % 1080 + 16 AS BIGINT) AS height,
        |       CASE doc_id % 3 WHEN 0 THEN 'rgb8' WHEN 1 THEN 'gray8' ELSE 'rgba8' END AS format,
        |       CAST(64 AS BIGINT) AS payload_bytes
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
