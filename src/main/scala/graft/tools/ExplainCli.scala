package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan inspection: prints the formatted physical plans of the hot read paths
  * so pushdown/pruning regressions are visible (PushedFilters + ReadSchema).
  */
object ExplainCli {
  def main(args: Array[String]): Unit = {
    val idxDir = args.headOption.getOrElse("/tmp/gidx")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    println("=== postings read for a query (expect PushedFilters on lang/term, pruned ReadSchema without posBlob) ===")
    spark.read.parquet(s"$idxDir/segments")
      .where(col("lang") === "hi" && col("term").isin("a", "b"))
      .select("chunk", "term", "df", "blob")
      .explain("formatted")

    println("=== docstore payload fetch (expect PushedFilters on docId, no text-wide scan columns beyond selection) ===")
    spark.read.parquet(s"$idxDir/docstore")
      .where(col("docId").isin(1L, 2L, 3L))
      .select("docId", "url", "lang", "text")
      .explain("formatted")

    import graft.query.{Bm25Query, IndexHandle, QuerySpec}
    val idx = IndexHandle.load(idxDir)
    println("=== suggest dictionary source (expect a TERMDICT scan — no segments " +
      "aggregation — with lang pushdown, ReadSchema only term/df) ===")
    Bm25Query.termDictDf(spark, idx, "hi").explain("formatted")

    println("=== distributed BATCHED suggest plan — reference plan; no " +
      "serving path runs it (suggest reads the termdict on the driver, no " +
      "job) (ONE job for a multi-term query: termdict scan with an OR of pushable StartsWith filters → " +
      "explode vs same-first-char query terms → levenshtein prefilter → " +
      "OSA UDF + max_edits cap → per-term window top-n; expect StartsWith " +
      "in PushedFilters) ===")
    // THE reference plan, not a rebuilt copy: suggestPlan is what
    // RankParitySpec compares suggest() against, so this inspection can
    // never desync from it (a hand-copied plan here once drifted past the
    // max_edits-cap change)
    Bm25Query.suggestPlan(spark, idx, "hi", Seq("abc", "def"),
      size = 5, minScore = 0.6).explain("formatted")

    println("=== index-backed distributed FULL scoring (matchedDocsDf — hybrid_rank's " +
      "lexical side; expect pruned segments scan → one exchange, grouped by chunk → per-chunk " +
      "kernel, no aggregate, no join, no collect) ===")
    Bm25Query.matchedDocsDf(spark, idx, QuerySpec("hi", "a b", mode = "any")).explain("formatted")

    println("=== cross-doc line dedup (expect explode → partial+final hash agg on " +
      "the 64-bit norm_hash → equi-join back → one doc_id agg; no collect, no " +
      "cartesian) ===")
    import spark.implicits._
    val docsDf = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    graft.ops.Hygiene.lineDedup(docsDf, minDocs = 2).explain("formatted")

    println("=== n-gram repetition (expect ONE explode of built-in " +
      "transform/sequence — no UDF — then two doc-keyed hash aggregates with " +
      "map-side partial agg) ===")
    graft.ops.Hygiene.ngramRepetition(docsDf, n = 3).explain("formatted")
    spark.stop()
  }
}
