package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.index.IndexBuild

/** Incremental INDEXING via Structured Streaming — the engine analog of the
  * reference's 6-hourly re-crawl daemon (scripts/discovery_cli.py:141-180:
  * discover changed files → delete their docs → reindex): new/updated
  * webtext rows arrive as a stream; every micro-batch MERGEs into the
  * chunked index through [[IndexBuild.reindexDocs]] (delete-matching +
  * partition overwrite of ONLY the affected chunks, manifest kept
  * consistent), so the index after any number of micro-batches is
  * byte-identical in postings to a fresh build over the merged corpus
  * (gated by IncrementalIndexSpec).
  *
  * Scale: each micro-batch's cost is proportional to the affected chunks,
  * not the index size; checkpointing makes restarts exactly-once per batch
  * (reindexDocs is idempotent for a replayed batch — same docIds, same
  * content → same chunk rewrite).
  */
object IncrementalIndex {

  /** Stream webtext-shaped parquet from `sourceDir` into the index at
    * `outDir`. AvailableNow by default: drain what exists, then stop —
    * the bounded catch-up shape of the reference's periodic crawl.
    */
  /** Batches route by the index's recorded chunking (a streaming writer
    * must never re-chunk an existing index differently from its build).
    *
    * `schema` lets the continuous daemon mode start BEFORE the source has
    * emitted its first file: the default bootstrap infers the schema with a
    * batch read of `sourceDir`, which throws on an empty or not-yet-created
    * directory — the normal initial state of a crawler that hasn't run yet.
    * Pass the corpus schema explicitly in that deployment (file streams
    * require a schema up front; there is nothing to infer from zero files).
    */
  def run(spark: SparkSession, sourceDir: String, outDir: String,
      availableNow: Boolean = true,
      schema: org.apache.spark.sql.types.StructType = null): StreamingQuery = {
    val s =
      if (schema != null) schema
      else try spark.read.parquet(sourceDir).schema // bootstrap from files
      catch {
        case e: org.apache.spark.sql.AnalysisException => throw new IllegalArgumentException(
          s"IncrementalIndex.run: cannot infer the stream schema from '$sourceDir' " +
            "(missing or empty) — pass schema= explicitly to start before the " +
            s"first source file exists (${e.getMessage})")
      }
    val stream = spark.readStream.schema(s).parquet(sourceDir)
    val writer = stream.writeStream
      .option("checkpointLocation", s"$outDir/stream_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) IndexBuild.reindexDocs(spark, outDir, batch)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
