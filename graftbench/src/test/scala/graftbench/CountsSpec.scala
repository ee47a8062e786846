package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.query.{IndexHandle, InMemoryIndex, ReloadingNode}

/** The counts a traced run reports as exact must repeat exactly for one
  * seed: Spark jobs, stages and shuffle bytes of a build and of a mutation,
  * chunks rewritten, index bytes, resident bytes and the stream's properties.
  */
class CountsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def counts(seed: Long, work: String): Map[String, Double] = {
    graft.tools.CpuProbe.rmDir(work)
    val r = new Run(spark, work, seed, 1, traced = true, s"$work/spans.jsonl", docs = 300)
    val corpus = Steps.corpus(r, "corpus")
    val (_, build, _) = Steps.build(r, corpus, "index", 2)
    val idxDir = r.dir("index")
    val parquetBytes = Steps.files(idxDir).collect { case (p, n) if p.endsWith(".parquet") => n }.sum
    val node = new ReloadingNode(idxDir, Steps.loader(r, idxDir), pollMs = Long.MaxValue)
    val built = node.current
    Layers.streamProps(r, built, Gen.stream(seed, 300, 100),
      InMemoryIndex.loadGlobalDf(spark, IndexHandle.load(idxDir)), Seq(_))
    val batch = Steps.mutate(r, idxDir, node, 0)
    val mem = node.current
    assert(r.failed.get == 0, r.problemLines.mkString("; "))
    Map("build.jobs" -> build.jobs.toDouble, "build.stages" -> build.stages.toDouble,
      "build.shuffle_write" -> build.shuffleWrite.toDouble,
      "build.shuffle_read" -> build.shuffleRead.toDouble,
      "index.parquet_bytes" -> parquetBytes.toDouble,
      "mutation.jobs" -> batch.jobs, "mutation.chunks" -> batch.rewritten,
      "resident_bytes" -> mem.loadedBytes.toDouble) ++
      r.metrics.filter(_._1.startsWith("stream."))
  }

  test("traced counts repeat exactly with one seed") {
    val base = new java.io.File("target/counts-spec").getAbsolutePath
    val a = counts(5L, s"$base/a")
    val b = counts(5L, s"$base/b")
    assert(a == b)
    assert(a("build.jobs") > 0 && a("mutation.chunks") > 0 && a("stream.distinct_terms") > 0)
    // every request is written from a corpus doc; only the misspelled ones miss
    assert(a("stream.zero_hit_share") == Gen.stream(5L, 300, 100).count(_.typo) / 100.0)
  }
}
