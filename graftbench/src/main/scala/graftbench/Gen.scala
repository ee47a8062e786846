package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.corpus.{WebDoc, Webtext}
import graft.query.QuerySpec

/** One request of the query stream. `shape` is the stream's own label
  * (and / any / phrase); `typo` marks a misspelled request; `filtered`
  * marks requests that carry a filter.
  */
case class Req(id: Int, spec: QuerySpec, shape: String, typo: Boolean) {
  def filtered: Boolean = spec.metaFilters.nonEmpty || spec.yearRange.nonEmpty ||
    spec.dateRange.nonEmpty
  def kernelShape: String = if (filtered) "filtered" else shape
}

/** Every input the benchmark hands the program comes from here, as a pure
  * function of the workload seed: the corpus (`Webtext.genDoc(seed, i)`),
  * the query stream and the update batches. Nothing reads a clock or a
  * shared RNG, so one seed gives byte-identical inputs on every run.
  */
object Gen {
  private val StreamSalt = 0x5173A11L
  private val BatchSalt = 0xBA7C4L

  /** The corpus language mix of `Webtext.langOf`: hi 5/10, gu 4/10, en 1/10. */
  def langFor(slot: Int): String = if (slot < 10) "hi" else if (slot < 18) "gu" else "en"

  /** A corpus doc id in [0, nDocs) whose language is `lang` (ids carry their
    * language in `id mod 10`, see `Webtext.langOf`).
    */
  def docOfLang(lang: String, nDocs: Long, h: Long): Long = {
    val (lo, width) = lang match { case "hi" => (0L, 5L); case "gu" => (5L, 4L); case _ => (9L, 1L) }
    val tens = math.max(1L, nDocs / 10)
    val id = Math.floorMod(h, tens) * 10 + lo + Math.floorMod(h >>> 17, width)
    math.min(id, nDocs - 1)
  }

  /** Words of a doc's text as a user would type them (no sentence marks). */
  def words(text: String): Array[String] =
    text.split("\\s+").map(_.stripSuffix(".")).filter(w => w.nonEmpty && w != "।")

  /** The stream is made of blocks of 20 requests; within a block every
    * request takes one slot of a seeded permutation, so each block has the
    * same mix of languages, shapes, term counts, filters, exclusions and
    * typos. Per block: the corpus language mix (10 hi, 8 gu, 2 en);
    * 10 AND, 6 ANY, 4 phrase, each with 1–4 terms; 5 filtered (2 category,
    * 2 date range, 1 year range); 2 exclusions; 3 misspelled.
    */
  val Block = 20
  private val Slots: IndexedSeq[(String, Int)] =
    (0 until 10).map(k => ("and", 1 + k % 4)) ++ (0 until 6).map(k => ("any", 1 + k % 4)) ++
      (0 until 4).map(k => ("phrase", 1 + k % 4))

  private def slot(seed: Long, i: Int, salt: Long): Int = {
    val block = (i / Block).toLong
    (0 until Block).sortBy(k => Webtext.mix(seed, salt, block, k.toLong)).apply(i % Block)
  }

  /** Request `i` of the stream for `seed` over an `nDocs` corpus. Every
    * request is written from one corpus doc in its language, as a user
    * searches for words that occur together: its terms are words of that
    * doc, its filters hold for that doc and its exclusion is a word the doc
    * lacks, so it matches at least that doc. Only the misspelled requests
    * have no hits, which fixes the zero-hit share at one request per block.
    */
  def request(seed: Long, nDocs: Long, i: Int): Req = {
    def h(k: Long): Long = Webtext.mix(seed, StreamSalt, i.toLong, k)
    def un(k: Long): Double = Webtext.toUnit(h(k))
    val lang = langFor(slot(seed, i, StreamSalt + 4))
    val (shape, nTerms) = Slots(slot(seed, i, StreamSalt + 1))
    val filterSlot = slot(seed, i, StreamSalt + 2)
    val doc = sourceDoc(seed, nDocs, lang, h(4), dated = filterSlot == 2 || filterSlot == 3)
    val ws = words(doc.text)
    val query = if (shape == "phrase") {
      val len = math.max(2, nTerms)
      val at = Math.floorMod(h(5), math.max(1, ws.length - len).toLong).toInt
      ws.slice(at, at + len).mkString(" ")
    } else {
      // the doc's words ordered from corpus-frequent to rare; the k-th
      // term's place in that order is stratified over the block (one draw
      // in each 1/20 band), so every block spans head terms (long
      // postings, where WAND pruning matters) to tail terms (fixed
      // per-query costs) alike
      val byRank = ws.distinct.sortBy(w => (rank(lang, w), w))
      (0 until nTerms).map { k =>
        val u = (slot(seed, i, StreamSalt + 10 + k) + un(10L + k)) / Block
        byRank(math.min((u * byRank.length).toInt, byRank.length - 1))
      }.distinct.mkString(" ")
    }
    // a misspelled request has every word mistyped, so it has no hits and
    // takes the suggest path
    val typo = slot(seed, i, StreamSalt + 5) < 3
    val typed = if (typo) query.split(" ").map(misspell).mkString(" ") else query
    var spec = QuerySpec(lang, typed, mode = if (shape == "any") "any" else "all",
      phrase = shape == "phrase")
    spec = filterSlot match {
      case 0 | 1 => spec.copy(metaFilters = Map("category" -> Seq(doc.meta("category"))))
      case 2 | 3 =>
        val y0 = doc.meta.getOrElse("date", doc.meta("series_start_date")).take(4).toInt
        spec.copy(dateRange = Some((Some(y0), Some(y0 + Math.floorMod(h(20), 2L).toInt))))
      case 4 =>
        val y = doc.warc_ts.toLocalDateTime.getYear
        spec.copy(yearRange = Some((y, y)))
      case _ => spec
    }
    if (slot(seed, i, StreamSalt + 3) < 2) {
      val inDoc = ws.toSet
      val ex = Iterator.from(0).map(k => Webtext.word(lang, Webtext.zipfRank(Webtext.toUnit(h(22L + k)) * 0.6)))
        .find(w => !inDoc(w)).get
      spec = spec.copy(excludeWords = Seq(ex))
    }
    Req(i, spec, shape, typo)
  }

  /** The doc a request is written from; with `dated`, the first of the doc
    * and the docs 10, 20, … ids on (same language) that carries a bookmark
    * date or a series range, which every third id does.
    */
  private def sourceDoc(seed: Long, nDocs: Long, lang: String, h: Long, dated: Boolean): WebDoc = {
    var id = docOfLang(lang, nDocs, h)
    var d = Webtext.genDoc(seed, id)
    while (dated && !d.meta.contains("date") && !d.meta.contains("series_start_date")) {
      id = if (id + 10 < nDocs) id + 10 else Math.floorMod(id, 10L)
      d = Webtext.genDoc(seed, id)
    }
    d
  }

  /** Corpus frequency rank of a vocabulary word (0 = most frequent); words
    * outside the Zipf vocabulary (the corpus's planted head terms and
    * phrases) rank first.
    */
  private def rank(lang: String, w: String): Int = ranks(lang).getOrElse(w, 0)

  private lazy val ranks: Map[String, Map[String, Int]] = Seq("hi", "gu", "en").map { l =>
    l -> (Webtext.VocabSize - 1 to 0 by -1).map(v => Webtext.word(l, v) -> v).toMap
  }.toMap

  /** A typo: the two letters around the middle of the word swapped (one
    * edit, as a suggester expects), or the last letter doubled when they
    * are equal.
    */
  def misspell(w: String): String = {
    val m = w.length / 2
    if (w.length < 2) w + w
    else if (w(m - 1) != w(m)) w.substring(0, m - 1) + w(m) + w(m - 1) + w.substring(m + 1)
    else w + w.last
  }

  def stream(seed: Long, nDocs: Long, count: Int): IndexedSeq[Req] =
    (0 until count).map(request(seed, nDocs, _))

  /** The corpus as the program's input table (html dropped: the build reads
    * text), written once as parquet so the timed build reads a table.
    */
  def writeCorpus(spark: SparkSession, seed: Long, nDocs: Long, dir: String): Unit =
    Webtext.synthesize(spark, nDocs, seed, partitions = 4).toDF().drop("html")
      .write.parquet(dir)

  /** Update batch `b`: `size` docs, half new ids past the corpus, half
    * replacements of existing ids drawn uniformly over the corpus (so they
    * spread over every chunk, as real arrivals do). A replacement keeps its
    * id and gets new text from a batch-specific seed.
    */
  def batchDocs(seed: Long, nDocs: Long, b: Int, size: Int): Seq[WebDoc] = {
    val fresh = (0 until size / 2).map(k => nDocs + b.toLong * size + k)
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    var k = 0
    while (seen.size < size - fresh.size) {
      seen += Math.floorMod(Webtext.mix(seed, BatchSalt, b.toLong, k.toLong), nDocs)
      k += 1
    }
    val textSeed = Webtext.mix(seed, BatchSalt, b.toLong, -1L)
    (fresh ++ seen).map(id => Webtext.genDoc(textSeed, id))
  }

  def batchFrame(spark: SparkSession, docs: Seq[WebDoc]): DataFrame = {
    import spark.implicits._
    docs.toDS().toDF().drop("html")
  }

  /** The request as POST /api/search sends it. The HTTP surface has no ANY
    * mode and no warc-year filter, so those parts of a stream request are
    * not sent; `httpSpecs` gives the two queries the handler then runs.
    */
  def httpBody(q: QuerySpec): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val fields = List[(String, JValue)](
      "query" -> JString(q.query),
      "language" -> JString(q.lang),
      "exact_match" -> JBool(q.phrase),
      "exclude_words" -> JArray(q.excludeWords.map(JString(_)).toList)) ++
      q.metaFilters.get("category").map(vs =>
        "categories" -> JObject("category" -> JArray(vs.map(JString(_)).toList))).toList ++
      q.dateRange.toList.flatMap { case (s, e) =>
        s.map(y => "start_year" -> JInt(y)).toList ++ e.map(y => "end_year" -> JInt(y)).toList
      }
    compact(render(JObject(fields)))
  }

  /** A stream request as the HTTP front runs it: no ANY mode (so an ANY
    * request runs as AND) and no warc-year filter.
    */
  def viaHttp(q: Req): Req =
    q.copy(spec = q.spec.copy(mode = "all", yearRange = None),
      shape = if (q.shape == "any") "and" else q.shape)

  /** The (Pravachan, Granth) queries the HTTP handler runs for `q`. */
  def httpSpecs(q: QuerySpec): Seq[QuerySpec] = Seq("Pravachan", "Granth").map { name =>
    QuerySpec(q.lang, q.query, phrase = q.phrase, excludeWords = q.excludeWords,
      metaFilters = Map("category" -> q.metaFilters.getOrElse("category", Seq(name))),
      dateRange = q.dateRange)
  }
}
