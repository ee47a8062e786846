package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, explode, udf}
import org.apache.spark.sql.types.StringType

import graft.functions.GraftFunctions
import graft.index.{IndexBuild, PostingListReader, TableIO}

/** Optimizer rule: index-substitution for declarative text-match predicates
  * (SURVEY §7's declared stretch — the same pattern as OSS Hyperspace's
  * rule-based index access path).
  *
  * A user who writes the predicate the reference's query DSL means —
  *
  * {{{ docstore.where(array_contains(analyze_terms($"text", $"lang"), "term")) }}}
  *
  * — has declared a full-corpus scan that re-analyzes every document per
  * query: at web scale that is a read of every text byte to answer a
  * question the inverted index already answers from one posting list. This
  * rule rewrites the predicate into a LEFT SEMI join against the index's
  * own `segments` table, filtered to the term's (bucket, term) key — both
  * reach the parquet scan as PushedFilters, so the posting lookup reads a
  * handful of row groups, not the corpus. Cost becomes O(|posting list|),
  * the same access path [[graft.query.Bm25Query]] uses, but reached from
  * plain declarative SQL with no engine API in sight.
  *
  * Exactness (why the rewrite needs no term analysis): postings for
  * `(lang=l, term=t)` contain exactly the docs of language `l` whose
  * `Analyzer.terms(text, l)` emits `t` — the same function the predicate
  * applies, with the SAME per-document lang argument. The union over all
  * langs of postings(t) therefore equals the predicate's satisfying set for
  * ANY literal, analyzable or not (a term the analyzer can never emit
  * simply has no segments row, and the semi join correctly returns
  * nothing). NULL text analyzes to an EMPTY array — the ScalaUDF does not
  * null-propagate String inputs; `Analyzer.terms` returns empty on null —
  * so array_contains yields FALSE and the Filter drops the row; an
  * unanalyzable doc is in no posting list, so the semi join drops it too.
  *
  * The rewrite fires only when ALL of these hold (else the Filter is left
  * untouched — a full scan is always correct, just slow):
  *  - the scan is a single-root parquet read of `<dir>/docstore` whose
  *    sibling index is servable: `segments` + `stats.json` exist (the same
  *    finalize gate serving keys on) and no mutation journal is pending (a
  *    mid-rewrite docstore/segments pair may disagree; the scan and the
  *    lookup must describe the same snapshot). This gate runs at PLANNING
  *    time — a mutation that starts during execution races the rewritten
  *    plan's two table reads, just as it races any un-rewritten Spark query
  *    over files being overwritten. The journal gate makes the common case
  *    (query planned against a quiescent index) safe; concurrent
  *    mutate-while-querying belongs on the serving path, whose resident
  *    snapshots are immutable by construction;
  *  - the predicate conjunct is `array_contains(analyze_terms(text, lang),
  *    <non-null string literal>)` — or a pure disjunction of such leaves
  *    (any-term match), which becomes ONE semi join against the term SET's
  *    postings — where `text`/`lang` are the scanned relation's OWN columns
  *    (matched by exprId, so an aliased or derived column never silently
  *    changes semantics). A literal lang is NOT rewritten: `analyze(text,
  *    'en') contains t` over a hi document is not what the (lang-keyed)
  *    index stores;
  *  - the filter child still exposes the relation's `docId` (the join key).
  *
  * Remaining conjuncts stay in a residual Filter above the semi join, where
  * the ordinary pushdown rules keep optimizing them (the rule runs inside
  * the operator-optimization fixed point, so the plan it emits is itself
  * re-optimized).
  *
  * A negated leaf (`NOT array_contains(...)` — the DSL's must_not) stays
  * residual BY DESIGN, not omission. Under the verified empty-array-on-NULL
  * semantics above, a LEFT ANTI rewrite would TODAY agree with the Filter
  * even for NULL text (both keep the row) — but that agreement hangs on the
  * UDF never emitting NULL, a property nothing type-checks: a future
  * null-propagating analyzer signature silently flips `NOT <NULL>` from
  * keep to drop and the anti join diverges. The positive rewrite has no
  * such dependence (FALSE and NULL both drop). And the realistic case
  * gains nothing from the risk: the reference DSL only issues must_not
  * alongside positive terms, and once the positive conjunct becomes a semi
  * join the NOT residual re-analyzes only the O(|posting list|) survivors,
  * not the corpus.
  *
  * Idempotent by construction: the rewrite consumes the ArrayContains
  * conjunct, so a fixed-point re-run finds nothing to match.
  */
object IndexAccessRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Decode one posting blob to its docIds. A plain deterministic udf, not a
    * codegen Expression: it runs once per matched (chunk, term) segment row
    * — a handful of rows per query — never per document.
    */
  private val decodeDocIds = udf((blob: Array[Byte]) =>
    PostingListReader.docIds(blob).toSeq)

  /** The analyzer lambda as stored inside every ScalaUDF built from
    * [[GraftFunctions.analyze_terms]] — reference identity is the precise
    * "this is OUR analyzer" test; the registered-name check covers plans
    * that came in as SQL text through [[GraftFunctions.registerAll]].
    */
  private def isAnalyzeTerms(u: ScalaUDF): Boolean =
    (u.function.asInstanceOf[AnyRef] eq GraftFunctions.analyzeTermsFn) ||
      u.udfName.contains("analyze_terms")

  private case class Rewrite(text: AttributeReference, lang: AttributeReference,
      term: String)

  private def matchLeaf(e: Expression): Option[Rewrite] = e match {
    case ArrayContains(u: ScalaUDF, l @ Literal(_, StringType))
        if isAnalyzeTerms(u) && l.value != null =>
      u.children match {
        case Seq(text: AttributeReference, lang: AttributeReference) =>
          Some(Rewrite(text, lang, l.value.toString))
        case _ => None
      }
    case _ => None
  }

  /** A whole conjunct is rewritable when EVERY disjunct under it is an
    * eligible match leaf: `ac(t1) OR ac(t2)` ⟺ docId ∈ postings(t1) ∪
    * postings(t2) — a doc satisfying any disjunct is in that term's
    * postings, and a doc whose text/lang analyze to NULL satisfies none AND
    * is in none. A mixed disjunction (one leaf not ours) stays a residual
    * predicate untouched.
    */
  private def matchConjunct(e: Expression): Option[Seq[Rewrite]] = {
    val leaves = splitDisjunctivePredicates(e).map(matchLeaf)
    if (leaves.nonEmpty && leaves.forall(_.isDefined)) Some(leaves.flatten)
    else None
  }

  /** The scanned docstore's index dir, iff the sibling index is servable and
    * quiescent. Cheap: three existence probes + one tiny journal read, per
    * PLANNING of an eligible query — never per row.
    */
  private def eligibleIndexDir(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 &&
          fs.location.rootPaths.head.getName == "docstore" =>
        Option(fs.location.rootPaths.head.getParent).map(_.toString).filter { dir =>
          TableIO.exists(s"$dir/segments") && TableIO.exists(s"$dir/stats.json") &&
            IndexBuild.pendingMutation(dir).isEmpty
        }
      case _ => None
    }

  /** Analyzed (sub)plan producing the docIds of the term set's postings: a
    * (bucket, term)-filtered segments scan — Filter directly over the
    * relation, so FileSourceStrategy pushes both In-set filters to the
    * parquet reader — exploded through the blob decoder. The bucket×term
    * rectangle is a superset of the wanted rows (each term's rows live only
    * in its own bucket), so it prunes without narrowing. Chunks are unioned
    * by construction (one segments row per (chunk, lang, term)); doc sets
    * across chunks are disjoint, so no dedup is needed under a semi join.
    */
  private def postingsPlan(spark: SparkSession, dir: String, terms: Seq[String]): LogicalPlan = {
    // bucketOf, not an inlined formula: ANDed with the term filter, a
    // diverged bucket scheme would silently return EMPTY postings
    val buckets = terms.map(graft.query.InMemoryIndex.bucketOf).distinct
    spark.read.parquet(s"$dir/segments")
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(explode(decodeDocIds(col("blob"))).as("graft_posting_docid"))
      .queryExecution.analyzed
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // the PURE, allocation-cheap match runs first and the filesystem probes
    // (eligibleIndexDir: exists() calls + a journal read) run last: with the
    // rule installed session-wide, EVERY Filter over a docstore-rooted scan
    // — including the serving path's own per-query payload fetches, which
    // never carry an analyze_terms conjunct — hits this case on each
    // optimizer fixed-point iteration, and on object-store-backed indexes
    // each probe is a network round trip. A plan with nothing to rewrite
    // must cost zero I/O.
    case f @ Filter(cond, child)
        // cond.deterministic: the rewrite hoists the matched conjunct into
        // a semi join BELOW the residual Filter, i.e. reorders evaluation.
        // For deterministic residuals that is invisible; a nondeterministic
        // residual (rand() sampling next to a term match) would draw on
        // join survivors instead of every scanned row and return a
        // different doc set than the un-rewritten plan — the same guard
        // Spark's own PushDownPredicates applies before moving a predicate
        if cond.deterministic &&
          cond.exists { case ac: ArrayContains => matchLeaf(ac).isDefined
                        case _ => false } =>
      val rels = child.collectLeaves().collect { case lr: LogicalRelation => lr }
      val rewrite = for {
        rel <- if (rels.size == 1) Some(rels.head) else None
        textAttr <- rel.output.find(_.name == "text")
        langAttr <- rel.output.find(_.name == "lang")
        docIdAttr <- rel.output.find(_.name == "docId")
        if child.outputSet.contains(docIdAttr)
      } yield (rel, textAttr.exprId, langAttr.exprId, docIdAttr)
      rewrite match {
        case None => f
        case Some((rel, textId, langId, docIdAttr)) =>
          // matched once per conjunct — the partition predicate and the
          // rewrite fold must see the SAME Seq[Rewrite]
          val matched = splitConjunctivePredicates(cond).map { c =>
            c -> matchConjunct(c).filter(_.forall(r =>
              r.text.exprId == textId && r.lang.exprId == langId))
          }
          val hits = matched.collect { case (_, Some(rs)) => rs }
          val residual = matched.collect { case (c, None) => c }
          // FS eligibility is checked only once at least one conjunct
          // matched structurally — the common no-match query never probes
          lazy val dirOpt = eligibleIndexDir(rel)
          if (hits.isEmpty || dirOpt.isEmpty) f
          else {
            val dir = dirOpt.get
            val spark = SparkSession.active
            // one semi join per conjunct; an OR-conjunct becomes ONE scan
            // over its term set (docId ∈ union of the postings)
            val joined = hits.foldLeft(child) { (p, rs) =>
              val right = postingsPlan(spark, dir, rs.map(_.term).distinct)
              Join(p, right, LeftSemi,
                Some(EqualTo(docIdAttr, right.output.head)), JoinHint.NONE)
            }
            if (residual.isEmpty) joined else Filter(residual.reduce(And), joined)
          }
      }
  }

  /** Install into a LIVE session (no session rebuild; idempotent). The
    * library-proper path is `spark.sql.extensions=graft.plans.GraftSparkExtensions`
    * at session build — this is the equivalent for sessions the caller
    * doesn't construct.
    *
    * ColumnPruning (+ its Project cleanup pair) is registered BEHIND the
    * rule, not assumed: `extraOptimizations` run in their own batch AFTER
    * the main operator-optimization fixed point, so Spark's own pruning has
    * already run and never sees the rewritten plan. Without a re-prune the
    * docstore scan keeps reading the `text` bytes the rewrite just made
    * unnecessary — the dominant share of corpus bytes and most of the win
    * (measured: the scan drops from every column to the join/projection
    * set once pruning re-runs; IndexAccessRuleSpec's text-pruning case
    * asserts it on the physical plan). The
    * extensions path doesn't need this — `injectOptimizerRule` rules run
    * INSIDE the operator-optimization fixed point, where pruning re-fires
    * on its own.
    */
  private val companionRules: Seq[Rule[LogicalPlan]] = Seq(
    org.apache.spark.sql.catalyst.optimizer.ColumnPruning,
    // PushDownPredicates for the same reason as ColumnPruning: Spark's own
    // filter pushdown has already run before this batch, so a residual
    // conjunct the rewrite leaves above the new semi join (e.g. lang='en')
    // would otherwise stay post-join instead of reaching the docstore scan
    // as a PushedFilter — the extensions path re-fires it on its own
    org.apache.spark.sql.catalyst.optimizer.PushDownPredicates,
    org.apache.spark.sql.catalyst.optimizer.CollapseProject,
    org.apache.spark.sql.catalyst.optimizer.RemoveNoopOperators)

  def install(spark: SparkSession): Unit = synchronized {
    val want: Seq[Rule[LogicalPlan]] = IndexAccessRule +: companionRules
    val have = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      have ++ want.filterNot(r => have.exists(_ eq r))
  }

  def uninstall(spark: SparkSession): Unit = synchronized {
    val ours: Seq[Rule[LogicalPlan]] = IndexAccessRule +: companionRules
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => ours.exists(_ eq r))
  }
}

/** `spark.sql.extensions` entry point: registers [[IndexAccessRule]] into
  * every session built over these extensions. Kept separate from the rule so
  * the class has the zero-arg constructor the extensions loader requires.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => IndexAccessRule)
}
