package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.expressions.{CosineSim, HammingDist, JaccardSim, JaroWinkler, MinhashSig, OverlapSim, SimHashBits, Tokenize, WinnowFingerprints, WordShingles, ZOrderKey}

/** The engine's one table of native SQL functions, optimizer rules and
  * planner strategies, as a `spark.sql.extensions` entry point:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * [[GraftExtensions.session]] builds every graft session with it, and
  * [[GraftExtensions.ensure]] installs the same table into a session
  * built without it. Extension-injected functions and rules are part of
  * the session from construction: present in every derived session and
  * usable from pure-SQL tooling that never touches Scala.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  override def apply(ext: SparkSessionExtensions): Unit = {
    // O(n·k) banded rewrite of levenshtein-threshold predicates
    ext.injectOptimizerRule(_ => graft.plans.BoundLevenshteinRule)
    // whole-operator extension: as-of join logical node → merge exec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // whole-operator extension: cosine-threshold join — naive
    // cosine_sim(a,b) >= t join conditions rewrite to the dedicated
    // node; the strategy picks broadcast-gate vs banded LSH by stats
    ext.injectOptimizerRule(_ => graft.plans.SimilarityJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.SimilarityJoinStrategy)
    // whole-operator extension: jaccard-threshold join — naive
    // jaccard_sim(a,b,n) >= t join conditions rewrite to the exact
    // shingle inverted-index join (no broadcast gate needed: the
    // inverted index is exact at any size)
    ext.injectOptimizerRule(_ => graft.plans.JaccardJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.JaccardJoinStrategy)
    // whole-operator extension: edit-distance-threshold join — naive
    // levenshtein(a,b) <= k join conditions (or the banded form the
    // BoundLevenshteinRule above produces) rewrite to the exact
    // segment-pigeonhole join; composes with that rule in any order
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.LevenshteinJoinStrategy)
    ext.injectFunction((FunctionIdentifier("tokenize"),
      info("tokenize", "tokenize(text) - lowercased whitespace tokens"),
      exprs => Tokenize(exprs.head)))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - distinct word n-grams"),
      exprs => WordShingles(exprs.head, intArg(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, k) - portable MinHash signature"),
      exprs => MinhashSig(exprs.head, intArg(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("simhash_bits"),
      info("simhash_bits", "simhash_bits(tokens) - 64-bit SimHash bit string"),
      exprs => SimHashBits(exprs.head)))
    ext.injectFunction((FunctionIdentifier("hamming_dist"),
      info("hamming_dist", "hamming_dist(a, b) - codepoint Hamming distance"),
      exprs => HammingDist(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine of two double arrays"),
      exprs => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("jaccard_sim"),
      info("jaccard_sim",
        "jaccard_sim(a, b[, n]) - word-n-gram jaccard of two texts (n defaults to 3)"),
      exprs => JaccardSim(exprs.head, exprs(1),
        if (exprs.length > 2) intArg(exprs(2)) else 3)))
    ext.injectFunction((FunctionIdentifier("overlap_sim"),
      info("overlap_sim",
        "overlap_sim(a, b[, n]) - word-n-gram containment of two texts (n defaults to 3)"),
      exprs => OverlapSim(exprs.head, exprs(1),
        if (exprs.length > 2) intArg(exprs(2)) else 3)))
    ext.injectFunction((FunctionIdentifier("zorder_key"),
      info("zorder_key",
        "zorder_key(a, b) - Morton interleave of two bigints' low 16 bits"),
      exprs => ZOrderKey(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-parity)"),
      exprs => JaroWinkler(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text, w, t) - winnowed rolling-hash sketch"),
      exprs => WinnowFingerprints(exprs.head,
        intArg(exprs(1)), intArg(exprs(2)))))
  }
}

object GraftExtensions {

  /** The table above, applied once to a detached extensions object so
    * that [[ensure]] reads back the very rules and functions the
    * extension injects: nothing is listed twice. */
  private val table: SparkSessionExtensions = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    ext
  }

  /** The one graft session factory: `master`, `shufflePartitions`
    * shuffle partitions, the UTC session time zone, no UI, WARN logging,
    * and [[GraftExtensions]] injected. `confs` are the few settings a
    * caller really needs on top (a cluster master, AQE off, a warehouse
    * dir); they win over the defaults. Returns the active session when
    * one exists, as `getOrCreate` does. */
  def session(master: String, shufflePartitions: Int,
      confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    val s = confs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Installs the graft table into `spark` if it lacks it, so a session
    * built without the extension (a caller's own `SparkSession.builder`)
    * plans every catalog query under the same rules as one built by
    * [[session]]. Idempotent, and safe under concurrent callers on one
    * session (the install is serialized per session). A session built
    * with the extension already has the table and gets nothing.
    *
    * Placement: a foreign session gets the rules in
    * `experimental.extraOptimizations`, Spark's final "User Provided
    * Optimizers" batch, and the strategies in
    * `experimental.extraStrategies`; the extension puts its rules in the
    * operator-optimization batch. Both plan the catalog to the same
    * graft exec nodes (`SessionIsolationSpec`). Derived sessions keep
    * the install only through `cloneSession`. */
  def ensure(spark: SparkSession): Unit = PlanBridge.install(spark, table)
}
