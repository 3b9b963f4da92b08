package graft.functions

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.ColumnarRule
import org.apache.spark.sql.internal.StaticSQLConf

/** SparkSessionExtensions entry point: registers the engine's custom
  * codegen'd expressions as SQL functions, so `spark.sql` users get the
  * same kernels the DataFrame operators use:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * ...
  * spark.sql("SELECT vec_dot(a.emb, b.emb) FROM ...")
  * }}}
  *
  * Registered: `hash_shingles(words, n)` (sorted distinct n-gram hashes),
  * `word_hashes(words)` (in-order multiset hashes), `minhash_sig(shingles,
  * k)` (k-permutation signature, fixed seed), `sorted_intersect_count(a,
  * b)`, `simhash64(hashes)`, `vec_dot(a, b)`, `vec_l2norm(a)`,
  * `normalize_text(s)` (single-pass lowercase/strip/collapse/trim).
  *
  * Also injects the engine's optimizer rules:
  * [[graft.plans.EditDistanceBandRule]] — ANY bounded-levenshtein
  * Filter (SQL or DataFrame) gains the free O(1) length-band prefilter
  * ahead of the O(|a|·|b|) dynamic program. The rule is idempotent, so
  * sessions that ALSO register it via `experimental.extraOptimizations`
  * (the live-session fallback `ext.Fuzzy` uses) are unaffected.
  *
  * And one physical-plan rule, through `injectColumnar`'s
  * pre-transition hook (plain and adaptive execution alike, before
  * whole-stage codegen): [[graft.plans.HoistLiterals]] — primitive
  * constants in filters and projections reach generated code through
  * its references array, so statements that differ only in a key or
  * bound reuse one compiled class. So that those classes stay cached,
  * the JVM's generated-class cache holds 400 entries instead of Spark's
  * 100, unless the application sets `spark.sql.codegen.cache.maxEntries`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Generated-class cache size: four times one llamadb session's
    * working set, so no LRU segment overflows. */
  private val CodegenCacheEntries = 400

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // HoistLiterals only pays if the compiled classes stay cached. Spark's
    // class cache (one per JVM, sized by the first session) defaults to 100
    // entries in 4 LRU segments, and in local mode every shape takes two
    // (driver and executor class loaders): a 107-statement llamadb session
    // compiles ~110 distinct classes, so a segment that ends up over-full
    // evicts classes the next statement needs, and each one recompiles. Spark applies
    // extensions before it builds the session's SQL conf, so the size
    // reaches it; a value the application sets itself is kept.
    Option(SparkEnv.get).foreach(_.conf.setIfMissing(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString))
    ext.injectOptimizerRule(_ => graft.plans.EditDistanceBandRule)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions = graft.plans.HoistLiterals
    })
    ext.injectFunction((FunctionIdentifier("hash_shingles"),
      info("hash_shingles",
        "hash_shingles(words, n) - sorted distinct xxhash64 n-gram shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hash_shingles(words, n)")
        HashShingles(args.head, intArg(args(1), "n"), dedupe = true)
      }))
    ext.injectFunction((FunctionIdentifier("string_ngrams"),
      info("string_ngrams",
        "string_ngrams(words, n) - word n-gram strings, document order"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "string_ngrams(words, n)")
        StringNGrams(args.head, intArg(args(1), "n"))
      }))
    ext.injectFunction((FunctionIdentifier("word_hashes"),
      info("word_hashes",
        "word_hashes(words) - per-word xxhash64, in order, duplicates kept"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "word_hashes(words)")
        HashShingles(args.head, 1, dedupe = false)
      }))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(shingles, k) - k-permutation minhash signature"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sig(shingles, k)")
        val k = intArg(args(1), "k")
        val rnd = new scala.util.Random(42)
        val perms = Seq.fill(k)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong,
                                rnd.nextInt(Int.MaxValue).toLong)
        MinHashSig(args.head, perms.map(_._1), perms.map(_._2))
      }))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - |A ∩ B| of two sorted bigint arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_count(a, b)")
        SortedIntersectCount(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(hashes) - 64-bit simhash of token hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(hashes)")
        SimHash64(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - double dot product of two vectors"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot(a, b)")
        VectorOps.DotProduct(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("vec_l2norm"),
      info("vec_l2norm", "vec_l2norm(a) - L2-normalized double copy"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "vec_l2norm(a)")
        VectorOps.L2Normalize(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("normalize_text"),
      info("normalize_text",
        "normalize_text(s) - lowercase, non-alnum → space, collapse, trim"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "normalize_text(s)")
        NormalizeText.Normalize(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("cdc_boundaries"),
      info("cdc_boundaries",
        "cdc_boundaries(s, w, divisor) - content-defined chunk cut points " +
          "(rolling Karp-Rabin hash, 1-based end positions)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "cdc_boundaries(s, w, divisor)")
        CdcBoundaries(args.head, intArg(args(1), "w"),
                      intArg(args(2), "divisor"))
      }))
  }
}
