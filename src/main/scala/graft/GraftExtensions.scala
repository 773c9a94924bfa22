package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Cluster-deployable registration of the engine's custom Catalyst
  * expressions: set `spark.sql.extensions=graft.GraftExtensions` (or
  * a session builder's `.withExtensions(new GraftExtensions)`) and every
  * session — including ones the application never touches, e.g. a Thrift
  * server's — resolves them by name in plain SQL:
  *
  *   - `cosine_similarity(a, b)`              — codegen'd float cosine
  *   - `lsh_buckets(emb, planes, bands)`      — banded hyperplane buckets
  *   - `ngram_shingles(tokens, n)`            — distinct word n-grams
  *   - `ngram_hashes(tokens, n)`              — positional portable gram hashes
  *   - `path_under_set(path, array('/a',…))`  — proper-ancestor membership
  *   - `hashed_embedding(tokens, dims)`       — feature-hashed BoW vector
  *   - `misra_gries(col, k)`                  — frequent-items sketch agg
  *
  * [[graft.functions.GraftFunctions.registerAll]] remains the
  * session-scoped alternative (temp functions on an existing session);
  * this class is the injection point Spark itself owns, so registration
  * survives `newSession()` clones and cluster-mode session factories.
  *
  * Plan-shaping parameters (planes/bands/n, the dir set) must be literals:
  * they are baked into the generated code, exactly as with the Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Accept both a folded string-array literal and the pre-folding
    * `array('a','b')` form (function resolution runs before constant
    * folding, so SQL callers hand us `CreateArray` of literals). */
  private def stringSeqLit(e: Expression, what: String): Seq[String] = e match {
    case Literal(data: ArrayData, ArrayType(StringType, _)) =>
      data.toArray[UTF8String](StringType).map(_.toString).toSeq
    case CreateArray(children, _) if children.forall {
        case Literal(_: UTF8String, StringType) => true; case _ => false } =>
      children.map(_.asInstanceOf[Literal].value.asInstanceOf[UTF8String].toString)
    case other => throw new IllegalArgumentException(
      s"$what must be a string-array literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity",
        "cosine_similarity(a, b) - cosine of two float arrays"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets",
        "lsh_buckets(emb, planes, bands) - banded hyperplane LSH bucket ids"),
      (exprs: Seq[Expression]) => LshBuckets(exprs(0),
        intLit(exprs(1), "planes"), intLit(exprs(2), "bands"))))
    ext.injectFunction((
      FunctionIdentifier("ngram_shingles"),
      info("ngram_shingles",
        "ngram_shingles(tokens, n) - distinct word n-gram shingles"),
      (exprs: Seq[Expression]) => NGramShingles(exprs(0), intLit(exprs(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("ngram_hashes"),
      info("ngram_hashes",
        "ngram_hashes(tokens, n) - portable 60-bit hash of the n-gram at every position"),
      (exprs: Seq[Expression]) => NGramHashes(exprs(0), intLit(exprs(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("path_under_set"),
      info("path_under_set",
        "path_under_set(path, dirs) - TRUE iff a proper ancestor of path is in dirs"),
      (exprs: Seq[Expression]) => PathUnderSet(exprs(0),
        stringSeqLit(exprs(1), "dirs"))))
    ext.injectFunction((
      FunctionIdentifier("hashed_embedding"),
      info("hashed_embedding",
        "hashed_embedding(tokens, dims) - feature-hashed bag-of-words double vector"),
      (exprs: Seq[Expression]) => HashedEmbedding(exprs(0),
        intLit(exprs(1), "dims"))))
    // an AggregateFunction registers like any expression — the analyzer
    // wraps it in an AggregateExpression exactly as for built-in aggs
    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      info("misra_gries",
        "misra_gries(col, k) - frequent-items sketch, k bounded counters"),
      (exprs: Seq[Expression]) => MisraGries(exprs(0), intLit(exprs(1), "k"))))
    ext.injectFunction((
      FunctionIdentifier("hilbert_code"),
      info("hilbert_code",
        "hilbert_code(a, b) - 2-D Hilbert-curve layout key"),
      (exprs: Seq[Expression]) => HilbertCode(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("morton_code"),
      info("morton_code",
        "morton_code(a, b[, c[, d]]) - N-dim Z-order layout key"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => MortonCode(a, b)
        case Seq(a, b, c) => MortonCode3(a, b, c)
        case Seq(a, b, c, d) => MortonCode4(a, b, c, d)
        case other => throw new IllegalArgumentException(
          s"morton_code takes 2 to 4 dimensions, got ${other.size}")
      }))

    // the mergeable quantile-digest family (SQL door parity with the
    // Column API): build/merge aggregates plus the image query scalars.
    // numeric inputs are cast to double here, matching the Column API.
    def asDouble(e: Expression) = org.apache.spark.sql.catalyst
      .expressions.Cast(e, org.apache.spark.sql.types.DoubleType)
    def dblLit(e: Expression, what: String): Double = e match {
      case Literal(v: Double, _) => v
      case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a double literal, got $other")
    }
    ext.injectFunction((
      FunctionIdentifier("quantile_digest_agg"),
      info("quantile_digest_agg",
        "quantile_digest_agg(col[, eps]) - mergeable GK quantile digest image"),
      (exprs: Seq[Expression]) => QuantileDigestAgg(asDouble(exprs(0)),
        if (exprs.size > 1) dblLit(exprs(1), "eps") else 0.001)))
    ext.injectFunction((
      FunctionIdentifier("quantile_digest_merge_agg"),
      info("quantile_digest_merge_agg",
        "quantile_digest_merge_agg(digest) - re-merge persisted digest images"),
      (exprs: Seq[Expression]) => QuantileDigestMerge(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("quantile_digest_query"),
      info("quantile_digest_query",
        "quantile_digest_query(digest, q) - quantile at fraction q from an image"),
      (exprs: Seq[Expression]) => QuantileDigestQuery(exprs(0),
        asDouble(exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("quantile_digest_count"),
      info("quantile_digest_count",
        "quantile_digest_count(digest) - exact row count carried by an image"),
      (exprs: Seq[Expression]) => QuantileDigestCount(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("quantile_digest_trim"),
      info("quantile_digest_trim",
        "quantile_digest_trim(digest, eps) - re-compress an image at a " +
          "coarser eps (bounded size; (eps_build + eps_trim) rank bound)"),
      (exprs: Seq[Expression]) => QuantileDigestTrim(exprs(0),
        asDouble(exprs(1)))))

    // optimizer rule: naive BETWEEN range joins (BroadcastNestedLoop)
    // rewrite to the bucketized equi-join — see plans.RangeJoinRewrite
    ext.injectOptimizerRule(_ => new graft.plans.RangeJoinRewrite)
  }
}
