package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{CmsQuery, CmsSketch, TopKAgg, UnicodeNormalize, VectorDot, WordShingles}
import org.apache.spark.sql.types.StringType
import graft.plans.AsofJoinStrategy

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`:
  * injects the as-of join planner strategy and registers the custom
  * kernels as SQL functions, so a pure-SQL user gets `vec_dot`,
  * `word_shingles`, `cms_sketch`/`cms_query` and as-of plans without
  * touching the Scala API. (The Scala API path registers the same
  * pieces lazily per session — see AsofJoin.register — so either
  * route works.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    GraftExtensions.descriptors.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def descriptor(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getCanonicalName, name),
      builder)

  /** `vec_dot(array, array)` SQL function backed by the codegen'd
    * Catalyst expression (no UDF indirection).
    */
  private[graft] val VecDotDescriptor =
    descriptor("vec_dot", classOf[VectorDot]) { children =>
      require(children.size == 2, "vec_dot takes exactly 2 arguments")
      VectorDot(children.head, children(1))
    }

  /** The full SQL-function surface: each custom kernel by its Scala
    * helper's name and defaults. Aggregates (cms_sketch) register the
    * bare AggregateFunction — the analyzer wraps it in an
    * AggregateExpression like any built-in.
    */
  private[graft] val descriptors = Seq(
    VecDotDescriptor,
    descriptor("word_shingles", classOf[WordShingles]) {
      case Seq(text) => WordShingles(text, 3, distinct = true)
      case Seq(text, n) => WordShingles(text, intLit(n, "n"), distinct = true)
      case other => throw new IllegalArgumentException(
        s"word_shingles(text[, n]) — got ${other.size} arguments")
    },
    descriptor("cms_sketch", classOf[CmsSketch]) {
      case Seq(v) => CmsSketch(v, 4, 512)
      case Seq(v, d, w) => CmsSketch(v, intLit(d, "depth"), intLit(w, "width"))
      case other => throw new IllegalArgumentException(
        s"cms_sketch(value[, depth, width]) — got ${other.size} arguments")
    },
    descriptor("cms_query", classOf[CmsQuery]) {
      case Seq(sk, key) => CmsQuery(sk, key, 4, 512)
      case Seq(sk, key, d, w) =>
        CmsQuery(sk, key, intLit(d, "depth"), intLit(w, "width"))
      case other => throw new IllegalArgumentException(
        s"cms_query(sketch, key[, depth, width]) — got ${other.size} arguments")
    },
    descriptor("unicode_normalize", classOf[UnicodeNormalize]) {
      case Seq(text) => UnicodeNormalize(text, "NFC")
      // f != null guards CAST(NULL AS STRING) literals (a null foldable
      // would NPE in toString); an unknown form name falls through to
      // the builder's clean IllegalArgumentException below instead of
      // throwing from inside the case-class constructor mid-analysis
      case Seq(text, Literal(f, StringType))
          if f != null && Set("NFC", "NFD", "NFKC", "NFKD")(f.toString) =>
        UnicodeNormalize(text, f.toString)
      case other => throw new IllegalArgumentException(
        s"unicode_normalize(text[, 'NFC'|'NFD'|'NFKC'|'NFKD']) — got $other")
    },
    descriptor("top_k_agg", classOf[TopKAgg]) {
      case Seq(score, id, k) => TopKAgg(score, id, intLit(k, "k"))
      case other => throw new IllegalArgumentException(
        s"top_k_agg(score, id, k) — got ${other.size} arguments")
    })

  /** Runtime registration for sessions built without the extensions
    * conf (static SQL confs cannot change after startup).
    */
  def registerSql(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    descriptors.foreach { case (ident, info, builder) =>
      cs.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
  }
}
