package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.VectorExpressions._

/** Spark extensions injector — the idiomatic cluster-wide registration
  * path for the codegen vector functions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * makes `cosine_sim` / `dot_product` / `l2_norm` and the BM25 kernel
  * `term_freqs` available to every session (including pure-SQL users)
  * without any driver-side [[VectorFunctions.register]] call. The Column
  * API keeps its lazy per-session registration as a fallback for
  * sessions built without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[VectorExpressions.type].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors; 0.0 when either norm is 0"),
      es => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float vectors"),
      es => DotProduct(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("l2_norm"),
      info("l2_norm", "l2_norm(a) - Euclidean norm of a float vector"),
      es => L2Norm(es.head)))
    ext.injectFunction((FunctionIdentifier("term_freqs"),
      info("term_freqs", "term_freqs(text, terms) - [token count, count of each constant term] of whitespace-tokenized text"),
      es => TermFreqs(es(0), es(1))))
  }
}
