package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.TermFreqs
import graft.functions.VectorFunctions
import graft.operators.TextAnalysis

/** `term_freqs(text, terms)` — the BM25 byte-pass kernel — against counts
  * taken from [[TextAnalysis.tokens]] (Spark's `split`/`trim`/`filter`)
  * over seeded random text, run through whole-stage codegen, the
  * interpreted expression, and the plain-UDF fallback.
  */
class TermFreqsSpec extends SparkSpec {
  import spark.implicits._

  /** Token characters (ASCII, no-break and wide spaces, multibyte
    * letters, a surrogate-pair emoji) and the six whitespace bytes.
    */
  private val tokenPieces = Seq("a", "b", "ab", "\u00A0", "\u2003", "\u3000",
    "é", "ß", "ж", "中", "文", "😀")
  private val spacePieces = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\r\n", "   ")

  private val terms = Seq("a", "ab", "é", "中文", "😀", "\u00A0",
    "a\u3000b", "", "a", "a b", " a", "\t", "zzz")

  /** Seeded texts plus the edge rows; written to parquet so the
    * projection runs in an executed plan, not folded at plan time over
    * a local relation.
    */
  private lazy val texts: DataFrame = {
    val rnd = new scala.util.Random(20261018L)
    val random = (1 to 400).map { _ =>
      val n = rnd.nextInt(24)
      (0 until n).map { _ =>
        if (rnd.nextInt(3) == 0) spacePieces(rnd.nextInt(spacePieces.size))
        else tokenPieces(rnd.nextInt(tokenPieces.size))
      }.mkString
    }
    val rows = Seq[String](null, "", "   ", " \t\r\n\u000B\f ", "a", " a ", "a b a") ++ random
    val dir = java.nio.file.Files.createTempDirectory("graft-termfreqs").toString + "/t"
    rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** `[|tokens|, count of each term]` from the tokens expression. */
  private def expected: Map[Long, Option[Seq[Int]]] =
    texts.select(col("id"), TextAnalysis.tokens(col("text")).as("t")).collect()
      .map { r =>
        r.getLong(0) -> Option(r.getSeq[String](1)).map(ts =>
          ts.size +: terms.map(q => ts.count(_ == q)))
      }.toMap

  private def counted(kernel: Column): (Map[Long, Option[Seq[Int]]], DataFrame) = {
    val df = texts.select(col("id"), kernel.as("f"))
    (df.collect().map(r => r.getLong(0) -> Option(r.getSeq[Int](1))).toMap, df)
  }

  private def hasKernel(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.expressions.exists(_.find(_.isInstanceOf[TermFreqs]).nonEmpty)

  test("term_freqs == tokens-derived counts under whole-stage codegen") {
    val exp = expected
    assert(exp.values.count(_.isEmpty) == 1 && exp.size == texts.count())
    assert(exp.values.flatten.map(_.head).sum > 1000, "too few tokens to mean anything")
    val (got, df) = counted(VectorFunctions.term_freqs(col("text"), terms))
    assert(got == exp)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.find(hasKernel).nonEmpty), s"kernel not in a codegen stage:\n$plan")
  }

  test("term_freqs == tokens-derived counts interpreted (NO_CODEGEN)") {
    val exp = expected
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val (got, df) = counted(VectorFunctions.term_freqs(col("text"), terms))
      assert(got == exp)
      val plan = df.queryExecution.executedPlan
      assert(plan.find(hasKernel).nonEmpty &&
        plan.collect { case w: WholeStageCodegenExec => w }.isEmpty, plan.toString)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("term_freqs == tokens-derived counts through the UDF fallback") {
    val (got, _) = counted(VectorFunctions.term_freqs_udf(col("text"), terms))
    assert(got == expected)
  }

  test("term_freqs in SQL: empty terms give [dl]; non-constant or null terms are refused") {
    VectorFunctions.register(spark)
    texts.createOrReplaceTempView("tf_texts")
    val dl = spark.sql("SELECT term_freqs(text, CAST(array() AS array<string>)) FROM tf_texts " +
        "WHERE id BETWEEN 1 AND 6 ORDER BY id")
      .collect().map(_.getSeq[Int](0)).toSeq
    assert(dl == Seq(Seq(0), Seq(0), Seq(0), Seq(1), Seq(1), Seq(3)))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT term_freqs(text, array(text)) FROM tf_texts").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT term_freqs(text, array('a', null)) FROM tf_texts").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT term_freqs(id, array('a')) FROM tf_texts").collect()
    }
  }
}
