package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

/** The native expressions' generated code carries no expression
  * parameter: two projections of the same shape that differ only in a
  * parameter (scale, n, bit count, word set) generate the same Java
  * source, so they share one compiled class, while their results still
  * follow the parameter (the kernel reads it from the instance). */
class KernelCodegenSpec extends SparkSpec {

  /** The generated Java source of every whole-stage subtree of `df`'s
    * executed plan. The plan text that `codegenString` prints above each
    * source names the parameters and expression ids, so only the source
    * is compared. */
  private def source(df: DataFrame): String = {
    val subtrees = codegenStringSeq(df.queryExecution.executedPlan)
    subtrees should not be empty
    subtrees.map(_._2).mkString("\n")
  }

  private lazy val floats: DataFrame = spark.range(4).select(
    array(col("id").cast("float") + lit(0.25f), col("id").cast("float") * lit(-1.5f)).as("e"))

  private lazy val toks: DataFrame = spark.range(4).select(
    split(concat(lit("the a of cat "), col("id").cast("string"), lit(" the end")), " ")
      .as("toks"))

  /** Asserts `a` and `b`, applied to `base`'s one column, generate
    * identical source yet return different rows. */
  private def sameCode(base: DataFrame, a: Column => Column, b: Column => Column): Unit = {
    val c = col(base.columns.head)
    val (da, db) = (base.select(a(c).as("r")), base.select(b(c).as("r")))
    source(da) shouldEqual source(db)
    da.collect().toSeq should not equal db.collect().toSeq
  }

  test("quantize_fx at scales 1e7 and 1e6 generates one source") {
    sameCode(floats, QuantizeFx.quantize_fx(_, 1e7), QuantizeFx.quantize_fx(_, 1e6))
  }

  test("quantize_fx with envelopes 16 and 8 generates one source") {
    val (da, db) = (floats.select(QuantizeFx.quantize_fx(col("e"), 1e7, 16.0).as("q")),
      floats.select(QuantizeFx.quantize_fx(col("e"), 1e7, 8.0).as("q")))
    source(da) shouldEqual source(db)
    da.collect().toSeq shouldEqual db.collect().toSeq
  }

  test("ngrams_fx with n = 3 and n = 4 generates one source") {
    sameCode(toks, NGramsFx.ngrams_fx(_, 3), NGramsFx.ngrams_fx(_, 4))
  }

  test("simhash_fx with 16 and 30 bits generates one source") {
    sameCode(toks, SimHashFx.simhash_fx(_, 16), SimHashFx.simhash_fx(_, 30))
  }

  test("count_in_fx with two word sets generates one source") {
    sameCode(toks, CountInFx.count_in_fx(_, Seq("the", "a")),
      CountInFx.count_in_fx(_, Seq("of", "cat", "end", "1")))
  }
}
