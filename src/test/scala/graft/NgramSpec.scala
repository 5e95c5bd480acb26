package graft

import graft.functions.NgramShingles
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** NgramShingles (compiled shingler) ≡ the composable HOF form it
  * replaced, on real data and adversarial whitespace, in both codegen
  * and interpreted modes. */
class NgramSpec extends SparkTestBase {

  import spark.implicits._

  /** distinct word n-grams from a PRE-SPLIT token-array column — the
    * composable HOF form NgramShingles replaced, kept as its semantics
    * oracle: transform + concat_ws + array_distinct. HOF lambdas have
    * no common-subexpression elimination, so the token array is bound
    * to its own column first (an inlined `split(text)` would re-split
    * per element_at). */
  private def tokenNgramsFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ",
          (1 to n).map(j => element_at(toks, i + j)): _*))))

  private def hofGrams(df: org.apache.spark.sql.DataFrame,
                       n: Int): Seq[(Long, Seq[String])] =
    df.select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
      .select(col("id"), tokenNgramsFromTokens(col("toks"), n).as("grams"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toSeq

  private def exprGrams(df: org.apache.spark.sql.DataFrame,
                        n: Int): Seq[(Long, Seq[String])] =
    df.select(col("doc_id").as("id"),
        NgramShingles.ngrams(col("text"), n).as("grams"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toSeq

  private def assertSame(df: org.apache.spark.sql.DataFrame,
                         n: Int): Unit = {
    val h = hofGrams(df, n).toMap
    val e = exprGrams(df, n).toMap
    assert(h.keySet == e.keySet)
    for (id <- h.keySet)
      assert(h(id) == e(id),
        s"n=$n id=$id: HOF ${h(id)} vs expr ${e(id)}")
  }

  test("expression ≡ HOF on the documents table, n = 1, 3, 8") {
    val docs =
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(1, 3, 8)) assertSame(docs, n)
  }

  test("expression ≡ HOF on adversarial whitespace and sizes") {
    val df = Seq(
      (1L, ""),                      // one empty token after split
      (2L, "a"),                     // fewer tokens than n
      (3L, "a b"),                   // exactly n (n=2)
      (4L, "a  b"),                  // double space -> empty middle token
      (5L, "a b "),                  // trailing space -> trailing empty
      (6L, " a b"),                  // leading space -> leading empty
      (7L, "x y x y x y"),           // duplicates collapse, order kept
      (8L, "é ü 中 文 emoji 🙂 ok")  // non-ASCII round-trips
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) assertSame(df, n)
  }

  test("codegen and interpreted paths agree; SQL registration works") {
    val df = Seq((1L, "a b c d"), (2L, "a a a a"))
      .toDF("doc_id", "text")
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val get = () => exprGrams(df, 2)
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val cg = get()
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = get()
      assert(cg == interp)
    } finally prev match {
      case Some(m) => spark.conf.set("spark.sql.codegen.factoryMode", m)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
    df.createOrReplaceTempView("ngram_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_ngrams(text, 2) AS g FROM ngram_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList)
      .toMap
    assert(viaSql(1L) == List("a b", "b c", "c d"))
    assert(viaSql(2L) == List("a a"))
  }
}
