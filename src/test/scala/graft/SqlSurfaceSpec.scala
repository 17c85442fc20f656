package graft

import org.apache.spark.sql.functions._

/** Every SQL-able custom expression resolves in SQL TEXT through
  * GraftExtensions (the spark.sql.extensions deployment path — no
  * imperative registration) and agrees with the Scala/Column API.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("byte_split / normalize_word / ref_hash_word resolve in SQL and match the Column API") {
    import spark.implicits._
    Seq("The QUICK. brown  fox", "éclair au café").toDF("value")
      .createOrReplaceTempView("sql_surface_lines")
    val viaSql = spark.sql(
      """SELECT tok, normalize_word(tok) AS norm, ref_hash_word(normalize_word(tok)) AS h
        |FROM sql_surface_lines
        |LATERAL VIEW explode(byte_split(value)) t AS tok
        |ORDER BY tok""".stripMargin).collect()
    val viaApi = spark.table("sql_surface_lines")
      .select(explode(graft.functions.ByteSplit.split(col("value"))).as("tok"))
      .select(col("tok"), graft.core.WordCount.normalize(col("tok")).as("norm"))
      .withColumn("h", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.RefHashWord(org.apache.spark.sql.graft.Bridge.expression(col("norm")))))
      .orderBy("tok").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
  }

  test("word_tokens resolves in SQL and matches the Column API") {
    import spark.implicits._
    Seq("The QUICK. brown  fox", "éclair au café", "...  1871", "")
      .toDF("value").createOrReplaceTempView("sql_surface_words")
    val viaSql = spark.sql(
      """SELECT w FROM sql_surface_words
        |LATERAL VIEW explode(word_tokens(value)) t AS w
        |ORDER BY w""".stripMargin).collect()
    val viaApi = spark.table("sql_surface_words")
      .select(explode(graft.functions.WordTokens.of(col("value"))).as("w"))
      .orderBy("w").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
    // é is two non-alpha bytes to the C rule, so it is stripped at the ends
    assert(viaSql.map(_.getString(0)).toSeq ===
      Seq("...", "1871", "au", "brown", "caf", "clair", "fox", "quick", "the"))
  }

  test("dot_product and minhash_sig resolve in SQL and match the Column API") {
    import spark.implicits._
    Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f), Seq("a b c", "d e f")))
      .toDF("x", "y", "sh").createOrReplaceTempView("sql_surface_vecs")
    val row = spark.sql(
      "SELECT dot_product(x, y) AS d, minhash_sig(sh, 8) AS sig FROM sql_surface_vecs")
      .collect()(0)
    assert(row.getDouble(0) === 32.0)
    val apiSig = spark.table("sql_surface_vecs")
      .select(graft.functions.MinhashSig.sig(col("sh"), 8)).collect()(0).getString(0)
    assert(row.getString(1) === apiSig)
  }

  test("rep_sig resolves in SQL and matches the Column API") {
    import spark.implicits._
    Seq("a b a b", "one", "").toDF("value")
      .createOrReplaceTempView("sql_surface_rep")
    val viaSql = spark.sql(
      "SELECT rep_sig(value) AS r FROM sql_surface_rep ORDER BY value").collect()
    val viaApi = spark.table("sql_surface_rep")
      .select(graft.functions.RepSig.of(col("value")).as("r"))
      .orderBy("value").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
  }

  test("minhash_sig rejects a non-literal hash count") {
    import spark.implicits._
    Seq((Seq("a"), 8)).toDF("sh", "n").createOrReplaceTempView("sql_surface_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(sh, n) FROM sql_surface_bad").collect()
    }
    assert(e.getMessage.toLowerCase.contains("minhash_sig"))
  }
}
