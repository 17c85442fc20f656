package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.WordCount
import graft.functions.{RefHash, WordTokens}
import graft.QueryModule
import graft.sources.Tables

/** The reference engine's own pipeline (SURVEY §2.1-2.6), oracle-checked
  * over the `documents` table (each document's `text` = one input line).
  *
  * The same stages run against the reference's Gutenberg corpora in the
  * ScalaTest suite (golden totals from FIXTURES.md §2); here they run on
  * driver testdata so DuckDB can replay them.
  */
object WordCountQueries extends QueryModule {

  private def lines(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(col("text").as("value"))

  /** Full word count: the fused split + normalize + length cap counted in
    * a per-task table, then summed per word. The single-Exchange plan
    * described in [[graft.core.WordCount]].
    */
  def wcWordCount(s: SparkSession, dir: String): DataFrame =
    WordCount.count(lines(s, dir))
      .withColumnRenamed("count", "cnt")
      .orderBy("word")

  /** Top-100 words: the count plan + TakeOrderedAndProject (per-partition
    * heaps — no global sort even at 100 TB of input).
    */
  def wcTop100(s: SparkSession, dir: String): DataFrame =
    WordCount.count(lines(s, dir))
      .withColumnRenamed("count", "cnt")
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  /** Per-document surviving-token counts — the map stage's output volume
    * (what the reference's mapper emits before combining).
    */
  def wcDocTokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), explode(WordTokens.of(col("text"))).as("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("n_distinct"))
      .orderBy("doc_id")

  /** Reference hash partitioning (`hashFunc`, `mpi_mapreduce.c:108-117`):
    * words per 256-way bucket. Semantics-invisible for the aggregate
    * (any total partitioning works — SURVEY §2.4) but reproduced exactly
    * as a codegen'd expression folding over UTF-8 BYTES (the C loop walks
    * `char*`, so multi-byte codepoints take multiple fold steps); the
    * oracle replays the same 32-bit arithmetic in DuckDB via a list fold
    * over the hex-decoded bytes of `encode(word)`.
    */
  def wcHashPartition(s: SparkSession, dir: String): DataFrame =
    WordCount.count(lines(s, dir))
      .select(RefHash.ref_hash_bytes(col("word")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_words"))
      .orderBy("bucket")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wc_word_count" -> (wcWordCount _),
    "wc_top100" -> (wcTop100 _),
    "wc_doc_tokens" -> (wcDocTokens _),
    "wc_hash_partition" -> (wcHashPartition _),
  )

  // Shared normalize fragment (reference semantics, SURVEY §2.3): lower;
  // strip non-alpha ends only if any alpha byte exists; keep all-non-alpha
  // tokens verbatim; drop empty and >70-byte tokens.
  // ASCII-only lowercase (translate), matching the C byte semantics —
  // see WordCount.normalize.
  private val tokCte =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), low AS (
      |  SELECT doc_id,
      |    translate(tok, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |                   'abcdefghijklmnopqrstuvwxyz') AS ltok
      |  FROM toks
      |), norm AS (
      |  SELECT doc_id,
      |    CASE WHEN regexp_matches(ltok, '[a-z]')
      |         THEN regexp_replace(ltok, '^[^a-z]+|[^a-z]+$', '', 'g')
      |         ELSE ltok END AS word
      |  FROM low
      |), words AS (
      |  SELECT doc_id, word FROM norm
      |  WHERE octet_length(encode(word)) > 0 AND octet_length(encode(word)) <= 70
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "wc_word_count" ->
      s"""$tokCte
         |SELECT word, count(*) AS cnt FROM words GROUP BY word ORDER BY word""".stripMargin,
    "wc_top100" ->
      s"""$tokCte
         |SELECT word, count(*) AS cnt FROM words GROUP BY word
         |ORDER BY cnt DESC, word LIMIT 100""".stripMargin,
    "wc_doc_tokens" ->
      s"""$tokCte
         |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_distinct
         |FROM words GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "wc_hash_partition" ->
      s"""$tokCte
         |, wc AS (SELECT word FROM words GROUP BY word),
         |hashed AS (
         |  SELECT CAST(
         |    list_reduce(
         |      list_prepend(0::BIGINT,
         |        list_transform(range(1, octet_length(encode(word)) + 1),
         |          i -> ((strpos('0123456789ABCDEF',
         |                        substr(hex(encode(word)), CAST(2*i-1 AS INTEGER), 1)) - 1) * 16
         |              + (strpos('0123456789ABCDEF',
         |                        substr(hex(encode(word)), CAST(2*i AS INTEGER), 1)) - 1))::BIGINT)),
         |      (h, b) -> xor(xor((h * 16) & 4294967295, h), b) & 4294967295
         |    ) & 255 AS INTEGER) AS bucket
         |  FROM wc)
         |SELECT bucket, count(*) AS n_words FROM hashed
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
  )
}
