package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity word-count pipeline (SURVEY.md §2, §7).
  *
  * The reference engine's whole query surface is: parallel text scan →
  * tokenize → normalize → per-mapper hash table → hash-partition →
  * reduce → text sink (reference: `mpi_mapreduce.c:500-866`). Expressed
  * Spark-first that is ONE declarative plan:
  *
  * {{{
  *   Lines scan → Filter(value != '') → Generate(word_counts(value))
  *     → Exchange(hash(word), spark.sql.shuffle.partitions, REPARTITION_BY_NUM)
  *     → HashAggregate(partial sum) → HashAggregate(final sum)
  * }}}
  *
  * The mapper's per-token work (`getWord` → `normalizeWord` → `strlen`
  * cap → `insert`, `mpi_mapreduce.c:119-161,208-243`) is the one kernel
  * [[graft.functions.WordCounts]]: it runs the fused split + normalize +
  * cap pass over each line and counts the surviving words in a per-task
  * table, so a map task emits one `(word, n)` row per distinct word
  * instead of one row per token for a partial HashAggregate to hash
  * again. Staging it as [[tokenize]] → [[normalize]] → a length filter
  * would normalize every token three times: the optimizer pushes the
  * filter beneath the projection and inlines `normalize_word(tok)` into
  * both of its length comparisons. PlanShapeSpec pins the plan.
  *
  * The exchange is a repartition into the session's
  * `spark.sql.shuffle.partitions`, the role of the reference's fixed
  * `nReducers` (`mpi_mapreduce.c:775-786`). Its origin,
  * REPARTITION_BY_NUM, is one AQE does not coalesce: left to
  * ENSURE_REQUIREMENTS, AQE's 1 MB minimum partition size folds a small
  * shuffle (1.8 MB over 4 partitions on the benchmark corpus) into ONE
  * reduce task that starts only after every map task ends. The reduce
  * side then sums without another exchange, batch or streaming (the
  * repartition already has the stateful aggregate's distribution).
  *
  * Everything the reference hand-builds — reader/mapper/reducer thread
  * pools, bounded queues, scratch-file shuffle, master–worker file
  * distribution, termination sentinels (~400 LoC of C/MPI) — is the Spark
  * scheduler + sort shuffle.
  *
  * Scale notes (100 TB):
  *   - the plan has exactly one Exchange, keyed on `word`;
  *   - input parallelism comes from byte ranges, not reader-thread
  *     counts: [[graft.sources.Lines.read]] cuts files into ranges of at
  *     most min(`spark.sql.files.maxPartitionBytes`, total bytes /
  *     `defaultParallelism`) and packs them by size into about
  *     `defaultParallelism` partitions (more when the input exceeds
  *     `maxPartitionBytes` per core), so a map wave is balanced by bytes
  *     whatever the file count;
  *   - reduce parallelism is `spark.sql.shuffle.partitions` exactly, read
  *     when the plan is built; set it to the reducer width the data
  *     needs, as the reference sets `nReducers`;
  *   - a task's table holds at most `WordCountsImpl.MaxWords` (2^18)
  *     distinct words (~4 MB of slots plus the words' bytes), then emits
  *     and clears itself, so map memory is bounded whatever the corpus;
  *   - shuffle volume is O(distinct words × map tasks × flushes per
  *     task), independent of corpus size: skewed hot words (stopwords)
  *     cost one row per task, and a task flushes only when it sees more
  *     than 2^18 distinct words.
  */
object WordCount {

  /** Max key length; words longer are dropped (`mpi_mapreduce.c:209-211`). */
  val WordLength = 70

  /** Line-oriented text scan over files, directories and globs.
    *
    * Replaces `reader()` (`mpi_mapreduce.c:85-106`): the bounded queue,
    * lock and `usleep` backpressure vanish — Spark tasks pull lines via
    * iterators with spill-capable downstream operators. The lines come
    * from [[graft.sources.Lines.read]], which resolves paths and splits
    * lines exactly as `spark.read.text` does, but cuts files into byte
    * ranges packed by size, so many small files run as one map wave. The
    * reference drops only lines whose first byte is `\n`
    * (`mpi_mapreduce.c:91`), i.e. empty lines after LF-splitting; a line
    * of spaces is kept.
    */
  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    graft.sources.Lines.read(spark, paths).where(col("value") =!= "")

  /** BYTE FIDELITY (SURVEY §1 parity warning, resolved): the line source
    * does NOT decode — it stores each line's raw file bytes in a
    * `UTF8String` verbatim, so invalid-UTF-8 input (the C engine's
    * signed `char*` world, `mpi_mapreduce.c:133-161`) flows through the
    * whole pipeline byte-exactly: tokenize splits on the 0x20 byte,
    * [[normalize]] walks raw bytes exactly like the C, `groupBy`
    * compares raw bytes, `octet_length` IS `strlen`, and the text sink
    * writes the bytes back out unchanged. Two line rules differ from the
    * C's `fgets`, as in `spark.read.text`: a UTF-8 BOM at byte 0 of a
    * file is dropped (one anywhere else is kept), and CR and CRLF end a
    * line as LF does. U+FFFD replacement happens only when a value is
    * materialized to a JVM String (collect/show) or re-encoded
    * (`encode`) — display, not semantics. Pinned by EncodingFidelitySpec
    * and LinesSpec; `hex(col)` observes the raw bytes.
    */

  /** Tokenize: split on single space ONLY (`getWord`,
    * `mpi_mapreduce.c:119-131` — not tab, not `\r`). Consecutive spaces
    * yield empty tokens, dropped after normalize (as the reference does
    * at `mpi_mapreduce.c:324`). Uses the byte-level
    * [[graft.functions.ByteSplit]] — bit-identical to
    * `split(value, " ", -1)` on valid UTF-8 but raw-byte-preserving on
    * invalid input (EncodingFidelitySpec) and regex-free in the hot path.
    */
  def tokenize(lines: DataFrame): DataFrame =
    lines.select(explode(graft.functions.ByteSplit.split(col("value"))).as("tok"))

  /** Normalize (`normalizeWord`, `mpi_mapreduce.c:133-161`): the custom
    * codegen'd Catalyst expression [[graft.functions.NormalizeWord]] —
    * one byte pass, byte-exact with the C code (ASCII-only lowercase;
    * signed-byte alpha test; all-non-alpha tokens kept verbatim).
    */
  def normalize(tok: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.NormalizeWord(
        org.apache.spark.sql.graft.Bridge.expression(tok)))

  /** Same semantics from Spark built-ins only (three string scans vs the
    * custom expression's one; kept as a cross-check in tests and as the
    * pattern a built-ins-only deployment would use).
    *
    * `translate`, NOT `lower`: the C code lowercases bytes 'A'-'Z' only
    * (`mpi_mapreduce.c:138`), whereas `lower()` is Unicode-aware and
    * would also fold e.g. 'É'→'é' inside all-non-alpha tokens, merging
    * keys the reference keeps distinct (observed: 5 of the 50,059
    * distinct words in file_chunks_130 merge under unicode lower).
    */
  def normalizeBuiltin(tok: Column): Column = {
    val lowered = translate(tok,
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    when(lowered.rlike("[a-z]"),
      regexp_replace(lowered, "^[^a-z]+|[^a-z]+$", ""))
      .otherwise(lowered)
  }

  /** Reference-exact normalize on JVM strings (chars stand in for the C
    * signed bytes: any codepoint outside ASCII letters is "non-alpha",
    * matching the signed-char comparison at `mpi_mapreduce.c:139-141`).
    * Used by unit/property tests as the oracle for [[normalize]].
    */
  def normalizeWordExact(w: String): String = {
    val lowered = w.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    def alpha(c: Char) = c >= 'a' && c <= 'z'
    if (lowered.exists(alpha)) {
      val from = lowered.indexWhere(alpha)
      val to = lowered.lastIndexWhere(alpha)
      lowered.substring(from, to + 1)
    } else lowered
  }

  /** Full pipeline: lines → (word, count), with `count` a non-null
    * bigint. [[graft.functions.WordCounts]] splits, normalizes, applies
    * the length cap in BYTES (the C `strlen(w) > WORD_LENGTH` drop at
    * `mpi_mapreduce.c:209-211`) and counts, per task; the repartition
    * sends each word to one of the session's shuffle partitions, where
    * the partial counts are summed. `sum` is nullable, so the coalesce
    * keeps `count` NOT NULL, as it was under `count(1)`.
    */
  def count(lines: DataFrame): DataFrame = {
    val reducers = lines.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    lines.select(graft.functions.WordCounts.of(col("value")))
      .repartition(reducers, col("word"))
      .groupBy("word")
      .agg(coalesce(sum(col("n")), lit(0L)).as("count"))
  }

  /** End-to-end job: files in, counts out. */
  def run(spark: SparkSession, paths: Seq[String]): DataFrame =
    count(ingest(spark, paths))

  /** Text sink matching the reference's output shape: `"%s %d"` per word,
    * one part-file per partition, merged by concatenation
    * (`mpi_mapreduce.c:278-289`, `mpi_mm.sub:11`). Output is unordered —
    * comparisons must be order-insensitive (SURVEY §2.10). The lines go
    * through [[graft.sources.Lines.write]]: the session's commit
    * protocol and `write.text`'s file set and modes, without its
    * per-task file-format setup or, on a local output, a `chmod` process
    * per file.
    *
    * `byRefHash = true` reproduces the reference's file GROUPING: the
    * reference writes one file per reducer, a word's reducer being
    * `hashFunc(word) % nReducers` (`mpi_mapreduce.c:108-117,278-289`) —
    * here a repartition keyed on the byte-exact
    * [[graft.functions.RefHash]] bucket, which guarantees bucket→file
    * EXCLUSIVITY (every reference bucket lands wholly in one part-file;
    * SinkAndRuleSpec asserts it). The bucket→file-INDEX assignment is
    * murmur-permuted by the repartition, so part-file numbering differs
    * from the reference's `bucket % nReducers` — same partition classes,
    * permuted file names. Semantics-invisible for the counts (any total
    * partitioning works); off by default because hash-partitioned output
    * is the cosmetic parity knob, not the fastest layout.
    */
  def sink(counts: DataFrame, outDir: String, partitions: Int = 0,
      byRefHash: Boolean = false): Unit = {
    val df =
      if (byRefHash && partitions > 0)
        counts.repartition(partitions,
          graft.functions.RefHash.ref_hash_bytes(col("word")))
      else if (partitions > 0) counts.repartition(partitions)
      else counts
    graft.sources.Lines.write(df.select(concat_ws(" ", col("word"), col("count"))), outDir)
  }
}
