package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.core.Staged
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over `documents`:
  * per-document statistics, language ID (stopword heuristic), quality
  * scoring, regex token counting, and content fingerprinting.
  *
  * All are single-pass, per-row expression pipelines (no shuffle except
  * the final aggregates) — at 100 TB they stream through the scan at IO
  * speed inside whole-stage codegen; only tfidf/confusion aggregates
  * exchange data, keyed on low-cardinality or per-doc keys.
  */
object TextAnalysis extends QueryModule {

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est", "dans"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "por"))

  // byte-level tokenizer shared with WordCount (regex-free hot path)
  private def toks: Column = graft.functions.ByteSplit.split(col("text"))

  // documents behind the conditional FanOut: every ta_* query runs a
  // CPU-heavy per-row expression pipeline (tokenize, regex, rolling
  // hash) straight off the scan - see graft.core.FanOut
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.core.FanOut(Tables(s, dir).documents)

  /** Per-document size/shape statistics. Integer-exact everywhere except
    * the final division (exact operands → deterministic double).
    */
  def taDocStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(filter(toks, t => t =!= "")).as("n_tokens"),
        length(regexp_replace(col("text"), " ", "")).as("n_letters"))
      .withColumn("avg_token_len",
        round(col("n_letters").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")

  /** Language ID via stopword hit counts, reported as a confusion matrix
    * against the labeled `lang` column. Deterministic argmax (priority
    * order breaks ties); "und" when no list matches.
    */
  def taLangId(s: SparkSession, dir: String): DataFrame = {
    def score(lang: String): Column =
      size(filter(col("__toks"), t => t.isin(stopwords(lang).map(x => x: Any): _*)))
        .as(s"s_$lang")
    // Tokenize ONCE into a staged array, then score the four languages
    // over it. Without the staging project the four filters each carry
    // their own byte_split(text) and dedup rests on config-gated
    // subexpression elimination; with it, one tokenizer pass per row is
    // the plan's shape (PlanShapeSpec counts the byte_split nodes) —
    // CollapseProject keeps the stage because the alias is non-cheap
    // and referenced four times.
    val scored = docs(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("__toks"))
      .select(col("doc_id"), col("lang"), score("en"), score("de"), score("fr"), score("es"))
    val pred = when(greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")) === 0, "und")
      .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
      .when(col("s_fr") >= col("s_es"), "fr")
      .otherwise("es")
    scored.withColumn("pred_lang", pred)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  /** Quality score: blend of length saturation and lexical diversity —
    * the standard cheap pre-filter before expensive dedup/training.
    */
  def taQuality(s: SparkSession, dir: String): DataFrame =
    qualityOf(docs(s, dir)).orderBy("doc_id")

  /** Core of [[taQuality]], parameterized on the document set so
    * consumers can pre-restrict the corpus (e.g. [[Dedup.ddKeepBest]]
    * semi-joins to the clustered docs FIRST, then scores only those —
    * at 100 TB quality is never computed for rows that will be join-
    * discarded). Per-row expressions only; no order imposed.
    */
  private[graft] def qualityOf(d: DataFrame): DataFrame =
    // (n_tokens, n_distinct) come from the same one-pass rep_sig kernel
    // ta_repetition uses — no staged token array, no Catalyst distinct
    d.select(col("doc_id"), graft.functions.RepSig.of(col("text")).as("__r"))
      .select(col("doc_id"),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.n_distinct").as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_tokens"), 6))
      .withColumn("quality",
        round(lit(0.5) * least(lit(1.0), col("n_tokens").cast("double") / 50.0)
          + lit(0.5) * (col("n_distinct").cast("double") / col("n_tokens")), 6))
      .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio", "quality")

  /** Token counting with a BPE-ish regex split: alpha runs, digit runs,
    * and single non-alphanumeric marks counted separately.
    */
  def taTokenRegex(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[a-z]+")).as("n_alpha"),
        regexp_count(col("text"), lit("[0-9]+")).as("n_num"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).as("n_mark"))
      .orderBy("doc_id")

  /** Content fingerprint: md5 over whitespace-canonicalized lowercase
    * text — the exact-dedup key. (The rolling-hash shingle variant lives
    * in [[Dedup]] as minhash input.)
    */
  def taFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.CanonFp.of(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Rabin–Karp polynomial rolling hash: h ← (h·31 + code(c)) mod 1e9+7
    * folded over the characters — the incremental-window fingerprint
    * primitive (each step is O(1), so a sliding window updates by one
    * multiply-add, unlike a cryptographic digest). Emitted per document
    * over the full text and over the leading 32-char window (the
    * window form a chunk-level near-dup scan would slide).
    * Exact 64-bit integer arithmetic in both engines.
    */
  def taRollingHash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        // one codegen pass per string ([[graft.functions.RollingHash]]);
        // bit-identical to the aggregate(split(text,''))·ascii lambda
        // fold the oracle replays (RollingHashSpec)
        graft.functions.RollingHash.hash(col("text")).as("full_hash"),
        graft.functions.RollingHash.hash(substring(col("text"), 1, 32))
          .as("head32_hash"))
      .orderBy("doc_id")

  /** Top TF-IDF term per document (rational idf N/df — no transcendental
    * functions, so engine-exact). Two shuffles: df per term, then the
    * per-doc window; both keyed on high-cardinality columns that
    * partition evenly.
    */
  def taTfidfTop(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val terms = d
      .select(col("doc_id"), explode(filter(toks, t => t =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency: `terms` is already one row per (doc_id, term),
    // so a plain count IS the distinct-doc count — countDistinct here
    // would plan a second Expand+Exchange distinct-aggregate for nothing
    // (at 100 TB, a full extra shuffle of the term table).
    val df = terms.groupBy("term")
      .agg(count(lit(1)).as("df_count"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    terms.join(df, "term").join(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") * col("n_docs") / col("df_count"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "term", "tf", "tfidf")
      .orderBy("doc_id")
  }

  /** Top-3 terms per language via the typed bounded-buffer aggregator
    * [[graft.functions.TopKByCount]]: each partial aggregation ships at
    * most k rows per group to the shuffle (vs. window-rank's
    * sort-the-whole-group). The oracle replays it as a window — results
    * are identical because the tiebreak (cnt desc, term asc) is total.
    */
  def taTopTermsLang(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val termCounts = docs(s, dir)
      .select(col("lang"), explode(filter(toks, t => t =!= "")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("term"), col("cnt"))
      .as[(String, String, Long)]
    val agg = new graft.functions.TopKByCount(3)
      .toColumn.name("top")
    termCounts
      .groupByKey(_._1)
      .mapValues { case (_, term, cnt) => graft.functions.TermCount(term, cnt) }
      .agg(agg)
      .toDF("lang", "top")
      .select(col("lang"), posexplode(col("top")).as(Seq("rank0", "tc")))
      .select(col("lang"), (col("rank0") + 1).cast("int").as("rank"),
        col("tc.term").as("term"), col("tc.cnt").as("cnt"))
      .orderBy("lang", "rank")
  }

  /** Deterministic stratified sampling — the reproducible-subset
    * primitive a training pipeline needs (rerun the job, get the SAME
    * sample, on any cluster, at any partitioning). The coin is
    * `md5(seed || doc_id)`: a fixed-width lowercase hex prefix compared
    * lexicographically IS a uniform numeric threshold test, pure per-row
    * arithmetic both engines evaluate identically — unlike
    * `DataFrame.sample`, whose outcome depends on partition layout.
    * Strata: 20% of every language except English at 5% (the downsample-
    * the-majority-class shape). Scales as a pushed-down filter: no
    * shuffle, no state, the scan drops 80-95% of rows in place.
    */
  def taSample(s: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(concat(lit("graft-sample-1|"), col("doc_id"))), 1, 4)
    val rate = when(col("lang") === "en", lit("0ccc")).otherwise(lit("3333"))
    docs(s, dir)
      .where(coin < rate)
      .select(col("doc_id"), col("lang"), coin.as("coin"))
      .orderBy("doc_id")
  }

  /** Per-domain quota for [[taDomainCap]] — active at gate scale
    * (every source holds 25 docs > the quota, so the rank truncation
    * fires on all 20 groups).
    */
  private[graft] val DomainCapQuota = 10

  /** Per-DOMAIN quota cap — the crawl-curation primitive the rate
    * mixers ([[taMixture]]) deliberately are not: a rate keeps a
    * FRACTION of every source, but crawl hygiene needs an absolute
    * CEILING per domain (an SEO farm with 10 M near-identical pages
    * must contribute at most Q documents no matter how big it is —
    * capping, not thinning, is what bounds adversarial mass). Each
    * domain keeps its [[DomainCapQuota]] smallest deterministic
    * coins (`md5(seed || doc_id)` — partition- and rerun-independent,
    * the [[taSample]] discipline), so reruns keep the SAME documents
    * and a domain's kept set is stable as the crawl grows around it.
    *
    * Scale shape: one hash exchange on the domain key, then a
    * rank-truncated window whose filter pushes into the window
    * operator as a WindowGroupLimit (plan-asserted) — every task
    * retains at most Q rows per group PRE-sort, so a 10 M-page domain
    * costs its scan, never a 10 M-row sort buffer; the output is
    * per-doc (kept + rank) so downstream stages join against it, and
    * the manifest aggregate is the 20-row group count. The oracle
    * replays coin, rank, truncation, and both manifest counts.
    */
  def taDomainCap(s: SparkSession, dir: String): DataFrame = {
    val coin = md5(concat(lit("graft-domcap-1|"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(coin, col("doc_id"))
    docs(s, dir)
      .select(col("source"), col("doc_id"), coin.as("coin"))
      .withColumn("qrank", row_number().over(w))
      .where(col("qrank") <= DomainCapQuota)
      .select(col("source"), col("doc_id"), col("qrank"))
      .orderBy("source", "qrank")
  }

  /** Deterministic corpus MIXTURE sampling — the data-mixing step of a
    * pretraining pipeline: each SOURCE is subsampled at its own rate
    * (here a per-source md5-derived stand-in for externally specified
    * mixture weights; a real run swaps the rate expression for a
    * broadcast weights table at the same shape) using the same
    * hash-coin trick as [[taSample]], and the output is the mixing
    * MANIFEST a loader consumes: per source, the doc counts before and
    * after sampling and the surviving token budget. Selection is
    * per-row expression work (md5 + string compare, no RNG state, so
    * any executor and any retry picks the same docs) and the manifest
    * is one low-cardinality aggregate — scan speed at 100 TB. Token
    * counts ride the same one-pass [[graft.functions.RepSig]] kernel
    * as ta_quality.
    */
  def taMixture(s: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(concat(lit("graft-mix-1|"), col("doc_id"))), 1, 4)
    val rate = substring(md5(concat(lit("graft-mixrate-1|"), col("source"))), 1, 4)
    docs(s, dir)
      .select(col("source"), col("doc_id"),
        graft.functions.RepSig.of(col("text")).getField("n_tokens").as("n_tokens"),
        coin.as("coin"), rate.as("rate"))
      // rate is a pure function of source, so (source, rate) groups
      // are identical to source groups — and dropping the max(rate)
      // STRING-buffer aggregate lets the manifest plan as a codegen
      // HashAggregate instead of a SortAggregate pair (see
      // [[taMixtureCore]])
      .groupBy("source", "rate")
      .agg(count(lit(1)).as("n_docs_total"),
        sum(when(col("coin") < col("rate"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("coin") < col("rate"), col("n_tokens").cast("long"))
          .otherwise(0L)).as("n_tokens_kept"))
      .select("source", "rate", "n_docs_total", "n_docs_kept", "n_tokens_kept")
      .orderBy("source")
  }

  /** Externally-specified mixture weights for [[taMixtureWeighted]] —
    * the role a config file or weights service plays in a real
    * pretraining run. Rates are 4-hex-digit thresholds on the same
    * md5 coin as [[taMixture]] ('1000' = 6.25 %, '3000' = 18.75 %,
    * '8000' = 50 %, 'e000' = 87.5 %, cycling by source index); the
    * values are arbitrary by design — the POINT is that they are
    * data, not derivable from the source name.
    */
  private[graft] val MixtureWeights: Seq[(String, String)] =
    (0 until 20).map { n =>
      s"src$n" -> Seq("1000", "3000", "8000", "e000")(n % 4)
    }

  /** Mixture sampling against a WEIGHTS TABLE — [[taMixture]]'s
    * md5-derived stand-in rate replaced by a `(source, rate)`
    * DataFrame broadcast-joined onto the corpus: the weights side is
    * O(#sources) rows, always broadcastable, so the join is a map-side
    * hash probe and the whole query still runs at scan speed — no
    * shuffle is added over the inline-expression variant. Sources
    * absent from the weights table sample at rate '0000' (dropped):
    * a mixture spec is exhaustive by contract, and silently passing
    * unknown sources through would un-pin the token budget.
    */
  private[graft] def taMixtureCore(d: DataFrame, rates: DataFrame): DataFrame = {
    val coin = substring(md5(concat(lit("graft-mix-1|"), col("doc_id"))), 1, 4)
    d.select(col("source"), col("doc_id"),
        graft.functions.RepSig.of(col("text")).getField("n_tokens").as("n_tokens"),
        coin.as("coin"))
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn("rate", coalesce(col("rate"), lit("0000")))
      // rate is functionally determined by source (one row per source
      // in the weights table; the inline variant derives it from the
      // source string), so grouping by BOTH yields identical groups —
      // and drops the max(rate) aggregate whose STRING buffer forced
      // the whole aggregate to a SortAggregate pair (sorting the doc
      // stream by source per partition); string group KEYS hash fine,
      // so the long-only buffers now plan as codegen HashAggregates
      // with map-side partials
      .groupBy("source", "rate")
      .agg(count(lit(1)).as("n_docs_total"),
        sum(when(col("coin") < col("rate"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("coin") < col("rate"), col("n_tokens").cast("long"))
          .otherwise(0L)).as("n_tokens_kept"))
      .select("source", "rate", "n_docs_total", "n_docs_kept", "n_tokens_kept")
      .orderBy("source")
  }

  def taMixtureWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    taMixtureCore(docs(s, dir), MixtureWeights.toDF("source", "rate"))
  }

  /** Repetition signals — the duplicate-content quality gates a training
    * pipeline applies FIRST, before any candidate-generating dedup
    * (cf. the Gopher/MassiveText repetition filters): the fraction of
    * duplicated tokens and of duplicated adjacent word-bigrams. Pure
    * per-row work fused into the one-pass [[graft.functions.RepSig]]
    * kernel — no explode, no join, no shuffle except the output sort:
    * at 100 TB this runs at scan speed inside whole-stage codegen,
    * which is exactly what a pre-filter must do.
    */
  def taRepetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      // one-pass fused kernel ([[graft.functions.RepSig]]): token scan +
      // two open hash sets per row, no staged token/bigram arrays —
      // bit-identical to the byte_split/zip_with/array_distinct
      // composition it replaced (RepSigSpec keeps that form as the
      // cross-check oracle)
      .select(col("doc_id"), graft.functions.RepSig.of(col("text")).as("__r"))
      .select(col("doc_id"),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.n_distinct").as("n_distinct"),
        col("__r.n_bigrams").as("n_bigrams"),
        col("__r.n_distinct_bigrams").as("n_distinct_bigrams"))
      .withColumn("dup_token_ratio",
        round(when(col("n_tokens") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
          .otherwise(0.0), 6))
      .withColumn("dup_bigram_ratio",
        round(when(col("n_bigrams") > 0,
          lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"))
          .otherwise(0.0), 6))
      .orderBy("doc_id")

  /** Union stopword hit-set for the Gopher-style filter's "contains at
    * least 2 stopwords" rule — language-agnostic on purpose: the rule
    * screens for natural-language prose, it does not identify WHICH
    * language (that's [[taLangId]]'s job).
    */
  private[graft] val GopherStopwords: Seq[String] =
    Seq("en", "de", "fr", "es").flatMap(stopwords).distinct

  // Gopher/MassiveText-style rule thresholds (Rae et al. 2021, table A1
  // shape — bounds re-tuned to this corpus's token statistics so each
  // rule actually discriminates at gate scale; GopherQualitySpec pins
  // per-rule behavior on a crafted fixture regardless of corpus)
  private[graft] val GopherMinTokens = 40
  private[graft] val GopherMaxTokens = 90
  private[graft] val GopherMinWordLen = 3.5
  private[graft] val GopherMaxWordLen = 4.5
  private[graft] val GopherMinStopHits = 2
  private[graft] val GopherMaxDupRatio = 0.55
  private[graft] val GopherMaxSymbolRatio = 0.1

  /** Per-document rule evaluation for [[taGopherQuality]] — factored out
    * so the spec can run the rules on a crafted fixture. One staged
    * token array + the one-pass [[graft.functions.RepSig]] kernel; every
    * rule is a pure per-row comparison on exact integer/explicit-double
    * operands, so both engines decide each rule identically. `carry`
    * names extra columns threaded through unchanged (the streaming
    * pipeline scores the rules mid-stream and keeps its event-time /
    * screen columns alongside).
    */
  private[graft] def gopherRules(d: DataFrame, carry: String*): DataFrame =
    d.select(Seq(col("lang"), col("doc_id"),
        graft.functions.RepSig.of(col("text")).as("__r"),
        filter(toks, t => t =!= "").as("__w"),
        length(regexp_replace(col("text"), " ", "")).as("__letters")) ++
        carry.map(col): _*)
      .select(Seq(col("lang"), col("doc_id"),
        col("__r.n_tokens").as("n_tokens"),
        (col("__r.n_tokens") >= GopherMinTokens &&
          col("__r.n_tokens") <= GopherMaxTokens).as("ok_len"),
        // the n_tokens > 0 guard makes the rule total: a 0-token doc
        // divides by zero — NULL in Spark, ±inf in DuckDB's IEEE floats —
        // and `false && NULL` = false in both, so empty docs FAIL the
        // rule identically instead of diverging between engines
        (col("__r.n_tokens") > 0 &&
          col("__letters").cast("double") / col("__r.n_tokens") >= GopherMinWordLen &&
          col("__letters").cast("double") / col("__r.n_tokens") <= GopherMaxWordLen)
          .as("ok_wordlen"),
        (size(filter(col("__w"),
          t => t.isin(GopherStopwords.map(x => x: Any): _*))) >= GopherMinStopHits)
          .as("ok_stopword"),
        ((col("__r.n_tokens") - col("__r.n_distinct")).cast("double") <=
          lit(GopherMaxDupRatio) * col("__r.n_tokens")).as("ok_dup"),
        (size(filter(col("__w"), t => t.rlike("[^a-z0-9]"))).cast("double") <=
          lit(GopherMaxSymbolRatio) * col("__r.n_tokens")).as("ok_symbol")) ++
        carry.map(col): _*)

  /** Gopher-style quality-rule FILTER — the multi-rule document gate a
    * pretraining pipeline runs before dedup (cf. Gopher/MassiveText,
    * Rae et al. 2021): token-count bounds, mean-word-length window,
    * minimum stopword hits, duplicate-token-ratio cap, and symbol-ratio
    * cap, reported as the per-language rejection manifest (how many
    * docs each rule rejects, what survives, and the surviving token
    * budget). All five rules are per-row expression work fused over one
    * scan + one low-cardinality aggregate — scan speed at 100 TB, same
    * shape as [[taMixture]]. The symbol rule cannot fire on this
    * synthetic corpus (generator vocabulary is [a-z0-9]+) — declared,
    * and pinned non-vacuously by GopherQualitySpec's crafted fixture.
    */
  def taGopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherRules(docs(s, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("ok_len"), 1L).otherwise(0L)).as("fail_len"),
        sum(when(!col("ok_wordlen"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("ok_stopword"), 1L).otherwise(0L)).as("fail_stopword"),
        sum(when(!col("ok_dup"), 1L).otherwise(0L)).as("fail_dup"),
        sum(when(!col("ok_symbol"), 1L).otherwise(0L)).as("fail_symbol"),
        sum(when(col("ok_len") && col("ok_wordlen") && col("ok_stopword") &&
          col("ok_dup") && col("ok_symbol"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("ok_len") && col("ok_wordlen") && col("ok_stopword") &&
          col("ok_dup") && col("ok_symbol"), col("n_tokens").cast("long"))
          .otherwise(0L)).as("tokens_kept"))
      .orderBy("lang")

  /** Shard count for an n-document shuffle run — the
    * [[seqPackShardsForN]] discipline (target ≈ 64k docs per shard so
    * the per-shard position sort stays one bounded in-partition sort)
    * constrained to POWERS OF TWO, because the shard id is a bit-range
    * of the 32-bit coin (shard = coin >> (32 − log₂ shards)) and only
    * a power-of-two width keeps every shard an exact contiguous coin
    * range. Snapped UP (never down: rounding down doubles the shard
    * sort size), floored at 8 — the oracled gate configuration
    * ([[ShuffleShards]]), the same static-oracle compromise the other
    * rules document. 10⁶ docs → 16 shards; 10⁹ → 16 384.
    */
  def shuffleShardsForN(n: Long): Int = {
    val target = math.max(1L, (n + 65535) / 65536)
    var p = 8
    while (p < target) p <<= 1
    p
  }

  /** Oracled gate config for [[taShuffleShard]] =
    * [[shuffleShardsForN]] at the gate corpus (ScaleConfigSpec pins
    * the equality).
    */
  private[graft] val ShuffleShards = 8

  /** Deterministic GLOBAL SHUFFLE into training shards — the "shuffle
    * the corpus before sharding" step every pretraining loader needs,
    * expressed as a distributed RANGE PARTITION of an md5-coin space
    * rather than a single global sort: shard = the top 3 bits of the
    * 32-bit coin (so shard k holds the k-th contiguous coin range) and
    * `pos` orders within the shard — reading shard 0..S−1 each in pos
    * order replays the exact coin-ordered permutation of the corpus
    * (the permutation property ShuffleShardSpec asserts against an
    * independent Java-MD5 recomputation). One exchange on the shard
    * key + one in-partition sort; no stage ever holds more than one
    * shard's rows, which is what makes the permutation computable at
    * 100 TB where an ORDER BY over the corpus is not. Same md5-coin
    * determinism contract as [[taSample]]: any cluster, any partition
    * layout, any retry produces the identical permutation.
    */
  def taShuffleShard(s: SparkSession, dir: String): DataFrame =
    shuffleShard(docs(s, dir), ShuffleShards)

  /** Core of [[taShuffleShard]], parameterized on the shard count (a
    * power of two — a production run passes [[shuffleShardsForN]](n));
    * ShuffleShardSpec replays the permutation at a non-gate width too.
    */
  private[graft] def shuffleShard(d: DataFrame, shards: Int): DataFrame = {
    require(shards >= 2 && Integer.bitCount(shards) == 1,
      s"shard count must be a power of two >= 2, got $shards")
    // 2^32 coin space over `shards` contiguous ranges:
    // shard = coin >> (32 − log₂ shards)
    val shift = 32 - Integer.numberOfTrailingZeros(shards)
    val coin = substring(md5(concat(lit("graft-shuf-1|"), col("doc_id"))), 1, 8)
    val w = Window.partitionBy("shard").orderBy("coin", "doc_id")
    d.select(col("doc_id"), coin.as("coin"))
      .withColumn("shard",
        shiftright(conv(col("coin"), 16, 10).cast("long"), shift).cast("int"))
      .withColumn("pos", row_number().over(w).cast("int"))
      .select("shard", "pos", "doc_id", "coin")
      .orderBy("shard", "pos")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    * score every document under a language model TRAINED ON THE CORPUS
    * ITSELF, then split the corpus into head/middle/tail thirds by
    * score — the standard quality-stratification step before sampling a
    * pretraining mixture. The LM is an add-one-smoothed bigram model;
    * the per-bigram cost is the INTEGER surprisal
    *
    *   s(v,w) = bitlen(c(v)+V) − bitlen(c(v,w)+1)
    *          = ⌊log₂(c(v)+V)⌋ − ⌊log₂(c(v,w)+1)⌋  ∈  log₂ 1/p ± 1
    *
    * (bitlen via `length(bin(n))` — exact integer-string arithmetic in
    * both engines) rather than a float ln: this repo's oracle contract
    * keeps every operand exactly reproducible across engines, and libm
    * ln is the one transcendental whose last ulp differs between
    * platforms. A doc's score is mean surprisal in bits (one exact
    * integer sum / one exact division); tertile thresholds come from a
    * HISTOGRAM of 0.01-bit score bins — binned via floor(score·100),
    * NOT round(score, 2): both engines hold bit-identical score doubles
    * (exact integer operands, one division), and floor of the same
    * double is engine-exact, whereas round()'s decimal-string semantics
    * differ (Spark rounds the shortest round-trip representation,
    * DuckDB the binary value — a mean surprisal like 179/40 = 4.475
    * IS an exact .xx5 decimal and splits them). The histogram is one
    * tiny single-partition cumulative window over ≤ a few hundred
    * integer bins, never a global sort
    * of the corpus (the scale difference between quantile-by-histogram
    * and ORDER BY at 100 TB). Plan: two token-keyed count aggregates
    * (the LM), one bigram-keyed equi-join (scoring), one doc-keyed
    * aggregate, and the broadcast threshold row.
    */
  def taPplBucket(s: SparkSession, dir: String): DataFrame =
    pplBucketCore(docs(s, dir))

  /** Core of [[taPplBucket]] over any (doc_id, text) frame, so
    * PplBucketSpec can hand-check surprisal arithmetic and threshold
    * placement on a crafted fixture.
    */
  private[graft] def pplBucketCore(d: DataFrame): DataFrame = {
    val t = d
      .select(col("doc_id"), filter(toks, x => x =!= "").as("__w"))
      .where(size(col("__w")) >= 2)
    // the bigram fan-out feeds LM training AND scoring — one tokenize
    // pass instead of three (settle and release: [[graft.core.Staged]])
    val big = Staged.acquire(t.select(col("doc_id"), explode(expr(
        "zip_with(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    // vocab from the CACHED bigram stream, not a second tokenize
    // pass over t: every doc here has ≥ 2 tokens, so each token sits in
    // w1 (positions 1..n−1) or w2 (positions 2..n) of some bigram — the
    // distinct-value SET is identical (countDistinct ignores
    // multiplicity), and the scan reads the settled cache instead of
    // re-running tokenize+explode over the corpus.
    val vocab = big.df.select(col("w1").as("x"))
      .union(big.df.select(col("w2").as("x")))
      .agg(countDistinct(col("x")).as("v"))
    // the per-doc scores feed the histogram-derived thresholds AND the
    // final bucket projection — without this the bigram scoring join
    // re-runs (and drags the vocab broadcast with it)
    val scored = Staged.settle(pplScore(big.df, vocab), big)
    val h = scored.df.groupBy(floor(col("score") * 100).as("bin"))
      .agg(count(lit(1)).as("n"))
    // `tot` from the histogram itself (Σ n over bins ≡ count of scored
    // rows — every row lands in exactly one bin) instead of a second
    // full scan of scored: both frames ride the SAME single-partition
    // bounded-bin window, so the threshold derivation is one action
    // over one subtree.
    val byBin = Window.orderBy("bin")
    val cum = h
      .withColumn("cum", sum(col("n")).over(
        byBin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("n")).over(
        byBin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val th = cum.agg(
        min(when(col("cum") >= expr("(tot + 2) div 3"), col("bin"))).as("t1"),
        min(when(col("cum") >= expr("(2 * tot + 2) div 3"), col("bin"))).as("t2"))
    val out = scored.df.crossJoin(broadcast(th))
      .select(col("doc_id"), round(col("score"), 6).as("ppl_bits"),
        when(floor(col("score") * 100) <= col("t1"), "head")
          .when(floor(col("score") * 100) <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
    Staged.settle(out, scored).df
  }

  /** LM training + bigram scoring over a (doc_id, w1, w2) stream and a
    * 1-row vocab-size frame — [[pplBucketCore]]'s heavy stage, split out
    * so PlanShapeSpec can assert its join topology on an unpersisted
    * input (the oracled query caches this stage, hiding the plan). The
    * bigram/prefix counts both derive from the same table — c(v) =
    * Σ_w c(v,w) — so the model is consistent by construction.
    */
  private[graft] def pplScore(big: DataFrame, vocab: DataFrame): DataFrame = {
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cvw"))
    val uc = bc.groupBy("w1").agg(sum(col("cvw")).as("cv"))
    val model = bc.join(uc, "w1")
    big.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (length(bin(col("cv") + col("v"))) -
          length(bin(col("cvw") + lit(1)))).as("s"))
      .groupBy("doc_id")
      .agg((sum(col("s")).cast("double") / count(lit(1))).as("score"))
  }

  /** Feature-hash space for [[taClassify]]: 2 hex chars = 256 buckets.
    * A production classifier hashes into 2^18+ buckets; the bucket-id
    * arithmetic below is width-agnostic (widen the substring), and the
    * weight lookup stays O(1) per token either way.
    */
  private[graft] val ClassifierFeatureHexChars = 2

  /** Per-token classifier weight: token → md5 feature bucket → signed
    * integer weight in [−128, 127] derived from the bucket's own md5.
    * The md5-derived weights are a deterministic STAND-IN for a trained
    * weight vector (same contract as [[taMixture]]'s md5 rates — a real
    * run broadcast-joins a learned `(bucket, weight)` table at the same
    * plan shape, which ClassifySpec proves equivalent); integer weights
    * keep every margin exactly replayable in both engines.
    */
  private[graft] def classifierWeight(tok: Column): Column = {
    val bucket = substring(md5(concat(lit("graft-feat-1|"), tok)), 1,
      ClassifierFeatureHexChars)
    conv(substring(md5(concat(lit("graft-w-1|"), bucket)), 1, 2), 16, 10)
      .cast("long") - 128
  }

  /** Model-based quality filtering — fastText-style hashed-linear
    * classifier INFERENCE (the CCNet / DCLM "classifier filter" step:
    * a linear model over hashed bag-of-words features scores every
    * document, and the pipeline keeps the positive class). The margin
    * is an IN-ROW fold: tokenize → hash each token to a feature bucket
    * → sum the buckets' signed integer weights — no explode, no join,
    * no shuffle except the output sort, so inference runs at scan
    * speed at 100 TB exactly like [[taQuality]]'s heuristic scoring.
    * Integer margins (no sigmoid — the sign and ordering are what the
    * filter consumes, and libm exp is the cross-engine hazard this
    * repo's oracle contract bans) make the decision engine-exact.
    */
  def taClassify(s: SparkSession, dir: String): DataFrame =
    classifyInRow(docs(s, dir))

  /** The in-row inference fold of [[taClassify]] over any (doc_id,
    * text) frame, so ClassifySpec can replay margins independently on
    * a crafted fixture.
    */
  private[graft] def classifyInRow(d: DataFrame): DataFrame =
    d.select(col("doc_id"), filter(toks, t => t =!= "").as("__w"))
      .select(col("doc_id"),
        size(col("__w")).as("n_tokens"),
        aggregate(col("__w"), lit(0L),
          (acc, t) => acc + classifierWeight(t)).as("margin"))
      .withColumn("label", when(col("margin") > 0, "keep").otherwise("drop"))
      .orderBy("doc_id")

  /** Classifier inference against a WEIGHTS TABLE — [[taClassify]]'s
    * md5-derived stand-in weights replaced by a `(bucket, weight)`
    * DataFrame, the shape a TRAINED model ships in: the table is
    * O(2^feature-bits) rows, always broadcastable, so the probe is a
    * map-side hash join and the only added cost over the in-row fold
    * is the token explode feeding the per-doc margin aggregate.
    * Buckets absent from the table carry weight 0 (a trained hashed
    * model is total over its own bucket space by construction).
    * ClassifySpec proves the md5-reproducing table replays
    * [[taClassify]] bit-for-bit.
    */
  private[graft] def taClassifyCore(d: DataFrame, weights: DataFrame): DataFrame =
    d.select(col("doc_id"), filter(toks, t => t =!= "").as("__w"))
      .select(col("doc_id"), size(col("__w")).as("n_tokens"),
        explode_outer(col("__w")).as("tok"))
      .withColumn("bucket",
        substring(md5(concat(lit("graft-feat-1|"), col("tok"))), 1,
          ClassifierFeatureHexChars))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id", "n_tokens")
      .agg(coalesce(sum("weight"), lit(0L)).as("margin"))
      .withColumn("label", when(col("margin") > 0, "keep").otherwise("drop"))
      .select("doc_id", "n_tokens", "margin", "label")
      .orderBy("doc_id")

  /** The full 256-row md5-reproducing weights table — every bucket of
    * the [[ClassifierFeatureHexChars]]-hex feature space paired with
    * the SAME weight [[classifierWeight]] derives inline, built as a
    * DataFrame so [[taClassifyWeighted]] ships weights as DATA (the
    * form a trained model arrives in) while staying bit-equal to the
    * in-row fold (ClassifySpec proves the equality; the driver oracle
    * regenerates the identical table in SQL).
    */
  private[graft] def classifierWeightsTable(s: SparkSession): DataFrame =
    s.range(1 << (4 * ClassifierFeatureHexChars))
      .select(format_string(s"%0${ClassifierFeatureHexChars}x", col("id"))
        .as("bucket"))
      .withColumn("weight",
        conv(substring(md5(concat(lit("graft-w-1|"), col("bucket"))), 1, 2), 16, 10)
          .cast("long") - 128)

  /** Classifier inference with the weights as a broadcast TABLE — the
    * deployment shape of [[taClassify]] (a trained `(bucket, weight)`
    * vector shipped as data), under the driver oracle: DuckDB
    * regenerates the same 256-row table from the same md5 arithmetic
    * and replays the explode → broadcast probe → per-doc margin sum.
    * Same plan discipline as [[taMixtureWeighted]]: the weights side
    * is O(2^feature-bits) rows, the join is a map-side hash probe
    * (PlanShapeSpec pins broadcast-only), and the corpus side still
    * runs at scan speed.
    */
  def taClassifyWeighted(s: SparkSession, dir: String): DataFrame =
    taClassifyCore(docs(s, dir), classifierWeightsTable(s))

  /** Positional token fan-out (posexplode) — the generator/UDTF shape:
    * one output row per (doc, position, token), the layout a token-level
    * labeling or n-gram indexing stage consumes. Sampled to 1% of docs
    * because the full fan-out multiplies rows by token count — at
    * 100 TB the explode runs AFTER pushed-down row filters, and the
    * generated rows flow straight into the next aggregate without
    * materializing (Generate is pipelined inside codegen, no shuffle
    * until something keys on the output).
    */
  def taPosTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .where(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id"), filter(toks, t => t =!= "").as("__toks"))
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("pos", "tok")))
      .orderBy("doc_id", "pos")

  /** Shard count for an n-document packing run — the scale rule the
    * other adaptive configs follow ([[Dedup.minhashRowsForN]],
    * [[Similarity.ivfBitsForN]]). Each shard's cumulative-sum window is
    * one in-partition sort, so the shard count must GROW with the
    * corpus for the sort (and the packing parallelism) to stay bounded:
    * target ≈ 64k docs per shard ⇒ shards = ⌈n / 65536⌉, floored at 8 —
    * and 8 IS the oracled gate configuration at test scale, the same
    * static-oracle compromise the other rules document. At 10⁹ docs
    * the rule yields ~15k shards — cluster-width parallelism with
    * bounded per-shard state.
    */
  def seqPackShardsForN(n: Long): Int =
    math.max(8L, (n + 65535L) / 65536L).toInt

  /** The rule's floor — the shard count the oracled gate query bakes in. */
  private[graft] val GateSeqPackShards = 8

  /** Deterministic SEQUENCE PACKING — the pretraining step that
    * assigns documents to fixed-budget training sequences: docs are
    * sharded (doc_id mod shards), ordered within the shard, and each
    * doc joins the pack containing its starting token offset
    * (floor(tokens-before-this-doc / 2048)) — a running-cumsum
    * formulation of greedy packing that is exactly SQL-replayable,
    * unlike first-fit bin packing (inherently sequential state). One
    * exchange on the shard key, one in-partition sort; the shard count
    * follows [[seqPackShardsForN]] (gate config = its floor, 8), and
    * the pack summary (docs + tokens per pack) is what a loader
    * manifest consumes.
    */
  def taSeqPack(s: SparkSession, dir: String): DataFrame =
    seqPack(docs(s, dir), shards = GateSeqPackShards)

  /** Core of [[taSeqPack]], shard-count parameterized so the scale rule
    * is exercisable ([[seqPackShardsForN]]; SeqPackSpec asserts the
    * packing invariants hold for any shard count).
    */
  private[graft] def seqPack(d: DataFrame, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.select(col("doc_id"), pmod(col("doc_id"), lit(shards)).as("shard"),
        size(filter(toks, t => t =!= "")).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / lit(2048)).cast("long"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("shard", "pack_id")
  }

  /** Top bigrams per language — collocation counting, the n-gram
    * corpus statistic ([[taTopTermsLang]] covers unigrams). Tokens are
    * staged once (the README lambda rule: slice/size reference the
    * staged column, not a re-evaluated expression), bigrams formed by
    * zip-against-tail inside the row, then one (lang, bigram)-keyed
    * aggregate — partial aggregation absorbs the per-doc fan-out
    * before the exchange, so shuffle volume is distinct-bigram-sized.
    * Top-5 per language via row_number with a total tiebreak.
    */
  def taNgramTop(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("bigram"))
    docs(s, dir)
      .select(col("lang"), filter(toks, t => t =!= "").as("__w"))
      .where(size(col("__w")) >= 2)
      .select(col("lang"), explode(expr(
        "zip_with(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("bigram"), col("n"))
      .orderBy("lang", "rk")
  }

  /** Chunk budget: tokens per training/RAG chunk and the stride between
    * chunk starts (overlap = ChunkSize − ChunkStride = 16 tokens, the
    * boundary-context rule retrieval chunking uses).
    */
  private[graft] val ChunkSize = 64
  private[graft] val ChunkStride = 48

  /** Context-window chunking — the doc → overlapping fixed-budget
    * chunks step a RAG / long-context pipeline runs after cleaning:
    * chunk i covers tokens [i·stride + 1, i·stride + size], chunks
    * keep starting while a start position remains (an empty doc still
    * yields its one empty chunk, so every doc_id survives into the
    * chunk table).
    *
    * Per-row work only: the start list is generated and exploded
    * in-row (fan-out ≈ n/stride, bounded by doc length), each chunk a
    * slice + hash of the already-split token array — no join, no
    * aggregate, no shuffle but the output sort. The chunk text itself
    * ships as md5 (16 bytes/chunk to the gate); a real pipeline writes
    * the token slice instead, same plan.
    */
  def taChunk(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), filter(toks, t => t =!= "").as("w"))
      .select(col("doc_id"), col("w"), posexplode(sequence(lit(0L),
        expr(s"(greatest(size(w), 1) - 1) div $ChunkStride"))))
      .withColumn("start_tok", (col("col") * ChunkStride + 1).cast("int"))
      .withColumn("chunk", slice(col("w"), col("start_tok"), lit(ChunkSize)))
      .select(col("doc_id"), col("pos").as("chunk_idx"), col("start_tok"),
        size(col("chunk")).as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Feature-hash space for [[taDsir]] — same 2-hex-char/256-bucket
    * gate width as [[ClassifierFeatureHexChars]]; width-agnostic (a
    * production run widens the substring to 2^18+ buckets).
    */
  private[graft] val DsirFeatureHexChars = 2
  private[graft] val DsirBuckets = 256

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every RAW-pool document by how much more
    * likely its hashed-bigram features are under the TARGET
    * distribution (here: the `lang = 'en'` sub-corpus) than under the
    * raw pool's own distribution, and keep the documents the target
    * model prefers. Features are md5-hashed bigram buckets
    * ([[DsirBuckets]] at gate); both "models" are add-one-smoothed
    * bucket unigrams; the per-feature log-ratio is INTEGER bit-length
    * arithmetic (the [[taPplBucket]] discipline — engine-exact, no
    * libm transcendentals):
    *
    *   s(b) = [bitlen(c_t(b)+1) − bitlen(N_t+B)]
    *        − [bitlen(c_r(b)+1) − bitlen(N_r+B)]  ∈  log₂(p_t/p_r) ± 2
    *
    * doc weight = Σ s over the doc's bigram occurrences; keep ⇔ w > 0.
    * (The paper samples ∝ the importance weight; the deterministic
    * sign threshold is the same selection direction with an exactly
    * replayable decision — the md5-coin sampler of [[taSample]]
    * composes on top for the sampled variant.)
    *
    * Scale shape: one bigram fan-out feeding both model aggregates and
    * the scoring pass (persisted once), two B-row count aggregates,
    * the B-row score table broadcast back onto the raw stream, one
    * doc-keyed aggregate — inference is scan-speed like
    * [[taClassify]], and model size is B rows regardless of corpus.
    */
  def taDsir(s: SparkSession, dir: String): DataFrame =
    dsirCore(docs(s, dir))

  /** Core of [[taDsir]] over any (doc_id, lang, text) frame, so
    * DsirSpec can pin the arithmetic on crafted fixtures.
    */
  private[graft] def dsirCore(d: DataFrame): DataFrame = {
    val t = d
      .select(col("doc_id"), col("lang"), filter(toks, x => x =!= "").as("__w"))
      .where(size(col("__w")) >= 2)
    val feats = Staged.acquire(t.select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("bg"))
      .withColumn("bucket",
        substring(md5(concat(lit("graft-dsir-1|"), col("bg"))), 1,
          DsirFeatureHexChars))
      .select("doc_id", "lang", "bucket"))
    val target = feats.df.where(col("lang") === "en")
    val raw = feats.df.where(col("lang") =!= "en")
    val mt = target.groupBy("bucket").agg(count(lit(1)).as("ct"))
    val mr = raw.groupBy("bucket").agg(count(lit(1)).as("cr"))
    val nt = target.agg(count(lit(1)).as("nt"))
    val nr = raw.agg(count(lit(1)).as("nr"))
    val scoreTable = mt.join(mr, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bucket"),
        ((length(bin(col("ct") + 1)) - length(bin(col("nt") + lit(DsirBuckets))))
          - (length(bin(col("cr") + 1))
            - length(bin(col("nr") + lit(DsirBuckets))))).as("s"))
    val out = raw.join(broadcast(scoreTable), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("s")).cast("long").as("w_int"))
      .withColumn("keep", col("w_int") > 0)
      .orderBy("doc_id")
    Staged.settle(out, feats).df
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_dsir" -> (taDsir _),
    "ta_chunk" -> (taChunk _),
    "ta_gopher_quality" -> (taGopherQuality _),
    "ta_shuffle_shard" -> (taShuffleShard _),
    "ta_ppl_bucket" -> (taPplBucket _),
    "ta_classify" -> (taClassify _),
    "ta_classify_weighted" -> (taClassifyWeighted _),
    "ta_bpe_train" -> (Bpe.taBpeTrain _),
    "ta_bpe_train_batched" -> (Bpe.taBpeTrainBatched _),
    "ta_bpe_vocab" -> (Bpe.taBpeVocab _),
    "ta_bpe_encode" -> (Bpe.taBpeEncode _),
    "ta_pii_redact" -> (Pii.taPiiRedact _),
    "ta_ngram_top" -> (taNgramTop _),
    "ta_seq_pack" -> (taSeqPack _),
    "ta_pos_tokens" -> (taPosTokens _),
    "ta_repetition" -> (taRepetition _),
    "ta_sample" -> (taSample _),
    "ta_domain_cap" -> (taDomainCap _),
    "ta_mixture" -> (taMixture _),
    "ta_mixture_weighted" -> (taMixtureWeighted _),
    "ta_top_terms_lang" -> (taTopTermsLang _),
    "ta_doc_stats" -> (taDocStats _),
    "ta_lang_id" -> (taLangId _),
    "ta_quality" -> (taQuality _),
    "ta_token_regex" -> (taTokenRegex _),
    "ta_fingerprint" -> (taFingerprint _),
    "ta_rolling_hash" -> (taRollingHash _),
    "ta_tfidf_top" -> (taTfidfTop _),
  )

  private def inList(lang: String): String =
    stopwords(lang).map(w => s"'$w'").mkString("(", ", ", ")")

  /** The Gopher stopword hit-set as a SQL IN list. */
  private def gopherInList: String =
    GopherStopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  val oracles: Map[String, String] = Map(
    // same bigram fan-out / md5 bucketing / bitlen log-ratio; the two
    // model CTEs full-outer-merge so raw-only and target-only buckets
    // both smooth to count 0 + 1
    "ta_dsir" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, lang,
         |    substr(md5('graft-dsir-1|' || w[CAST(i AS INTEGER)] || ' ' ||
         |      w[CAST(i AS INTEGER) + 1]), 1, $DsirFeatureHexChars) AS bucket
         |  FROM t, LATERAL unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |mt AS (SELECT bucket, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY bucket),
         |mr AS (SELECT bucket, count(*) AS cr FROM f WHERE lang <> 'en' GROUP BY bucket),
         |nt AS (SELECT count(*) AS n FROM f WHERE lang = 'en'),
         |nr AS (SELECT count(*) AS n FROM f WHERE lang <> 'en'),
         |sc AS (
         |  SELECT coalesce(mt.bucket, mr.bucket) AS bucket,
         |    (length(bin(coalesce(ct, 0) + 1))
         |       - length(bin((SELECT n FROM nt) + $DsirBuckets)))
         |    - (length(bin(coalesce(cr, 0) + 1))
         |       - length(bin((SELECT n FROM nr) + $DsirBuckets))) AS s
         |  FROM mt FULL OUTER JOIN mr ON mt.bucket = mr.bucket)
         |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |  CAST(sum(sc.s) AS BIGINT) AS w_int,
         |  (CAST(sum(sc.s) AS BIGINT) > 0) AS keep
         |FROM f JOIN sc USING (bucket) WHERE f.lang <> 'en'
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    // the same start-list → slice → hash chain; // is DuckDB integer
    // division (Spark side uses div); list_slice's inclusive end =
    // start + size − 1 capped at len(w)
    "ta_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, w,
         |    unnest(range(0, (greatest(len(w), 1) - 1) // $ChunkStride + 1)) AS i
         |  FROM t),
         |d AS (
         |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    CAST(i * $ChunkStride + 1 AS INT) AS start_tok,
         |    list_slice(w, i * $ChunkStride + 1,
         |      least(i * $ChunkStride + $ChunkSize, len(w))) AS chunk
         |  FROM c)
         |SELECT doc_id, chunk_idx, start_tok,
         |  CAST(len(chunk) AS INT) AS n_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM d ORDER BY doc_id, chunk_idx""".stripMargin,
    // rule thresholds interpolated from the same constants the Spark
    // side compares against; every rule is exact-int / explicit-double
    // arithmetic so both engines decide each document identically
    "ta_gopher_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w,
         |    length(replace(text, ' ', '')) AS n_letters
         |  FROM documents),
         |r AS (
         |  SELECT lang, CAST(len(w) AS INTEGER) AS n_tokens,
         |    (len(w) BETWEEN $GopherMinTokens AND $GopherMaxTokens) AS ok_len,
         |    (len(w) > 0 AND n_letters::DOUBLE / len(w) >= $GopherMinWordLen
         |      AND n_letters::DOUBLE / len(w) <= $GopherMaxWordLen) AS ok_wordlen,
         |    (len(list_filter(w, x -> x IN $gopherInList)) >= $GopherMinStopHits) AS ok_stopword,
         |    (len(w) - len(list_distinct(w)) <= $GopherMaxDupRatio * len(w)) AS ok_dup,
         |    (len(list_filter(w, x -> regexp_matches(x, '[^a-z0-9]')))
         |      <= $GopherMaxSymbolRatio * len(w)) AS ok_symbol
         |  FROM t)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
         |  CAST(sum(CASE WHEN NOT ok_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
         |  CAST(sum(CASE WHEN NOT ok_stopword THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
         |  CAST(sum(CASE WHEN NOT ok_dup THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup,
         |  CAST(sum(CASE WHEN NOT ok_symbol THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
         |  CAST(sum(CASE WHEN ok_len AND ok_wordlen AND ok_stopword AND ok_dup
         |    AND ok_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN ok_len AND ok_wordlen AND ok_stopword AND ok_dup
         |    AND ok_symbol THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // replays inference token-by-token: the same two-md5 bucket→weight
    // chain, the 2-hex-digit weight folded to an int via strpos (DuckDB
    // has no conv()); integer margins make the fold order-free
    "ta_classify" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |    coalesce(list_sum(list_transform(w, t ->
        |      (strpos('0123456789abcdef', substr(md5('graft-w-1|'
        |         || substr(md5('graft-feat-1|' || t), 1, 2)), 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5('graft-w-1|'
        |         || substr(md5('graft-feat-1|' || t), 1, 2)), 2, 1)) - 1)
        |      - 128)), 0) AS margin
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(margin AS BIGINT) AS margin,
        |  CASE WHEN margin > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM m ORDER BY doc_id""".stripMargin,
    "ta_bpe_train" -> Bpe.oracleSql,
    // the batched trainer is PROVABLY rule-for-rule identical to the
    // sequential one (see Bpe.trainStateBatched), so the sequential
    // 4-unrolled-round replay hash-checks it verbatim
    "ta_bpe_train_batched" -> Bpe.oracleSql,
    "ta_bpe_vocab" -> Bpe.vocabOracleSql,
    "ta_bpe_encode" -> Bpe.encodeOracleSql,
    "ta_pii_redact" -> Pii.oracleSql,
    // the weights table REGENERATED in SQL (printf('%02x') over
    // range(256), same md5→[−128,127] arithmetic), then the
    // explode → left-join probe → per-doc margin sum replayed; an
    // empty token list keeps its row (unnest of [NULL] ≡ Spark's
    // explode_outer) with margin coalesced to 0
    "ta_classify_weighted" ->
      """WITH wt AS (
        |  SELECT printf('%02x', i) AS bucket,
        |    (strpos('0123456789abcdef',
        |       substr(md5('graft-w-1|' || printf('%02x', i)), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef',
        |       substr(md5('graft-w-1|' || printf('%02x', i)), 2, 1)) - 1)
        |    - 128 AS weight
        |  FROM range(0, 256) t(i)),
        |t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |    unnest(CASE WHEN len(w) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE w END) AS tok
        |  FROM t),
        |j AS (
        |  SELECT doc_id, n_tokens,
        |    substr(md5('graft-feat-1|' || tok), 1, 2) AS bucket
        |  FROM e),
        |m AS (
        |  SELECT j.doc_id, j.n_tokens, coalesce(sum(wt.weight), 0) AS margin
        |  FROM j LEFT JOIN wt ON j.bucket = wt.bucket
        |  GROUP BY j.doc_id, j.n_tokens)
        |SELECT doc_id, n_tokens, CAST(margin AS BIGINT) AS margin,
        |  CASE WHEN margin > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM m ORDER BY doc_id""".stripMargin,
    // hex coin folded to a BIGINT digit-by-digit (DuckDB has no conv());
    // 2^32 / 8 shards = 536870912-wide contiguous coin ranges
    "ta_shuffle_shard" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    substr(md5('graft-shuf-1|' || CAST(doc_id AS VARCHAR)), 1, 8) AS coin
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, coin,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(coin, ''),
        |        ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) AS coin_num
        |  FROM c)
        |SELECT CAST(coin_num // 536870912 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY coin_num // 536870912
        |    ORDER BY coin, doc_id) AS INTEGER) AS pos,
        |  doc_id, coin
        |FROM n ORDER BY shard, pos""".stripMargin,
    // replays the full CCNet pipeline: bigram LM counts, integer
    // surprisal via length(bin(n)) — exact in both engines — and the
    // histogram tertile thresholds; (tot+2)//3 = ceil(tot/3) in
    // integer arithmetic. Bins are floor(score*100) (engine-exact on
    // the bit-identical score double), NOT round(score,2), whose
    // decimal-string vs binary semantics split the engines on exact
    // .xx5 scores — see taPplBucket's Scaladoc
    "ta_ppl_bucket" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
        |    unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
        |  FROM t),
        |bc AS (SELECT w1, w2, count(*) AS cvw FROM big GROUP BY w1, w2),
        |uc AS (SELECT w1, CAST(sum(cvw) AS BIGINT) AS cv FROM bc GROUP BY w1),
        |vocab AS (
        |  SELECT count(DISTINCT x) AS v FROM (SELECT unnest(w) AS x FROM t)),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(sum(length(bin(cv + v)) - length(bin(cvw + 1))) AS DOUBLE)
        |      / count(*) AS score
        |  FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vocab
        |  GROUP BY doc_id),
        |h AS (SELECT CAST(floor(score * 100) AS BIGINT) AS bin, count(*) AS n
        |  FROM sc GROUP BY 1),
        |c AS (SELECT bin, sum(n) OVER (ORDER BY bin
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
        |tot AS (SELECT count(*) AS tot FROM sc),
        |th AS (SELECT
        |    min(CASE WHEN cum >= (tot + 2) // 3 THEN bin END) AS t1,
        |    min(CASE WHEN cum >= (2 * tot + 2) // 3 THEN bin END) AS t2
        |  FROM c CROSS JOIN tot)
        |SELECT sc.doc_id, round(score, 6) AS ppl_bits,
        |  CASE WHEN CAST(floor(score * 100) AS BIGINT) <= t1 THEN 'head'
        |       WHEN CAST(floor(score * 100) AS BIGINT) <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN th
        |ORDER BY sc.doc_id""".stripMargin,
    // bigrams via 1-indexed range(1, len) — i = 1..len-1 pairs w[i]
    // with w[i+1]; len<2 yields an empty range, no CASE needed
    "ta_ngram_top" ->
      """WITH w AS (
        |  SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT lang,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
        |  FROM w),
        |c AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
        |r AS (SELECT lang, bigram, n,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS INTEGER) AS rk
        |  FROM c)
        |SELECT lang, rk, bigram, n FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,
    "ta_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM c GROUP BY shard, pack_id
        |ORDER BY shard, pack_id""".stripMargin,
    // DuckDB lacks WITH ORDINALITY; parallel unnests zip positionally,
    // so generate_series supplies the 0-based position
    "ta_pos_tokens" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents WHERE doc_id % 100 = 0)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(1, len(toks))) - 1 AS INTEGER) AS pos,
        |  unnest(toks) AS tok
        |FROM w ORDER BY doc_id, pos""".stripMargin,
    // bigrams via 1-indexed range(1, len) — i runs 1..len-1, pairing
    // w[i] with w[i+1], exactly the Spark zip-against-tail
    "ta_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) >= 2
        |         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |         ELSE CAST([] AS VARCHAR[]) END AS bg
        |  FROM w)
        |SELECT doc_id,
        | CAST(len(w) AS INTEGER) AS n_tokens,
        | CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct,
        | CAST(len(bg) AS INTEGER) AS n_bigrams,
        | CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct_bigrams,
        | round(CASE WHEN len(w) > 0
        |   THEN 1 - len(list_distinct(w))::DOUBLE / len(w) ELSE 0 END, 6)
        |   AS dup_token_ratio,
        | round(CASE WHEN len(bg) > 0
        |   THEN 1 - len(list_distinct(bg))::DOUBLE / len(bg) ELSE 0 END, 6)
        |   AS dup_bigram_ratio
        |FROM b ORDER BY doc_id""".stripMargin,
    // identical md5-prefix coin: hex-string compare = numeric threshold
    "ta_sample" ->
      """SELECT doc_id, lang,
        | substr(md5('graft-sample-1|' || CAST(doc_id AS VARCHAR)), 1, 4) AS coin
        |FROM documents
        |WHERE substr(md5('graft-sample-1|' || CAST(doc_id AS VARCHAR)), 1, 4)
        |  < CASE WHEN lang = 'en' THEN '0ccc' ELSE '3333' END
        |ORDER BY doc_id""".stripMargin,
    // same md5 coin discipline; the rank truncation and the quota are
    // replayed verbatim — a domain keeping an 11th doc, a coin ranked
    // differently, or a dropped small domain all hash-fail
    "ta_domain_cap" ->
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY md5('graft-domcap-1|' || CAST(doc_id AS VARCHAR)),
         |        doc_id) AS INTEGER) AS qrank
         |  FROM documents)
         |SELECT source, doc_id, qrank FROM r
         |WHERE qrank <= ${DomainCapQuota}
         |ORDER BY source, qrank""".stripMargin,
    // same single-space/empty-filter token model as ta_quality; the
    // coin/rate compares are lexicographic on identical hex strings
    "ta_mixture" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
        |    substr(md5('graft-mix-1|' || CAST(doc_id AS VARCHAR)), 1, 4) AS coin,
        |    substr(md5('graft-mixrate-1|' || source), 1, 4) AS rate
        |  FROM documents)
        |SELECT source, max(rate) AS rate, count(*) AS n_docs_total,
        |  CAST(sum(CASE WHEN coin < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(CASE WHEN coin < rate THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // the weights table interpolated as a VALUES list — same external
    // rates the Spark side broadcast-joins; unknown sources → '0000'
    "ta_mixture_weighted" ->
      s"""WITH rates AS (
         |  SELECT * FROM (VALUES ${
               MixtureWeights.map { case (src, r) => s"('$src','$r')" }.mkString(", ")
             }) AS t(source, rate)),
         |d AS (
         |  SELECT documents.source AS source, doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
         |    substr(md5('graft-mix-1|' || CAST(doc_id AS VARCHAR)), 1, 4) AS coin,
         |    coalesce(rates.rate, '0000') AS rate
         |  FROM documents LEFT JOIN rates ON documents.source = rates.source)
         |SELECT source, max(rate) AS rate, count(*) AS n_docs_total,
         |  CAST(sum(CASE WHEN coin < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(CASE WHEN coin < rate THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "ta_top_terms_lang" ->
      """WITH terms AS (
        |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |tc AS (SELECT lang, term, count(*) AS cnt FROM terms GROUP BY lang, term),
        |ranked AS (
        |  SELECT lang, term, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS INTEGER) AS rank
        |  FROM tc)
        |SELECT lang, rank, term, cnt FROM ranked WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin,
    "ta_doc_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS INTEGER) AS n_chars,
        | CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS n_tokens,
        | CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_letters,
        | round(length(replace(text, ' ', ''))::DOUBLE
        |   / len(list_filter(string_split(text, ' '), t -> t <> '')), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    len(list_filter(string_split(text, ' '), t -> t IN ${inList("en")})) AS s_en,
         |    len(list_filter(string_split(text, ' '), t -> t IN ${inList("de")})) AS s_de,
         |    len(list_filter(string_split(text, ' '), t -> t IN ${inList("fr")})) AS s_fr,
         |    len(list_filter(string_split(text, ' '), t -> t IN ${inList("es")})) AS s_es
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |         WHEN s_fr >= s_es THEN 'fr'
         |         ELSE 'es' END AS pred_lang
         |  FROM scored)
         |SELECT lang, pred_lang, count(*) AS n_docs FROM pred
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "ta_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS INTEGER) AS n_distinct
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_distinct,
        | round(n_distinct::DOUBLE / n_tokens, 6) AS distinct_ratio,
        | round(0.5::DOUBLE * least(1.0::DOUBLE, n_tokens::DOUBLE / 50.0::DOUBLE)
        |   + 0.5::DOUBLE * (n_distinct::DOUBLE / n_tokens), 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "ta_token_regex" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num,
        | CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS INTEGER) AS n_mark
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_rolling_hash" ->
      """WITH chars AS (
        |  SELECT doc_id,
        |    list_transform(split(text, ''), c -> ord(c)::BIGINT) AS full_c,
        |    list_transform(split(substr(text, 1, 32), ''), c -> ord(c)::BIGINT) AS head_c
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, full_c),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS full_hash,
        |  list_reduce(list_prepend(0::BIGINT, head_c),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS head32_hash
        |FROM chars ORDER BY doc_id""".stripMargin,
    "ta_tfidf_top" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df_count FROM terms GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf::DOUBLE * n.n_docs / df.df_count, 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tf, tfidf FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
  )
}
