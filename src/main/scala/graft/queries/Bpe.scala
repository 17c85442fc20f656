package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge-rule TRAINING (Sennrich, Haddow, Birch
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units", ACL — the tokenizer-training step every pretraining
  * pipeline runs before anything else): start from characters, then
  * repeatedly (1) count adjacent symbol pairs over the corpus,
  * (2) take the most frequent pair, (3) merge it into one symbol
  * everywhere, emitting one merge RULE per round — the learned
  * vocabulary is exactly the rule list.
  *
  * The 100 TB shape, which is also the paper's: BPE trains on the
  * WORD-FREQUENCY TABLE, not the token stream — so the only
  * corpus-scale stage is one word-count aggregate (the same
  * partial-agg shuffle as wc_word_count; at 100 TB that is the
  * wc-shaped pass this engine already optimizes). Everything after
  * operates on the distinct-word table (Heaps' law: ~10⁶–10⁸ rows at
  * corpus scale — still a DataFrame, never a driver structure): per
  * round, one pair-count aggregate over it, one argmax via
  * orderBy().limit(1) (planned TakeOrdered — a 1-row answer, no
  * global sort materialization), and one broadcast of that 1-row rule
  * into a per-row merge fold. No collect anywhere; rounds are bounded
  * by the requested merge count with lineage truncated per round.
  *
  * Merge semantics are the standard greedy left-to-right
  * non-overlapping single-pass replace (("a","a") on "a a a" yields
  * "aa a"; the NEW symbol never re-merges within the same round —
  * chaining happens across rounds), implemented as a string-state
  * left fold over the symbol array: state = res ␟ pend, each symbol
  * either completes the pair with pend, or flushes pend and becomes
  * it. The identical fold (same branch conditions, same separators)
  * runs in DuckDB via list_reduce, so the oracle replays every round
  * bit-for-bit — ties on the pair count break (count DESC, left,
  * right), all-integer, engine-exact.
  */
object Bpe {

  /** Gate config: 4 merge rounds — enough to pin cross-round chaining
    * (round-k merged symbols feeding round-k+1 pairs) under the
    * oracle; the rule list is the output, so the round count is an
    * output-size knob, not an n-scaling knob.
    */
  private[graft] val BpeMerges = 4

  /** State separator for the merge fold — U+001F (unit separator).
    * Structural precondition (shared with the oracle, which writes
    * chr(31)): symbols never contain it — tokens cannot contain the
    * space ByteSplit splits on, and U+001F inside document text is
    * outside both engines' replay contract.
    */
  private val Sep = "\u001f"

  /** append with a space separator, skipping the empty-res case */
  private def app(res: Column, s: Column): Column =
    when(res === "", s).otherwise(concat(res, lit(" "), s))

  /** One greedy left-to-right merge pass of the pair (l, r) over a
    * symbol array — the string-state fold described above.
    */
  private[graft] def mergePass(syms: Column, l: Column, r: Column): Column = {
    val folded = aggregate(syms, lit(Sep), (acc, x) => {
      val res = substring_index(acc, Sep, 1)
      val pend = substring_index(acc, Sep, -1)
      when(pend === l && x === r,
        concat(app(res, concat(l, r)), lit(Sep)))
        .when(pend === "", concat(res, lit(Sep), x))
        .otherwise(concat(app(res, pend), lit(Sep), x))
    })
    val res = substring_index(folded, Sep, 1)
    val pend = substring_index(folded, Sep, -1)
    split(when(pend === "", res).otherwise(app(res, pend)), " ")
  }

  /** The corpus-scale stage: distinct words + frequencies + initial
    * character symbol arrays. ByteSplit tokenization, same as every
    * other ta_* query.
    */
  private def wordFreq(d: DataFrame): DataFrame =
    d.select(explode(filter(graft.functions.ByteSplit.split(col("text")),
        t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))

  /** Adjacent-pair weighted counts over the current symbol table. */
  private def pairCounts(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(expr(
        "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), " +
          "(a, b) -> named_struct('l', a, 'r', b))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))

  def taBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrain(graft.core.FanOut(graft.sources.Tables(s, dir).documents),
      BpeMerges)

  /** Core over any (text) frame so BpeTrainSpec can pin closed-form
    * fixtures and fuzz against an independent implementation.
    */
  private[graft] def bpeTrain(d: DataFrame, merges: Int): DataFrame =
    trainState(d, merges)._1
      .select(col("step"), col("l").as("lhs"), col("r").as("rhs"),
        concat(col("l"), col("r")).as("merged"), col("cnt").as("pair_count"))
      .orderBy("step")

  /** The training loop, returning BOTH outputs of a BPE run: the rule
    * list (one row per round) and the final distinct-word symbol table
    * (word, freq, syms) — the trained tokenizer's application to every
    * corpus word. [[bpeTrain]] reads the first; the encode/vocab
    * queries read the second.
    */
  private[graft] def trainState(d: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    require(merges > 0, s"need a positive merge count, got $merges")
    var wf = wordFreq(d).localCheckpoint(eager = true)
    var rules: DataFrame = null
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // argmax pair: TakeOrdered over the pair-count aggregate; the
      // 1-row result is checkpointed so the rule row the output
      // reports and the rule the merge applies are the same bits
      val top = pairCounts(wf)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .withColumn("step", lit(step))
        .localCheckpoint(eager = true)
      if (top.isEmpty) {
        // every word collapsed to one symbol — nothing left to merge
        exhausted = true
      } else {
        rules = if (rules == null) top else rules.unionByName(top)
        wf = wf.crossJoin(broadcast(
            top.select(col("l").as("__l"), col("r").as("__r"))))
          .select(col("word"), col("freq"),
            mergePass(col("syms"), col("__l"), col("__r")).as("syms"))
          .localCheckpoint(eager = true)
        step += 1
      }
    }
    // a corpus of single-character words exhausts before the first
    // merge — callers still get a rules frame, just an empty one
    (Option(rules).getOrElse(emptySeqRules(wf)), wf)
  }

  /** Zero-row rule frames with the trainers' output schemas, for the
    * nothing-ever-merged case (every word already one symbol).
    */
  private def emptySeqRules(wf: DataFrame): DataFrame =
    pairCounts(wf).withColumn("step", lit(1)).limit(0)
  private def emptyBatchRules(wf: DataFrame): DataFrame =
    pairCounts(wf)
      .select(lit(1).cast("int").as("step"), col("l"), col("r"), col("cnt"),
        lit(1).as("round"))
      .limit(0)

  /** Max merges per batched round ([[trainStateBatched]]) and the
    * ranked-window width the batch is selected from. The window is the
    * only collected state (one bounded array per round — constant,
    * like every other collect_list group in the repo).
    */
  private[graft] val BpeMaxBatch = 64
  private[graft] val BpeBatchWindow = 256

  def taBpeTrainBatched(s: SparkSession, dir: String): DataFrame =
    bpeTrainBatched(graft.core.FanOut(graft.sources.Tables(s, dir).documents),
      BpeMerges)

  /** Batched twin of [[bpeTrain]] — same rule list, fewer Spark rounds
    * (gated with the SAME oracle SQL as ta_bpe_train: the outputs are
    * provably identical, so the 4-unrolled-round sequential replay
    * hash-checks the batched trainer too).
    */
  private[graft] def bpeTrainBatched(d: DataFrame, merges: Int,
      maxBatch: Int = BpeMaxBatch): DataFrame =
    trainStateBatched(d, merges, maxBatch)._1
      .select(col("step"), col("l").as("lhs"), col("r").as("rhs"),
        concat(col("l"), col("r")).as("merged"), col("cnt").as("pair_count"))
      .orderBy("step")

  /** One greedy left-to-right merge pass applying a whole DISJOINT
    * rule batch in a single fold — the reason batching pays: the
    * string-state machinery (the expensive part of the pass) runs once
    * per round instead of once per rule, with only a cheap
    * O(batch)-element rule probe added per symbol. Equal to applying
    * the batch's [[mergePass]]es in sequence BECAUSE the batch is
    * mutually disjoint: at most one rule can match at any position
    * (distinct left symbols), no rule consumes another's merged
    * symbol, and no rewrite changes another rule's match sites —
    * BpeBatchedSpec pins the equality empirically on fixtures, fuzz,
    * and the gate corpus.
    */
  private[graft] def mergePassMulti(syms: Column, batch: Column): Column = {
    val folded = aggregate(syms, lit(Sep), (acc, x) => {
      val res = substring_index(acc, Sep, 1)
      val pend = substring_index(acc, Sep, -1)
      val hit = exists(batch, p => p("l") === pend && p("r") === x)
      when(hit, concat(app(res, concat(pend, x)), lit(Sep)))
        .when(pend === "", concat(res, lit(Sep), x))
        .otherwise(concat(app(res, pend), lit(Sep), x))
    })
    val res = substring_index(folded, Sep, 1)
    val pend = substring_index(folded, Sep, -1)
    split(when(pend === "", res).otherwise(app(res, pend)), " ")
  }

  /** Does pair `a` interfere with pair `b`? True when they share any
    * symbol among {l, r, l||r} — the merged symbol included, because a
    * merge that CREATES a symbol another rule consumes (or the same
    * symbol) does not commute with it.
    */
  private def touches(a: Column, b: Column): Column =
    arrays_overlap(
      array(a("l"), a("r"), concat(a("l"), a("r"))),
      array(b("l"), b("r"), concat(b("l"), b("r"))))

  /** Batched BPE training — the fix for the one-Spark-round-per-merge
    * wall (a production vocab is ~32 k merges; at a fixed ~0.3–0.5 s
    * per round that is hours of pure job-scheduling overhead however
    * big the cluster). Per round it merges up to [[BpeMaxBatch]]
    * MUTUALLY-SAFE top pairs instead of one, chosen so the result is
    * bit-identical to [[trainState]]'s sequence (BpeBatchedSpec pins
    * equality on fixtures, fuzz corpora, and the gate corpus; the
    * driver gate re-proves it against the sequential DuckDB replay):
    *
    *   - Walk the pair ranking (cnt DESC, l, r). The candidate prefix
    *     ends at the first pair that [[touches]] any earlier pair in
    *     the window — before that point all pairs are pairwise
    *     disjoint, so their merges commute and none of them changes
    *     the others' counts.
    *   - Cut the prefix STRICTLY above the barrier count = the count
    *     at the first touching pair (or at the window tail, if the
    *     window filled without a touch — an unseen pair below the
    *     window could touch). Strictness matters: a merge can CREATE
    *     pairs with count up to (but never above) a touching pair's
    *     count, and on a count TIE the created pair could win the
    *     sequential (l, r) tie-break — so accepted pairs must beat
    *     every touching pair strictly, never tie it.
    *   - If nothing survives the cut, merge the head pair alone —
    *     it is the round's true argmax, so one merge is always safe.
    *
    * Each accepted pair's recorded count equals what the sequential
    * trainer would record (disjoint merges leave each other's counts
    * unchanged — the same fact that makes the batch exact). Everything
    * stays in-plan: the ranked window is a TakeOrdered, selection is
    * one fold over a bounded array in a 1-row frame, and the merge
    * application is the [[mergePass]] fold iterated over the broadcast
    * batch.
    */
  private[graft] def trainStateBatched(d: DataFrame, merges: Int,
      maxBatch: Int = BpeMaxBatch): (DataFrame, DataFrame) = {
    require(merges > 0, s"need a positive merge count, got $merges")
    require(maxBatch > 0 && maxBatch <= BpeBatchWindow,
      s"need 0 < maxBatch <= $BpeBatchWindow, got $maxBatch")
    var wf = wordFreq(d).localCheckpoint(eager = true)
    var rules: DataFrame = null
    var done = 0L
    var round = 0
    var exhausted = false
    while (done < merges && !exhausted) {
      round += 1
      val room = math.min(maxBatch.toLong, merges - done).toInt
      // ranked window: TakeOrdered, then ONE bounded array in a 1-row
      // frame (struct sorts by field order; -cnt first = rank order)
      val win = pairCounts(wf)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(BpeBatchWindow)
        .agg(array_sort(collect_list(
          struct((-col("cnt")).as("nc"), col("l"), col("r"), col("cnt"))))
          .as("w"))
      // collect_list over zero rows yields [], so the empty-corpus /
      // exhausted case flows through as an empty batch
      val batchDf = win
        .withColumn("n", size(col("w")))
        // first index (1-based) whose pair touches an earlier one; the
        // n > 0 guard keeps sequence/slice off the empty-window row
        .withColumn("tidx", when(col("n") > 0, array_min(filter(
          transform(sequence(lit(1), col("n")), i =>
            when(exists(slice(col("w"), lit(1), (i - 1).cast("int")),
              pj => touches(element_at(col("w"), i), pj)), i)),
          x => x.isNotNull))))
        .withColumn("prefixEnd",
          coalesce(col("tidx") - 1, col("n")).cast("int"))
        // barrier: first-touch count, else window-tail count when the
        // window filled (an unseen pair below it could touch), else -1
        .withColumn("barrier",
          when(col("tidx").isNotNull,
            element_at(col("w"), col("tidx"))("cnt"))
            .when(col("n") === BpeBatchWindow,
              element_at(col("w"), col("n"))("cnt"))
            .otherwise(lit(-1L)))
        .withColumn("batch", slice(filter(
          slice(col("w"), lit(1), col("prefixEnd")),
          p => p("cnt") > col("barrier")), 1, room))
        .withColumn("batch",
          when(size(col("batch")) === 0 && col("n") > 0, slice(col("w"), 1, 1))
            .otherwise(col("batch")))
        .select(col("batch"))
        .localCheckpoint(eager = true)
      val roundRules = batchDf
        .select(posexplode(col("batch")).as(Seq("i", "p")))
        .select((col("i") + lit(done + 1)).cast("int").as("step"),
          col("p")("l").as("l"), col("p")("r").as("r"),
          col("p")("cnt").as("cnt"),
          // which batched round produced the rule — dropped by the
          // gated projection, read by DevQueries' dev_bpe_train_batched
          lit(round).as("round"))
      val nMerged = roundRules.count()
      if (nMerged == 0) {
        // every word collapsed to one symbol — nothing left to merge
        exhausted = true
      } else {
        rules = if (rules == null) roundRules else rules.unionByName(roundRules)
        rules = rules.localCheckpoint(eager = true)
        // apply the whole batch in ONE fused pass (disjointness makes
        // the single multi-rule fold equal the sequential rounds)
        wf = wf.crossJoin(broadcast(batchDf))
          .select(col("word"), col("freq"),
            mergePassMulti(col("syms"), col("batch")).as("syms"))
          .localCheckpoint(eager = true)
        done += nMerged
      }
    }
    // same nothing-ever-merged contract as [[trainState]]
    (Option(rules).getOrElse(emptyBatchRules(wf)), wf)
  }

  /** Gate config for the vocab histogram: top 100 subwords (the gate
    * corpus has far fewer — the limit is there so the output stays
    * report-sized at any corpus scale, with a total (freq DESC,
    * subword) order making the cutoff deterministic in both engines).
    */
  private[graft] val BpeVocabTop = 100

  def taBpeVocab(s: SparkSession, dir: String): DataFrame =
    bpeVocab(graft.core.FanOut(graft.sources.Tables(s, dir).documents),
      BpeMerges, BpeVocabTop)

  /** The learned vocabulary histogram: apply the trained merges to the
    * distinct-word table (that application IS [[trainState]]'s final
    * symbol table — no second pass over anything), then one
    * subword-keyed aggregate. `freq` counts corpus occurrences
    * (position count weighted by word frequency), `n_positions` counts
    * distinct (word, position) slots. Corpus-scale cost: zero beyond
    * training — the aggregate runs on the Heaps-law-sized word table.
    */
  private[graft] def bpeVocab(d: DataFrame, merges: Int, top: Int): DataFrame = {
    val (_, wf) = trainState(d, merges)
    wf.select(col("freq"), explode(col("syms")).as("subword"))
      .groupBy("subword")
      .agg(sum("freq").as("freq"), count(lit(1)).as("n_positions"))
      .orderBy(col("freq").desc, col("subword"))
      .limit(top)
  }

  def taBpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncode(graft.core.FanOut(graft.sources.Tables(s, dir).documents),
      BpeMerges)

  /** Tokenizer APPLICATION: per-document BPE token counts — the number
    * every pretraining pipeline actually budgets by (sequence packing,
    * mixture weights, cost estimates all run on post-BPE token counts,
    * not whitespace counts).
    *
    * The 100 TB shape: encoding a document never re-runs the merge
    * fold per occurrence — the trained symbol table already maps every
    * distinct WORD to its subword count, so application is one
    * word-keyed equi-join between the exploded corpus and the
    * Heaps-law-sized encode table (the same word-keyed exchange as
    * wc_word_count; at gate scale the encode side auto-broadcasts).
    * Documents whose token list is empty are dropped by the explode —
    * identical to the oracle's unnest semantics.
    */
  private[graft] def bpeEncode(d: DataFrame, merges: Int): DataFrame = {
    val (_, wf) = trainState(d, merges)
    val enc = wf.select(col("word"),
      size(col("syms")).cast("long").as("__n_sub"))
    d.select(col("doc_id"),
        explode(filter(graft.functions.ByteSplit.split(col("text")),
          t => t =!= "")).as("word"))
      .join(enc, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("__n_sub").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  // ----- DuckDB replay helpers (shared by all three BPE oracles) -----

  private val OSep = "chr(31)"
  private def oRes(acc: String) = s"split_part($acc, $OSep, 1)"
  private def oPend(acc: String) = s"split_part($acc, $OSep, 2)"
  private def oApp(r: String, s: String) =
    s"(CASE WHEN $r = '' THEN $s ELSE $r || ' ' || $s END)"

  /** one merge pass of (tN.l, tN.r) over `syms`, as a reduced string */
  private def oMerge(t: String) =
    s"""string_split((SELECT
       |    CASE WHEN ${oPend("f")} = '' THEN ${oRes("f")}
       |         ELSE ${oApp(oRes("f"), oPend("f"))} END
       |  FROM (SELECT list_reduce(list_prepend($OSep, syms), (acc, x) ->
       |    CASE WHEN ${oPend("acc")} = $t.l AND x = $t.r
       |           THEN ${oApp(oRes("acc"), s"$t.l || $t.r")} || $OSep
       |         WHEN ${oPend("acc")} = ''
       |           THEN ${oRes("acc")} || $OSep || x
       |         ELSE ${oApp(oRes("acc"), oPend("acc"))} || $OSep || x
       |    END) AS f)), ' ')""".stripMargin

  private def oPairs(w: String): String =
    s"""SELECT s.l AS l, s.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)), i ->
       |      struct_pack(l := syms[i], r := syms[i + 1]))) AS s
       |    FROM $w)
       |  GROUP BY s.l, s.r""".stripMargin

  /** The shared replay base: w0 (word frequencies + char symbols) and
    * [[BpeMerges]] unrolled rounds of pair-count → argmax → merge fold,
    * each reading the previous round's symbol table — ending at
    * w[[BpeMerges]], the trained symbol table all three oracles read.
    */
  private lazy val oracleRoundCtes: String = {
    val rounds = (1 to BpeMerges).map { k =>
      s"""p$k AS (${oPairs(s"w${k - 1}")}),
         |t$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS (SELECT word, freq, ${oMerge(s"t$k")} AS syms FROM w${k - 1}, t$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |$rounds""".stripMargin
  }

  /** The DuckDB replay of [[bpeTrain]]: the rule list, one row per
    * unrolled round.
    */
  private[graft] def oracleSql: String = {
    val ruleRows = (1 to BpeMerges).map { k =>
      s"SELECT $k AS step, l, r, cnt FROM t$k"
    }.mkString(" UNION ALL ")
    s"""WITH $oracleRoundCtes,
       |rules AS ($ruleRows)
       |SELECT CAST(step AS INTEGER) AS step, l AS lhs, r AS rhs,
       |  l || r AS merged, cnt AS pair_count
       |FROM rules
       |ORDER BY step""".stripMargin
  }

  /** Vocab-histogram replay: the trained symbol table's subword-keyed
    * aggregate, same total order and cutoff as the engine.
    */
  private[graft] def vocabOracleSql: String =
    s"""WITH ${oracleRoundCtes},
       |pos AS (SELECT unnest(syms) AS subword, freq FROM w$BpeMerges)
       |SELECT subword, CAST(sum(freq) AS BIGINT) AS freq,
       |  CAST(count(*) AS BIGINT) AS n_positions
       |FROM pos GROUP BY subword
       |ORDER BY freq DESC, subword LIMIT $BpeVocabTop""".stripMargin

  /** Encode replay: explode every document's words, join the trained
    * symbol table, count post-BPE tokens per document.
    */
  private[graft] def encodeOracleSql: String =
    s"""WITH ${oracleRoundCtes},
       |dw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN w$BpeMerges w USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
