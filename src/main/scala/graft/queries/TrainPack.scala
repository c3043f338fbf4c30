package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, TextOps}

/** Training-data OUTPUT surface: the operators that sit between a
  * curated corpus and the trainer — mixture reweighting across
  * sources, deterministic shuffle-sharding of the final corpus, and
  * the incremental-crawl novelty signal. The reference stops at
  * experiment scoring (`Numerai_example_notebook.ipynb#cell-22`'s
  * leaderboard append is its only "output" op); these are the
  * engine-new steps a 100 TB pretraining pipeline runs after
  * curation, kept oracle-checkable like everything else.
  */
object TrainPack extends QueryPack {

  private def docsSpread(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d))

  /** TEMPERATURE-weighted multilingual mix (mT5 / XLM-R sampling,
    * Xue et al. 2021 §3.2: p(L) ∝ |L|^α with α = 0.7) — the standard
    * fix for low-resource languages drowning in a natural-frequency
    * mix, distinct from [[TextPack.qMixSample]]'s uniform
    * downsample-to-min. Per-language target counts for a budget of
    * half the corpus, selected by the deterministic md5-hash60 coin
    * rank (engine-replayable selection, not an RNG); a language whose
    * boosted target exceeds its inventory saturates (n_kept <
    * target — the case mT5 handles by sampling with replacement,
    * surfaced here rather than hidden).
    *
    * Scale shape: the weight table is a ~|languages|-row broadcast;
    * selection is one rank window PER LANGUAGE (parallelism =
    * languages, each window a per-language sort). For corpora where
    * one source dominates, the coin-THRESHOLD form (qMixSample's
    * shape: keep coin < rate·1e6, no window) trades exact target
    * counts for a scan-local plan — both shapes are here, and the
    * choice is the classic exact-quota vs Bernoulli-rate tradeoff. */
  def qMixTemperature(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(pow(col("cnt"), lit(0.7))).as("z"),
      floor(sum(col("cnt")) / lit(2.0)).cast("long").as("b"))
    // round-before-floor (the repo's round-before-compare rule): the
    // raw product can sit at an integer boundary where a 1-ulp libm
    // pow() difference between JVM and DuckDB flips floor() — and with
    // it target, n_kept, and id_sum. Snapping to the 1e-6 grid first
    // makes the boundary class the same one every other rounded float
    // in the gate already survives.
    val wts = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("cnt"),
        (pow(col("cnt"), lit(0.7)) / col("z")).as("wt"),
        floor(round(pow(col("cnt"), lit(0.7)) / col("z") * col("b"), 6))
          .cast("long").as("target"))
    val coin = pmod(TextOps.hash60(
      concat_ws("#", lit("mixT"), col("doc_id"))), lit(1000000L))
    val rk = row_number().over(
      Window.partitionBy(col("lang")).orderBy(coin, col("doc_id")))
    val kept = docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", rk)
      .join(broadcast(wts.select(col("lang"), col("target"))), Seq("lang"))
      .filter(col("rk") <= col("target"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    wts.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("cnt").as("n_docs"),
        round(col("wt"), 6).as("weight"), col("target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("id_sum"), lit(0L)).cast("long").as("id_sum"))
      .orderBy(col("lang"))
  }

  /** Deterministic SHUFFLE-SHARD of the training corpus — the final
    * write step of every pretraining pipeline: a pseudorandom but
    * fully reproducible global permutation (order by a content-free
    * hash of the id, never by ingest order, so adjacent training
    * examples decorrelate), split into hash-assigned shards. Audit
    * relation per shard: row count, token mass, id checksum, and the
    * first three doc ids in shard order (pinning the ORDER is what
    * makes the shuffle reproducible, not just the membership).
    *
    * Scale shape: shard assignment and the order key are scan-local
    * hash expressions; the only shuffle is the per-shard rank window.
    * Shard COUNT scales with the corpus (constant shard SIZE — 8 here
    * only because the fixture is small), so the per-shard sort is
    * bounded by design, exactly like sizing shuffle partitions; a
    * production writer runs `repartition($"shard")
    * .sortWithinPartitions(ordKey)` + a partitioned write, which is
    * this same plan with the window replaced by the write-side sort.
    * The head-3 fingerprint goes through a rank window that
    * WindowGroupLimit prunes to 3 rows per shard. */
  def qTrainShard(s: SparkSession, d: String): DataFrame = {
    val base = docsSpread(s, d)
      .select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("toks"))
      .withColumn("shard", pmod(TextOps.hash60(
        concat_ws("#", lit("shard"), col("doc_id"))), lit(8L)))
      .withColumn("ordh", TextOps.hash60(
        concat_ws("#", lit("ord"), col("doc_id"))))
    val stats = base.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tok_sum"),
        sum(col("doc_id")).as("id_sum"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ordh"), col("doc_id"))
    val heads = base.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("shard"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rk"), col("doc_id")))),
        x => x.getField("doc_id").cast("string")), ",").as("head3"))
    stats.join(heads, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("tok_sum"), col("id_sum"),
        col("head3"))
      .orderBy(col("shard"))
  }

  /** SHINGLE NOVELTY — per-document fraction of 3-word shingles whose
    * FIRST corpus occurrence (minimum doc_id) is this document: the
    * "how much of this page is new content" signal an incremental
    * crawl uses to prioritize ingest and cut boilerplate re-crawls
    * (the doc-level complement of the pairwise dedup family — cheap
    * enough to score EVERY doc, where pair queries only score
    * near-duplicates). Raw distinct shingles, no idf floor: novelty
    * must see boilerplate, that is the point.
    *
    * Scale shape (r17): first-occurrence facts come from the
    * pipeline's maintained repeated-shingle index
    * ([[TextPack.sharedShingleDf]], written from the pair build's one
    * groupBy(sh) aggregate — (sh, df, first_doc) for the
    * df > 1 minority), NOT a per-query min-agg over the corpus
    * tokens: a shingle absent from the index has df = 1, so its only
    * occurrence IS its first and the doc scores it novel without any
    * shuffle. What remains per query is the scan-local shingle
    * explode, one join against the small index (AQE broadcasts it at
    * fixture SFs), and the doc-keyed aggregate — the corpus-tokens
    * shuffle (the steepest non-streaming 100× cell of r16, 11.6×) is
    * paid once by the shared index build instead of once per
    * consumer. Identical output: `ShingleNoveltySpec` pins the
    * equivalence against the inline min-agg form. Docs shorter than
    * one shingle (< 3 words) have no novelty row, matching the
    * oracle's inner join. */
  def qShingleNovelty(s: SparkSession, d: String): DataFrame = {
    val dsh = Dedup.shingles(Dedup.base(docsSpread(s, d)))
    val rep = TextPack.sharedShingleDf(s, d)
      .select(col("sh"), col("graft_first_doc"))
    dsh.join(rep, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("graft_first_doc").isNull ||
            col("graft_first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel") / col("n_shingles"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** BPE token accounting under the pinned BPE-32 merge table
    * ([[graft.functions.Bpe]] — a FROZEN tokenizer artifact with
    * recorded provenance, the production stance on token budgets;
    * the fixture-fit check the r16 verdict demanded ran first and
    * passed at M=32, see `tools/learn_bpe.py`). Per doc: whitespace
    * words, BPE tokens, and the tokens-per-word ratio — the number a
    * budgeting pipeline actually divides by.
    *
    * Scale shape: tokenize each DISTINCT word once and join the
    * per-word count back — the word-level memoization every
    * production token counter uses (the corpus re-encodes nothing;
    * the vocabulary relation is |vocab|-sized, broadcast here, a
    * shuffle join at real vocab sizes). The encode itself is one
    * regexp_replace + 32 literal replaces, all codegen built-ins —
    * no UDF — and the DuckDB oracle replays the identical chain
    * generated from the same pinned list, so the engines cannot
    * drift. Delimiter note: the terminator representation assumes
    * ';' never occurs inside a word (true of the fixture's closed
    * vocabulary; a production corpus picks any reserved byte). */
  def qBpeTokens(s: SparkSession, d: String): DataFrame = {
    val w = docsSpread(s, d)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val vocabToks = w.select(col("w")).distinct()
      .withColumn("n_toks", graft.functions.Bpe.tokenCount(col("w")))
    w.join(broadcast(vocabToks), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("bpe_tokens"),
        round(col("bpe_tokens") / col("n_words"), 6).as("tokens_per_word"))
      .orderBy(col("doc_id"))
  }

  /** Per-LANGUAGE tokenizer fertility under the same pinned BPE-32
    * artifact as [[qBpeTokens]] — tokens/word (fertility) and
    * chars/token, the two numbers a multilingual pipeline reads
    * before setting per-language token budgets (a high-fertility
    * language pays more sequence length per word, so a word-count mix
    * over-weights it; Ács 2019's fertility metric, and the imbalance
    * XLM-R §3.1 tunes its sampling α against). Same word-level
    * memoization as the per-doc form: each DISTINCT word encodes
    * once, per-word token/char counts join back to occurrences, and
    * the per-language sums are integer-exact BIGINTs (the two ratios
    * are the only doubles, both quotients of exact integers).
    *
    * Scale shape: one corpus scan + a |vocab|-relation encode + one
    * language-keyed partial-aggregating shuffle of ≤ |langs| groups —
    * the cheapest class in the battery. */
  def qBpeFertility(s: SparkSession, d: String): DataFrame = {
    val w = docsSpread(s, d)
      .select(col("lang"), explode(TextOps.words(col("text"))).as("w"))
    val vocabToks = w.select(col("w")).distinct()
      .withColumn("n_toks", graft.functions.Bpe.tokenCount(col("w")))
      .withColumn("n_chars", length(col("w")).cast("long"))
    w.join(broadcast(vocabToks), Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("bpe_tokens"),
        round(col("bpe_tokens") / col("n_words"), 6).as("tokens_per_word"),
        round(col("n_chars") / col("bpe_tokens"), 6).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** The end-to-end training-data EXPORT macro — the composition a
    * pipeline actually ships after curation ([[TextPack
    * .qCorpusPipeline]] is the CLEANING macro; this is the OUTPUT
    * one): exact dedup (content-hash keep-min) → temperature mix over
    * the deduped inventory (α = 0.7 targets recomputed on the
    * deduped per-language counts — mixing before dedup double-counts
    * duplicates' mass) → deterministic hash-shard of the selected
    * set, audited per (shard, language). One composed job: Catalyst
    * sees the whole plan, so the dedup semi-join and the mix rank
    * windows share the same corpus scan. */
  def qTrainExport(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    val keep = docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val base = docs.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(col("text"))).cast("long").as("toks"))
    val counts = base.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(pow(col("cnt"), lit(0.7))).as("z"),
      floor(sum(col("cnt")) / lit(2.0)).cast("long").as("b"))
    // round-before-floor, same boundary rule as qMixTemperature
    val wts = counts.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(round(pow(col("cnt"), lit(0.7)) / col("z") * col("b"), 6))
          .cast("long").as("target"))
    val coin = pmod(TextOps.hash60(
      concat_ws("#", lit("exp"), col("doc_id"))), lit(1000000L))
    val sel = base
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(coin, col("doc_id"))))
      .join(broadcast(wts), Seq("lang"))
      .filter(col("rk") <= col("target"))
    sel
      .withColumn("shard", pmod(TextOps.hash60(
        concat_ws("#", lit("shard"), col("doc_id"))), lit(8L)))
      .groupBy(col("shard"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tok_sum"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("shard"), col("lang"))
  }

  override def queries: Map[String, Q] = Map(
    "q_mix_temperature" -> qMixTemperature,
    "q_train_shard" -> qTrainShard,
    "q_shingle_novelty" -> qShingleNovelty,
    "q_bpe_tokens" -> qBpeTokens,
    "q_bpe_fertility" -> qBpeFertility,
    "q_train_export" -> qTrainExport)

  override def oracles: Map[String, String] = Map(
    // same pow/floor arithmetic on the same doubles; selection
    // replayed by the md5 coin rank; saturation via the rk <= target
    // join (a boosted language keeps at most its inventory)
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |t AS (SELECT sum(pow(cnt, 0.7)) AS z,
        |         CAST(floor(sum(cnt) / 2.0) AS BIGINT) AS b FROM c),
        |w AS (SELECT lang, cnt, pow(cnt, 0.7) / t.z AS wt,
        |         CAST(floor(round(pow(cnt, 0.7) / t.z * t.b, 6)) AS BIGINT) AS target
        |      FROM c, t),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |        ORDER BY ('0x' || substr(md5('mixT#' || doc_id), 1, 15))::BIGINT
        |          % 1000000, doc_id) AS rk
        |      FROM documents),
        |k AS (SELECT r.lang, count(*) AS n_kept, sum(doc_id) AS id_sum
        |      FROM r JOIN w ON r.lang = w.lang AND r.rk <= w.target
        |      GROUP BY 1)
        |SELECT w.lang, CAST(cnt AS BIGINT) AS n_docs,
        |  round(wt, 6) AS weight, target,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(id_sum, 0) AS BIGINT) AS id_sum
        |FROM w LEFT JOIN k ON w.lang = k.lang
        |ORDER BY w.lang""".stripMargin,
    // hash shard + hash order replayed; head3 pins the ORDER of the
    // permutation, not just shard membership
    "q_train_shard" ->
      """WITH base AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    ('0x' || substr(md5('shard#' || doc_id), 1, 15))::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('ord#' || doc_id), 1, 15))::BIGINT AS ordh
        |  FROM documents),
        |p AS (SELECT doc_id, shard, row_number() OVER (PARTITION BY shard
        |        ORDER BY ordh, doc_id) AS pos FROM base),
        |heads AS (SELECT shard,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos) AS head3
        |  FROM p WHERE pos <= 3 GROUP BY 1),
        |stats AS (SELECT shard, count(*) AS n_docs, sum(toks) AS tok_sum,
        |    sum(doc_id) AS id_sum FROM base GROUP BY 1)
        |SELECT stats.shard, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tok_sum AS BIGINT) AS tok_sum, CAST(id_sum AS BIGINT) AS id_sum,
        |  head3
        |FROM stats JOIN heads ON stats.shard = heads.shard
        |ORDER BY stats.shard""".stripMargin,
    // the composed export replayed stage by stage: dedup keep-min
    // (GROUP BY text — same semantics as the engine's sha2 grouping),
    // temperature targets on the DEDUPED counts, coin-rank selection,
    // hash shard, per-(shard, lang) audit
    "q_train_export" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |base AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM keep)),
        |c AS (SELECT lang, count(*) AS cnt FROM base GROUP BY 1),
        |t AS (SELECT sum(pow(cnt, 0.7)) AS z,
        |         CAST(floor(sum(cnt) / 2.0) AS BIGINT) AS b FROM c),
        |w AS (SELECT lang,
        |         CAST(floor(round(pow(cnt, 0.7) / t.z * t.b, 6)) AS BIGINT) AS target
        |      FROM c, t),
        |r AS (SELECT doc_id, lang, toks, row_number() OVER (PARTITION BY lang
        |        ORDER BY ('0x' || substr(md5('exp#' || doc_id), 1, 15))::BIGINT
        |          % 1000000, doc_id) AS rk
        |      FROM base),
        |sel AS (SELECT r.doc_id, r.lang, r.toks,
        |    ('0x' || substr(md5('shard#' || r.doc_id), 1, 15))::BIGINT % 8 AS shard
        |  FROM r JOIN w ON r.lang = w.lang AND r.rk <= w.target)
        |SELECT shard, lang, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS tok_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM sel GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the encode chain is GENERATED from the same pinned merge list
    // the engine applies (Bpe.sqlEncodeTokens), replayed over the
    // distinct-word relation exactly like the engine's memoization
    "q_bpe_tokens" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |v AS (SELECT DISTINCT w FROM w),
        |t AS (SELECT w, CAST(${graft.functions.Bpe.sqlEncodeTokens("w")}
        |        AS BIGINT) AS n_toks FROM v)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(t.n_toks) AS BIGINT) AS bpe_tokens,
        |  round(sum(t.n_toks) * 1.0 / count(*), 6) AS tokens_per_word
        |FROM w JOIN t USING (w) GROUP BY 1 ORDER BY 1""".stripMargin,
    // same generated encode chain, grouped by language; the two
    // ratios are quotients of exact BIGINTs, so the round lands on
    // the same double in both engines
    "q_bpe_fertility" ->
      s"""WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |v AS (SELECT DISTINCT w FROM w),
        |t AS (SELECT w, CAST(${graft.functions.Bpe.sqlEncodeTokens("w")}
        |        AS BIGINT) AS n_toks, CAST(len(w) AS BIGINT) AS n_chars FROM v)
        |SELECT w.lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(t.n_toks) AS BIGINT) AS bpe_tokens,
        |  round(sum(t.n_toks) * 1.0 / count(*), 6) AS tokens_per_word,
        |  round(sum(t.n_chars) * 1.0 / sum(t.n_toks), 6) AS chars_per_token
        |FROM w JOIN t USING (w) GROUP BY 1 ORDER BY 1""".stripMargin,
    // trigram replay (the winnow oracle's md5 scheme), distinct per
    // doc, first occurrence = min doc_id over the shingle key
    "q_shingle_novelty" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
        |    unnest(string_split(text, ' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id,
        |    ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |dsh AS (SELECT DISTINCT doc_id, h FROM tri),
        |fo AS (SELECT h, min(doc_id) AS first_doc FROM dsh GROUP BY 1)
        |SELECT dsh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN fo.first_doc = dsh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN fo.first_doc = dsh.doc_id THEN 1 ELSE 0 END)
        |    * 1.0 / count(*), 6) AS novelty
        |FROM dsh JOIN fo USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
