package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, QueryScope, Tables}
import graft.operators.{Dedup, TextOps}

/** Deduplication + text analysis over `documents` — the
  * training-data-pipeline operators the north star adds beyond the
  * reference surface: exact dedup, n-gram Jaccard near-dup,
  * MinHash-LSH candidate generation, SimHash near-dup, quality
  * scoring, fingerprinting.
  *
  * Scale design: every pipeline is hash/shuffle-parallel — shingle
  * explode → hash → groupBy(shingle|band|bit) — and candidate
  * verification only touches pairs that share a bucket, never the
  * all-pairs cross product. Hot-key guards (idf floor, bucket caps)
  * are broadcast anti-joins against the tiny hot set.
  */
object TextPack extends QueryPack {

  /** Exact dedup by content hash: representative id + duplicate count
    * per distinct text (`dropDuplicates` with provenance). */
  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("doc_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("keep_id"))

  /** Per-document quality metrics: token counts, type-token ratio,
    * stopword ratio, mean word length. */
  def qTextQuality(s: SparkSession, d: String): DataFrame = {
    val w = TextOps.words(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(w).cast("long").as("n_tokens"),
      size(array_distinct(w)).cast("long").as("n_distinct"),
      round(size(array_distinct(w)).cast("double") / size(w), 6).as("ttr"),
      round(size(filter(w, x => x === "the" || x === "a")).cast("double") / size(w), 6)
        .as("stop_ratio"),
      round(aggregate(transform(w, x => length(x).cast("long")), lit(0L),
        (acc, x) => acc + x).cast("double") / size(w), 4).as("avg_word_len"))
      .orderBy(col("doc_id"))
  }

  /** Blocklist term scrub — the redaction/scrub pass a training
    * pipeline runs before tokenization (PII terms, banned vocabulary,
    * internal identifiers): every blocklisted TOKEN is replaced by a
    * mask, and the audit reports per source how many documents were
    * touched, how many tokens were masked, and the exact char delta —
    * the numbers a compliance review asks for. Scan-local (one
    * codegen'd higher-order transform per row, no shuffle beyond the
    * final tiny audit agg), so it costs one pass at any corpus size.
    * Token-exact matching (whole-word on the space-tokenized text),
    * not substring: masking "key" must not mangle "keyboard". */
  def qBlocklistScrub(s: SparkSession, d: String): DataFrame = {
    val block = Seq("customer", "key")
    val w = TextOps.words(col("text"))
    val isBlocked = (x: Column) => block.map(x === _).reduce(_ || _)
    val masked = concat_ws(" ",
      transform(w, x => when(isBlocked(x), lit("[MASK]")).otherwise(x)))
    docsSpread(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        size(filter(w, isBlocked)).cast("long").as("n_masked"),
        masked.as("scrubbed"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_masked") > 0, 1L).otherwise(0L)).as("n_touched"),
        sum(col("n_masked")).as("n_tokens_masked"),
        sum(length(col("scrubbed")) - length(col("text"))).cast("long")
          .as("char_delta"))
      .orderBy(col("source"))
  }

  /** Document frequency above which a shingle is treated as
    * boilerplate (license headers, templates) and dropped from the
    * near-dup shingle universe. At 100 TB one such shingle key alone
    * produces O(df^2) rows out of the candidate equality join — the
    * job-killing hot key — so the floor is applied IN the pipeline,
    * not just documented.
    *
    * The default floor is SCALE-RELATIVE: boilerplate is df out of
    * proportion to the corpus, and an absolute constant rots in both
    * directions (at 1B docs a df-90k shingle still emits ~4×10⁹
    * candidate pairs under a 100k floor; at 10k docs a 100k floor
    * never fires at all). max(1000, nDocs/10,000) keeps a df-cap of
    * ~0.01% of the corpus — at 1B docs that is the old 100k constant,
    * at fixture scale it resolves to 1000, a provable no-op (max
    * observed 3-gram df across the fixtures is 25; ShingleGuardSpec
    * pins row-equality with the unguarded pipeline). Passing `maxDf`
    * explicitly overrides the heuristic. */
  def maxShingleDfFor(nDocs: Long): Long = math.max(1000L, nDocs / 10000L)

  /** Sentinel default for `maxDf` parameters: resolve to
    * [[maxShingleDfFor]] of the corpus doc count at call time. */
  val ScaleRelativeDf: Long = -1L

  private def resolveMaxDf(s: SparkSession, d: String, maxDf: Long): Long =
    if (maxDf != ScaleRelativeDf) maxDf
    else maxShingleDfFor(Memo(s, "doc_count", s"$d/documents.parquet")(
      Tables.documents(s, d).count()))

  /** Bucket size above which an LSH bucket (band signature) is
    * dropped before the candidate self-join: a degenerate bucket
    * (empty docs, boilerplate) of n members yields n^2/2 candidate
    * pairs. Default is a no-op at fixture scale (ShingleGuardSpec). */
  val DefaultMaxBucket: Long = 100000L

  /** The documents scan re-spread for compute-heavy kernels — see
    * [[graft.Tables.spread]] for the rationale and safety rules. */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d))

  /** Distinct 60-bit shingle hashes per doc — the dedup pipeline's
    * base relation ([[Dedup.shingles]]) — with the hot-shingle idf
    * floor applied. For any floor >= 1 the hot set (df > maxDf) is a
    * subset of the maintained repeated-shingle index's df > 1 rows,
    * whose counts are the raw df the floor is defined over, so the cap
    * reads that index ([[sharedShingleDf]]) instead of re-running a
    * groupBy(sh) over the corpus shingles per execution. */
  def shingleRelation(s: SparkSession, d: String,
                      maxDf: Long = ScaleRelativeDf): DataFrame = {
    val resolved = resolveMaxDf(s, d, maxDf)
    require(resolved >= 1L,
      s"maxDf must resolve to >= 1: the df index holds only df > 1 shingles, got $resolved")
    Dedup.cap(Dedup.shingles(Dedup.base(docsSpread(s, d))), Seq("sh"), resolved,
      sharedShingleDf(s, d))
  }

  /** Candidate near-dup pairs (a < b) with raw Jaccard `jacv` >=
    * `minJac`: pairs exist only via a shared kept shingle (never
    * all-pairs), Jaccard = |∩| / (|A|+|B|-|∩|) over the kept-shingle
    * universe ([[Dedup.overlap]]). */
  def jaccardPairs(s: SparkSession, d: String, minJac: Double = 0.05,
                   maxDf: Long = ScaleRelativeDf): DataFrame = {
    val dsh = shingleRelation(s, d, maxDf)
    Dedup.overlap(dsh, "sh", dsh).filter(col("jacv") >= minJac)
      .select(col("a"), col("b"), col("jacv"))
  }

  /** Runs `body` in its own [[QueryScope]] with a thunk for the
    * shared [[Dedup.base]] of `d`'s documents, built lazily: the first
    * call persists it (with `warm`, also materializing it through the
    * noop sink, so concurrent builds read the cache instead of racing
    * to compute its partitions). The base registers to this scope,
    * not to the memo build (on whichever pool thread) that first
    * calls the thunk, so it outlives every build and is released when
    * `body` ends. A body that never calls the thunk — every memo hit —
    * runs no job. */
  private def withBase[A](s: SparkSession, d: String, warm: Boolean)(
      body: (() => DataFrame) => A): A =
    QueryScope.run {
      val scope = QueryScope.current
      lazy val base = QueryScope.within(scope) {
        val b = Dedup.base(docsSpread(s, d)).transform(QueryScope.persist)
        if (warm) b.write.mode("overwrite").format("noop").save()
        b
      }
      body(() => base)
    }

  /** The candidate-pair table (Jaccard >= 0.05) SHARED by
    * `q_ngram_jaccard`, `q_dedup_apply` and every >= 0.5 consumer: the
    * first query to run materializes it once as a parquet table
    * ([[Memo.table]]) and every consumer derives from that table
    * instead of re-running the shingle → self-join pipeline. It is a
    * table, not a cached plan, so it outlives every query's scope.
    * One groupBy(sh) aggregate serves both the idf-floor hot set
    * (df > maxDf ⊆ df > 1 for any floor >= 1) and the [[sharedShingleDf]]
    * index; the floored relation persists for its three readers (sizes
    * and both self-join sides). */
  private[graft] def pairsTable(s: SparkSession, d: String, tagSuffix: String,
                                base: () => DataFrame): DataFrame =
    s.read.parquet(Memo.table(s, "pairs" + tagSuffix, s"$d/documents.parquet") { out =>
      val raw = Dedup.shingles(base())
      val rep = repeatedShingles(raw).transform(QueryScope.persist)
      val maxDf = resolveMaxDf(s, d, ScaleRelativeDf)
      val dsh = Dedup.cap(raw, Seq("sh"), maxDf, rep).transform(QueryScope.persist)
      Dedup.overlap(dsh, "sh", dsh).filter(col("jacv") >= 0.05)
        .select(col("a"), col("b"), col("jacv"))
        .write.mode("overwrite").parquet(out)
      sharedShingleDf(s, d, tagSuffix, Some(rep))
    })

  /** [[pairsTable]] under the default tag; a standalone build persists
    * its own base. */
  private def sharedJaccardPairs(s: SparkSession, d: String): DataFrame =
    withBase(s, d, warm = false)(pairsTable(s, d, "", _))

  /** The repeated-shingle DOCUMENT-FREQUENCY index — (sh, graft_df,
    * graft_first_doc) for the df > 1 minority only (a natural-text
    * corpus's shingles are overwhelmingly unique, so this is tiny
    * relative to the corpus; every absent shingle has df = 1 by
    * definition, and its only occurrence is trivially its first). A
    * real pipeline maintains this index alongside its pair and
    * candidate tables instead of recounting the corpus per consumer:
    * `q_containment` reads its df, `q_shingle_novelty` its first doc.
    * Written from the pair build's aggregate (`rep`) or, when a
    * consumer runs first, from its own corpus pass. */
  private[graft] def sharedShingleDf(s: SparkSession, d: String, tagSuffix: String = "",
                                     rep: Option[DataFrame] = None): DataFrame =
    s.read.parquet(Memo.table(s, "shdf" + tagSuffix, s"$d/documents.parquet") { out =>
      rep.getOrElse(repeatedShingles(Dedup.shingles(Dedup.base(docsSpread(s, d)))))
        .write.mode("overwrite").parquet(out)
    })

  private def repeatedShingles(raw: DataFrame): DataFrame =
    raw.groupBy(col("sh"))
      .agg(count(lit(1)).as("graft_df"), min(col("doc_id")).as("graft_first_doc"))
      .filter(col("graft_df") > 1L)

  /** The minhash CANDIDATE table shared by `q_minhash_lsh`,
    * `q_minhash_est` and `q_lsh_recall` — same rationale as the pair
    * table: three consumers, one banded self-join. The band stack
    * persists for its three readers (the hot-bucket aggregate and both
    * self-join sides). */
  private[graft] def minhashTable(s: SparkSession, d: String, tagSuffix: String,
                                  base: () => DataFrame): DataFrame =
    s.read.parquet(Memo.table(s, "mhcand" + tagSuffix, s"$d/documents.parquet") { out =>
      val st = Dedup.bands(Dedup.minhash(base()), Dedup.MinhashBands).transform(QueryScope.persist)
      Dedup.candidates(st, DefaultMaxBucket).write.mode("overwrite").parquet(out)
    })

  private def sharedMinhashCandidates(s: SparkSession, d: String): DataFrame =
    minhashTable(s, d, "", () => Dedup.base(docsSpread(s, d)))

  /** The distinct (doc_id, h) winnow-fingerprint relation as a
    * memoized pipeline index: the sketch a MOSS deployment maintains
    * alongside its corpus rather than recomputes per consumer. */
  private[graft] def winnowTable(s: SparkSession, d: String, tagSuffix: String,
                                 base: () => DataFrame): DataFrame =
    s.read.parquet(Memo.table(s, "wfps" + tagSuffix, s"$d/documents.parquet") { out =>
      Dedup.fingerprints(Dedup.winnow(base())).write.mode("overwrite").parquet(out)
    })

  /** Force the shared tables for `d` to exist. Bench calls this
    * before timing queries so the shared materialization cost shows
    * up as its own entry instead of hiding inside whichever consumer
    * happens to run first. The three builds (shingle self-join, banded
    * minhash self-join, winnow fingerprints) share ONE corpus hashing
    * pass — the base is persisted on first use and released when all
    * three have joined — and run as CONCURRENT Spark actions: each has
    * driver-side stage gaps (planning, file commit) the others fill,
    * safe because the memo keys differ and each build releases only
    * its own persists. The pair build also writes the [[sharedShingleDf]]
    * index from its own aggregate; a separate task would race it into
    * a second scan. `tagSuffix` keys the memo under a distinct tag:
    * Bench passes "_probe" to time a SECOND full build spaced a whole
    * sweep from the first, so `_shared_pairs` gets the same min-of-2
    * contention defense as every query (consumers always use the
    * default). `concurrency`: the pool build is a calm-host win but
    * the battery's most contention-SENSITIVE entry when the box is
    * already loaded, so Bench probes the host with its pinned
    * mini-canary first and passes 1 (sequential) when the probe reads
    * hot, degrading a contended build to the serial cost instead of
    * multiplying thread demand against a busy box. */
  def prepareShared(s: SparkSession, d: String,
                    tagSuffix: String = "",
                    concurrency: Int = 4): Unit =
    withBase(s, d, warm = true) { base =>
      graft.Pools.inOrder(math.min(4, concurrency))(Seq(
        () => { pairsTable(s, d, tagSuffix, base); () },
        () => { minhashTable(s, d, tagSuffix, base); () },
        () => { winnowTable(s, d, tagSuffix, base); () }))
      ()
    }

  /** n-gram Jaccard near-dup: distinct 3-word shingles per doc, pairs
    * via shingle-equality join (only docs sharing a shingle are ever
    * compared). */
  def qNgramJaccard(s: SparkSession, d: String): DataFrame =
    sharedJaccardPairs(s, d)
      .select(col("a"), col("b"), round(col("jacv"), 6).as("jac"))
      .orderBy(col("a"), col("b"))

  /** MinHash + LSH banding: 16 min-hashes over shingle hashes
    * (permutation family h_j(x) = (x * (2j+1)) mod p on 31-bit
    * residues), 8 bands x 2 rows; candidates = pairs sharing any band
    * signature. Candidate generation is a band-signature groupBy join —
    * at 100 TB the only shuffle keys are (band, signature), never doc
    * pairs. */
  def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    sharedMinhashCandidates(s, d).orderBy(col("a"), col("b"))

  /** MinHash-LSH candidate pairs, with the hot-bucket cap applied
    * before the self-join (`maxBucket` members per (band, signature)
    * bucket; default no-op at fixture scale). Unpersisted plan — the
    * shared-table build is the path that persists the stack for its
    * one materializing action; direct callers (tests, cap probes)
    * take the recompute instead of leaking a cached relation. */
  def minhashCandidates(s: SparkSession, d: String,
                        maxBucket: Long = DefaultMaxBucket): DataFrame =
    Dedup.candidates(Dedup.bands(Dedup.minhash(Dedup.base(docsSpread(s, d))),
      Dedup.MinhashBands), maxBucket)
      .orderBy(col("a"), col("b"))

  /** Banded MinHash INDEX over a subset of the corpus — the static
    * half of the streaming incremental near-dup
    * ([[graft.streaming.EventStream.neardupAgainstHistory]]): one row
    * per (band, signature) occupancy, carrying the member's doc id
    * and full 16-component signature for the verify step. In
    * production this is a written silver table the daily stream joins
    * against; here it is built inline from the history predicate. */
  private[graft] def minhashIndex(s: SparkSession, d: String,
                                  pred: Column): DataFrame =
    Dedup.bands(Dedup.minhash(Dedup.base(docsSpread(s, d))).filter(pred),
      Dedup.MinhashBands, carry = Seq("mh"))
      .select(col("band"), col("sg"), col("doc_id").as("hist_id"),
        col("mh").as("sig_h"))

  /** The end-to-end corpus-curation MACRO — the composition a real
    * training-data pipeline runs as one job: exact dedup (keep the
    * lowest doc id per content hash) → near-dup drop (the shared
    * Jaccard pair table's >= 0.5 rule) → quality floor (length +
    * token-count) → deterministic 80/10/10 split → per-(split, lang)
    * corpus stats. Every stage is an operator with its own green
    * query; this pins their composition. Scale shape: two uniform-key
    * shuffles (content hash, doc id) plus a broadcast anti-join
    * against the (tiny) near-dup drop list — the pair table is read,
    * not recomputed. */
  def qCorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val exactKeep = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dropNear = sharedJaccardPairs(s, d)
      .filter(col("jacv") >= 0.5)
      .select(col("b").as("doc_id")).distinct()
    val w = TextOps.words(col("text"))
    val h = pmod(TextOps.hash60(
      concat_ws("#", lit("split42"), col("doc_id"))), lit(100L))
    docs
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(broadcast(dropNear), Seq("doc_id"), "left_anti")
      .filter(col("n_chars") >= 100 && size(w) >= 20)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** Deterministic train/val/test split — the assignment every
    * training pipeline makes before anything else. Hash-Bernoulli on
    * the doc id (the md5-hash60 trick, reproducible in any engine and
    * stable under repartitioning — a `rand()` split is neither), 80/10/
    * 10, summarized per (split, lang). Scan-local: the assignment
    * costs one codegen'd expression at any scale. */
  def qSplitAssign(s: SparkSession, d: String): DataFrame = {
    val h = pmod(TextOps.hash60(
      concat_ws("#", lit("split42"), col("doc_id"))), lit(100L))
    docsSpread(s, d)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** SPLIT-LEAKAGE audit — near-duplicate pairs whose endpoints land
    * in DIFFERENT splits of [[qSplitAssign]]'s 80/10/10 assignment:
    * a hash split is uniform over documents, so every near-dup pair
    * has a ~34% chance of straddling a boundary, and each straddling
    * pair is an eval answer leaked into training (the C4/GPT-3
    * contamination analyses — the reason pipelines dedup BEFORE
    * splitting, and the audit that proves whether this corpus did).
    * Emits the full split×split pair matrix (canonical low/high
    * order), a `leaked` flag on the off-diagonal cells, and id
    * checksums per cell.
    *
    * Scale shape: pairs come from the pipeline's MAINTAINED candidate
    * table ([[sharedJaccardPairs]], dedup threshold 0.5 — the same
    * relation `q_dedup_apply` consumes); the split is one scan-local
    * hash expression per endpoint; the audit is a 6-group aggregate.
    * Nothing here re-scans the corpus. */
  def qSplitLeakage(s: SparkSession, d: String): DataFrame = {
    def splitOf(c: Column): Column = {
      val h = pmod(TextOps.hash60(concat_ws("#", lit("split42"), c)), lit(100L))
      when(h < 80, "train").when(h < 90, "val").otherwise("test")
    }
    sharedJaccardPairs(s, d).filter(col("jacv") >= 0.5)
      .select(col("a"), col("b"),
        splitOf(col("a")).as("sa"), splitOf(col("b")).as("sb"))
      .select(col("a"), col("b"),
        least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a") + col("b")).cast("long").as("id_sum"))
      .withColumn("leaked", (col("split_lo") =!= col("split_hi")).cast("int"))
      .select(col("split_lo"), col("split_hi"), col("n_pairs"),
        col("id_sum"), col("leaked"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** Quality-WEIGHTED sampling — each doc kept with probability
    * proportional to a quality weight (longer docs upsampled, capped
    * at 1.0), decided by the deterministic md5-hash60 coin: the
    * importance-sampling primitive a corpus pipeline uses to skew a
    * training mix toward high-quality text while staying exactly
    * reproducible (and repartition-stable) at any scale. */
  def qWeightedSample(s: SparkSession, d: String): DataFrame = {
    val w = least(lit(1.0), col("n_chars") / 400.0)
    val coin = pmod(TextOps.hash60(
      concat_ws("#", lit("wsamp"), col("doc_id"))), lit(1000000L))
    docsSpread(s, d)
      .withColumn("wt", w)
      .filter(coin < col("wt") * 1000000.0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("chars"),
        round(avg(col("wt")), 6).as("avg_wt"))
      .orderBy(col("lang"))
  }

  /** Vocabulary building — the top trigrams by DOCUMENT frequency
    * (the n-gram vocab/boilerplate-detection scan a corpus pipeline
    * runs; the same relation feeds the dedup idf floor). Per-doc
    * distinct shingle STRINGS (the vocab needs the text, unlike the
    * dedup path's hashes), one uniform-key groupBy, then a top-k that
    * plans as TakeOrderedAndProject — no full sort at any scale. */
  def qVocabTop(s: SparkSession, d: String): DataFrame =
    docsSpread(s, d)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.ShingleStrings.shingle_strings(col("text"), 3))).as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tri"))
      .limit(100)

  /** Repetition ratio — the duplicate-3-gram fraction per document
    * (the repetition quality filter web-scale corpora apply: heavily
    * templated/looped text shows a high ratio). Scan-local via the
    * fused shingle kernel: total windows vs distinct hashes, no
    * shuffle at any scale. Distinctness is measured on the 60-bit
    * hashes, exactly as the dedup pipeline (and its oracle) do. */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    val sh = graft.functions.ShingleHash.shingle_hash60(col("text"), 3)
    docsSpread(s, d)
      .select(col("doc_id"), size(sh).cast("long").as("n_sh"),
        size(array_distinct(sh)).cast("long").as("n_uniq"))
      .filter(col("n_sh") > 0)
      .select(col("doc_id"), col("n_sh"), col("n_uniq"),
        round(lit(1.0) - col("n_uniq") / col("n_sh"), 6).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Sequence PACKING — assign docs to fixed token-budget batches
    * (the sample-packing step an LLM pipeline runs to fill context
    * windows): running token count per (lang, shard), batch id =
    * tokens-before-this-doc div budget (greedy streaming pack,
    * deterministic given the shard order). The shard key is a hash of
    * the doc id, so window parallelism scales with the shard count
    * regardless of how skewed the language mix is — partitioning by
    * lang alone would funnel a dominant language through one task,
    * and a global cumsum funnels everything. Summarized per
    * (lang, shard, batch). */
  def qPackBatches(s: SparkSession, d: String): DataFrame =
    // nShards pinned to the oracle's value; production callers take
    // the parallelism-relative default
    packBatches(Tables.documents(s, d), nShards = 8L)
      .groupBy(col("lang"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("toks"))
      .orderBy(col("lang"), col("shard"), col("batch"))

  /** Parallelism-relative default for [[packBatches]]' shard count:
    * window parallelism should track the cluster, not a constant —
    * 8 shards on a 1000-executor cluster serializes the cumsum into
    * 8 tasks per language. Floored at 8 (the fixture/oracle value) so
    * small sessions keep deterministic small outputs. */
  def defaultPackShards(s: SparkSession): Long =
    math.max(8L, s.conf.get("spark.sql.shuffle.partitions", "8").toLong)

  /** [[packBatches]] with the shard count resolved from the session —
    * the production entry point (the oracle query pins nShards = 8
    * explicitly; everything else should track cluster parallelism). */
  def packBatches(s: SparkSession, docs: DataFrame): DataFrame =
    packBatches(docs, defaultPackShards(s))

  /** The packing operator behind [[qPackBatches]]: per-(lang, shard)
    * running token count, batch id = tokens-before-this-doc div
    * budget. Batch assignment is SHARD-LOCAL by construction (the
    * window never crosses a (lang, shard) boundary), so any shard
    * count yields a valid packing and the choice only tunes
    * parallelism — CurationSpec pins shard-locality and budget
    * compliance. */
  def packBatches(docs: DataFrame, nShards: Long,
                  budget: Long = 2048L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        pmod(TextOps.hash60(concat_ws("#", lit("pack"), col("doc_id"))),
          lit(nShards)).as("shard"),
        size(TextOps.words(col("text"))).cast("long").as("toks"))
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("batch", expr(s"(cum - toks) DIV $budget"))
  }

  /** Negative-pair sampling — contrastive-training data: each doc
    * draws 3 pseudo-random partners by hashing (doc_id, j) into the
    * contiguous id space, self-pairs dropped. Deterministic (same
    * md5-hash60 family as the split), so resampling a 100 TB corpus
    * reproduces the same pairs with no stored state; the corpus size
    * enters as a broadcast scalar, not a driver constant. */
  def qNegativeSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("cnt"))
    docs.select(col("doc_id"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), explode(array(lit(0L), lit(1L), lit(2L))).as("j"),
        col("cnt"))
      .withColumn("neg_id", pmod(TextOps.hash60(
        concat_ws("#", lit("neg"), col("doc_id"), col("j"))), col("cnt")))
      .filter(col("neg_id") =!= col("doc_id"))
      .select(col("doc_id"), col("j"), col("neg_id"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** RAG-style CHUNKING — overlapping token windows (size 20, stride
    * 15) per document: the chunk relation an embedding/retrieval
    * pipeline materializes before encoding. Scan-local: the window
    * starts come from one `sequence`+`transform` lambda inside
    * whole-stage codegen, exploded to (doc, chunk) rows — no shuffle,
    * no UDF, parallelism = scan parallelism at any corpus size. Each
    * chunk carries its 60-bit content hash so downstream chunk-level
    * dedup/decontamination can run without re-reading text. */
  def qChunkWindows(s: SparkSession, d: String): DataFrame = {
    val size20 = lit(20)
    val stride = lit(15)
    docsSpread(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((size(col("w")) - 1) / stride).cast("int")),
        i => struct(
          i.cast("long").as("chunk_id"),
          least(size20, size(col("w")) - i * stride).cast("long").as("n_toks"),
          TextOps.hash60(concat_ws(" ",
            slice(col("w"), i * stride + 1, size20))).as("h")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.n_toks").as("n_toks"), col("c.h").as("h"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** C4-style duplicated-SPAN accounting — fixed 10-token spans hashed
    * across the corpus; a span whose hash occurs more than once
    * globally (boilerplate, templates, in-doc loops) is marked dropped,
    * and each doc reports how many tokens survive span-level dedup.
    * Span extraction is scan-local (same fused lambda shape as the
    * chunker); the global frequency pass is one groupBy on uniform
    * 60-bit keys plus a join back on the same key — two bounded
    * shuffles, never a pairwise comparison, at any scale. */
  def qSpanDedup(s: SparkSession, d: String): DataFrame = {
    val spans = docsSpread(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .filter(size(col("w")) >= 10)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor(size(col("w")) / lit(10)).cast("int") - 1),
        i => TextOps.hash60(concat_ws(" ",
          slice(col("w"), i * lit(10) + 1, lit(10)))))).as("h"))
    val freq = spans.groupBy(col("h")).agg(count(lit(1)).as("c"))
    spans.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("c") > 1, 0L).otherwise(10L)).as("keep_toks"))
      .orderBy(col("doc_id"))
  }

  /** ANY-ALIGNMENT repeated-passage detection — the Spark reduction of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": suffix-array repeats >= 50
    * tokens): where [[qSpanDedup]] hashes only every 10th-aligned
    * span (C4's coarse grid — a passage straddling a boundary is
    * invisible), this hashes the 8-word window AT EVERY POSITION (the
    * fused rolling kernel emits all of them in one scan-local pass),
    * flags windows whose global frequency exceeds 1, and merges
    * overlapping duplicated windows per doc into MAXIMAL repeated
    * regions (gaps-and-islands with a <8 position gap). Exact for any
    * repeated passage of >= 8 tokens at any alignment, the published
    * reduction's contract. Per doc: region count, longest region,
    * tokens covered. Scale: window rows are linear in corpus tokens,
    * the frequency join is one hash-keyed shuffle (no pair expansion
    * anywhere — only a c>1 flag), and the island merge windows
    * partition per doc (bounded by doc length, never corpus-sized). */
  def qRepeatedPassages(s: SparkSession, d: String): DataFrame =
    repeatedPassageRegions(docsSpread(s, d))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        max(col("len_toks")).as("max_len"),
        sum(col("len_toks")).as("dup_toks"))
      .orderBy(col("doc_id"))

  /** Frame-parametric core of [[qRepeatedPassages]]: per-doc maximal
    * repeated regions (`doc_id`, `grp`, `sp` start pos, `len_toks`).
    *
    * r15 rewrite of the frequency step: the old form inner-joined the
    * FULL window relation to the FULL per-hash count relation (both
    * ~|corpus tokens| rows — windows are mostly unique, so the agg
    * barely compresses), a sort-merge of two corpus-scale relations on
    * top of the groupBy shuffle. But the join only ever KEEPS hashes
    * with c > 1 — the genuinely repeated windows, a tiny fraction of
    * the corpus — so filtering the count relation BEFORE the join and
    * probing with a LEFT SEMI turns it into corpus-scan × small-set:
    * AQE sees the post-filter size at runtime and broadcasts it (no
    * second shuffle of the window relation at all), and in a
    * degenerate everything-repeats corpus it degrades to the old
    * sort-merge rather than breaking. One corpus-scale shuffle total
    * (the count), where the old plan paid three. Row-identical by
    * [[graft.RepeatedPassagesSpec]]'s equivalence pin. */
  private[graft] def repeatedPassageRegions(df: DataFrame): DataFrame = {
    val wins = df
      .select(col("doc_id"), posexplode(
        graft.functions.ShingleHash.shingle_hash60(col("text"), 8)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L).select(col("h"))
    val dup = wins.join(dupH, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wnd) <= 7L, 0L).otherwise(1L))
      .withColumn("grp", sum(col("brk")).over(wnd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("sp"),
        (max(col("pos")) - min(col("pos")) + lit(8L)).as("len_toks"))
  }

  /** Test-set DECONTAMINATION — flag training docs sharing any 4-gram
    * with a held-out benchmark set (here: every 50th doc id, standing
    * in for the benchmark corpus). The benchmark n-gram universe is
    * tiny by construction (eval suites are MBs against a 100 TB
    * corpus), so the probe is a broadcast semi-join against the
    * benchmark hash set — the training scan is never shuffled. Counts
    * DISTINCT overlapping 4-grams per contaminated doc. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    val grams = Dedup.shingles(Dedup.base(docsSpread(s, d), k = 4))
    val bench = grams.filter(pmod(col("doc_id"), lit(50L)) === 0)
      .select(col("sh")).distinct()
    grams.filter(pmod(col("doc_id"), lit(50L)) =!= 0)
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Language-MIX rebalancing — deterministic downsampling of every
    * language to the smallest language's size (uniform target mix):
    * per-lang rates come from one tiny aggregate broadcast back, and
    * the keep decision is the md5-hash60 coin (reproducible,
    * repartition-stable — the same coin family as the split/weighted
    * samplers). The corpus-scale pass is one scan + one broadcast
    * join; no shuffle of the fact side. */
  /** DSIR-style importance resampling (Data Selection for language
    * models via Importance Resampling, Xie et al. 2023): score every
    * document by how much more likely its hashed-unigram bag is under
    * a TARGET distribution (here the English sub-corpus — the paper's
    * "formal domain" proxy) than under the raw source distribution;
    * keep the top-k. Features are word unigrams hashed into 256
    * buckets (the paper's hashed n-gram reduction: the bucket
    * relation is O(B), not O(vocab), so the smoothed log-ratio table
    * broadcasts at any corpus size). The hash is the md5-prefix
    * integer both engines compute identically, and per-bucket log
    * ratios are scaled to integer MICRO-units before the per-doc
    * weighted sum — the cross-engine check is exact integer
    * arithmetic, immune to float summation order. Two linear corpus
    * scans (bucket stats; per-doc bucket counts), one 256-row
    * broadcast, a doc_id-keyed aggregate, and a top-k that plans as
    * TakeOrderedAndProject — no corpus-scale pair join anywhere. The
    * stochastic resampling arm of the paper is the hash-coin
    * weighted sampler this pack already ships (`q_weighted_sample`);
    * this entry is the deterministic top-k selection arm. */
  def qImportanceResample(s: SparkSession, d: String): DataFrame = {
    val B = 256
    val words = docsSpread(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % B)
          .as("bk"))
    val stats = words.groupBy(col("bk")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cs"))
    val tot = stats.agg(sum(col("ct")).as("nt"), sum(col("cs")).as("ns"))
    val rates = stats.crossJoin(broadcast(tot))
      .select(col("bk"),
        round((log((col("ct") + lit(1.0)) / (col("nt") + lit(B.toDouble))) -
               log((col("cs") + lit(1.0)) / (col("ns") + lit(B.toDouble))))
          * 1e6).cast("long").as("lr_e6"))
    words.groupBy(col("doc_id"), col("bk")).agg(count(lit(1)).as("n"))
      .join(broadcast(rates), Seq("bk"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("lr_e6")).as("logw_e6"))
      .orderBy(col("logw_e6").desc, col("doc_id"))
      .limit(20)
  }

  def qMixSample(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val target = counts.agg(min(col("cnt")).as("target"))
    val rates = counts.crossJoin(broadcast(target))
      .select(col("lang"), (col("target") / col("cnt")).as("rate"))
    val coin = pmod(TextOps.hash60(
      concat_ws("#", lit("mix"), col("doc_id"))), lit(1000000L))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(coin < col("rate") * 1000000.0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), round(min(col("rate")), 6).as("rate"))
      .orderBy(col("lang"))
  }

  /** Per-DOMAIN cap — keep at most 15 docs per source, chosen by the
    * deterministic md5-hash60 coin (C4-style per-domain limits, so no
    * single domain dominates the mix). One ranking window per source:
    * parallelism = number of sources, and the per-source state is the
    * cap, not the domain's row count, at any scale. */
  def qSourceCap(s: SparkSession, d: String): DataFrame = {
    val coin = pmod(TextOps.hash60(
      concat_ws("#", lit("cap"), col("doc_id"))), lit(1000000L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(coin, col("doc_id"))
    docsSpread(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 15)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("chars_kept"),
        sum(col("doc_id")).cast("long").as("id_sum"))
      .orderBy(col("source"))
  }

  /** DOMAIN-level quality gate — drop every doc from sources whose
    * average doc length falls below a floor (the blocklist/allowlist
    * step a curation pipeline applies at the domain level, where
    * quality signals are far more stable than per-doc). Two-level:
    * a tiny per-source aggregate, broadcast back as a semi-join —
    * the corpus scan is never shuffled. */
  def qSourceFilter(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    val keep = docs.groupBy(col("source"))
      .agg(avg(col("n_chars")).as("avg_chars"))
      .filter(col("avg_chars") >= 290.0)
      .select(col("source"))
    docs.join(broadcast(keep), Seq("source"), "left_semi")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** Per-language PERCENTILE quality floor — drop each language's
    * bottom quartile by type-token ratio (the relative quality cut a
    * curation pipeline applies per language, since absolute quality
    * scores are not comparable across languages). The cut is
    * RANK-based (`percent_rank` with a doc_id tie-break), not a
    * percentile-value threshold: integer rank arithmetic is exact in
    * any engine, where a continuous-quantile threshold invites FP
    * boundary flips. One window per language; scan-local scoring. */
  def qQualityCut(s: SparkSession, d: String): DataFrame = {
    val w = TextOps.words(col("text"))
    val scored = docsSpread(s, d)
      .select(col("doc_id"), col("lang"),
        round(size(array_distinct(w)).cast("double") / size(w), 6).as("ttr"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("ttr"), col("doc_id"))
    scored.withColumn("pr", percent_rank().over(win))
      .filter(col("pr") >= 0.25)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        round(min(col("ttr")), 6).as("min_ttr"),
        round(avg(col("ttr")), 6).as("avg_ttr"))
      .orderBy(col("lang"))
  }

  /** Token-budget TRUNCATION — cap every doc at 48 tokens (the
    * context-window clip before packing/encoding), reporting kept
    * tokens and the truncated content's 60-bit hash (proof the slice
    * really happened, not just arithmetic). Scan-local: one slice +
    * hash expression inside whole-stage codegen. */
  def qTruncate(s: SparkSession, d: String): DataFrame = {
    val w = TextOps.words(col("text"))
    docsSpread(s, d)
      .select(col("doc_id"), size(w).cast("long").as("n_toks"),
        least(size(w), lit(48)).cast("long").as("kept_toks"),
        TextOps.hash60(concat_ws(" ", slice(w, 1, 48))).as("h"))
      .orderBy(col("doc_id"))
  }

  /** CONTAINMENT detection — pairs where the smaller document's
    * shingle set is FULLY contained in the larger's (quotes, subset
    * pages, truncated mirrors): the near-dup subclass Jaccard
    * under-scores when sizes differ (a 10-shingle doc inside a
    * 1000-shingle doc has Jaccard 0.01 but containment 1.0).
    *
    * Candidate generation is a RAREST-SHINGLE anchor join, and the
    * filter is EXACT (not a recall dial): if the smaller set is fully
    * contained in the larger, then EVERY shingle of the smaller — in
    * particular its globally rarest one — appears in the larger's set,
    * so probing each doc's single minimum-df shingle against the full
    * shingle relation is guaranteed to surface every containment pair.
    * The old exhaustive form ([[qContainmentExhaustive]]) self-joined
    * the whole shingle relation (Σ df² pair-rows before the per-pair
    * aggregate — 14.7× wall at 100× docs, the repo's steepest dedup
    * cell); the anchor probe emits Σ_docs df(rarest shingle) candidate
    * rows (≈ |docs| for natural text, since a doc's rarest shingle has
    * df 1–2), and the exact `|∩| = min(na, nb)` check then runs as an
    * array intersect over just the candidates' per-doc shingle arrays
    * (bounded by doc length). `ContainmentSpec` pins row-equality with
    * the exhaustive form on the fixture.
    *
    * SEMI-JOIN PROBE: NEGATIVE RESULT (r16, measured). Two variants
    * that restrict the exact check to candidate docs were probed at
    * 100× on the same box, same session: (a) pure join-counted
    * intersection (no arrays; per-pair (doc, shingle) equi-join +
    * (a,b) count agg) — 34.6 s vs this form's 13.5 s; (b) arrays
    * built only over semi-joined candidate docs, `cand` persisted —
    * 21.8 s. Root cause: candidate pairs cover nearly EVERY doc
    * (each doc's rarest shingle has df 1–2, so ~every doc appears in
    * some pair), so the candidate semi-join filters almost nothing
    * and its extra shuffles (+ the persist barrier) are pure
    * overhead; variant (a) additionally re-shuffles each pair's full
    * shingle fan-out where the array intersect does that work
    * partition-locally. The corpus-wide array build this form pays is
    * one doc_id-keyed shuffle — linear, spreadable, and cheaper than
    * any probed alternative. */
  def qContainment(s: SparkSession, d: String): DataFrame = {
    // the floored shingle relation feeds THREE consumers below (anchor
    // selection, the candidate probe's right side, and the per-doc
    // array build) — persist it so the docs-scan → fused shingle hash →
    // explode → df-floor pipeline runs once per execution instead of
    // once per consumer (guide §1.2)
    val dsh = shingleRelation(s, d).transform(QueryScope.persist)
    // rarest-shingle anchors WITHOUT a corpus-scale×corpus-scale join
    // (the full shingle relation joined to a full df relation on sh is
    // a sort-merge of two ~|corpus shingles| relations): a doc's rarest
    // shingle only needs EXACT df for shingles that repeat — for
    // natural text a small minority — and every other shingle has
    // df = 1 by definition. So broadcast only the df > 1 rows
    // (AQE sizes the post-filter relation at runtime) and coalesce
    // the misses to 1: identical (df, sh) ordering, so min_by picks
    // the identical anchor, and a degenerate everything-repeats
    // corpus merely degrades to that sort-merge join.
    //
    // The df > 1 rows come from the memoized [[sharedShingleDf]]
    // index: the pipeline's own
    // maintained relation, not a per-query recount of the corpus. It
    // is computed on RAW shingles, but for every shingle surviving
    // the idf floor raw df == post-floor df (the floor removes whole
    // shingle groups), and floored-out shingles simply never match
    // dsh's left join — so anchors are identical to the inline
    // recount (`ContainmentSpec`'s randomized sweep pins it).
    val dfcHot = sharedShingleDf(s, d)
    val anchors = dsh.join(dfcHot, Seq("sh"), "left")
      .select(col("doc_id"), col("sh"),
        coalesce(col("graft_df"), lit(1L)).as("graft_df"))
      .groupBy(col("doc_id"))
      .agg(min_by(col("sh"), struct(col("graft_df"), col("sh"))).as("sh"))
    val cand = anchors.select(col("doc_id").as("u"), col("sh"))
      .join(dsh.select(col("doc_id").as("v"), col("sh")), Seq("sh"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val arrs = dsh.groupBy(col("doc_id"))
      .agg(collect_list(col("sh")).as("shs"), count(lit(1)).as("nsh"))
    cand
      .join(arrs.select(col("doc_id").as("a"), col("shs").as("sh_a"),
        col("nsh").as("na")), Seq("a"))
      .join(arrs.select(col("doc_id").as("b"), col("shs").as("sh_b"),
        col("nsh").as("nb")), Seq("b"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
        === least(col("na"), col("nb")))
      .select(col("a"), col("b"), col("na"), col("nb"),
        when(col("na") <= col("nb"), "a").otherwise("b").as("contained"))
      .orderBy(col("a"), col("b"))
  }

  /** The exhaustive containment form — full shingle self-join
    * then the `c = min(na, nb)` filter. Kept as the reference
    * implementation for `ContainmentSpec`'s row-equality pin on the
    * anchor-probe rewrite above; not registered as a driver query. */
  private[graft] def qContainmentExhaustive(s: SparkSession, d: String): DataFrame = {
    val dsh = shingleRelation(s, d)
    Dedup.overlap(dsh, "sh", dsh)
      .filter(col("c") === least(col("na"), col("nb")))
      .select(col("a"), col("b"), col("na"), col("nb"),
        when(col("na") <= col("nb"), "a").otherwise("b").as("contained"))
      .orderBy(col("a"), col("b"))
  }

  /** Per-language TOKEN-BUDGET sampling — keep each language's docs in
    * deterministic hash order until a 2000-token budget is exhausted
    * (the "sample N tokens per domain/language" step that sizes a
    * training mix by tokens, not documents). One cumulative-sum window
    * per language over the (coin, doc_id) order; the budget predicate
    * is integer-exact in any engine. A doc straddling the boundary is
    * kept iff its own tokens fit (cum <= budget). */
  def qTokenBudget(s: SparkSession, d: String): DataFrame = {
    val coin = pmod(TextOps.hash60(
      concat_ws("#", lit("tb"), col("doc_id"))), lit(1000000L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(coin, col("doc_id"))
    docsSpread(s, d)
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(col("text"))).cast("long").as("toks"))
      .withColumn("cum", sum(col("toks")).over(w))
      .filter(col("cum") <= 2000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).cast("long").as("toks_kept"),
        max(col("cum")).as("budget_used"))
      .orderBy(col("lang"))
  }

  /** MinHash Jaccard ESTIMATION on the LSH candidate pairs: the
    * fraction of the 16 minhash components two docs share is an
    * unbiased estimate of their Jaccard similarity — the cheap scorer
    * a 100 TB dedup runs INSTEAD of exact shingle-intersection
    * (signatures are 128 bytes/doc; the shingle sets they stand in for
    * are unbounded). Candidates come from [[Dedup.candidates]] — the
    * SAME banded equi-join (hot-bucket cap included) as
    * [[qMinhashLsh]], so the two can never diverge — and the signature
    * frame joins back doc-keyed to both pair sides (at scale it is the
    * materialized signature store every LSH system keeps anyway). */
  def qMinhashEst(s: SparkSession, d: String): DataFrame = {
    val sig = Dedup.minhash(Dedup.base(docsSpread(s, d)))
      .select(col("doc_id"), col("mh").as("sig"))
    sharedMinhashCandidates(s, d)
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .withColumn("n_match", aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _))
      .select(col("a"), col("b"), col("n_match"),
        round(col("n_match") / 16.0, 4).as("jaccard_est"))
      .orderBy(col("a"), col("b"))
  }

  /** SimHash near-dup: 48-bit signature from word-hash bit votes,
    * pairs with Hamming distance <= 3, found by banding the 48 bits
    * into 4 bands of 12 — by pigeonhole any pair within distance 3
    * matches exactly on at least one band, so the banded equi-join is
    * EXACT (no all-pairs scan at any scale). */
  def qSimhashDedup(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d)

  /** SimHash near-dup pairs, with the hot-bucket cap applied before
    * the banding self-join (default no-op at fixture scale). Note the
    * cap trades exactness: a pair inside a dropped bucket is found
    * only if it also shares a non-hot band (same trade every prod
    * LSH dedup makes — the dropped buckets are degenerate content). */
  def simhashPairs(s: SparkSession, d: String,
                   maxBucket: Long = DefaultMaxBucket): DataFrame = {
    // DOC-LOCAL signature via the fused SimHash kernel: the only
    // shuffled relation is the (band, bucket) banding below
    val sigDf = docsSpread(s, d)
      .select(col("doc_id"),
        graft.functions.SimHash.sim_hash48(col("text")).as("simhash"))
    // 4 blocking bands of 12 bits: any pair at Hamming distance <= 3
    // differs in at most 3 bands, so it matches on at least one —
    // banding is EXACT here, and replaces the all-pairs scan with 4
    // equi-joins on band values (the 100 TB-safe shape).
    val banded = Dedup.bands(sigDf, (0 until 4).map(b =>
        shiftright(col("simhash"), 12 * b).bitwiseAND(lit(0xFFFL))), carry = Seq("simhash"))
      .transform(QueryScope.persist) // read by the hot-bucket aggregate and both self-join sides
    Dedup.candidates(banded, maxBucket, carry = Seq("simhash"))
      .withColumn("hd", expr("bit_count(simhash_a ^ simhash_b)").cast("long"))
      .filter(col("hd") <= 3)
      .select(col("a"), col("b"), col("hd"))
      .orderBy(col("a"), col("b"))
  }

  /** Canonical-form document fingerprint (rolling-hash-style id). */
  def qFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS scheme): hash every positional k-gram,
    * slide a w-hash window, and in each window keep the MINIMUM hash
    * (ties → rightmost position, the paper's rule that maximizes
    * fingerprint reuse across overlapping windows). The selected
    * (hash, position) set is the document's fingerprint sketch with
    * two published guarantees: any shared substring of at least
    * w + k − 1 tokens yields a shared fingerprint (detection is
    * NEVER missed above the noise threshold), and expected density is
    * 2/(w+1) — position-robust dedup at a fixed compression rate,
    * where a fixed 0 mod p selection (the C4-style grid) can miss
    * arbitrarily long matches. Scan-local: the whole select runs as
    * higher-order array expressions inside whole-stage codegen —
    * zero shuffle at any corpus size. Documents shorter than one full
    * window winnow their single truncated window.
    *
    * The hashing and the window-minimum selection are both fused
    * native kernels ([[graft.functions.ShingleHash]] +
    * [[graft.functions.WinnowSelect]] — the O(m) monotonic-deque
    * sliding minimum): the first cut of this operator composed
    * `transform(sequence, t => aggregate(...))` higher-order
    * expressions, whose interpreted per-window folds cost 22× wall at
    * the 100× probe; the kernels brought it back to scan speed.
    *
    * Returns (doc_id, m = gram count, nwin = window count, sel =
    * distinct selected (h, p) structs). */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    Dedup.winnow(Dedup.base(docs, k), w)

  /** Driver query over [[winnowFingerprints]]: per-doc gram/window
    * counts, fingerprint count, density (≈ 2/(w+1) on natural text),
    * and the XOR of selected hashes — an order-independent integer
    * pin that the oracle can only reproduce by selecting EXACTLY the
    * same (hash, position) set. */
  def qWinnow(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(docsSpread(s, d))
      .select(col("doc_id"), col("m").as("n_grams"),
        col("nwin").as("n_windows"),
        size(col("sel")).cast("long").as("n_fps"),
        round(size(col("sel")) / col("nwin").cast("double"), 6).as("density"),
        aggregate(col("sel"), lit(0L),
          (a, x) => a.bitwiseXOR(x.getField("h"))).as("fp_xor"))
      .orderBy(col("doc_id"))

  /** Near-dup CANDIDATE PAIRS from shared winnow fingerprints — what
    * MOSS actually does with the sketch: docs sharing >= 2 selected
    * (window-minimum) hashes are copy candidates, scored by the
    * fingerprint-set Jaccard. The same banded-join shape as the
    * minhash path but over a sketch 2/(w+1) the density of the full
    * shingle relation — candidate generation joins fingerprint
    * buckets, never all-pairs, and the detection guarantee (any
    * shared run of >= w+k-1 tokens shares a fingerprint) survives
    * because selection is window-local. Hot-fingerprint buckets
    * (boilerplate) are capped by the same broadcast anti-join as the
    * minhash buckets ([[Dedup.cap]]). The fingerprints are the
    * [[winnowTable]] index, built with the other shared tables. */
  def qWinnowPairs(s: SparkSession, d: String): DataFrame =
    fingerprintPairs(winnowTable(s, d, "", () => Dedup.base(docsSpread(s, d))))
      .orderBy(col("a"), col("b"))

  /** [[qWinnowPairs]] over any frame with (doc_id, text) — inline
    * fingerprints (the spec path; the driver query goes through the
    * memoized index). */
  def winnowPairs(docs: DataFrame,
                  maxBucket: Long = DefaultMaxBucket): DataFrame =
    fingerprintPairs(Dedup.fingerprints(Dedup.winnow(Dedup.base(docs))), maxBucket)

  /** Pairs sharing >= 2 distinct (doc_id, h) fingerprints after the
    * hot-fingerprint cap, with `sim` = the fingerprint-set Jaccard over
    * the PRE-cap fingerprint counts. */
  private def fingerprintPairs(fps: DataFrame,
                               maxBucket: Long = DefaultMaxBucket): DataFrame =
    Dedup.overlap(Dedup.cap(fps, Seq("h"), maxBucket, Dedup.docFreq(fps, Seq("h"))), "h", fps)
      .filter(col("c") >= 2)
      .select(col("a"), col("b"), col("c").as("n_shared"), round(col("jacv"), 6).as("sim"))

  /** Marker-word language scoring + argmax prediction over a frame
    * with a `text` column (factored out so the argmax is unit-testable
    * on hand-built docs). */
  def langidScore(docs: DataFrame): DataFrame = {
    // distinct-presence scoring via array_intersect (codegen'd) rather
    // than per-word interpreted lambda filters
    def score(markers: Seq[String]) =
      size(array_intersect(col("graft_w"), array(markers.map(lit): _*)))
    val langs = Seq(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "es" -> Seq("el", "la", "de", "y", "es"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "est"),
      "zh" -> Seq("的", "是", "了", "在", "和"))
    // true argmax over ALL scores (not each-vs-English), ties broken
    // in fixed order en > es > de > fr > zh (all-zero docs fall back
    // to "en"): min over (-score, priority) structs. Each score
    // expression appears exactly ONCE in the tree — a greatest()+when
    // cascade inlines every score O(langs²) times after projection
    // collapse, and the resulting generated code took seconds of
    // janino compile per cold run (12.8 s in BENCH_r03).
    val best = element_at(array_sort(array(langs.zipWithIndex.map {
      case ((l, m), p) =>
        struct((-score(m)).as("ns"), lit(p).as("p"), lit(l).as("l"))
    }: _*)), 1)
    val scored = docs
      .withColumn("graft_w", array_distinct(TextOps.words(lower(col("text")))))
      .withColumn("lang_pred", best.getField("l"))
    // per-language score columns kept for unit tests / debuggability;
    // queries that only read lang_pred get them pruned by Catalyst
    langs.foldLeft(scored) { case (df, (l, m)) =>
      df.withColumn(s"s_$l", score(m))
    }.drop("graft_w")
  }

  /** Language-ID heuristic: per-language stopword-marker scores, true
    * argmax with fixed tie order, confusion counts against the labeled
    * `lang` column. Fully oracle-checked — the scoring is distinct-
    * presence set intersection, which DuckDB's list functions mirror
    * exactly (the argmax tie cascade is a CASE chain there). */
  def qLangid(s: SparkSession, d: String): DataFrame =
    langidScore(Tables.documents(s, d))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** TF-IDF top terms per document (rank-cut W3 over a text-derived
    * score): tf from the word stream, df as a partial+final groupBy on
    * term joined back (NOT count-over-window(term): a stopword term's
    * window partition is a corpus-fraction in one task at scale, while
    * the agg is map-side-combined and skew-immune), idf = ln(N/df);
    * top-3 by rounded score with a term tie-break (scores tie whenever
    * (tf, df) does, so the ordering must be pinned for engine
    * stability). */
  def qTfidfTop(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nd = docs.agg(count(lit(1)).as("nd"))
    val tf = docsSpread(s, d)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // tf has one row per (doc, term), so count-per-term IS document
    // frequency; the vocabulary-sized df relation joins back on term.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(df, Seq("term"))
      .crossJoin(broadcast(nd))
      .withColumn("score",
        round(col("tf") * log(col("nd").cast("double") / col("df")), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term")))
        .cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Token counting (north star: "whitespace + a BPE-ish regex"):
    * whitespace tokens vs subword-ish units from a GPT-style pattern
    * (letters / digits / punctuation runs with leading-space folding —
    * kept RE2-compatible for the oracle: no lookarounds). */
  def qTokenCount(s: SparkSession, d: String): DataFrame = {
    val bpe = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    Tables.documents(s, d).select(
      col("doc_id"),
      size(TextOps.words(col("text"))).cast("long").as("ws_tokens"),
      regexp_count(lower(col("text")), lit(bpe)).cast("long").as("bpe_tokens"),
      col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Dedup APPLIED: the canonical document set after dropping the
    * higher-id member of every >=0.5-Jaccard near-dup pair — exact
    * dedup composed with the n-gram candidate pipeline, finished with
    * an anti-join (the actual "train on this" relation). */
  def qDedupApply(s: SparkSession, d: String): DataFrame = {
    // derives from the SAME materialized candidate-pair table as
    // q_ngram_jaccard — the shingle pipeline runs once per dataset,
    // not once per query (raw jacv threshold, matching the oracle)
    val drop = sharedJaccardPairs(s, d).filter(col("jacv") >= 0.5)
      .select(col("b").as("doc_id")).distinct()
    Tables.documents(s, d)
      .join(drop, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy(col("lang"))
  }

  /** Transitive dedup closure: near-dup pairs (Jaccard >= 0.5, the
    * same edge set q_dedup_apply drops from) clustered into connected
    * components via relational min-label propagation — a~b, b~c means
    * {a,b,c} is ONE cluster with one representative, which pairwise
    * dropping cannot express. Output: every clustered doc with its
    * component representative (= min doc_id). */
  def qDedupClusters(s: SparkSession, d: String): DataFrame = {
    val edges = sharedJaccardPairs(s, d).filter(col("jacv") >= 0.5)
      .select(col("a"), col("b"))
    graft.operators.ConnectedComponents.labels(edges)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** Bigram collocations by PMI — pointwise mutual information
    * log(p(ab) / (p(a)·p(b))) over corpus bigrams with a count floor
    * (the phrase-detection scan run before tokenizer training). The
    * n-gram extraction is scan-local (the shingle lambda); the count
    * relations are vocabulary-sized, so the scoring joins are
    * broadcast joins against tiny aggregates at any corpus size. All
    * ratio math in double to dodge BIGINT overflow at scale. */
  def qBigramPmi(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    val uni = docs.select(explode(TextOps.words(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val bi = docs.select(explode(
        graft.functions.ShingleStrings.shingle_strings(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val nUni = uni.agg(sum(col("cnt")).cast("double").as("n_uni"))
    val nBi = bi.agg(sum(col("c_ab")).cast("double").as("n_bi"))
    bi.filter(col("c_ab") >= 30)
      .withColumn("wa", split(col("bigram"), " ").getItem(0))
      .withColumn("wb", split(col("bigram"), " ").getItem(1))
      .join(broadcast(uni.toDF("wa", "c_a")), "wa")
      .join(broadcast(uni.toDF("wb", "c_b")), "wb")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        round(log(col("c_ab").cast("double") * col("n_uni") * col("n_uni") /
          (col("n_bi") * col("c_a") * col("c_b"))), 5).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(50)
  }

  /** BM25 retrieval scoring — Okapi BM25 (k1=1.2, b=0.75) of a fixed
    * query term set against every document; top 20. The tf relation
    * only carries (doc, query-term) hits, df and corpus stats are
    * one-row/vocabulary-sized broadcast aggregates, and the per-doc
    * length join shuffles on the uniform doc key — the classic
    * scatter-gather ranking pass, fact scanned twice, never
    * collected. */
  def qBm25(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** The full BM25-scored relation (every doc hitting >= 1 query
    * term) for the fixed query {spark, join, window} — [[qBm25]]'s
    * top-20 and the hybrid RRF fusion both rank over it. */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    val wlen = size(TextOps.words(col("text")))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"),
      avg(wlen).as("avgdl"))
    // doc length rides along with the term hits — one scan, no
    // doc-key join back (dl is functionally dependent on doc_id)
    val tf = docs.select(col("doc_id"), wlen.cast("double").as("dl"),
        explode(filter(TextOps.words(col("text")),
          t => t.isin("spark", "join", "window"))).as("t"))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfr = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfr), "t")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("sc", col("idf") * col("tf") * 2.2 /
        (col("tf") + (col("dl") / col("avgdl") * 0.75 + 0.25) * 1.2))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("sc")), 5).as("bm25"), count(lit(1)).as("n_terms"))
  }

  /** Corpus-audit length histogram — doc counts per (lang, 50-char
    * bucket): the distribution scan run before choosing length
    * filters. One scan-local bucket expression + one groupBy on a
    * bounded key space. */
  def qLengthHist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), expr("n_chars DIV 50").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("bucket"))

  /** Duplication-rate audit per source — exact-duplicate share by
    * domain (the per-domain quality signal that drives source
    * blocklists). Distinct is counted on full text per source: one
    * shuffle on the source key; at scale the same shape runs on the
    * 60-bit content hash (`q_dedup_exact`'s key) to keep shuffle rows
    * narrow. */
  def qDupBySource(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_uniq"),
        round(lit(1.0) - countDistinct(col("text")).cast("double") /
          count(lit(1)), 6).as("dup_rate"))
      .orderBy(col("source"))

  /** Grouped linear regression — per-language slope/intercept/R² of
    * char count on token count (the native `regr_*` aggregate family,
    * Spark and ANSI SQL alike). One partial+final hash agg: the
    * sufficient statistics (Σx, Σy, Σxy, Σx², n) merge associatively,
    * so the shape is a single scan at any corpus size. */
  def qRegrSlope(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars").cast("double").as("y"),
        size(TextOps.words(col("text"))).cast("double").as("x"))
      .groupBy(col("lang"))
      .agg(round(expr("regr_slope(y, x)"), 5).as("slope"),
        round(expr("regr_intercept(y, x)"), 5).as("intercept"),
        round(expr("regr_r2(y, x)"), 5).as("r2"),
        count(lit(1)).as("n"))
      .orderBy(col("lang"))

  /** Per-language unigram entropy — H = ln N − Σ c·ln c / N over the
    * language's word-frequency distribution (the corpus-diversity
    * audit; a collapsed/templated slice shows low H). Two hash aggs
    * on (lang, word) then lang — count keys are vocabulary-scale. */
  def qUnigramEntropy(s: SparkSession, d: String): DataFrame =
    docsSpread(s, d)
      .select(col("lang"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).cast("long").as("n_tokens"),
        round(log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c")), 5).as("entropy"))
      .orderBy(col("lang"))

  /** Unigram language-model QUALITY SCORE — the CCNet-style filter
    * (Wenzek et al., `facebookresearch/cc_net`): fit a per-language
    * unigram LM on the corpus itself, score each document by its mean
    * token log-probability, and band each language's docs into
    * head/middle/tail terciles (the buckets CCNet keeps/samples/drops).
    * A doc of common in-language words scores near the language's
    * typical logprob; templated or out-of-distribution text lands in
    * the tail. Scale shape: the fitted model is VOCABULARY-sized
    * (merges associatively from a partial hash agg on (lang, word)),
    * so the score join is corpus × broadcast-able model (AQE picks the
    * broadcast at runtime); the per-doc mean partial-aggregates
    * map-side; the tercile window partitions by language — at 100 TB
    * the band boundaries would come from a quantile sketch instead,
    * but the keep/drop semantics are identical. Ranking ties break on
    * the ROUNDED score + doc_id so banding is engine-stable. */
  def qUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nt = unigramLogprobScores(docsSpread(s, d))
      .withColumn("nt", ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("logprob").desc, col("doc_id"))))
    nt.select(col("doc_id"), col("lang"), col("n_toks"), col("logprob"),
        when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
          .otherwise("tail").as("band"))
      .orderBy(col("doc_id"))
  }

  /** BIGRAM interpolated LM score per document — one modeling step up
    * from [[qUnigramLogprob]]'s unigram CCNet filter, toward the
    * n-gram KenLM the real CCNet ships: per language, a
    * Jelinek–Mercer-interpolated bigram model (Jelinek & Mercer 1980;
    * Chen & Goodman 1996's baseline smoother)
    * q(w|a) = 0.75·c(a,w)/ctx(a) + 0.25·c(w)/N, scored as each doc's
    * mean bigram log-probability. Context counts ctx(a) = Σ_w c(a,w)
    * roll up FROM the bigram table (exact at document boundaries,
    * where a word's last occurrence is not a context), and the
    * unigram backoff term keeps unseen-in-context continuations
    * finite — the reason templated text separates even harder here
    * than under the unigram score: its bigrams are either verbatim
    * (high q) or broken mid-template (backoff-only, low q).
    *
    * Scale shape: the fitted model is VOCABULARY²-bounded per
    * language (three associative count aggregates), so the score
    * join is corpus × broadcast-able model; the per-doc mean
    * partial-aggregates map-side. Determinism: every model term is a
    * quotient of exact BIGINTs combined in one fixed expression shape
    * on both engines; ln + round(avg, 5) is the same accepted class
    * as the unigram twin. Reference scope: the reference has no LM
    * scoring (`utils.py` counts whitespace tokens); engine-new, from
    * the published CCNet design. */
  def qBigramLogprob(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
    // bw feeds the model fit AND the scoring join; cab feeds the
    // context rollup AND the model join — persist both so the docs
    // scan + bigram explode + splits run once per execution (guide
    // §1.2)
    val bw = docs.select(col("doc_id"), col("lang"), explode(
        graft.functions.ShingleStrings.shingle_strings(col("text"), 2)).as("bg"))
      .withColumn("wa", split(col("bg"), " ").getItem(0))
      .withColumn("wb", split(col("bg"), " ").getItem(1))
      .transform(QueryScope.persist)
    val cab = bw.groupBy(col("lang"), col("wa"), col("wb"))
      .agg(count(lit(1)).as("c_ab"))
      .transform(QueryScope.persist)
    val ctx = cab.groupBy(col("lang"), col("wa")).agg(sum(col("c_ab")).as("ctx"))
    val uni = docs.select(col("lang"), explode(TextOps.words(col("text"))).as("wb"))
      .groupBy(col("lang"), col("wb")).agg(count(lit(1)).as("c_b"))
    val nTot = uni.groupBy(col("lang")).agg(sum(col("c_b")).cast("double").as("n"))
    val model = cab.join(ctx, Seq("lang", "wa"))
      .join(uni, Seq("lang", "wb"))
      .join(nTot, Seq("lang"))
      .select(col("lang"), col("wa"), col("wb"),
        log(lit(0.75) * col("c_ab") / col("ctx") +
          lit(0.25) * col("c_b") / col("n")).as("lp"))
    bw.join(model, Seq("lang", "wa", "wb"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_bi"),
        round(avg(col("lp")), 5).as("bi_logprob"))
      .orderBy(col("doc_id"))
  }

  /** The per-doc scoring half of [[qUnigramLogprob]] over any frame
    * with (doc_id, lang, text): fit the per-language unigram model,
    * score each doc by mean token log-probability. Returns
    * (doc_id, lang, n_toks, logprob rounded to 5). */
  private[graft] def unigramLogprobScores(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), col("lang"),
      explode(TextOps.words(col("text"))).as("w"))
    val uni = w.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("c")).cast("double").as("n"))
    val model = uni.join(tot, Seq("lang"))
      .select(col("lang"), col("w"), log(col("c") / col("n")).as("lp"))
    w.join(model, Seq("lang", "w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_toks"),
        round(avg(col("lp")), 5).as("logprob"))
  }

  /** Per-language unigram MODEL + KEEP THRESHOLD fitted on a document
    * slice — the relations a streaming quality gate ships to its
    * executors. Model = (lang, w, lp = ln(c/n)); threshold =
    * (lang, thr = Σ p·ln p − 0.15, n): a document of typical
    * in-language text scores near the model's negative entropy
    * (Σ p·ln p IS the expected token logprob under the model), so
    * "keep" = within a 0.15-nat margin of typical — the
    * perplexity-relative cut CCNet applies, with the reference point
    * computed from the model itself instead of a tuned constant. */
  private[graft] def unigramModelRelations(docs: DataFrame): (DataFrame, DataFrame) = {
    val w = docs.select(col("lang"), explode(TextOps.words(col("text"))).as("w"))
    val uni = w.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("c")).cast("double").as("n"))
    val p = col("c") / col("n")
    val model = uni.join(tot, Seq("lang"))
      .select(col("lang"), col("w"), log(p).as("lp"))
    val thr = uni.join(tot, Seq("lang"))
      .groupBy(col("lang"))
      .agg((sum(p * log(p)) - 0.15).as("thr"), max(col("n")).as("n"))
    (model, thr)
  }

  /** PRODUCTION banding twin of [[qUnigramLogprob]]: band boundaries
    * from `percentile_approx` sketches (one partial-mergeable agg per
    * language, boundaries broadcast back) instead of the exact
    * tercile window. The exact form sorts every language partition —
    * at 100 TB a single language can be most of the corpus and that
    * sort is the scale hazard; the sketch path is two linear passes
    * and never materializes a per-language total order, with
    * identical keep/drop semantics up to sketch error at the two
    * boundaries (CCNet itself bands on streamed quantile estimates).
    * `UnigramLogprobBandsSpec` pins >= 95% band agreement with the
    * exact terciles on the fixture and exact agreement away from the
    * boundary neighborhoods. */
  def unigramLogprobBandsApprox(docs: DataFrame,
                                accuracy: Int = 10000): DataFrame = {
    val sc = unigramLogprobScores(docs)
    val cuts = sc.groupBy(col("lang")).agg(percentile_approx(
      col("logprob"), array(lit(2.0 / 3), lit(1.0 / 3)), lit(accuracy))
      .as("cuts"))
    sc.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("logprob"),
        when(col("logprob") >= element_at(col("cuts"), 1), "head")
          .when(col("logprob") >= element_at(col("cuts"), 2), "middle")
          .otherwise("tail").as("band"))
  }

  /** Inverted-index build — per-term document frequency, collection
    * frequency, and the first 20 postings in doc order (the IR index
    * relation; full posting lists shard by term at scale, the sample
    * here keeps the driver row bounded). Postings stay distributed:
    * the per-term cap is a rank window (plans as WindowGroupLimit),
    * the list is a sorted array join — never a driver-side group. */
  def qInvertedIndex(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posting = docsSpread(s, d)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("t"))
      .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val stats = posting.groupBy(col("t"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("cf"))
    val sample = posting
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("t")).orderBy(col("doc_id"))))
      .filter(col("rk") <= 20)
      .groupBy(col("t"))
      .agg(array_join(array_sort(collect_list(col("doc_id"))), ",")
        .as("postings_head"))
    stats.join(sample, "t")
      .select(col("t"), col("df"), col("cf"), col("postings_head"))
      .orderBy(col("t"))
  }

  /** LSH quality audit — precision/recall of the MinHash banding
    * against the exact >=0.5-Jaccard pair set (the measurement a
    * dedup pipeline ships with its approximation: how many true
    * near-dup pairs does banding surface, and how much candidate
    * verification does it waste). Composes the two existing
    * pipelines; both are deterministic, so the audit itself is
    * oracle-checkable — unlike the IVF/PQ recall queries whose
    * quantizers are engine-fitted. */
  def qLshRecall(s: SparkSession, d: String): DataFrame = {
    // exact pairs come from the shared >=0.05 pair table (same source
    // as q_ngram_jaccard / q_dedup_apply), filtered to the dedup
    // threshold — the audit never re-runs the shingle pipeline
    val truePairs = sharedJaccardPairs(s, d)
      .filter(col("jacv") >= 0.5)
      .select(col("a"), col("b"))
    val cand = sharedMinhashCandidates(s, d).select(col("a"), col("b"))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nHit = truePairs.join(cand, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    // explicit zero-denominator guards: a corpus with no >=0.5 pairs
    // (or no banding candidates) must emit NULL in BOTH engines —
    // Spark and DuckDB disagree on float x/0 semantics otherwise
    nTrue.crossJoin(broadcast(nCand)).crossJoin(broadcast(nHit))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0, round(col("n_hit") / col("n_true"), 6))
          .as("recall"),
        when(col("n_cand") > 0, round(col("n_hit") / col("n_cand"), 6))
          .as("precision"))
  }

  /** Near-dup GRAPH analytics — node/edge/degree/triangle statistics
    * of the >=0.5-Jaccard pair graph (the structure audit run before
    * transitive-closure dedup: heavy triangles/dense cores mean large
    * dup clusters). Triangles via the ordered two-path join (a<b<c,
    * join (a,b)+(b,c) then probe (a,c)) — the standard distributed
    * algorithm; all joins key on node ids, pairs come from the shared
    * table, never recomputed. */
  def qDupGraphStats(s: SparkSession, d: String): DataFrame = {
    val e = sharedJaccardPairs(s, d).filter(col("jacv") >= 0.5)
      .select(col("a"), col("b"))
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"),
      round(avg(col("deg")), 4).as("avg_degree"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("avg_degree"), col("n_triangles"))
  }

  /** Fixed-3-iteration PageRank over the near-dup graph (undirected:
    * each edge contributes both directions) — the centrality audit
    * that surfaces template hubs in a dup cluster. Deterministic and
    * finite, so fully oracle-checkable (the DuckDB oracle unrolls the
    * three iterations). Each iteration is one join of the rank
    * relation with the edge list on the node key + one groupBy —
    * rounds × 2 shuffles at any graph size, the standard distributed
    * shape. Top 20 by final rank. */
  def qPagerank3(s: SparkSession, d: String): DataFrame = {
    val e = sharedJaccardPairs(s, d).filter(col("jacv") >= 0.5)
      .select(col("a"), col("b"))
    val dir = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("src").as("v"), col("deg"))
    val n = nodes.count().toDouble // driver scalar: node count only
    var pr = nodes.select(col("v"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = pr.join(nodes, Seq("v"))
        .select(col("v"), (col("pr") / col("deg")).as("share"))
        .join(dir, col("v") === col("src"))
        .groupBy(col("dst")).agg(sum(col("share")).as("in_share"))
      pr = nodes.select(col("v"))
        .join(contrib, col("v") === col("dst"), "left_outer")
        .select(col("v"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("in_share"), lit(0.0)))
            .as("pr"))
    }
    pr.select(col("v"), round(col("pr") * 10000, 4).as("pr_e4"))
      .orderBy(col("pr_e4").desc, col("v"))
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "q_pagerank3"       -> qPagerank3,
    "q_dup_graph_stats" -> qDupGraphStats,
    "q_lsh_recall"    -> qLshRecall,
    "q_inverted_index" -> qInvertedIndex,
    "q_regr_slope"    -> qRegrSlope,
    "q_unigram_entropy" -> qUnigramEntropy,
    "q_unigram_logprob" -> qUnigramLogprob,
    "q_bigram_logprob" -> qBigramLogprob,
    "q_bigram_pmi"    -> qBigramPmi,
    "q_bm25"          -> qBm25,
    "q_length_hist"   -> qLengthHist,
    "q_dup_by_source" -> qDupBySource,
    "q_token_count"   -> qTokenCount,
    "q_dedup_apply"   -> qDedupApply,
    "q_dedup_clusters" -> qDedupClusters,
    "q_tfidf_top"     -> qTfidfTop,
    "q_dedup_exact"   -> qDedupExact,
    "q_text_quality"  -> qTextQuality,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_minhash_lsh"   -> qMinhashLsh,
    "q_minhash_est"   -> qMinhashEst,
    "q_split_assign"  -> qSplitAssign,
    "q_split_leakage" -> qSplitLeakage,
    "q_chunk_windows" -> qChunkWindows,
    "q_source_cap"    -> qSourceCap,
    "q_source_filter" -> qSourceFilter,
    "q_quality_cut"   -> qQualityCut,
    "q_truncate"      -> qTruncate,
    "q_containment"   -> qContainment,
    "q_token_budget"  -> qTokenBudget,
    "q_span_dedup"    -> qSpanDedup,
    "q_repeated_passages" -> qRepeatedPassages,
    "q_decontaminate" -> qDecontaminate,
    "q_mix_sample"    -> qMixSample,
    "q_importance_resample" -> qImportanceResample,
    "q_negative_sample" -> qNegativeSample,
    "q_corpus_pipeline" -> qCorpusPipeline,
    "q_pack_batches"  -> qPackBatches,
    "q_repetition"    -> qRepetition,
    "q_vocab_top"     -> qVocabTop,
    "q_weighted_sample" -> qWeightedSample,
    "q_simhash_dedup" -> qSimhashDedup,
    "q_fingerprint"   -> qFingerprint,
    "q_winnow"        -> qWinnow,
    "q_winnow_pairs"  -> qWinnowPairs,
    "q_langid"        -> qLangid,
    "q_blocklist_scrub" -> qBlocklistScrub,
  )

  val oracles: Map[String, String] = Map(
    // reuses the q_ngram_jaccard pair fragment at the 0.5 threshold;
    // the three PageRank iterations are unrolled as CTEs
    "q_pagerank3" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri0 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri0),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id
        |           GROUP BY 1,2),
        |e AS (SELECT a, b FROM common
        |      JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |      WHERE c*1.0/(sa.n+sb.n-c) >= 0.5),
        |dir AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY 1),
        |nn AS (SELECT count(*) * 1.0 AS n FROM deg),
        |pr0 AS (SELECT src AS v, 1.0 / n AS pr FROM deg, nn),
        |c1 AS (SELECT dir.dst, sum(pr0.pr / deg.deg) AS s FROM pr0
        |       JOIN deg ON pr0.v = deg.src JOIN dir ON pr0.v = dir.src
        |       GROUP BY 1),
        |pr1 AS (SELECT deg.src AS v, 0.15 / n + 0.85 * coalesce(c1.s, 0) AS pr
        |        FROM deg LEFT JOIN c1 ON deg.src = c1.dst, nn),
        |c2 AS (SELECT dir.dst, sum(pr1.pr / deg.deg) AS s FROM pr1
        |       JOIN deg ON pr1.v = deg.src JOIN dir ON pr1.v = dir.src
        |       GROUP BY 1),
        |pr2 AS (SELECT deg.src AS v, 0.15 / n + 0.85 * coalesce(c2.s, 0) AS pr
        |        FROM deg LEFT JOIN c2 ON deg.src = c2.dst, nn),
        |c3 AS (SELECT dir.dst, sum(pr2.pr / deg.deg) AS s FROM pr2
        |       JOIN deg ON pr2.v = deg.src JOIN dir ON pr2.v = dir.src
        |       GROUP BY 1),
        |pr3 AS (SELECT deg.src AS v, 0.15 / n + 0.85 * coalesce(c3.s, 0) AS pr
        |        FROM deg LEFT JOIN c3 ON deg.src = c3.dst, nn)
        |SELECT v, round(pr * 10000, 4) AS pr_e4 FROM pr3
        |ORDER BY pr_e4 DESC, v LIMIT 20""".stripMargin,
    // reuses the q_ngram_jaccard pair fragment at the 0.5 threshold
    "q_dup_graph_stats" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri0 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri0),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id
        |           GROUP BY 1,2),
        |e AS (SELECT a, b FROM common
        |      JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |      WHERE c*1.0/(sa.n+sb.n-c) >= 0.5),
        |deg AS (SELECT v, count(*) AS deg FROM
        |        (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1 JOIN e e2 ON e1.b = e2.a
        |        WHERE EXISTS (SELECT 1 FROM e e3
        |                      WHERE e3.a = e1.a AND e3.b = e2.b))
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT max(deg) FROM deg) AS max_degree,
        |  (SELECT round(avg(deg), 4) FROM deg) AS avg_degree,
        |  (SELECT n_triangles FROM tri) AS n_triangles""".stripMargin,
    // composes the q_ngram_jaccard (exact pairs, >=0.5) and
    // q_minhash_lsh (banded candidates) oracle fragments verbatim
    "q_lsh_recall" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dshs AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dshs GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dshs x JOIN dshs y ON x.sh=y.sh AND x.doc_id<y.doc_id
        |           GROUP BY 1,2),
        |tp AS (SELECT a, b FROM common
        |       JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |       WHERE c*1.0/(sa.n+sb.n-c) >= 0.5),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT % 2147483647 AS h FROM tri),
        |js AS (SELECT unnest(generate_series(0,15)) AS j),
        |minh AS (SELECT doc_id, j, j // 2 AS band,
        |    min((h * (2*j+1)) % 2147483647) AS mh FROM dsh, js GROUP BY 1,2,3),
        |sig AS (SELECT doc_id, band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sg
        |    FROM minh GROUP BY 1,2),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM sig x JOIN sig y
        |         ON x.band=y.band AND x.sg=y.sg AND x.doc_id<y.doc_id),
        |hit AS (SELECT tp.a, tp.b FROM tp JOIN cand USING (a, b))
        |SELECT (SELECT count(*) FROM tp) AS n_true,
        |  (SELECT count(*) FROM cand) AS n_cand,
        |  (SELECT count(*) FROM hit) AS n_hit,
        |  CASE WHEN (SELECT count(*) FROM tp) > 0
        |    THEN round((SELECT count(*) FROM hit) * 1.0 /
        |               (SELECT count(*) FROM tp), 6) END AS recall,
        |  CASE WHEN (SELECT count(*) FROM cand) > 0
        |    THEN round((SELECT count(*) FROM hit) * 1.0 /
        |               (SELECT count(*) FROM cand), 6) END AS precision"""
        .stripMargin,
    "q_inverted_index" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS t
        |           FROM documents),
        |posting AS (SELECT t, doc_id, count(*) AS tf FROM w GROUP BY 1, 2),
        |stats AS (SELECT t, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |          FROM posting GROUP BY 1),
        |rk AS (SELECT t, doc_id,
        |       row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rk
        |       FROM posting),
        |smp AS (SELECT t, string_agg(doc_id, ',' ORDER BY doc_id)
        |          AS postings_head
        |        FROM rk WHERE rk <= 20 GROUP BY 1)
        |SELECT t, df, cf, postings_head
        |FROM stats JOIN smp USING (t) ORDER BY t""".stripMargin,
    "q_regr_slope" ->
      """WITH t AS (SELECT lang, n_chars * 1.0 AS y,
        |    len(string_split(text,' ')) * 1.0 AS x FROM documents)
        |SELECT lang, round(regr_slope(y, x), 5) AS slope,
        | round(regr_intercept(y, x), 5) AS intercept,
        | round(regr_r2(y, x), 5) AS r2, count(*) AS n
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unigram_entropy" ->
      """WITH w AS (SELECT lang, unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |c AS (SELECT lang, w, count(*) AS c FROM w GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        | round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 5) AS entropy
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unigram_logprob" ->
      """WITH w AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |uni AS (SELECT lang, w, count(*) AS c FROM w GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c) * 1.0 AS n FROM uni GROUP BY 1),
        |sc AS (SELECT w.doc_id, w.lang, count(*) AS n_toks,
        |         round(avg(ln(uni.c / tot.n)), 5) AS logprob
        |       FROM w JOIN uni ON w.lang = uni.lang AND w.w = uni.w
        |              JOIN tot ON w.lang = tot.lang
        |       GROUP BY 1, 2),
        |nt AS (SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks, logprob,
        |         ntile(3) OVER (PARTITION BY lang
        |                        ORDER BY logprob DESC, doc_id) AS b
        |       FROM sc)
        |SELECT doc_id, lang, n_toks, logprob,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band
        |FROM nt ORDER BY doc_id""".stripMargin,
    // the interpolated bigram model replayed with the IDENTICAL
    // expression shape (0.75·c_ab/ctx + 0.25·c_b/n, every operand an
    // exact BIGINT forced to DOUBLE, left-associative like the
    // engine's column expression); positional self-join = the
    // engine's 2-shingles (the q_bigram_pmi-established equivalence)
    "q_bigram_logprob" ->
      """WITH w AS (SELECT doc_id, lang,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |bw AS (SELECT a.doc_id, a.lang, a.w AS wa, b.w AS wb
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cab AS (SELECT lang, wa, wb, count(*) AS c_ab FROM bw GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, wa, sum(c_ab) AS ctx FROM cab GROUP BY 1, 2),
        |uni AS (SELECT lang, w AS wb, count(*) AS c_b FROM w GROUP BY 1, 2),
        |nt AS (SELECT lang, sum(c_b) * 1.0 AS n FROM uni GROUP BY 1),
        |model AS (SELECT cab.lang, cab.wa, cab.wb,
        |    ln(0.75 * CAST(c_ab AS DOUBLE) / ctx
        |       + 0.25 * CAST(c_b AS DOUBLE) / n) AS lp
        |  FROM cab JOIN ctx ON cab.lang = ctx.lang AND cab.wa = ctx.wa
        |           JOIN uni ON cab.lang = uni.lang AND cab.wb = uni.wb
        |           JOIN nt ON cab.lang = nt.lang)
        |SELECT b.doc_id, b.lang, CAST(count(*) AS BIGINT) AS n_bi,
        |  round(avg(m.lp), 5) AS bi_logprob
        |FROM bw b JOIN model m
        |  ON b.lang = m.lang AND b.wa = m.wa AND b.wb = m.wb
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q_bigram_pmi" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |uni AS (SELECT w AS t, count(*) AS cnt FROM w GROUP BY 1),
        |bi AS (SELECT a.w || ' ' || b.w AS bigram, a.w AS wa, b.w AS wb,
        |       count(*) AS c_ab
        |       FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       GROUP BY 1, 2, 3),
        |nu AS (SELECT sum(cnt) * 1.0 AS n_uni FROM uni),
        |nb AS (SELECT sum(c_ab) * 1.0 AS n_bi FROM bi)
        |SELECT bigram, c_ab, ua.cnt AS c_a, ub.cnt AS c_b,
        |  round(ln(c_ab * 1.0 * n_uni * n_uni / (n_bi * ua.cnt * ub.cnt)), 5)
        |    AS pmi
        |FROM bi JOIN uni ua ON bi.wa = ua.t JOIN uni ub ON bi.wb = ub.t, nu, nb
        |WHERE c_ab >= 30
        |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,
    "q_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS t
        |           FROM documents),
        |dl AS (SELECT doc_id, len(string_split(text,' ')) * 1.0 AS dl
        |       FROM documents),
        |stats AS (SELECT count(*) * 1.0 AS n,
        |          avg(len(string_split(text,' '))) AS avgdl FROM documents),
        |tf AS (SELECT doc_id, t, count(*) * 1.0 AS tf FROM w
        |       WHERE t IN ('spark','join','window') GROUP BY 1, 2),
        |dfs AS (SELECT t, count(*) * 1.0 AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id,
        |  round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
        |    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 5) AS bm25,
        |  count(*) AS n_terms
        |FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
        |GROUP BY 1 ORDER BY bm25 DESC, tf.doc_id LIMIT 20""".stripMargin,
    "q_length_hist" ->
      """SELECT lang, n_chars // 50 AS bucket, count(*) AS n_docs,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dup_by_source" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_uniq,
        | round(1.0 - count(DISTINCT text) * 1.0 / count(*), 6) AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS bpe_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_apply" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
        |drop_ids AS (SELECT DISTINCT b AS doc_id
        |  FROM common JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |  WHERE c*1.0/(sa.n+sb.n-c) >= 0.5)
        |SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same >=0.5 pair set as q_dedup_apply, closed transitively with a
    // recursive CTE: rep = min doc_id reachable in the near-dup graph
    "q_dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
        |pairs AS (SELECT a, b
        |  FROM common JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |  WHERE c*1.0/(sa.n+sb.n-c) >= 0.5),
        |edges AS (SELECT a AS v, b AS u FROM pairs
        |          UNION ALL SELECT b AS v, a AS u FROM pairs),
        |reach(v, r) AS (
        |  SELECT DISTINCT v, v FROM edges
        |  UNION
        |  SELECT e.v, r.r FROM edges e JOIN reach r ON e.u = r.v)
        |SELECT v AS doc_id, min(r) AS cluster_rep FROM reach
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tfidf_top" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfr AS (SELECT doc_id, term, tf,
        |    count(*) OVER (PARTITION BY term) AS df FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (SELECT doc_id, term,
        |    round(tf * ln(CAST(nd AS DOUBLE) / df), 6) AS score FROM dfr, n),
        |ranked AS (SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q_dedup_exact" ->
      """SELECT sha256(text) AS doc_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        | round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS ttr,
        | round(CAST(len(list_filter(w, x -> x IN ('the','a'))) AS DOUBLE) / len(w), 6) AS stop_ratio,
        | round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4) AS avg_word_len
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2)
        |SELECT a, b, round(c*1.0/(sa.n+sb.n-c), 6) AS jac
        |FROM common JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |WHERE c*1.0/(sa.n+sb.n-c) >= 0.05 ORDER BY 1, 2""".stripMargin,
    "q_minhash_lsh" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT % 2147483647 AS h FROM tri),
        |js AS (SELECT unnest(generate_series(0,15)) AS j),
        |minh AS (SELECT doc_id, j, j // 2 AS band,
        |    min((h * (2*j+1)) % 2147483647) AS mh FROM dsh, js GROUP BY 1,2,3),
        |sig AS (SELECT doc_id, band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sg FROM minh GROUP BY 1,2),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM sig x JOIN sig y ON x.band=y.band AND x.sg=y.sg AND x.doc_id<y.doc_id)
        |SELECT a, b FROM cand ORDER BY 1, 2""".stripMargin,
    // the q_dedup_apply pair fragment + exact dedup + quality floor +
    // the q_split_assign hash, composed — the macro's oracle reuses
    // the same CTE pieces its stages are individually checked by
    "q_corpus_pipeline" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
        |drop_near AS (SELECT DISTINCT b AS doc_id
        |  FROM common JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |  WHERE c*1.0/(sa.n+sb.n-c) >= 0.5),
        |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |kept AS (SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |  JOIN exact_keep k ON d.doc_id = k.doc_id
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_near)
        |    AND d.n_chars >= 100 AND len(string_split(d.text,' ')) >= 20)
        |SELECT CASE WHEN ('0x' || substr(md5('split42#' || doc_id),1,15))::BIGINT % 100 < 80
        |            THEN 'train'
        |            WHEN ('0x' || substr(md5('split42#' || doc_id),1,15))::BIGINT % 100 < 90
        |            THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_weighted_sample" ->
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |    least(1.0, n_chars / 400.0) AS wt FROM documents)
        |SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars,
        | round(avg(wt), 6) AS avg_wt
        |FROM t
        |WHERE ('0x' || substr(md5('wsamp#' || doc_id),1,15))::BIGINT % 1000000
        |   < wt * 1000000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vocab_top" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS tri
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2)
        |SELECT tri, count(*) AS df FROM tri GROUP BY 1
        |ORDER BY df DESC, tri LIMIT 100""".stripMargin,
    "q_repetition" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id,
        |    ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w),1,15))::BIGINT AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2)
        |SELECT doc_id, count(*) AS n_sh, count(DISTINCT sh) AS n_uniq,
        | round(1.0 - count(DISTINCT sh) * 1.0 / count(*), 6) AS rep_ratio
        |FROM tri GROUP BY doc_id HAVING count(*) > 0 ORDER BY doc_id""".stripMargin,
    "q_pack_batches" ->
      """WITH t AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5('pack#' || doc_id),1,15))::BIGINT % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |c AS (SELECT doc_id, lang, shard, toks,
        |    sum(toks) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum FROM t)
        |SELECT lang, shard, CAST((cum - toks) // 2048 AS BIGINT) AS batch, count(*) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS toks
        |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_containment" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2)
        |SELECT a, b, sa.n AS na, sb.n AS nb,
        |  CASE WHEN sa.n <= sb.n THEN 'a' ELSE 'b' END AS contained
        |FROM common JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |WHERE c = least(sa.n, sb.n) ORDER BY 1, 2""".stripMargin,
    "q_token_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS toks,
        |    ('0x'||substr(md5('tb#'||doc_id),1,15))::BIGINT % 1000000 AS coin
        |  FROM documents),
        |c AS (SELECT lang, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY coin, doc_id) AS cum FROM t)
        |SELECT lang, count(*) AS n_kept, CAST(sum(toks) AS BIGINT) AS toks_kept,
        | CAST(max(cum) AS BIGINT) AS budget_used
        |FROM c WHERE cum <= 2000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_cut" ->
      """WITH t AS (SELECT doc_id, lang,
        |    round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |          / len(string_split(text,' ')), 6) AS ttr FROM documents),
        |r AS (SELECT lang, ttr,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY ttr, doc_id) AS pr
        |  FROM t)
        |SELECT lang, count(*) AS n_kept, round(min(ttr), 6) AS min_ttr,
        | round(avg(ttr), 6) AS avg_ttr
        |FROM r WHERE pr >= 0.25 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_truncate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks,
        | CAST(least(len(w), 48) AS BIGINT) AS kept_toks,
        | ('0x'||substr(md5(array_to_string(list_slice(w, 1, 48),' ')),1,15))::BIGINT AS h
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_source_cap" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x'||substr(md5('cap#'||doc_id),1,15))::BIGINT % 1000000, doc_id) AS rk
        |  FROM documents)
        |SELECT source, count(*) AS n_kept,
        | CAST(sum(n_chars) AS BIGINT) AS chars_kept,
        | CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rk <= 15 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_source_filter" ->
      """WITH k AS (SELECT source FROM documents GROUP BY source
        |           HAVING avg(n_chars) >= 290.0)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents JOIN k USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |ids AS (SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w)-1)//15)) AS i FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        | CAST(least(20, len(w) - i*15) AS BIGINT) AS n_toks,
        | ('0x'||substr(md5(array_to_string(list_slice(w, i*15+1, i*15+20),' ')),1,15))::BIGINT AS h
        |FROM ids ORDER BY doc_id, chunk_id""".stripMargin,
    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
        |           WHERE len(string_split(text,' ')) >= 10),
        |sp AS (SELECT doc_id, w,
        |    unnest(generate_series(0, len(w)//10 - 1)) AS i FROM t),
        |hs AS (SELECT doc_id,
        |    ('0x'||substr(md5(array_to_string(list_slice(w, i*10+1, i*10+10),' ')),1,15))::BIGINT AS h
        |    FROM sp),
        |freq AS (SELECT h, count(*) AS c FROM hs GROUP BY 1)
        |SELECT doc_id, count(*) AS n_spans,
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        | CAST(sum(CASE WHEN c > 1 THEN 0 ELSE 10 END) AS BIGINT) AS keep_toks
        |FROM hs JOIN freq USING (h) GROUP BY 1 ORDER BY 1""".stripMargin,
    // any-alignment repeated passages: per-position 8-gram hashes,
    // global freq > 1, overlapping windows merged into maximal
    // regions (gap < 8) per doc
    "q_repeated_passages" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
        |           WHERE len(string_split(text,' ')) >= 8),
        |sp AS (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 7)) AS i FROM t),
        |win AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    ('0x'||substr(md5(array_to_string(list_slice(w, i, i+7),' ')),1,15))::BIGINT AS h
        |  FROM sp),
        |freq AS (SELECT h, count(*) AS c FROM win GROUP BY 1),
        |dup AS (SELECT doc_id, pos FROM win JOIN freq USING (h) WHERE c > 1),
        |fl AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 7
        |         THEN 0 ELSE 1 END AS brk FROM dup),
        |g AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM fl),
        |isl AS (SELECT doc_id, grp,
        |    max(pos) - min(pos) + 8 AS len_toks FROM g GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(max(len_toks) AS BIGINT) AS max_len,
        |  CAST(sum(len_toks) AS BIGINT) AS dup_toks
        |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |g AS (SELECT DISTINCT a.doc_id,
        |    ('0x'||substr(md5(a.w||' '||b.w||' '||c.w||' '||e.w),1,15))::BIGINT AS h
        |    FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |             JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2
        |             JOIN w e ON a.doc_id=e.doc_id AND e.pos=a.pos+3),
        |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, count(*) AS n_hits
        |FROM g JOIN bench USING (h)
        |WHERE g.doc_id % 50 != 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mix_sample" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |r AS (SELECT lang, (SELECT min(cnt) FROM c) * 1.0 / cnt AS rate FROM c)
        |SELECT d.lang, count(*) AS n_kept, round(min(rate), 6) AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x'||substr(md5('mix#'||doc_id),1,15))::BIGINT % 1000000
        |   < rate * 1000000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // hashed-unigram DSIR: target = English sub-corpus; per-bucket
    // Laplace-smoothed log ratios scaled to integer micro-units, so
    // the per-doc weighted sum is exact integer math on both engines
    "q_importance_resample" ->
      """WITH t AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS wd FROM documents),
        |w AS (SELECT doc_id, lang,
        |    ('0x'||substr(md5(wd),1,8))::BIGINT % 256 AS bk FROM t),
        |st AS (SELECT bk,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    count(*) AS cs FROM w GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
        |    CAST(sum(cs) AS BIGINT) AS ns FROM st),
        |r AS (SELECT bk, CAST(round((ln((ct + 1.0) / (nt + 256))
        |    - ln((cs + 1.0) / (ns + 256))) * 1e6) AS BIGINT) AS lr_e6
        |  FROM st, tot),
        |pd AS (SELECT doc_id, bk, count(*) AS n FROM w GROUP BY 1, 2)
        |SELECT pd.doc_id, CAST(sum(pd.n) AS BIGINT) AS n_words,
        |  CAST(sum(pd.n * r.lr_e6) AS BIGINT) AS logw_e6
        |FROM pd JOIN r ON pd.bk = r.bk
        |GROUP BY 1 ORDER BY logw_e6 DESC, doc_id LIMIT 20""".stripMargin,
    // the q_ngram_jaccard pair fragment at the 0.5 dedup threshold +
    // the q_split_assign hash per endpoint, canonical (lo, hi) cell
    "q_split_leakage" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT AS sh FROM tri),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM dsh x JOIN dsh y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
        |pairs AS (SELECT a, b FROM common
        |  JOIN sizes sa ON a=sa.doc_id JOIN sizes sb ON b=sb.doc_id
        |  WHERE c*1.0/(sa.n+sb.n-c) >= 0.5),
        |sp AS (SELECT a, b,
        |  CASE WHEN ('0x' || substr(md5('split42#' || a),1,15))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5('split42#' || a),1,15))::BIGINT % 100 < 90
        |       THEN 'val' ELSE 'test' END AS sa,
        |  CASE WHEN ('0x' || substr(md5('split42#' || b),1,15))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5('split42#' || b),1,15))::BIGINT % 100 < 90
        |       THEN 'val' ELSE 'test' END AS sb
        |  FROM pairs)
        |SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
        |  count(*) AS n_pairs, CAST(sum(a + b) AS BIGINT) AS id_sum,
        |  CAST(CASE WHEN least(sa, sb) != greatest(sa, sb) THEN 1 ELSE 0 END
        |    AS INT) AS leaked
        |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_split_assign" ->
      """WITH t AS (SELECT lang, n_chars,
        |  CASE WHEN ('0x' || substr(md5('split42#' || doc_id),1,15))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5('split42#' || doc_id),1,15))::BIGINT % 100 < 90
        |       THEN 'val' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_negative_sample" ->
      """WITH n AS (SELECT count(*) AS cnt FROM documents),
        |j AS (SELECT unnest(generate_series(0, 2)) AS j)
        |SELECT doc_id, CAST(j AS BIGINT) AS j,
        | ('0x' || substr(md5('neg#' || doc_id || '#' || j),1,15))::BIGINT % cnt AS neg_id
        |FROM documents, j, n
        |WHERE ('0x' || substr(md5('neg#' || doc_id || '#' || j),1,15))::BIGINT % cnt
        |  != doc_id
        |ORDER BY 1, 2""".stripMargin,
    // same signature pipeline as q_minhash_lsh, finished with the
    // per-component match fraction instead of just the pair list
    "q_minhash_est" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT % 2147483647 AS h FROM tri),
        |js AS (SELECT unnest(generate_series(0,15)) AS j),
        |minh AS (SELECT doc_id, j, j // 2 AS band,
        |    min((h * (2*j+1)) % 2147483647) AS mh FROM dsh, js GROUP BY 1,2,3),
        |sig AS (SELECT doc_id, band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sg FROM minh GROUP BY 1,2),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM sig x JOIN sig y ON x.band=y.band AND x.sg=y.sg AND x.doc_id<y.doc_id)
        |SELECT c.a, c.b,
        | CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        | round(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0, 4) AS jaccard_est
        |FROM cand c JOIN minh ma ON ma.doc_id = c.a
        | JOIN minh mb ON mb.doc_id = c.b AND mb.j = ma.j
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_simhash_dedup" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(w),1,15))::BIGINT AS hv FROM w),
        |js AS (SELECT unnest(generate_series(0,47)) AS j),
        |bits AS (SELECT doc_id, j,
        |    sum(CASE WHEN ((hv >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s FROM h, js GROUP BY 1,2),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        |    FROM bits GROUP BY 1)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hd
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY 1, 2""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        | ('0x' || substr(md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))),1,15))::BIGINT AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // winnowing replay: positional 3-gram hashes, window starts t,
    // rank by (h ASC, pos DESC) within each (doc, t) — rk=1 is the
    // rightmost-tie minimum; truncated single window when m < 4
    "q_winnow" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.pos,
        |    ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w),1,15))::BIGINT AS h
        |    FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |             JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |m AS (SELECT doc_id, count(*) AS m FROM tri GROUP BY 1),
        |win AS (SELECT t.doc_id, t.pos AS t FROM tri t JOIN m USING (doc_id)
        |        WHERE t.pos <= greatest(m.m - 3, 1)),
        |cand AS (SELECT win.doc_id, win.t, g.pos, g.h,
        |    row_number() OVER (PARTITION BY win.doc_id, win.t
        |                       ORDER BY g.h ASC, g.pos DESC) AS rk
        |    FROM win JOIN tri g ON g.doc_id = win.doc_id
        |                       AND g.pos BETWEEN win.t AND win.t + 3),
        |sel AS (SELECT DISTINCT doc_id, pos, h FROM cand WHERE rk = 1),
        |agg AS (SELECT doc_id, count(*) AS n_fps, bit_xor(h) AS fp_xor
        |        FROM sel GROUP BY 1)
        |SELECT m.doc_id, CAST(m.m AS BIGINT) AS n_grams,
        |  CAST(greatest(m.m - 3, 1) AS BIGINT) AS n_windows,
        |  CAST(agg.n_fps AS BIGINT) AS n_fps,
        |  round(agg.n_fps * 1.0 / greatest(m.m - 3, 1), 6) AS density,
        |  CAST(agg.fp_xor AS BIGINT) AS fp_xor
        |FROM m JOIN agg USING (doc_id) ORDER BY m.doc_id""".stripMargin,
    // same selection replay, then the fingerprint-bucket pair join.
    // The engine's 100000 hot-fingerprint cap IS replicated below
    // (hot/bsel CTEs): if a bucket ever exceeds the cap at a gated SF,
    // engine and oracle drop the same pairs instead of the gate
    // failing with no pointer to the cause. Doc sizes stay UNCAPPED,
    // exactly like the engine's `sizes` over the raw fps relation.
    "q_winnow_pairs" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.pos,
        |    ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w),1,15))::BIGINT AS h
        |    FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |             JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |m AS (SELECT doc_id, count(*) AS m FROM tri GROUP BY 1),
        |win AS (SELECT t.doc_id, t.pos AS t FROM tri t JOIN m USING (doc_id)
        |        WHERE t.pos <= greatest(m.m - 3, 1)),
        |cand AS (SELECT win.doc_id, win.t, g.pos, g.h,
        |    row_number() OVER (PARTITION BY win.doc_id, win.t
        |                       ORDER BY g.h ASC, g.pos DESC) AS rk
        |    FROM win JOIN tri g ON g.doc_id = win.doc_id
        |                       AND g.pos BETWEEN win.t AND win.t + 3),
        |sel AS (SELECT DISTINCT doc_id, h FROM cand WHERE rk = 1),
        |sizes AS (SELECT doc_id, count(*) AS nfp FROM sel GROUP BY 1),
        |hot AS (SELECT h FROM sel GROUP BY 1 HAVING count(*) > 100000),
        |bsel AS (SELECT * FROM sel WHERE h NOT IN (SELECT h FROM hot)),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
        |          FROM bsel x JOIN bsel y ON x.h = y.h AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared,
        |  round(n_shared * 1.0 / (sa.nfp + sb.nfp - n_shared), 6) AS sim
        |FROM pairs JOIN sizes sa ON a = sa.doc_id
        |           JOIN sizes sb ON b = sb.doc_id
        |ORDER BY a, b""".stripMargin,
    "q_langid" ->
      """WITH t AS (SELECT lang,
        |    list_distinct(string_split(lower(text), ' ')) AS w FROM documents),
        |s AS (SELECT lang,
        |    len(list_intersect(w, ['the','a','of','and','is'])) AS s_en,
        |    len(list_intersect(w, ['el','la','de','y','es'])) AS s_es,
        |    len(list_intersect(w, ['der','die','und','das','ist'])) AS s_de,
        |    len(list_intersect(w, ['le','la','et','les','est'])) AS s_fr,
        |    len(list_intersect(w, ['的','是','了','在','和'])) AS s_zh
        |  FROM t),
        |p AS (SELECT lang, CASE
        |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS lang_pred FROM s)
        |SELECT lang, lang_pred, count(*) AS n FROM p
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_blocklist_scrub" ->
      """WITH t AS (SELECT source, text,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('customer', 'key'))) AS n_masked,
        |    array_to_string(list_transform(string_split(text, ' '),
        |        x -> CASE WHEN x IN ('customer', 'key')
        |             THEN '[MASK]' ELSE x END), ' ') AS scrubbed
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_masked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
        |  CAST(sum(n_masked) AS BIGINT) AS n_tokens_masked,
        |  CAST(sum(length(scrubbed) - length(text)) AS BIGINT) AS char_delta
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
