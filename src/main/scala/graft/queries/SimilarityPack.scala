package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Memo, QueryScope, Tables}
import graft.operators.{Ann, EraRank, Pq}

/** Similarity search over the `embeddings` table (north-star ANN
  * surface): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane (sign-LSH) bucketing as the scale path.
  *
  * Scale design: brute-force broadcasts the (small) query set against
  * the corpus scan — one pass, no shuffle on the corpus, ranking via
  * per-query top-k windows. The LSH variant reduces candidate sets to
  * same-bucket vectors: at 100 TB the corpus is bucketed once
  * (write-time partitioning by bucket id) and queries probe buckets.
  */
object SimilarityPack extends QueryPack {

  // native codegen kernel (one fused loop, no per-row allocation);
  // bit-identical to the aggregate(zip_with(...)) composition it
  // replaced — DotProductSpec pins the equality
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Scale-relative sign-LSH width (the published SemDeDup contract
    * that cluster count GROWS with the corpus so cells stay small and
    * the within-cell pair scan stays Σ|cell|²-bounded — mirroring
    * [[TextPack.maxShingleDfFor]]'s shape): the smallest b in [8, 20]
    * with 10·2^b >= n, i.e. expected bucket occupancy stays ~10 as
    * the corpus grows. Integer-exact (no float log2). At every
    * fixture SF (n <= 2000 embeddings) this resolves to 8 — a
    * provable no-op that keeps the static DuckDB oracles (which
    * unroll 8 planes) valid; at the scale probe's 10x/100x blow-ups
    * it widens to 11/15 bits, holding candidate pairs ~linear. */
  def lshBitsFor(n: Long): Int = {
    var b = 8
    while (b < 20 && (10L << b) < n) b += 1
    b
  }

  /** Embedding count of a data dir: sizes the LSH width, the cell cap
    * and the IVF k. */
  private def embCount(s: SparkSession, d: String): Long =
    Memo(s, "emb_count", s"$d/embeddings.parquet")(Tables.embeddings(s, d).count())

  private def bitsFor(s: SparkSession, d: String): Int = lshBitsFor(embCount(s, d))

  /** Deterministic scrambled-hash hyperplane weight, plane index q:
    * w_q(pos) = (((pos*1000003 + q) * 2654435761) mod 2^32) mod 7 - 3.
    *
    * The previous family ((pos*31 + j*17) mod 7 - 3) was LINEAR mod 7
    * in (pos, j), so it contained only 7x7 = 49 distinct sign
    * functions — bucket count capped near 2^7 regardless of requested
    * bit width, which the r12 30x scale probe exposed as quadratic
    * candidate growth (q_embed_neardup: 79x wall for 30x data; extra
    * lshBitsFor bits split NOTHING). The multiply-then-truncate
    * scramble is non-linear mod 7, giving an effectively unbounded
    * family: measured 208/624/960/1264 distinct buckets at 8/11/13/15
    * bits on the 2000-vector fixture. The mod-2^32 multiply is
    * decomposed into 16-bit halves — a*m mod 2^32 =
    * (aLo*m + ((aHi*m mod 2^16) << 16)) mod 2^32, every intermediate
    * <= 2^49 — because Catalyst arithmetic runs under ANSI mode
    * (Spark 4 default) where a wrapped Long multiply THROWS rather
    * than wraps: the single masked multiply overflowed for pos >=
    * ~3.5e3 (and the pre-r13 naive form silently diverged there in
    * non-ANSI sessions). Bit-identical to the JVM kernel twin
    * [[graft.functions.SignLshSig.planeWeight]] for any pos
    * (PlaneFamilySpec pins column-vs-kernel equality to pos 5000);
    * the DuckDB oracles replay the naive BIGINT form, exact over the
    * fixture's 64-dim domain and a loud overflow ERROR beyond it. */
  private[graft] def planeW(p: Column, q: Column): Column = {
    val a = (p * lit(1000003L) + q).bitwiseAND(lit(4294967295L))
    val aLo = a.bitwiseAND(lit(65535L))
    val aHi = shiftright(a, 16)
    val m = lit(2654435761L)
    pmod((aLo * m + shiftleft((aHi * m).bitwiseAND(lit(65535L)), 16))
      .bitwiseAND(lit(4294967295L)), lit(7)) - lit(3)
  }

  /** Scan-local sign-LSH signature of a double-array column — bit j
    * of band b is the sign of <v, w_(b*64+j)> over the [[planeW]]
    * family. Delegates to the fused native kernel
    * [[graft.functions.SignLshSig]] (one loop over the vector for ALL
    * band/bit dot products — SignLshSigSpec pins bit-equality to the
    * aggregate(zip_with) lambda composition it replaced, whose
    * analyzer cost alone dominated the banded near-dup at fixture
    * scale). Returns array<long> of length `bands`. */
  private def signBuckets(v: Column, bits: Int, bands: Int): Column =
    graft.functions.SignLshSig.sign_lsh_sig(v, bits, bands)

  /** Embeddings re-spread before the posexplode kernels (64x row
    * explosion + per-component arithmetic) — see
    * [[graft.Tables.spread]] for the rationale and safety rules. */
  private def embSpread(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.embeddings(s, d))

  /** Brute-force cosine top-5 for query vectors vec_id < 10. Ranking
    * happens on the ROUNDED cosine with a vec_id tie-break so the
    * selection is engine-stable. */
  def qAnnCosine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    Ann.rerank(e.crossJoin(broadcast(q)), 5).orderBy(col("q_id"), col("rank"))
  }

  /** FILTERED vector search — top-5 cosine restricted to candidates
    * matching a metadata predicate (here: same `label` as the query),
    * the filtered-ANN surface every production vector store exposes
    * (RAG retrieval scoped to a tenant/language/source slice). The
    * predicate is applied BEFORE scoring, not as a post-filter on an
    * unfiltered top-k — a post-filter can return fewer than k rows or
    * miss matches entirely when the slice is selective, which is the
    * classic filtered-ANN correctness trap. Spark-first shape: the
    * tiny query set broadcasts and the predicate becomes the join
    * condition, so the corpus scan is pruned to matching rows (at
    * 100 TB with label-partitioned storage this is partition pruning,
    * not a scan-then-filter). */
  def qAnnFiltered(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label"),
        col("v").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("label"), col("vec_id").as("n_id"),
        col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** HARD-NEGATIVE MINING — the contrastive-training data-prep step
    * (DPR, Karpukhin et al. 2020; SimCSE): for each anchor, the
    * most-similar SAME-label vector is the positive and the
    * most-similar DIFFERENT-label vector is the hardest negative;
    * the margin `cos_pos − cos_neg` is the pair's difficulty (small
    * or negative margin = the example a contrastive loss learns
    * from). One broadcast of the anchors against the corpus scan,
    * ONE rank window partitioned by (anchor, same-label bit) — both
    * extremes come out of a single pass — then a 2-row pivot per
    * anchor. The margin is a single IEEE subtraction of the two
    * 6-rounded cosines, identical on both engines by construction. */
  def qHardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      .withColumn("same", (col("label") === col("qlabel")).cast("int"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"), col("same"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") === 1)
      .groupBy(col("q_id"), col("qlabel").as("label"))
      .agg(
        max(when(col("same") === 1, col("vec_id"))).as("pos_id"),
        max(when(col("same") === 1, col("cos"))).as("cos_pos"),
        max(when(col("same") === 0, col("vec_id"))).as("neg_id"),
        max(when(col("same") === 0, col("label"))).as("neg_label"),
        max(when(col("same") === 0, col("cos"))).as("cos_neg"))
      // a contrastive pair needs BOTH sides: an anchor whose label is
      // a singleton (no same-label neighbor) or whose corpus is
      // mono-label (no cross-label neighbor) cannot form one and is
      // dropped, never emitted with nulls
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
      .withColumn("margin", col("cos_pos") - col("cos_neg"))
      .orderBy(col("q_id"))
  }

  /** EMBEDDING OUTLIERS — centroid-distance label cleaning (the
    * Northcutt-style "confident learning" signal at the embedding
    * level): each label's 3 vectors LEAST similar to their own label
    * centroid are the mislabel / noise candidates a curation pass
    * reviews or drops. The centroid is a per-(label, dim) mean over
    * the position-exploded relation (map-side combinable — never a
    * whole-vector reduce into one task), the score join is corpus ×
    * broadcastable centroid table, and the bottom-3 is one rank
    * window per label. */
  def qEmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val ex = embSpread(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), col("label"), col("p"),
        col("x").cast("double").as("x"))
    val cent = ex.groupBy(col("label"), col("p")).agg(avg(col("x")).as("cx"))
    val cn = cent.groupBy(col("label"))
      .agg(sqrt(sum(col("cx") * col("cx"))).as("cn"))
    val scored = ex.join(broadcast(cent), Seq("label", "p"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("x") * col("cx")).as("dp"),
        sqrt(sum(col("x") * col("x"))).as("nv"))
      .join(broadcast(cn), Seq("label"))
      .withColumn("cos", round(col("dp") / (col("nv") * col("cn")), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("cos"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("label"), col("vec_id"), col("cos"), col("rank"))
      .orderBy(col("label"), col("rank"))
  }

  /** MMR-DIVERSIFIED retrieval (Carbonell & Goldstein 1998) — the
    * re-rank every RAG stack runs between ANN and the context window:
    * from each query's top-20 cosine candidates, greedily select 5 by
    * `mmr = λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` (λ = 0.7), so the
    * second-best near-duplicate of an already-selected passage loses
    * to a novel one. Spark shape: candidate generation is the same
    * broadcast scan + WindowGroupLimit as [[qAnnCosine]]; the greedy
    * selection runs DISTRIBUTED in `flatMapGroups` over ≤ 20-row
    * per-query groups (bounded work per group, never a driver loop —
    * at 100 TB the groups shard across the cluster like any other
    * key). Scoring runs on an EXACT INTEGER GRID: with `cos` and the
    * pairwise sims 6-rounded, `mmr_u = 7·cos_u − 3·sim_u` in 1e-7
    * units is pure Long arithmetic — no decimal rounding of a product
    * can ever land on a half grid (the r15 defect: `0.7·cos` with
    * cos 6-rounded sits exactly on the 1e-7 half grid whenever cos's
    * last digit is odd, and Scala's `Double.toString` HALF_UP rounds
    * up where DuckDB's binary `round()` rounds down). The emitted
    * `mmr = mmr_u / 1e7` is one IEEE division of exact integers on
    * both sides — bit-identical by construction. The DuckDB oracle
    * unrolls the 5 greedy steps as CTEs (the PageRank-unroll
    * precedent) and replays the integer selection exactly. */
  def qAnnMmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 20)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos"),
        col("v"), col("nrm"))
    // r6 then rint to micro-units: cos is on the 1e-6 decimal grid,
    // so cos*1e6 sits within ulps of an integer — rint is exact and
    // mode-independent (never near .5)
    def r6u(x: Double): Long = {
      val r = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.rint(r * 1e6).toLong
    }
    cand.as[(Long, Long, Double, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(r => (-r._3, r._2))
        val cu = cs.map(r => math.rint(r._3 * 1e6).toLong)
        def simU(a: Int, b: Int): Long = {
          val (va, vb) = (cs(a)._4, cs(b)._4)
          var dp = 0.0
          var i = 0
          while (i < va.length) { dp += va(i) * vb(i); i += 1 }
          r6u(dp / (cs(a)._5 * cs(b)._5))
        }
        // mmr_u = 7*cos_u - 3*maxSim_u in exact 1e-7 integer units
        // (0.7*cos = 7*cos_u*1e-7, 0.3*sim = 3*sim_u*1e-7)
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        while (picked.length < math.min(5, cs.length)) {
          val chosen = cs.indices.filterNot(i => picked.exists(_._1 == i))
            .map { i =>
              val maxSimU = if (picked.isEmpty) 0L
                else picked.map(p => simU(i, p._1)).max
              (i, 7L * cu(i) - 3L * maxSimU)
            }
            .minBy { case (i, score) => (-score, cs(i)._2) }
          picked += chosen
        }
        picked.zipWithIndex.map { case ((i, scoreU), rank) =>
          (qid, cs(i)._2, (rank + 1).toLong, cs(i)._3, scoreU / 1e7)
        }
      }
      .toDF("q_id", "n_id", "mmr_rank", "cos", "mmr")
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** HYBRID retrieVAL FUSION — reciprocal-rank fusion (Cormack et
    * al., the k=60 RRF every hybrid search stack ships) of a LEXICAL
    * ranking (BM25 for the fixed query {spark, join, window} —
    * [[graft.queries.TextPack.bm25Scores]]) and a SEMANTIC ranking
    * (cosine to a Rocchio-style pseudo-relevance-feedback vector: the
    * mean embedding of the top-3 lexical docs — how a hybrid stack
    * derives a query vector when the query itself has no embedding).
    * `rrf(d) = Σ_lists 1/(60 + rank_list(d))` over each ranker's
    * top-50, fused by a full-outer join, top-20 out. Scale shape:
    * both rankings are bounded TakeOrdered heads (the global windows
    * sit AFTER limit(50), never over the corpus); the PRF vector is a
    * 64-row broadcast; the fusion join touches ≤ 100 rows. Ranks
    * compare on ROUNDED scores with id tie-breaks — engine-stable,
    * and the oracle replays the whole fusion exactly. */
  def qRrfHybrid(s: SparkSession, d: String): DataFrame = {
    // the BM25 pipeline feeds THREE consumers (the PRF anchor set, the
    // final fusion join, and transitively the PRF vector used twice) —
    // persist the 50-row head so the whole lexical scoring pipeline
    // runs once per execution, not once per consumer (guide §1.2:
    // don't compute things twice)
    // coalesce(1) before persist: a KB-sized cached relation otherwise
    // inherits the session's shuffle-partition layout, costing one
    // cached-read task PER PARTITION per consumer (32 at local[32] —
    // the r17 verdict measured the persisted queries anti-scaling on
    // exactly this). Bounded by the limit(50), so 1 partition is safe
    // at any corpus size.
    val lexTop = graft.queries.TextPack.bm25Scores(s, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .coalesce(1)
      .transform(QueryScope.persist)
    val ex = embSpread(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), col("p"), col("x").cast("double").as("x"))
    // 64-row PRF vector read by the norm aggregate AND the semantic
    // scorer: persist so the lexTop→embeddings join runs once
    // dimension-bounded (64 rows): same coalesce(1)-before-persist rule
    // as lexTop — the narrow coalesce merges the final agg's output
    // partitions without touching per-key values
    val prf = lexTop.filter(col("r_lex") <= 3).select(col("doc_id").as("vec_id"))
      .join(ex, "vec_id")
      .groupBy(col("p")).agg(avg(col("x")).as("qx"))
      .coalesce(1)
      .transform(QueryScope.persist)
    val qn = prf.agg(sqrt(sum(col("qx") * col("qx"))).as("qn"))
    val semTop = ex.join(broadcast(prf), "p")
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("qx")).as("dp"),
        sqrt(sum(col("x") * col("x"))).as("nv"))
      .crossJoin(broadcast(qn))
      .withColumn("cos", round(col("dp") / (col("nv") * col("qn")), 6))
      .orderBy(col("cos").desc, col("vec_id")).limit(50)
      .withColumn("r_sem", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_sem"))
    lexTop.select(col("doc_id"), col("r_lex"))
      .join(semTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("r_sem")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_sem"), lit(0L)).as("r_sem"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Sign-LSH bucketing: [[lshBitsFor]] (8 at fixture scale,
    * corpus-relative above) scrambled-hash pseudo-hyperplanes
    * ([[planeW]], plane index = bit index); bucket = sign-bit vector.
    * Emits bucket occupancy (the partition histogram a planner would
    * use to size probes). */
  def qAnnLshBuckets(s: SparkSession, d: String): DataFrame = {
    val e = embSpread(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("pos"),
        col("x").cast("double").as("x"))
    val js = s.range(0, bitsFor(s, d)).select(col("id").as("j"))
    val dots = e.crossJoin(broadcast(js))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("x") * planeW(col("pos"), col("j"))).as("dj"))
    val buckets = dots.groupBy(col("vec_id"))
      .agg(sum(when(col("dj") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")).otherwise(0L)).as("bucket"))
    buckets.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Embedding-cosine near-dup (north-star dedup family): BANDED
    * sign-LSH candidate generation + exact cosine verification at
    * threshold 0.4 on the rounded score. 4 independent bands of
    * [[lshBitsFor]] [[planeW]] planes each (band b's plane indices
    * are b*64 + j — stable as the scale-relative width grows); a pair
    * is a candidate iff it agrees on ANY band's full signature. The
    * standard LSH S-curve shape: per-band width grows with the corpus
    * (bounded bucket occupancy keeps candidate pairs ~linear) while
    * the 4-band OR keeps recall from collapsing as the width grows —
    * the r12 30x probe motivated both halves (the old single-band
    * mod-7-linear family capped at 49 distinct planes and went 79x
    * wall for 30x data). The band self-join carries only
    * (band, bucket, vec_id); vectors join back by id for the verify
    * stage after pair dedup. The fixture has no planted embedding
    * near-dups (max pairwise cosine ~0.51), so the threshold sits
    * below that to exercise the verify stage. */
  /** Hot-cell cap for the banded candidate join (the embedding twin
    * of [[TextPack.DefaultMaxBucket]], the text-bucket cap of
    * [[graft.operators.Dedup.candidates]]): a (band, bucket) cell of n
    * members yields n^2/2 candidates, and sign-LSH cells are heavily
    * skewed on clustered corpora (measured at 30x: top cell ~1000 vs
    * average 7 — 182 capped cells cut candidates 19.5M → 4.0M, back
    * to the 1x per-vector rate). Cells above the cap are degenerate
    * dense regions; their pairs can still surface through the other
    * 3 bands. max(200, 20*avg-occupancy) is a provable no-op at every
    * fixture SF (max cell there is 93), keeping the static oracles
    * valid. */
  def maxCellFor(n: Long, bits: Int): Long =
    math.max(200L, 20L * ((n + (1L << bits) - 1) >> bits))

  def qEmbedNeardup(s: SparkSession, d: String): DataFrame = {
    val bits = bitsFor(s, d)
    val bk = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("graft_bkts", signBuckets(col("v"), bits, 4))
      .select(col("vec_id"),
        posexplode(col("graft_bkts")).as(Seq("graft_band", "graft_bkt")))
    val cap = maxCellFor(embCount(s, d), bits)
    val cells = bk.groupBy(col("graft_band"), col("graft_bkt"))
      .agg(count(lit(1)).as("graft_cn"))
      .filter(col("graft_cn") <= cap)
      .select(col("graft_band"), col("graft_bkt"))
    // NO broadcast hint: surviving-cell count grows ~linearly with
    // the corpus (#cells ~ n/occupancy at scale-relative width), so a
    // forced driver broadcast is exactly the kind of 100 TB break the
    // probe hunts — AQE broadcasts while the relation is small and
    // falls back to a shuffle join on (band, bucket) when it is not
    val bkF = bk.join(cells, Seq("graft_band", "graft_bkt"))
    val cand = bkF.select(col("graft_band"), col("graft_bkt"), col("vec_id").as("a"))
      .join(bkF.select(col("graft_band"), col("graft_bkt"), col("vec_id").as("b")),
        Seq("graft_band", "graft_bkt"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val va = v.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val vb = v.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(va, "a").join(vb, "b")
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("a"), col("b"), col("cos"))
      .orderBy(col("a"), col("b"))
  }

  /** Top-5 IVF search for the query vectors vec_id < 10 over (vec_id,
    * v) vectors and a (cid, cv) centroid relation, on the [[Ann]]
    * stages: assign every vector to its nearest centroid, probe the 4
    * nearest lists per query, exact cosine rerank within them. Scale
    * shape: the probe relation (10 queries × 4 lists, carrying the
    * query vectors) broadcasts; candidates join on the cluster key
    * only. */
  private[graft] def ivfTop5(e: DataFrame, cents: DataFrame): DataFrame = {
    val posting = Ann.assign(e, cents)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val probes = Ann.probe(q, cents, nprobe = 4).drop("cv")
    Ann.rerank(posting.join(broadcast(probes), "cluster"), 5)
  }

  /** The seeded coarse quantizer: the 16 smallest-id vectors as the
    * (cid, cv) centroid relation. */
  private def seededCentroids(e: DataFrame): DataFrame =
    e.orderBy(col("vec_id")).limit(16).select(col("vec_id").as("cid"), col("v").as("cv"))

  /** recall@5 per query of an ANN top-5 (q_id, n_id) against the exact
    * top-5 (q_id, n_id), which broadcasts (50 rows). Left join, not
    * semi: a query with zero hits must report recall 0.0, not silently
    * vanish from the result. One row per query, so the final sort runs
    * in one partition instead of a range shuffle and its sampling job. */
  private def recallAt5(top: DataFrame, exact: DataFrame): DataFrame =
    top.select(col("q_id"), col("n_id"))
      .join(broadcast(exact.select(col("q_id").as("qe"), col("n_id").as("ne"))),
        col("q_id") === col("qe") && col("n_id") === col("ne"), "left")
      .groupBy(col("q_id"))
      .agg(sum(when(col("ne").isNotNull, 1).otherwise(0)).as("hits"))
      .select(col("q_id"), round(col("hits") / 5.0, 2).as("recall_at_5"))
      .coalesce(1).orderBy(col("q_id"))

  /** IVF ANN with recall measurement: a Lloyd-fitted 16-centroid
    * coarse quantizer ([[Ann.fitCentroids]]) searched by exactly the
    * stages of the oracle-checked [[qAnnIvfSeeded]] (probe 4 lists per
    * query, exact cosine within them); reports recall@5 against the
    * brute-force answer per query. Rows-only: the driver-side k-means
    * training is the one unchecked step (its centroids are
    * engine-specific). */
  def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val top = ivfTop5(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      Ann.fitCentroids(emb, k = 16, seed = 42))
    recallAt5(top, qAnnCosine(s, d))
  }

  /** IVF ANN, ORACLE-CHECKED end to end: the [[qAnnIvf]] pipeline with
    * SEEDED centroids (the 16 smallest-id vectors) instead of a
    * k-means fit, so every stage is a deterministic relational
    * expression DuckDB replays verbatim: assignment ranks by the
    * index-ordered distance (the oracle's `list_distance`; the squared
    * form picks the same argmin), ties break toward the lower centroid
    * id, and the rerank is the proven [[qAnnCosine]] cosine. The
    * fitted [[qAnnIvf]] runs the same stages for better recall; this
    * twin pins the MACHINERY. */
  def qAnnIvfSeeded(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    ivfTop5(e, seededCentroids(e)).orderBy(col("q_id"), col("rank"))
  }

  /** Top-5 flat-PQ ADC search for the query vectors vec_id < 10 over
    * (vec_id, v) vectors and an (m, j, cw) codebook relation: encode
    * the corpus, ADC against the code relation only (PQ's point: the
    * scan reads 8 codes per vector, not 64 floats), rank on the
    * rounded distance. */
  private def pqTop5(e: DataFrame, cb: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    Ann.rankAdc(Ann.adc(Ann.encode(e, cb), q, cb), 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("adc_d2"), col("rank"))
  }

  /** PQ ANN, ORACLE-CHECKED end to end (the [[qAnnIvfSeeded]] pattern
    * for product quantization): 8 subspaces × 16 codewords taken from
    * the 16 smallest-id vectors' subvectors instead of a k-means fit,
    * so encode and ADC search are deterministic relational expressions
    * DuckDB replays verbatim ([[Ann.encode]], [[Ann.adc]],
    * [[Ann.rankAdc]]). The fitted [[qAnnPq]] runs the same stages with
    * lower-distortion codebooks; this twin pins the MACHINERY. */
  def qAnnPqSeeded(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cb = Ann.codebook(e.orderBy(col("vec_id")).limit(16)
      .withColumn("j",
        row_number().over(Window.orderBy(col("vec_id"))).cast("int") - 1))
    pqTop5(e, cb).orderBy(col("q_id"), col("rank"))
  }

  /** IVF-PQ ANN, ORACLE-CHECKED end to end — the composition every
    * production ANN system runs (FAISS IndexIVFPQ; Jégou et al. 2011):
    * coarse lists prune the corpus to nprobe/k AND product-quantized
    * RESIDUAL codes stand in for the float payload inside them.
    * Centroids are the 16 smallest-id vectors, codebooks the NEXT 16
    * vectors' residuals w.r.t. their own coarse assignment (the seed
    * vectors' residuals are identically zero — degenerate codebooks —
    * so the second sixteen are the deterministic training set), both
    * fully relational so DuckDB replays every stage verbatim. It is
    * flat PQ with the cluster key added: codes encode the residual
    * subvectors per (vector, cluster), and the LUT of each (query,
    * probed cluster) comes from the query's residual AGAINST THAT
    * CLUSTER'S centroid (the per-list LUT is what distinguishes
    * IVF-PQ's ADC from flat PQ). The shared helper returns the
    * UNRANKED (q_id, vec_id, adc_d2) candidate relation, consumed by
    * [[qAnnIvfPqSeeded]] (top-5) and [[qAnnRefine]] (top-20 → exact
    * re-rank) — silver-tabled (r17) so the two consumers pay the
    * codebook/encode/LUT pipeline once per (dir, content), not once
    * each: the relation is |queries|·(corpus/nprobe-share) ≈ 5k rows
    * at sf0.1. */
  private def ivfPqSeededAdc(s: SparkSession, d: String,
                             tagSuffix: String = ""): DataFrame =
    s.read.parquet(Memo.table(s, "adc" + tagSuffix, s"$d/embeddings.parquet") { out =>
      ivfPqSeededAdcBuild(s, d).write.mode("overwrite").parquet(out)
    })

  /** Bench hook: materialize the shared ADC candidate table so its
    * cost is a visible line item (`_shared_adc`), not silently folded
    * into whichever of [[qAnnIvfPqSeeded]] / [[qAnnRefine]] runs
    * first — the same protocol as `_shared_pairs` / `_shared_knn`
    * (an r17-review catch: the table shipped without its timed
    * entry, so the codebook/encode/LUT pipeline cost appeared
    * nowhere in BENCH_DETAIL). */
  def prepareSharedAdc(s: SparkSession, d: String, tagSuffix: String = ""): Unit = {
    ivfPqSeededAdc(s, d, tagSuffix); ()
  }

  private[graft] def ivfPqSeededAdcBuild(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = seededCentroids(e)
    val resid = Ann.assign(e, cents)
      .join(broadcast(cents), col("cluster") === col("cid"))
      .select(col("vec_id"), col("cluster"), zip_with(col("v"), col("cv"), _ - _).as("v"))
    val words = e.orderBy(col("vec_id")).limit(32)
      .withColumn("rn", row_number().over(Window.orderBy(col("vec_id"))))
      .filter(col("rn") > 16)
      .select(col("vec_id").as("bid"), (col("rn") - 17).cast("int").as("j"))
    val cb = Ann.codebook(resid.join(broadcast(words), col("vec_id") === col("bid"))
      .select(col("j"), col("v")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val probes = Ann.probe(q, cents, nprobe = 4)
      .select(col("q_id"), col("cluster"), zip_with(col("qv"), col("cv"), _ - _).as("qv"))
    Ann.adc(Ann.encode(resid, cb, Seq("cluster")), probes, cb, Seq("cluster"))
  }

  def qAnnIvfPqSeeded(s: SparkSession, d: String): DataFrame =
    Ann.rankAdc(ivfPqSeededAdc(s, d), 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("adc_d2"), col("rank"))
      .orderBy(col("q_id"), col("rank"))

  /** TWO-STAGE ANN with EXACT REFINE (FAISS IndexRefineFlat; the
    * production recall fix for quantized search): the IVF-PQ ADC
    * scan nominates each query's top-20 candidates from CODES alone
    * (8 bytes/vector touched — the cheap stage that scans the
    * corpus), then the 20 full float vectors per query are fetched
    * and re-ranked by EXACT cosine (the expensive stage, bounded at
    * R×|queries| regardless of corpus size). Emits the ADC rank next
    * to the refined rank, so the relation itself shows the
    * quantization error the refine step repairs. Scale shape: stage
    * 1 is the IVF-PQ plan unchanged; stage 2 joins a ≤200-row
    * broadcast candidate list against the vector table — at 100 TB
    * that is 200 point lookups, not a scan. */
  def qAnnRefine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cand = Ann.rankAdc(ivfPqSeededAdc(s, d), 20)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rank").as("adc_rank"))
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    Ann.rerank(e.join(broadcast(cand), col("vec_id") === col("n_id"))
        .join(broadcast(qv), "q_id"), 5, carry = Seq("adc_rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** PQ ANN with recall measurement: 8 subspaces × 16 codewords
    * trained by Lloyd's per subspace ([[graft.operators.Pq]]) and
    * searched by exactly the stages of the oracle-checked
    * [[qAnnPqSeeded]] (vectors stored as 8 codes — 32x compression,
    * ADC against the code relation only); reports recall@5 vs the
    * exact L2 top-5. Rows-only: the codebook training is the one
    * unchecked step (its codebooks are engine-specific). At 100 TB
    * search scans ~3 TB of codes instead of 100 TB of floats. */
  def qAnnPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cb = Ann.codebookRelation(s,
      Pq.trainCodebooks(emb, m = Ann.M, k = 16, sampleN = 512))
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // exact L2 top-5 (the metric ADC approximates), one corpus pass
    val en = e.withColumn("n2", dot(col("v"), col("v")))
    val q = en.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val exact = en.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", col("n2") + col("qn2") - lit(2.0) * dot(col("v"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("n_id"))
    recallAt5(pqTop5(e, cb), exact)
  }

  /** Symmetric int8 quantization of the embedding column — the 4x
    * memory/IO compression a 100 TB vector store applies before ANN
    * (scale = 127/max|x| per vector, q = floor(x*scale + 0.5), all
    * arithmetic deterministic so the oracle reproduces it exactly).
    * Reports per-vector scale and the dequantization squared error.
    * Scan-local: no shuffle at any scale. */
  def qEmbedQuantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("max_abs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("sc", lit(127.0) / col("max_abs"))
      .withColumn("sse", aggregate(col("v"), lit(0.0), (acc, x) => {
        val dq = x - floor(x * col("sc") + lit(0.5)) / col("sc")
        acc + dq * dq
      }))
      .select(col("vec_id"), round(col("max_abs"), 6).as("max_abs"),
        round(col("sc"), 6).as("scale"), round(col("sse"), 6).as("sse"))
      .orderBy(col("vec_id"))

  /** Nearest-CLASS-CENTROID assignment (the centroid classifier /
    * cluster-assignment primitive): per-label mean vector, every
    * embedding assigned to its closest centroid by squared L2,
    * summarized as a label×prediction confusion relation.
    *
    * Scale shape: centroids come from one partial+final aggregate over
    * the (label, component) explosion; the assignment pass broadcasts
    * the tiny centroid relation (labels × dims doubles) against one
    * corpus scan. Distances use the norm expansion
    * `|v|² − 2·v·c + |c|²` with the fused [[graft.functions.DotProduct]]
    * kernel — |c|² is per-centroid (computed once on the broadcast
    * side) and |v|² is per-vector (one scan-local pass), so the
    * per-pair work is a single fused dot product. Deterministic: the
    * fixture's min best-vs-second margin (8.3e-6) is six orders above
    * double reassociation noise, and ties break on label order. */
  def qNearestCentroid(s: SparkSession, d: String): DataFrame = {
    val e = embSpread(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val comp = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
    val cents = comp
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label").as("cl"),
        transform(col("pc"), p => p.getField("c")).as("cent"))
      .withColumn("cnorm", dot(col("cent"), col("cent")))
    e.withColumn("vnorm", dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cl"),
        (col("vnorm") - lit(2.0) * dot(col("v"), col("cent")) + col("cnorm")).as("dist"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("dist"), col("cl"))).as("m"))
      .select(col("label"), col("m.cl").as("pred"))
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))
  }

  /** SemDeDup-style semantic dedup — cluster the embedding space
    * (nearest-centroid assignment, the k-means stand-in), refine each
    * cluster with the scale-relative sign-LSH bucket
    * ([[lshBitsFor]]: 8 bits at fixture scale — `q_embed_neardup`'s
    * hyperplanes), then drop any vector with a lower-id near-duplicate
    * (rounded cosine >= 0.25) inside its (cluster, bucket) cell. The
    * published SemDeDup contract is that k grows with the corpus so
    * cells stay small and the pair scan is Σ|cell|² bounded; the LSH
    * refinement IS that choice expressed deterministically — cell
    * count scales multiplicatively (k × 2^bits) without re-fitting
    * k-means. Pairs never cross cells; the pair join shuffles on the
    * cell key. Reports per-cluster totals / dropped / kept. */
  def qSemdedup(s: SparkSession, d: String): DataFrame = {
    val e = embSpread(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val comp = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
    val cents = comp
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label").as("cl"),
        transform(col("pc"), p => p.getField("c")).as("cent"))
      .withColumn("cnorm", dot(col("cent"), col("cent")))
    // the vector rides inside the argmin struct: (dist, cl) is unique
    // per candidate row, so v never participates in the comparison,
    // and the partial min collapses the 10-centroid fan-out map-side —
    // one narrow shuffle, no join back to the embedding scan
    val asg = e.withColumn("vnorm", dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (col("vnorm") - lit(2.0) * dot(col("v"), col("cent")) + col("cnorm")).as("dist"),
        col("cl"), col("v"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cl"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.cl").as("cl"), col("m.v").as("v"))
      .withColumn("bkt", element_at(signBuckets(col("v"), bitsFor(s, d), 1), 1))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val x = asg.select(col("cl"), col("bkt"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val y = asg.select(col("cl"), col("bkt"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = x.join(y, Seq("cl", "bkt")).filter(col("a") < col("b"))
      .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6) >= 0.25)
      .select(col("cl"), col("b")).distinct()
      .groupBy(col("cl")).agg(count(lit(1)).as("n_dropped"))
    asg.groupBy(col("cl")).agg(count(lit(1)).as("n_total"))
      .join(dropped, Seq("cl"), "left_outer")
      .select(col("cl"), col("n_total"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_total") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("cl"))
  }

  /** Per-dimension QUANTILE NORMALIZATION — each embedding component
    * rank-transformed to [0,1] within its dimension (the
    * distribution-free feature preprocessing step); emitted for one
    * probe vector so the output stays bounded.
    *
    * EXACT min-rank over [[graft.operators.EraRank.bucketed]], not
    * `percent_rank over (partition by pos)`: the single-window form
    * puts the corpus's entire per-dimension column in ONE task (64
    * partitions each of corpus size at 100x); here each window
    * partition holds ~1/32 of a dimension. offset + local rank is
    * exactly the global min-rank, so the emitted values are
    * bit-identical to the exact window (the DuckDB oracle still says
    * percent_rank). */
  def qQuantileNorm(s: SparkSession, d: String): DataFrame = {
    // e feeds the sketch sample AND the bucketing join; the bucketed
    // base feeds the offset rollup AND the final rank — persist both
    // so the embeddings explode runs once per execution (guide §1.2)
    val e = embSpread(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("x").cast("double").as("x"))
      .transform(QueryScope.persist)
    EraRank.bucketed(e, Seq("pos"), Seq(col("x")), persist = true).head
      .withColumn("rk", rank().over(
        Window.partitionBy(col("pos"), col("graft_bkt")).orderBy(col("x"))))
      .withColumn("qn", when(col("graft_n") > 1,
        (col("graft_off") + col("rk") - 1).cast("double") / (col("graft_n") - 1))
        .otherwise(lit(0.0)))
      .filter(col("vec_id") === 0)
      .select(col("pos"), round(col("x"), 6).as("x"), round(col("qn"), 6).as("qn"))
      .orderBy(col("pos"))
  }

  /** Bucketed kNN SELF-join — nearest neighbors for EVERY vector, the
    * op SemDeDup proper, kNN-prototype labeling, and dedup-graph
    * construction actually run at corpus scale (the scale-safe form
    * of `feature_clustering.py:26-33`'s all-pairs distance matrix,
    * and the r16 verdict's named round-17 item): every vector is
    * simultaneously a posting-list MEMBER (assigned to its nearest
    * seeded centroid) and a QUERY (probing its nprobe nearest cells),
    * candidates meet in a cluster-keyed equi-join — never all-pairs —
    * and exact cosine ranks top-3 per vector with no similarity floor
    * (a kNN join owes every vector its k neighbors).
    *
    * The candidate relation (q_id, n_id, cos): the [[Ann]] index over
    * every vector ([[Ann.buildAnnIndex]] — two-level past k=256, so
    * build cost is O(n·√k)) probed by the same kernel as
    * `q_stream_ann` ([[Ann.annProbeJoin]]) with no cosine floor. At
    * fixture k the index is the flat seeded form the DuckDB oracle
    * replays relationally (the q_stream_ann pattern, with every vector
    * on both sides).
    *
    * nprobe=8 (vs the streaming lookup's 4): a kNN GRAPH op keeps
    * recall high even on near-uniform vectors — measured on the
    * fixture (ANN-adversarial random data): recall@3 vs exact kNN
    * 0.48 / 0.63 / 0.74 at nprobe 4 / 6 / 8. Candidates stay
    * bounded at nprobe·(n/k) ≈ 2560 per vector — linear in n. */
  private[graft] def knnCandidates(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = Tables.spread(s, Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))
    val (cents, posting) = Ann.buildAnnIndex(e, k)
    val live = Tables.spread(s,
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    Ann.annProbeJoin(live, cents, posting, floor = -2.0, nprobe = 8)
  }

  /** The one ranked kNN relation: the join, the prototype labeler and
    * the mutual-kNN graph all read it, so the first consumer
    * materializes it once per (dir, content) at the dir's adaptive
    * width and the others read the table (the `_shared_pairs` pattern;
    * Bench and TimeQ time the build as its own `_shared_knn` entry).
    * The table stores only the rows any consumer can touch — the
    * GLOBAL top-8 per query (knn_join/graph read rank ≤ 3; 8 leaves
    * headroom for a wider k without a schema change) plus the top-3
    * per query over SEED members (the labeler's relation) — so the
    * corpus-sized candidate join and its rank windows run once in the
    * build and every consumer reads a ~11n-row table, not the
    * nprobe·(n/k)·n candidate volume. */
  private def sharedKnnCandidates(s: SparkSession, d: String,
                                  tagSuffix: String = ""): DataFrame =
    s.read.parquet(Memo.table(s, "knncand" + tagSuffix, s"$d/embeddings.parquet") { out =>
      // persisted for the one materializing write (released when the
      // build's scope closes): both rank subsets read the same
      // candidate relation, and unpersisted the index build and probe
      // would execute twice
      val cand = knnCandidates(s, d, Ann.ivfKFor(embCount(s, d)))
        .transform(QueryScope.persist)
      val globalTop = cand
        .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))).cast("long"))
        .filter(col("rank") <= 8)
        .withColumn("seed_rank", lit(null).cast("long"))
      val seedTop = cand
        .filter(pmod(col("n_id"), lit(4)) === 0 && pmod(col("q_id"), lit(4)) =!= 0)
        .withColumn("seed_rank", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))).cast("long"))
        .filter(col("seed_rank") <= 3)
        .withColumn("rank", lit(null).cast("long"))
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"), col("seed_rank"))
      globalTop.select(col("q_id"), col("n_id"), col("cos"),
          col("rank"), col("seed_rank"))
        .unionAll(seedTop)
        .write.mode("overwrite").parquet(out)
    })

  /** Bench hook: materialize the shared kNN candidate table so its
    * cost is a visible line item, not silently folded into whichever
    * kNN query happens to run first. */
  def prepareSharedKnn(s: SparkSession, d: String, tagSuffix: String = ""): Unit = {
    sharedKnnCandidates(s, d, tagSuffix); ()
  }

  /** The shared table as a consumer reads it, after the oracle pin
    * check: a gated verify path passes `requireK` + the query name. */
  private def knnTable(s: SparkSession, d: String, requireK: Option[Int],
                       query: String): DataFrame = {
    Ann.width(embCount(s, d), requireK, query)
    sharedKnnCandidates(s, d)
  }

  private[graft] def knnJoin(s: SparkSession, d: String,
                             requireK: Option[Int]): DataFrame =
    knnTable(s, d, requireK, "q_knn_join")
      .filter(col("rank") <= 3)
      .select(col("q_id").as("vec_id"), col("n_id"), col("cos"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))

  def qKnnJoin(s: SparkSession, d: String): DataFrame =
    knnJoin(s, d, requireK = Some(16))

  /** kNN-PROTOTYPE labeling — the semi-supervised propagation step a
    * labeling pipeline runs when a small curated seed set must label
    * the rest of the corpus (the second named consumer of the r17
    * bucketed kNN join, after SemDeDup; the classic 1-NN/k-NN
    * prototype classifier of Cover & Hart 1967 run at corpus scale):
    * seeds = the deterministic 25% slice `vec_id % 4 = 0` keeping
    * their true label; every NON-seed vector takes the majority label
    * of its top-3 seed neighbors. The votes read the seed top-3 rows
    * of the SAME shared table as [[knnJoin]] (one index, many
    * consumers — the production shape), ranked over (non-seed query,
    * seed member) candidate pairs: "seed members of the cells the
    * query probes", so build cost is paid once for the whole family.
    *
    * Determinism: candidate cosines are on the 1e-6 grid (rounded in
    * the shared relation); votes rank by (count DESC, Σcos_u DESC,
    * label ASC) where cos_u = round(cos·1e6) is an exact Long — no
    * float compare anywhere in the vote, the MMR integer-grid lesson
    * applied from the start. A non-seed vector whose probed cells
    * hold no seeds is absent from the output (at the 320/list
    * occupancy contract and 25% seed density, an empty probe set is
    * vanishingly rare; the fixture has none). */
  private[graft] def knnLabel(s: SparkSession, d: String,
                              requireK: Option[Int]): DataFrame = {
    val top3 = knnTable(s, d, requireK, "q_knn_label")
      .filter(col("seed_rank").isNotNull)
      .withColumn("cos_u", round(col("cos") * lit(1e6)).cast("long"))
    val lbl = Tables.embeddings(s, d)
      .select(col("vec_id").as("n_id"), col("label").cast("long").as("n_label"))
    val votes = top3.join(lbl, Seq("n_id"))
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"), sum(col("cos_u")).as("cos_usum"))
    val truth = Tables.embeddings(s, d)
      .select(col("vec_id").as("q_id"), col("label").cast("long").as("true_label"))
    votes
      .withColumn("vr", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("votes").desc, col("cos_usum").desc, col("n_label"))))
      .filter(col("vr") === 1)
      .join(truth, Seq("q_id"))
      .select(col("q_id").as("vec_id"), col("n_label").as("pred_label"),
        col("votes"), col("cos_usum"), col("true_label"),
        (col("n_label") === col("true_label")).cast("long").as("correct"))
      .orderBy(col("vec_id"))
  }

  def qKnnLabel(s: SparkSession, d: String): DataFrame =
    knnLabel(s, d, requireK = Some(16))

  /** Mutual-kNN dedup GRAPH — the third named consumer of the bucketed
    * kNN join (after SemDeDup and prototype labeling): an undirected
    * edge (a, b) exists iff EACH vector is in the other's top-3 AND
    * cosine ≥ 0.2 (one-way kNN edges chain through hub vectors and
    * over-merge; mutuality is the standard pruning — Brito et al.
    * 1997's mutual-kNN clustering), then connected components via the
    * same relational min-label propagation as `q_dedup_clusters`.
    * This is the embedding-space twin of the text dedup graph: the
    * relation SemDeDup-style cluster pruning and duplicate-set audits
    * consume. Per component: representative (min vec_id), size, and
    * the member-id checksum.
    *
    * Scale shape: edges derive from the kNN join's linear candidate
    * volume (never all-pairs); mutuality is one self-semi-join of a
    * 3n-row relation; propagation rounds = component diameter
    * (near-dup graphs are shallow). Cosine symmetry makes the edge
    * orientation safe: both directions round the same index-ordered
    * dot, so (a,b) and (b,a) carry the identical cos. */
  /** The mutual top-3 edge relation (a < b, cos ≥ 0.2) shared by
    * [[knnGraph]] and [[knnTriangles]]: an edge survives only when
    * each endpoint ranks the other in ITS OWN top-3 (Brito et al.
    * 1997 mutual-kNN pruning — hub vectors cannot chain clusters).
    * localCheckpointed: both consumers iterate or self-join over it,
    * and the kNN subtree (crossJoin + two windows + a self semi-join)
    * nested per round/join OOMed the DRIVER in plan-tree rendering
    * before a single task ran — the edge list is ≤ 3n/2 rows, so the
    * lineage cut is cheap and downstream plans stay flat (same guard
    * as the stream-ANN silver scans). */
  private[graft] def mutualKnnEdges(s: SparkSession, d: String,
                                    requireK: Option[Int]): DataFrame = {
    val top = knnJoin(s, d, requireK)
      .select(col("vec_id").as("a"), col("n_id").as("b"), col("cos"))
    val fwd = top.filter(col("a") < col("b"))
    val rev = top.filter(col("a") > col("b"))
      .select(col("b").as("a"), col("a").as("b"))
    fwd.join(rev, Seq("a", "b"), "left_semi")
      .filter(col("cos") >= 0.2)
      .select(col("a"), col("b"))
      .localCheckpoint()
  }

  private[graft] def knnGraph(s: SparkSession, d: String,
                              requireK: Option[Int]): DataFrame = {
    val mutual = mutualKnnEdges(s, d, requireK)
    graft.operators.ConnectedComponents.labels(mutual)
      .groupBy(col("rep").as("component"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("id")).as("id_sum"))
      .orderBy(col("component"))
  }

  def qKnnGraph(s: SparkSession, d: String): DataFrame =
    knnGraph(s, d, requireK = Some(16))

  /** Triangle count + local clustering coefficient over the
    * mutual-kNN graph — the density diagnostic a dedup/curation
    * pipeline reads next to the component sizes: high-clustering
    * neighborhoods are tight duplicate pockets (safe to collapse to
    * one representative), low-clustering chains are topic drift the
    * transitive closure would over-merge (the semantic-dedup
    * over-merge audit; cf. the chain-vs-clique distinction
    * `feature_clustering.py:26-33`'s flat threshold cannot see).
    *
    * Algorithm: the canonical compact-forward wedge join on the
    * (a < b)-oriented edge list — wedges (x<y<z with xy, yz edges)
    * semi-joined against the closing edge (x,z). On a GENERAL edge
    * list the wedge volume is Σ deg², tamed by re-orienting edges
    * low-degree→high-degree first (node-iterator-with-ordering);
    * HERE max degree ≤ 3 BY CONSTRUCTION (mutual top-3 membership
    * bounds both endpoints), so wedges ≤ 9·n/2 and the whole op is
    * linear in n with no ordering pass — the kNN bound is the
    * scale story. Emission per node: degree, triangle count, and
    * clustering = 2·T / (deg·(deg−1)) — one IEEE division of exact
    * BIGINTs (0.0 where deg < 2), rounded at 6 on both engines. */
  private[graft] def knnTriangles(s: SparkSession, d: String,
                                  requireK: Option[Int]): DataFrame = {
    val mut = mutualKnnEdges(s, d, requireK)
    val wedges = mut.select(col("a").as("x"), col("b").as("y"))
      .join(mut.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tri = wedges.join(mut.select(col("a").as("x"), col("b").as("z")),
      Seq("x", "z"), "left_semi")
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    val deg = mut.select(col("a").as("id"))
      .unionAll(mut.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("id"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("id").as("vec_id"), col("deg").cast("long").as("deg"),
        col("n_tri").cast("long").as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(col("vec_id"))
  }

  def qKnnTriangles(s: SparkSession, d: String): DataFrame =
    knnTriangles(s, d, requireK = Some(16))

  /** Deterministic Rademacher sign for the JL projection,
    * s(pos, j) ∈ {−1, +1}: the murmur3 finalizer (xor-shift avalanche)
    * over the combined key pos·73856093 ⊕ (j+1)·19349663. A single
    * Knuth multiply was tried first and REJECTED by measurement: its
    * sign rows are linear enough in (pos, j) that two target dims
    * agreed in 62/64 positions (row inner product 60), inflating the
    * fixture's norm-ratio std to 0.86 vs the 0.35 a truly random ±1
    * matrix gives — the avalanche family measures max |row·row| = 24
    * and std 0.338, indistinguishable from Gaussian. Evaluated at
    * PLAN TIME only (64·16 calls): both the Spark plan and the DuckDB
    * oracle embed the resulting ±1 vectors as literals (the
    * generated-artifact pattern [[graft.functions.Bpe
    * .sqlEncodeTokens]] established), so no cross-engine arithmetic
    * replay is needed. */
  private[graft] def jlSign(pos: Int, j: Int): Int = {
    var h = (pos.toLong * 73856093L ^ (j + 1).toLong * 19349663L) & 0xFFFFFFFFL
    h ^= h >> 16; h = (h * 0x85EBCA6BL) & 0xFFFFFFFFL
    h ^= h >> 13; h = (h * 0xC2B2AE35L) & 0xFFFFFFFFL
    h ^= h >> 16
    if ((h & 1L) == 1L) 1 else -1
  }

  private[graft] def jlSigns(j: Int): Array[Double] =
    Array.tabulate(64)(pos => jlSign(pos, j).toDouble)

  /** Johnson–Lindenstrauss random projection 64 → 16 dims
    * (Achlioptas 2003's database-friendly ±1 matrix) with the
    * norm-preservation audit inline — the embedding-compression step
    * a pipeline runs before shipping vectors to an ANN index when the
    * index's memory is dim-bound (4× fewer bytes/vector at a
    * distortion the lemma bounds). Vectors are CENTERED on the corpus
    * mean first — the production stance, and not optional here: the
    * fixture's all-positive coordinates give every vector a large
    * shared all-ones component, and against ONE fixed sign matrix
    * that single direction's distortion hits every vector at once
    * (measured: only 53% of uncentered norm ratios within [0.5, 1.8]
    * vs the centered form's χ²₁₆-like concentration; pairwise
    * DISTANCES are unchanged by the shift, since R(x−μ) − R(y−μ) =
    * R(x−y)). Per vector: centered ‖x−μ‖², the scaled projected norm
    * ‖R(x−μ)‖²/16, and their ratio (E[ratio] = 1; the
    * pairwise-distance form of the guarantee is spec-pinned in
    * `JlProjectSpec`).
    *
    * Scale shape: one 64-row mean aggregate (map-side combinable)
    * broadcast back, then 16 fused codegen dot kernels per row
    * against plan-time constant sign vectors — one corpus scan, one
    * KB-sized broadcast, zero driver state; multiplication by ±1 is
    * EXACT in IEEE754 and every sum is index-ordered (the dot
    * kernel). */
  def qJlProject(s: SparkSession, d: String): DataFrame = {
    val e = Tables.spread(s, Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))
    // the mean snaps to the 1e-6 grid BEFORE centering: avg() sums
    // float64 in partition order (Spark) vs scan order (DuckDB), and
    // an UNROUNDED mu propagates any ulp-level summation-order
    // difference into every centered value — rounding first reduces
    // the cross-engine exposure to the repo's standard
    // boundary-of-a-rounded-value class (r17 review)
    val mu = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(round(avg(col("x")), 6).as("m"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(transform(col("pm"), p => p.getField("m")).as("mu"))
    val proj = array((0 until 16).map(j => dot(col("c"), lit(jlSigns(j)))): _*)
    e.crossJoin(broadcast(mu))
      .withColumn("c", zip_with(col("v"), col("mu"), _ - _))
      .withColumn("pr", proj)
      .withColumn("orig_n2", dot(col("c"), col("c")))
      .withColumn("proj_n2", dot(col("pr"), col("pr")) / lit(16.0))
      .select(col("vec_id"), round(col("orig_n2"), 6).as("orig_n2"),
        round(col("proj_n2"), 6).as("proj_n2"),
        round(col("proj_n2") / col("orig_n2"), 6).as("ratio"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_knn_join"         -> qKnnJoin,
    "q_knn_label"        -> qKnnLabel,
    "q_knn_graph"        -> qKnnGraph,
    "q_knn_triangles"    -> qKnnTriangles,
    "q_jl_project"       -> qJlProject,
    "q_quantile_norm"    -> qQuantileNorm,
    "q_semdedup"         -> qSemdedup,
    "q_nearest_centroid" -> qNearestCentroid,
    "q_ann_cosine"      -> qAnnCosine,
    "q_ann_filtered"    -> qAnnFiltered,
    "q_hard_negatives"  -> qHardNegatives,
    "q_embed_outliers"  -> qEmbedOutliers,
    "q_ann_mmr"         -> qAnnMmr,
    "q_rrf_hybrid"      -> qRrfHybrid,
    "q_ann_lsh_buckets" -> qAnnLshBuckets,
    "q_embed_neardup"   -> qEmbedNeardup,
    "q_ann_ivf"         -> qAnnIvf,
    "q_ann_ivf_seeded"  -> qAnnIvfSeeded,
    "q_ann_pq_seeded"   -> qAnnPqSeeded,
    "q_ann_ivfpq_seeded" -> qAnnIvfPqSeeded,
    "q_ann_refine"      -> qAnnRefine,
    "q_ann_pq"          -> qAnnPq,
    "q_embed_quantize"  -> qEmbedQuantize,
  )

  // the IVF-PQ ADC pipeline replayed relationally, up to the
  // ranked candidate relation — shared by the q_ann_ivfpq_seeded
  // oracle (top-5) and the q_ann_refine oracle (top-20 -> exact
  // cosine re-rank), so the two can never drift apart
  private val ivfPqAdcCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |          SELECT e.vec_id, c.cid,
        |            row_number() OVER (PARTITION BY e.vec_id
        |              ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |          FROM e, c) WHERE rn = 1),
        |res AS (SELECT a.vec_id, a.cluster,
        |    list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2]) AS r
        |  FROM asg a JOIN e ON a.vec_id = e.vec_id JOIN c ON a.cluster = c.cid),
        |b AS (SELECT vec_id AS bid, CAST(rn - 17 AS INT) AS j FROM (
        |        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
        |        FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 32))
        |      WHERE rn > 16),
        |ms AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS m),
        |cb AS (SELECT ms.m, b.j, list_slice(res.r, ms.m*8 + 1, ms.m*8 + 8) AS cw
        |       FROM res JOIN b ON res.vec_id = b.bid, ms),
        |sub AS (SELECT vec_id, cluster, m,
        |    list_slice(r, m*8 + 1, m*8 + 8) AS sv FROM res, ms),
        |enc AS (SELECT s.vec_id, s.cluster, s.m, cb.j,
        |    list_sum(list_transform(list_zip(s.sv, cb.cw),
        |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
        |  FROM sub s JOIN cb ON s.m = cb.m),
        |codes AS (SELECT vec_id, cluster, m, j AS code FROM (
        |    SELECT vec_id, cluster, m, j,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
        |    FROM enc) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (SELECT q_id, cid AS pcl,
        |    list_transform(list_zip(qv, cv), x -> x[1] - x[2]) AS qr FROM (
        |      SELECT q.q_id, c.cid, q.qv, c.cv,
        |        row_number() OVER (PARTITION BY q.q_id
        |          ORDER BY list_distance(q.qv, c.cv), c.cid) AS rn
        |      FROM q, c) WHERE rn <= 4),
        |lut AS (SELECT p.q_id, p.pcl, cb.m AS lm, cb.j,
        |    list_sum(list_transform(
        |      list_zip(list_slice(p.qr, cb.m*8 + 1, cb.m*8 + 8), cb.cw),
        |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
        |  FROM probes p, cb),
        |percell AS (SELECT l.q_id, cd.vec_id, cd.m, l.d2
        |  FROM codes cd JOIN lut l
        |    ON cd.cluster = l.pcl AND cd.m = l.lm AND cd.code = l.j),
        |tot AS (SELECT q_id, vec_id,
        |    (max(CASE WHEN m = 0 THEN d2 END) + max(CASE WHEN m = 1 THEN d2 END)
        |     + max(CASE WHEN m = 2 THEN d2 END) + max(CASE WHEN m = 3 THEN d2 END)
        |     + max(CASE WHEN m = 4 THEN d2 END) + max(CASE WHEN m = 5 THEN d2 END)
        |     + max(CASE WHEN m = 6 THEN d2 END) + max(CASE WHEN m = 7 THEN d2 END))
        |      AS dist2
        |  FROM percell GROUP BY 1, 2),
        |ranked AS (SELECT q_id, vec_id AS n_id, round(dist2, 6) AS adc_d2,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(dist2, 6), vec_id) AS BIGINT) AS rank
        |  FROM tot WHERE vec_id <> q_id)""".stripMargin

  /** Shared DuckDB CTE chain ending in the mutual top-3 edge
    * relation `mut` (a < b, cos ≥ 0.2) — the q_knn_graph /
    * q_knn_triangles oracle prefix, factored so the two replays of
    * [[mutualKnnEdges]] cannot drift. */
  private val knnMutualCte: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id AS n_id, cid AS cluster, v AS hv FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
      |    FROM e, c) WHERE rn = 1),
      |probes AS (SELECT q_id, cluster, qv FROM (
      |    SELECT e.vec_id AS q_id, c.cid AS cluster, e.v AS qv,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
      |    FROM e, c) WHERE rn <= 8),
      |cand AS (SELECT p.q_id, a.n_id,
      |    round(list_cosine_similarity(p.qv, a.hv), 6) AS cos
      |  FROM probes p JOIN asg a ON a.cluster = p.cluster
      |  WHERE p.q_id != a.n_id),
      |top3 AS (SELECT q_id AS a, n_id AS b, cos FROM (
      |    SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS rank FROM cand) WHERE rank <= 3),
      |mut AS (SELECT t.a, t.b FROM top3 t
      |  JOIN top3 r ON t.a = r.b AND t.b = r.a
      |  WHERE t.a < t.b AND t.cos >= 0.2)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the q_stream_ann oracle pattern with EVERY vector on both
    // sides: seeded 16-centroid assignment (list_distance, cid
    // ties), nprobe=8 probe lists per vector, exact cosine on the
    // rounded value, no floor, top-3 per vector
    "q_knn_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |asg AS (SELECT vec_id AS n_id, cid AS cluster, v AS hv FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |    FROM e, c) WHERE rn = 1),
        |probes AS (SELECT q_id, cluster, qv FROM (
        |    SELECT e.vec_id AS q_id, c.cid AS cluster, e.v AS qv,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |    FROM e, c) WHERE rn <= 8),
        |cand AS (SELECT p.q_id, a.n_id,
        |    round(list_cosine_similarity(p.qv, a.hv), 6) AS cos
        |  FROM probes p JOIN asg a ON a.cluster = p.cluster
        |  WHERE p.q_id != a.n_id),
        |ranked AS (SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, n_id) AS BIGINT) AS rank FROM cand)
        |SELECT q_id AS vec_id, n_id, cos, rank FROM ranked WHERE rank <= 3
        |ORDER BY vec_id, rank""".stripMargin,
    // the q_knn_join top-3 relation both directions, mutual edges at
    // the 0.2 floor, then the q_dedup_clusters recursive min-label
    // closure and per-component stats
    "q_knn_graph" ->
      s"""WITH RECURSIVE $knnMutualCte,
        |edges AS (SELECT a AS v, b AS u FROM mut
        |          UNION ALL SELECT b AS v, a AS u FROM mut),
        |reach(v, r) AS (
        |  SELECT DISTINCT v, v FROM edges
        |  UNION
        |  SELECT ed.v, r.r FROM edges ed JOIN reach r ON ed.u = r.v),
        |lab AS (SELECT v, min(r) AS component FROM reach GROUP BY 1)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(v) AS BIGINT) AS id_sum
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same mutual-edge chain, then the compact-forward wedge
    // join: x<y<z triangles (each counted once), per-node counts,
    // clustering = 2T/(deg(deg-1)) — one division of exact BIGINTs
    "q_knn_triangles" ->
      s"""WITH $knnMutualCte,
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM mut e1 JOIN mut e2 ON e2.a = e1.b
        |  JOIN mut e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pern AS (SELECT id, count(*) AS n_tri FROM (
        |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) GROUP BY 1),
        |deg AS (SELECT id, count(*) AS deg FROM (
        |    SELECT a AS id FROM mut UNION ALL SELECT b AS id FROM mut)
        |  GROUP BY 1)
        |SELECT d.id AS vec_id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN d.deg >= 2
        |    THEN round(2.0 * COALESCE(p.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
        |    ELSE 0.0 END AS clustering
        |FROM deg d LEFT JOIN pern p ON p.id = d.id ORDER BY 1""".stripMargin,
    // the q_knn_join candidate chain restricted to (non-seed query,
    // seed member) pairs, then the integer-grid majority vote:
    // count DESC, sum of cos_u = round(cos*1e6) DESC, label ASC
    "q_knn_label" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |asg AS (SELECT vec_id AS n_id, cid AS cluster, v AS hv FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |    FROM e, c) WHERE rn = 1),
        |probes AS (SELECT q_id, cluster, qv FROM (
        |    SELECT e.vec_id AS q_id, c.cid AS cluster, e.v AS qv,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |    FROM e, c) WHERE rn <= 8),
        |cand AS (SELECT p.q_id, a.n_id,
        |    round(list_cosine_similarity(p.qv, a.hv), 6) AS cos
        |  FROM probes p JOIN asg a ON a.cluster = p.cluster
        |  WHERE p.q_id != a.n_id AND a.n_id % 4 = 0 AND p.q_id % 4 != 0),
        |top3 AS (SELECT q_id, n_id,
        |    CAST(round(cos * 1000000) AS BIGINT) AS cos_u,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, n_id) AS rank FROM cand),
        |votes AS (SELECT t.q_id, CAST(s.label AS BIGINT) AS n_label,
        |    count(*) AS votes, sum(cos_u) AS cos_usum
        |  FROM top3 t JOIN embeddings s ON t.n_id = s.vec_id
        |  WHERE t.rank <= 3 GROUP BY 1, 2),
        |pred AS (SELECT q_id, n_label,
        |    CAST(votes AS BIGINT) AS votes, CAST(cos_usum AS BIGINT) AS cos_usum,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY votes DESC, cos_usum DESC, n_label) AS vr FROM votes)
        |SELECT p.q_id AS vec_id, p.n_label AS pred_label, p.votes, p.cos_usum,
        |  CAST(g.label AS BIGINT) AS true_label,
        |  CAST(CASE WHEN p.n_label = g.label THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM pred p JOIN embeddings g ON p.q_id = g.vec_id
        |WHERE p.vr = 1 ORDER BY 1""".stripMargin,
    // sign vectors GENERATED from the same plan-time jlSign table the
    // engine embeds (the Bpe.sqlEncodeTokens pattern) — ±1 multiplies
    // are IEEE-exact and list_dot_product sums in index order, and the
    // corpus mean is snapped to the 1e-6 grid on both engines before
    // centering (avg() alone is summation-order-dependent), so the
    // doubles match bit-for-bit before the rounds
    "q_jl_project" -> {
      val signLits = (0 until 16).map(j =>
        jlSigns(j).map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]"))
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u0 AS (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |u AS (SELECT pos, round(avg(x), 6) AS m FROM u0 GROUP BY pos),
        |mu AS (SELECT list(m ORDER BY pos) AS mu FROM u),
        |ce AS (SELECT vec_id,
        |    list_transform(range(1, 65), i -> v[i] - mu.mu[i]) AS c
        |  FROM e, mu),
        |p AS (SELECT vec_id, c, [
        |${signLits.map(a => s"    list_dot_product(c, CAST($a AS DOUBLE[]))")
           .mkString(",\n")}
        |  ] AS pr FROM ce)
        |SELECT vec_id, round(list_dot_product(c, c), 6) AS orig_n2,
        |  round(list_dot_product(pr, pr) / 16.0, 6) AS proj_n2,
        |  round(list_dot_product(pr, pr) / 16.0 / list_dot_product(c, c), 6) AS ratio
        |FROM p ORDER BY vec_id""".stripMargin
    },
    "q_quantile_norm" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding,1) - 1 AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |r AS (SELECT vec_id, pos, x,
        |    percent_rank() OVER (PARTITION BY pos ORDER BY x) AS qn FROM e)
        |SELECT pos, round(x, 6) AS x, round(qn, 6) AS qn
        |FROM r WHERE vec_id = 0 ORDER BY pos""".stripMargin,
    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding,1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |comp AS (SELECT label AS cl, pos, avg(x) AS c FROM e GROUP BY 1, 2),
        |dist AS (SELECT e.vec_id, comp.cl,
        |         sum((e.x - comp.c) * (e.x - comp.c)) AS dist
        |         FROM e JOIN comp ON e.pos = comp.pos GROUP BY 1, 2),
        |pred AS (SELECT vec_id, cl,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
        |         FROM dist),
        |js AS (SELECT unnest(generate_series(0, 7)) AS j),
        |dots AS (SELECT vec_id, j,
        |         sum(x * ((((pos*1000003 + j) * 2654435761) % 4294967296) % 7 - 3)) AS dj
        |         FROM e, js GROUP BY 1, 2),
        |bks AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
        |      AS bkt FROM dots GROUP BY 1),
        |asg AS (SELECT p.vec_id, p.cl, bks.bkt,
        |        CAST(v.embedding AS DOUBLE[]) AS vv
        |        FROM pred p JOIN embeddings v ON p.vec_id = v.vec_id
        |        JOIN bks ON p.vec_id = bks.vec_id
        |        WHERE p.rk = 1),
        |drp AS (SELECT DISTINCT a.cl, b.vec_id AS b
        |        FROM asg a JOIN asg b
        |        ON a.cl = b.cl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
        |        WHERE round(list_cosine_similarity(a.vv, b.vv), 6) >= 0.25),
        |dc AS (SELECT cl, count(*) AS n_dropped FROM drp GROUP BY 1),
        |tot AS (SELECT cl, count(*) AS n_total FROM asg GROUP BY 1)
        |SELECT tot.cl, n_total, coalesce(n_dropped, 0) AS n_dropped,
        |  n_total - coalesce(n_dropped, 0) AS n_kept
        |FROM tot LEFT JOIN dc ON tot.cl = dc.cl ORDER BY 1""".stripMargin,
    "q_nearest_centroid" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding,1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |comp AS (SELECT label AS cl, pos, avg(x) AS c FROM e GROUP BY 1, 2),
        |dist AS (SELECT e.vec_id, e.label, comp.cl,
        |         sum((e.x - comp.c) * (e.x - comp.c)) AS dist
        |         FROM e JOIN comp ON e.pos = comp.pos GROUP BY 1, 2, 3),
        |pred AS (SELECT vec_id, label, cl,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
        |         FROM dist)
        |SELECT label, cl AS pred, count(*) AS n FROM pred WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the full PQ pipeline replayed relationally: seeded codebooks
    // (subvectors of the 16 smallest ids), index-ordered squared-L2
    // encode with lower-j tie break, LUT ADC search over codes, the
    // 8 subspace distances folded in fixed m order
    "q_ann_pq_seeded" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT v, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS j
        |      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        |ms AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS m),
        |cb AS (SELECT m, j, list_slice(v, m*8 + 1, m*8 + 8) AS cw FROM b, ms),
        |sub AS (SELECT vec_id, m, list_slice(v, m*8 + 1, m*8 + 8) AS sv FROM e, ms),
        |enc AS (SELECT s.vec_id, s.m, cb.j,
        |    list_sum(list_transform(list_zip(s.sv, cb.cw),
        |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
        |  FROM sub s JOIN cb ON s.m = cb.m),
        |codes AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT vec_id, m, j,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
        |    FROM enc) WHERE rn = 1),
        |lut AS (SELECT s.vec_id AS q_id, s.m, cb.j,
        |    list_sum(list_transform(list_zip(s.sv, cb.cw),
        |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
        |  FROM sub s JOIN cb ON s.m = cb.m WHERE s.vec_id < 10),
        |percell AS (SELECT l.q_id, c.vec_id, c.m, l.d2
        |  FROM codes c JOIN lut l ON l.m = c.m AND l.j = c.code),
        |tot AS (SELECT q_id, vec_id,
        |    (max(CASE WHEN m = 0 THEN d2 END) + max(CASE WHEN m = 1 THEN d2 END)
        |     + max(CASE WHEN m = 2 THEN d2 END) + max(CASE WHEN m = 3 THEN d2 END)
        |     + max(CASE WHEN m = 4 THEN d2 END) + max(CASE WHEN m = 5 THEN d2 END)
        |     + max(CASE WHEN m = 6 THEN d2 END) + max(CASE WHEN m = 7 THEN d2 END))
        |      AS dist2
        |  FROM percell GROUP BY 1, 2),
        |ranked AS (SELECT q_id, vec_id AS n_id, round(dist2, 6) AS adc_d2,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(dist2, 6), vec_id) AS BIGINT) AS rank
        |  FROM tot WHERE vec_id <> q_id)
        |SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // the full IVF-PQ pipeline replayed relationally: seeded
    // centroids (16 smallest ids), assignment with lower-cid tie
    // break, RESIDUAL codebooks from the next 16 vectors, per-(query,
    // probed-cluster) residual LUTs, fixed-m-order ADC fold, ranking
    // on the rounded distance
    "q_ann_ivfpq_seeded" -> (ivfPqAdcCtes +
      """
        |SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    // stage 1 = the identical IVF-PQ ADC CTE chain widened to top-20;
    // stage 2 fetches the candidates' full vectors and re-ranks by
    // exact cosine — adc_rank emitted beside the refined rank so the
    // relation shows the quantization error the refine repairs
    "q_ann_refine" -> (ivfPqAdcCtes +
      """,
        |cand AS (SELECT q_id, n_id, rank AS adc_rank FROM ranked
        |         WHERE rank <= 20),
        |ref AS (SELECT cand.q_id, cand.n_id, cand.adc_rank,
        |    round(list_cosine_similarity(en.v, eq.v), 6) AS cos
        |  FROM cand JOIN e en ON en.vec_id = cand.n_id
        |            JOIN e eq ON eq.vec_id = cand.q_id)
        |SELECT q_id, n_id, adc_rank, cos,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |FROM ref QUALIFY rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    // the full IVF pipeline replayed relationally: seeded centroids
    // (16 smallest ids), list_distance assignment with lower-cid tie
    // break, nprobe=4 probe lists, cosine rerank within candidates
    "q_ann_ivf_seeded" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |          SELECT e.vec_id, c.cid,
        |            row_number() OVER (PARTITION BY e.vec_id
        |              ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |          FROM e, c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (SELECT q_id, cid AS cluster FROM (
        |             SELECT q.q_id, c.cid,
        |               row_number() OVER (PARTITION BY q.q_id
        |                 ORDER BY list_distance(q.qv, c.cv), c.cid) AS rn
        |             FROM q, c) WHERE rn <= 4),
        |cand AS (SELECT p.q_id, a.vec_id FROM probes p
        |         JOIN asg a ON p.cluster = a.cluster
        |         WHERE a.vec_id <> p.q_id),
        |scored AS (SELECT cand.q_id, cand.vec_id AS n_id,
        |    round(list_cosine_similarity(ev.v, q.qv), 6) AS cos
        |  FROM cand JOIN e ev ON cand.vec_id = ev.vec_id
        |  JOIN q ON cand.q_id = q.q_id),
        |ranked AS (SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
        |      AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q_ann_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos
        |  FROM e, q WHERE e.vec_id != q.q_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // lexical top-50 (the q_bm25 arithmetic without its top-20 cap),
    // PRF vector = per-position mean of the top-3 lexical docs'
    // embeddings, semantic top-50 by cosine to it, k=60 RRF fuse
    "q_rrf_hybrid" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS t
        |           FROM documents),
        |dl AS (SELECT doc_id, len(string_split(text,' ')) * 1.0 AS dl
        |       FROM documents),
        |stats AS (SELECT count(*) * 1.0 AS n,
        |          avg(len(string_split(text,' '))) AS avgdl FROM documents),
        |tf AS (SELECT doc_id, t, count(*) * 1.0 AS tf FROM w
        |       WHERE t IN ('spark','join','window') GROUP BY 1, 2),
        |dfs AS (SELECT t, count(*) * 1.0 AS df FROM tf GROUP BY 1),
        |bm AS (SELECT tf.doc_id,
        |    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 5) AS bm25
        |  FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
        |  GROUP BY 1),
        |lex AS (SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
        |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50)),
        |ex AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS p,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |prf AS (SELECT p, avg(x) AS qx FROM ex
        |  WHERE vec_id IN (SELECT doc_id FROM lex WHERE r_lex <= 3)
        |  GROUP BY 1),
        |qn AS (SELECT sqrt(sum(qx * qx)) AS qn FROM prf),
        |dots AS (SELECT vec_id, sum(x * qx) AS dp,
        |    sqrt(sum(x * x)) AS nv
        |  FROM ex JOIN prf USING (p) GROUP BY 1),
        |sem AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (
        |    ORDER BY cos DESC, vec_id) AS BIGINT) AS r_sem
        |  FROM (SELECT vec_id, round(dp / (nv * qn), 6) AS cos
        |        FROM dots, qn ORDER BY cos DESC, vec_id LIMIT 50)),
        |fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
        |    lex.r_lex, sem.r_sem,
        |    round(coalesce(1.0 / (60.0 + lex.r_lex), 0.0) +
        |          coalesce(1.0 / (60.0 + sem.r_sem), 0.0), 6) AS rrf
        |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT doc_id, coalesce(r_lex, 0) AS r_lex,
        |  coalesce(r_sem, 0) AS r_sem, rrf
        |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)
        |ORDER BY rrf DESC, doc_id""".stripMargin,
    // the 5 greedy MMR steps unrolled as CTEs (the PageRank-unroll
    // precedent): pk<k> = picks after step k, step k+1 scores every
    // unpicked candidate by mmr_u = 7*cos_u - 3*max(sim_u to picks)
    // in EXACT 1e-7 INTEGER units (cos_u/sim_u = micro-units of the
    // 6-rounded values) with n_id tie-breaks — exactly the engine's
    // flatMapGroups selection, and structurally immune to the r15
    // half-grid rounding defect (no decimal rounding of a product
    // anywhere; the emitted mmr = mmr_u/1e7 is one IEEE division of
    // exact integers on both sides)
    "q_ann_mmr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos
        |  FROM e, q WHERE e.vec_id != q.q_id),
        |c AS (SELECT q_id, n_id, cos,
        |    CAST(round(cos * 1e6) AS BIGINT) AS cu FROM (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        |  FROM scored) WHERE rk <= 20),
        |sim AS (SELECT a.q_id, a.n_id AS i, b.n_id AS j,
        |    CAST(round(round(list_cosine_similarity(ea.v, eb.v), 6) * 1e6)
        |      AS BIGINT) AS su
        |  FROM c a JOIN c b ON a.q_id = b.q_id AND a.n_id != b.n_id
        |    JOIN e ea ON ea.vec_id = a.n_id JOIN e eb ON eb.vec_id = b.n_id),
        |p1 AS (SELECT q_id, n_id, cos, 7 * cu AS mmr_u FROM c
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY 7 * cu DESC, n_id) = 1),
        |st2 AS (SELECT c.q_id, c.n_id, c.cos,
        |    7 * c.cu - 3 * max(s.su) AS mmr_u
        |  FROM c JOIN sim s ON s.q_id = c.q_id AND s.i = c.n_id
        |    JOIN p1 pk ON pk.q_id = s.q_id AND pk.n_id = s.j
        |  WHERE NOT EXISTS (SELECT 1 FROM p1 x
        |    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
        |  GROUP BY 1, 2, 3, c.cu),
        |p2 AS (SELECT q_id, n_id, cos, mmr_u FROM st2
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY mmr_u DESC, n_id) = 1),
        |pk2 AS (SELECT q_id, n_id FROM p1 UNION ALL SELECT q_id, n_id FROM p2),
        |st3 AS (SELECT c.q_id, c.n_id, c.cos,
        |    7 * c.cu - 3 * max(s.su) AS mmr_u
        |  FROM c JOIN sim s ON s.q_id = c.q_id AND s.i = c.n_id
        |    JOIN pk2 pk ON pk.q_id = s.q_id AND pk.n_id = s.j
        |  WHERE NOT EXISTS (SELECT 1 FROM pk2 x
        |    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
        |  GROUP BY 1, 2, 3, c.cu),
        |p3 AS (SELECT q_id, n_id, cos, mmr_u FROM st3
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY mmr_u DESC, n_id) = 1),
        |pk3 AS (SELECT q_id, n_id FROM pk2 UNION ALL SELECT q_id, n_id FROM p3),
        |st4 AS (SELECT c.q_id, c.n_id, c.cos,
        |    7 * c.cu - 3 * max(s.su) AS mmr_u
        |  FROM c JOIN sim s ON s.q_id = c.q_id AND s.i = c.n_id
        |    JOIN pk3 pk ON pk.q_id = s.q_id AND pk.n_id = s.j
        |  WHERE NOT EXISTS (SELECT 1 FROM pk3 x
        |    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
        |  GROUP BY 1, 2, 3, c.cu),
        |p4 AS (SELECT q_id, n_id, cos, mmr_u FROM st4
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY mmr_u DESC, n_id) = 1),
        |pk4 AS (SELECT q_id, n_id FROM pk3 UNION ALL SELECT q_id, n_id FROM p4),
        |st5 AS (SELECT c.q_id, c.n_id, c.cos,
        |    7 * c.cu - 3 * max(s.su) AS mmr_u
        |  FROM c JOIN sim s ON s.q_id = c.q_id AND s.i = c.n_id
        |    JOIN pk4 pk ON pk.q_id = s.q_id AND pk.n_id = s.j
        |  WHERE NOT EXISTS (SELECT 1 FROM pk4 x
        |    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
        |  GROUP BY 1, 2, 3, c.cu),
        |p5 AS (SELECT q_id, n_id, cos, mmr_u FROM st5
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY mmr_u DESC, n_id) = 1),
        |ranked AS (
        |  SELECT q_id, n_id, CAST(1 AS BIGINT) AS mmr_rank, cos, mmr_u FROM p1
        |  UNION ALL SELECT q_id, n_id, 2, cos, mmr_u FROM p2
        |  UNION ALL SELECT q_id, n_id, 3, cos, mmr_u FROM p3
        |  UNION ALL SELECT q_id, n_id, 4, cos, mmr_u FROM p4
        |  UNION ALL SELECT q_id, n_id, 5, cos, mmr_u FROM p5)
        |SELECT q_id, n_id, mmr_rank, cos, mmr_u / 10000000.0 AS mmr FROM ranked
        |ORDER BY q_id, mmr_rank""".stripMargin,
    // one rank per (anchor, same-label bit) replayed, 2-row pivot,
    // margin = one subtraction of the two 6-rounded cosines; anchors
    // missing either side (singleton label / mono-label corpus) are
    // dropped like the engine, never emitted with nulls
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS qlabel, v AS qv FROM e
        |      WHERE vec_id < 10),
        |scored AS (SELECT q.q_id, q.qlabel, e.vec_id, e.label,
        |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos,
        |    CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS same
        |  FROM e, q WHERE e.vec_id != q.q_id),
        |top AS (SELECT * FROM (SELECT *, row_number() OVER (
        |    PARTITION BY q_id, same ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) WHERE rk = 1)
        |SELECT q_id, qlabel AS label,
        |  max(CASE WHEN same = 1 THEN vec_id END) AS pos_id,
        |  max(CASE WHEN same = 1 THEN cos END) AS cos_pos,
        |  max(CASE WHEN same = 0 THEN vec_id END) AS neg_id,
        |  max(CASE WHEN same = 0 THEN label END) AS neg_label,
        |  max(CASE WHEN same = 0 THEN cos END) AS cos_neg,
        |  max(CASE WHEN same = 1 THEN cos END)
        |    - max(CASE WHEN same = 0 THEN cos END) AS margin
        |FROM top GROUP BY 1, 2
        |HAVING max(CASE WHEN same = 1 THEN vec_id END) IS NOT NULL
        |   AND max(CASE WHEN same = 0 THEN vec_id END) IS NOT NULL
        |ORDER BY q_id""".stripMargin,
    // per-(label, dim) mean centroid, cosine to own centroid,
    // bottom-3 per label with vec_id tie-breaks
    "q_embed_outliers" ->
      """WITH ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    generate_subscripts(embedding, 1) AS p,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |cent AS (SELECT label, p, avg(x) AS cx FROM ex GROUP BY 1, 2),
        |cn AS (SELECT label, sqrt(sum(cx * cx)) AS cn FROM cent GROUP BY 1),
        |sc AS (SELECT ex.vec_id, ex.label, sum(ex.x * cent.cx) AS dp,
        |    sqrt(sum(ex.x * ex.x)) AS nv
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.p = cent.p
        |  GROUP BY 1, 2),
        |scored AS (SELECT sc.vec_id, sc.label,
        |    round(sc.dp / (sc.nv * cn.cn), 6) AS cos
        |  FROM sc JOIN cn ON sc.label = cn.label),
        |ranked AS (SELECT label, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY label
        |      ORDER BY cos, vec_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT label, vec_id, cos, rank FROM ranked WHERE rank <= 3
        |ORDER BY label, rank""".stripMargin,
    "q_ann_filtered" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, q.label, e.vec_id AS n_id,
        |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos
        |  FROM e JOIN q ON e.label = q.label AND e.vec_id != q.q_id),
        |ranked AS (
        |  SELECT q_id, label, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, label, n_id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // banded replay: 4 bands x 8 planes (fixture width), plane index
    // band*64 + j, scrambled-hash weights — same integer arithmetic
    // as planeW, all in BIGINT range
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |bs AS (SELECT unnest(generate_series(0, 3)) AS band),
        |js AS (SELECT unnest(generate_series(0, 7)) AS j),
        |dots AS (SELECT vec_id, band, j,
        |    sum(x * ((((pos*1000003 + band*64 + j) * 2654435761) % 4294967296) % 7 - 3)) AS dj
        |         FROM e, bs, js GROUP BY 1, 2, 3),
        |buckets AS (SELECT vec_id, band,
        |    CAST(sum(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
        |    FROM dots GROUP BY 1, 2),
        |live AS (SELECT band, bucket FROM buckets
        |         GROUP BY 1, 2 HAVING count(*) <= 200),
        |bk AS (SELECT b.* FROM buckets b JOIN live USING (band, bucket)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |cand AS (SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
        |         FROM bk a JOIN bk b
        |         ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT a, b, round(list_cosine_similarity(va.vv, vb.vv), 6) AS cos
        |FROM cand JOIN v va ON a = va.vec_id JOIN v vb ON b = vb.vec_id
        |WHERE round(list_cosine_similarity(va.vv, vb.vv), 6) >= 0.4
        |ORDER BY 1, 2""".stripMargin,
    "q_ann_lsh_buckets" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |js AS (SELECT unnest(generate_series(0, 7)) AS j),
        |dots AS (SELECT vec_id, j,
        |    sum(x * ((((pos*1000003 + j) * 2654435761) % 4294967296) % 7 - 3)) AS dj
        |         FROM e, js GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
        |    FROM dots GROUP BY 1)
        |SELECT bucket, count(*) AS n FROM buckets GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_embed_quantize" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS max_abs,
        |    127.0 / list_max(list_transform(v, x -> abs(x))) AS sc
        |  FROM t)
        |SELECT vec_id, round(max_abs, 6) AS max_abs, round(sc, 6) AS scale,
        | round(list_sum(list_transform(v,
        |   x -> (x - floor(x*sc + 0.5)/sc) * (x - floor(x*sc + 0.5)/sc))), 6) AS sse
        |FROM s ORDER BY vec_id""".stripMargin,
  )
}
