package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSig, ShingleHash, WinnowSelect}

/** The relational stages every text near-dup query runs (north star:
  * dedup over a document corpus). The batch queries, the shared
  * silver-table builds and the streaming near-dup index compose the
  * same stages and differ only in where the [[base]] comes from (a
  * fresh scan, or the one persisted by the shared build), so the
  * DuckDB oracles check the machinery every consumer runs. No stage
  * persists: a caller that reads a stage's output more than once owns
  * that decision.
  *
  * Scale shape: signatures and fingerprints are scan-local kernels
  * over the one shingle-hash pass; candidate generation joins bucket
  * or shingle keys, never all pairs; hot keys (boilerplate shingles,
  * degenerate buckets) are dropped by one broadcast anti-join against
  * the tiny hot list before any self-join.
  */
object Dedup {

  /** (doc_id, graft_hs = positional `k`-word shingle hashes, 60-bit)
    * over (doc_id, text) rows — the one corpus hashing pass every
    * other stage derives from. */
  def base(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), ShingleHash.shingle_hash60(col("text"), k).as("graft_hs"))

  /** Distinct (doc_id, sh) shingle hashes of a [[base]]. Joining on
    * 60-bit hashes, not strings: same counts (collision odds ~
    * |shingles|^2 / 2^61), far cheaper shuffle keys. */
  def shingles(base: DataFrame): DataFrame =
    base.select(col("doc_id"), explode(array_distinct(col("graft_hs"))).as("sh"))

  /** (doc_id, mh = 16 MinHash components) of a [[base]]: the min
    * reduction over the hashed shingles. Docs with fewer words than the
    * shingle size have no shingles and no row. */
  def minhash(base: DataFrame): DataFrame =
    base.select(col("doc_id"), MinHashSig.minhash_from_hashes(col("graft_hs"), 16).as("mh"))
      .filter(size(col("mh")) > 0)

  /** The 8 MinHash band signatures (2 components each) over `mh`, for
    * [[bands]]. */
  val MinhashBands: Seq[Column] = (0 until 8).map(b =>
    concat_ws(",", element_at(col("mh"), 2 * b + 1).cast("string"),
      element_at(col("mh"), 2 * b + 2).cast("string")))

  /** Winnowing selection of a [[base]] with window `w`: (doc_id, m =
    * gram count, nwin = window count, sel = distinct selected (h, p)
    * structs), the window minimum ties to the rightmost position.
    * Docs shorter than one window winnow their single truncated
    * window. */
  def winnow(base: DataFrame, w: Int = 4): DataFrame =
    base
      .withColumn("m", size(col("graft_hs")).cast("long"))
      .filter(col("m") > 0L)
      .withColumn("nwin", greatest(col("m") - (w - 1), lit(1L)))
      .withColumn("sel", transform(
        WinnowSelect.winnow_positions(col("graft_hs"), w),
        p => struct(element_at(col("graft_hs"), p.cast("int")).as("h"), p.as("p"))))
      .select(col("doc_id"), col("m"), col("nwin"), col("sel"))

  /** The distinct (doc_id, h) fingerprints of a [[winnow]] selection. */
  def fingerprints(winnowed: DataFrame): DataFrame =
    winnowed.select(col("doc_id"), explode(col("sel")).as("f"))
      .select(col("doc_id"), col("f.h").as("h"))
      .distinct()

  /** The banded unpivot: one (doc_id, carry..., band, sg) row per band
    * column, `band` its index. MinHash and SimHash banding both use it;
    * `carry` rides along on every row. */
  def bands(sigs: DataFrame, bandCols: Seq[Column], carry: Seq[String] = Nil): DataFrame = {
    val stack = s"stack(${bandCols.size}, " +
      bandCols.indices.map(b => s"$b, graft_band_$b").mkString(", ") + ") AS (band, sg)"
    sigs.select((col("doc_id") +: carry.map(col)) ++
        bandCols.zipWithIndex.map { case (c, b) => c.as(s"graft_band_$b") }: _*)
      .selectExpr(("doc_id" +: carry) :+ stack: _*)
  }

  /** (keys..., graft_df = row count) — the document frequency of each
    * key when `rows` holds one row per (doc, key). */
  def docFreq(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("graft_df"))

  /** The hot-key cap: `rows` without the keys whose `freq` ((keys...,
    * graft_df) — [[docFreq]] or a maintained df index) exceeds `max`.
    * The hot list is tiny or empty by definition, so this is a
    * broadcast anti-join against it, never a shuffle join re-attaching
    * the keep set. Serves the idf floor and every bucket cap. */
  def cap(rows: DataFrame, keys: Seq[String], max: Long, freq: DataFrame): DataFrame = {
    val hot = freq.filter(col("graft_df") > max).select(keys.map(col): _*)
    rows.join(broadcast(hot), keys, "left_anti").select(rows.columns.map(col): _*)
  }

  /** Distinct candidate pairs (a < b) sharing a (band, sg) bucket of a
    * [[bands]] relation, after the hot-bucket cap (`maxBucket` members
    * per bucket). Shuffle keys are bucket ids, never doc pairs. Each
    * `carry` column comes out as `<c>_a` and `<c>_b`. */
  def candidates(banded: DataFrame, maxBucket: Long, carry: Seq[String] = Nil): DataFrame = {
    val keys = Seq("band", "sg")
    val kept = cap(banded, keys, maxBucket, docFreq(banded, keys))
    def side(id: String, keySuffix: String) =
      kept.select((col("doc_id").as(id) +: carry.map(c => col(c).as(s"${c}_$id"))) ++
        keys.map(k => col(k).as(k + keySuffix)): _*)
    side("a", "").join(side("b", "_r"),
        keys.map(k => col(k) === col(k + "_r")).reduce(_ && _) && col("a") < col("b"))
      .select((Seq("a", "b") ++ carry.map(_ + "_a") ++ carry.map(_ + "_b")).map(col): _*)
      .distinct()
  }

  /** Pairs (a < b) sharing at least one `key` in (doc_id, key) `rows`,
    * with c = the shared-key count, na / nb = each side's row count in
    * `sizedBy` (the pre-cap relation when `rows` is capped), and jacv =
    * c / (na + nb - c). Pairs exist only via a shared key. */
  def overlap(rows: DataFrame, key: String, sizedBy: DataFrame): DataFrame = {
    val sizes = sizedBy.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    rows.select(col("doc_id").as("a"), col(key))
      .join(rows.select(col("doc_id").as("b"), col(key).as(key + "_b")),
        col(key) === col(key + "_b") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .join(sizes.toDF("a", "na"), "a").join(sizes.toDF("b", "nb"), "b")
      .withColumn("jacv", col("c") / (col("na") + col("nb") - col("c")))
  }
}
