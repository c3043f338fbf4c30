package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Degenerate-input parity for the r13 hardened entries: the
  * empty/one-instant relations their oracles still define answers
  * for. Each case builds a throwaway fixture dir (the queries take a
  * fixture DIRECTORY, not a DataFrame). */
class DegenerateInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("analyze-stats on an EMPTY lineitem still profiles all 6 columns") {
    val dir = TempDirs.create("graft_degen_li_").toString
    Tables.lineitem(spark, TestSpark.sf).limit(0)
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = graft.queries.CorePack.qAnalyzeStats(spark, dir).collect()
    assert(rows.length == 6)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L
      && r.getLong(3) == 0L && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("r14 text operators on an empty / all-short documents fixture") {
    import spark.implicits._
    val dir = TempDirs.create("graft_degen_doc_").toString
    // docs all shorter than the 8-word window, plus one empty string
    Seq((1L, "a b c"), (2L, ""), (3L, "one two three four five"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    // no window reaches length 8 -> no duplicated window -> empty,
    // not a crash (posexplode of an empty hash array drops the doc)
    assert(graft.queries.TextPack.qRepeatedPassages(spark, dir).count() == 0)
    // containment: too short for any 3-shingle overlap pair -> empty
    assert(graft.queries.TextPack.qContainment(spark, dir).count() == 0)
  }

  test("IVF training refuses an empty corpus loudly") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Ann.fitCentroids(empty, k = 4, seed = 1L)
    }
    assert(e.getMessage.contains("empty training sample"))
  }

  test("adaptive permutation on an empty frame returns empty (one-pass branch)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("era", "id", "v")
    val got = graft.operators.Folds.permuteWithinEraAdaptive(
      empty, "v", "era", Seq("id"), col("id") % 7)
    assert(got.count() == 0)
  }

  test("warm-start migration degrades to the plain stream on a one-instant fixture") {
    // all events share one timestamp -> the archive half is empty and
    // the old path NPE'd on its null max; the guarded path must run
    // the plain full-history stream instead (here: nothing closes
    // under the final watermark, so the defined answer is empty)
    val dir = TempDirs.create("graft_degen_ev_").toString
    Tables.events(spark, TestSpark.sf).limit(5)
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.parquet(s"$dir/events.parquet")
    val warm = graft.queries.StreamPack.qStreamWarmSessions(spark, dir)
      .collect().toSeq
    val full = graft.queries.StreamPack.twsSessions(spark, dir, EventStream.toMemory)
      .orderBy(col("user_id"), col("start_us")).collect().toSeq
    assert(warm.map(_.toSeq) == full.map(_.toSeq))
  }

  test("r16 training-output ops on a one-language, tiny-corpus fixture") {
    import spark.implicits._
    val dir = TempDirs.create("graft_degen_tr_").toString
    Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    // one language: weight must be exactly 1.0, target = floor(3/2)
    val mix = graft.queries.TrainPack.qMixTemperature(spark, dir)
      .as[(String, Long, Double, Long, Long, Long)].collect()
    assert(mix.length == 1 && mix.head._3 == 1.0 && mix.head._4 == 1L
      && mix.head._5 == 1L)
    // sharding still partitions all 3 docs; sparse shards are fine
    val shard = graft.queries.TrainPack.qTrainShard(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(shard.map(_._2).sum == 3L)
    // novelty: doc 2 duplicates doc 1's shingles (0 novel), doc 3 is
    // sub-shingle-length and drops out entirely
    val nov = graft.queries.TrainPack.qShingleNovelty(spark, dir)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(nov == Map(1L -> 1.0, 2L -> 0.0))
  }

  test("r16 embedding ops survive a degenerate 2-vector corpus") {
    import spark.implicits._
    val dir = TempDirs.create("graft_degen_emb_").toString
    // vec 0 is a live query (0 % 5 == 0); vec 1 and 6 are history
    Seq((0L, 0L, Array(1f, 0f, 0f, 0f)), (1L, 0L, Array(1f, 0f, 0f, 0f)),
      (6L, 1L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    // hard negatives: anchors 0 and 1 each have one same-label and
    // one cross-label candidate (margin 1.0 - 0.0); anchor 6's label
    // is a singleton — no positive exists, so it must be DROPPED,
    // not emitted with nulls (the bug this arm originally caught)
    val hn = graft.queries.SimilarityPack.qHardNegatives(spark, dir)
      .as[(Long, Long, Long, Double, Long, Long, Double, Double)].collect()
    assert(hn.map(_._1).toSet == Set(0L, 1L))
    assert(hn.forall(r => r._5 == 6L && r._8 == 1.0))
    // streaming ANN: history of 2 < k=16 centroids — limit(k) degrades
    // to one-vector-per-list; the lone live vector matches only its
    // identical twin above the 0.2 floor
    val ann = graft.queries.StreamPack.qStreamAnn(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
    assert(ann.toSeq == Seq((0L, 1L, 1.0, 1L)))
  }
}
