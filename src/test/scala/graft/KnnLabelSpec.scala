package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityPack

/** kNN-prototype labeling: the DuckDB oracle pins exact values; these
  * pin the semantics — only non-seeds are labeled, the vote really is
  * the top-3 seed-neighbor majority under the integer-grid tie order,
  * over the engine's candidates and over the seeded flat IVF
  * reference. */
class KnnLabelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val rows = SimilarityPack.qKnnLabel(spark, TestSpark.sf)
    .as[(Long, Long, Long, Long, Long, Long)].collect()

  test("labels exactly the non-seed vectors; votes in [1,3]; correct flag consistent") {
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    val ids = rows.map(_._1)
    assert(ids.distinct.length == ids.length, "duplicate labeled vectors")
    assert(ids.forall(_ % 4 != 0), "a seed vector got labeled")
    // fixture density: every non-seed's probed cells contain seeds
    assert(ids.length == (n - (n + 3) / 4),
      s"${ids.length} labeled of $n (expected all non-seeds)")
    rows.foreach { case (v, pred, votes, _, tru, correct) =>
      assert(votes >= 1 && votes <= 3, s"vector $v votes=$votes")
      assert(correct == (if (pred == tru) 1L else 0L), s"vector $v flag")
    }
  }

  /** The vote replayed in plain Scala under the documented tie order,
    * from a (q_id, n_id, cos) candidate relation. */
  private def replay(cand: Seq[(Long, Long, Double)]): Map[Long, (Long, Long, Long)] = {
    val labels = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    cand.filter { case (q, nId, _) => q % 4 != 0 && nId % 4 == 0 }
      .groupBy(_._1).map { case (q, cs) =>
        val top3 = cs.sortBy { case (_, nId, cos) => (-cos, nId) }.take(3)
        val byLabel = top3.groupBy(c => labels(c._2)).map { case (l, g) =>
          (l, g.length, g.map(c => math.round(c._3 * 1e6)).sum)
        }
        val (pred, votes, cu) = byLabel.toSeq
          .sortBy { case (l, n, u) => (-n, -u, l) }.head
        (q, (pred, votes.toLong, cu))
      }
  }

  private def assertVotes(want: Map[Long, (Long, Long, Long)]): Unit = {
    assert(rows.length == want.size)
    rows.foreach { case (v, pred, votes, cu, _, _) =>
      assert(want(v) == ((pred, votes, cu)), s"vector $v: ${want(v)} vs engine")
    }
  }

  test("prediction is the majority label of the top-3 seed candidates") {
    // independent replay from the engine's candidate relation
    assertVotes(replay(SimilarityPack.knnCandidates(spark, TestSpark.sf, 16)
      .as[(Long, Long, Double)].collect()))
  }

  test("labels equal the vote replayed over the seeded flat IVF reference") {
    // the flat relational IVF the DuckDB oracle replays, as candidates
    assertVotes(replay(KnnFlatReference.rows(spark, TestSpark.sf, 16)))
  }

  test("fixture accuracy is chance-level — the truth column does not leak") {
    // the fixture's labels are INDEPENDENT of its near-uniform random
    // embeddings (measured: 0.10 at sf0.01, 0.11 at sf0.1 — exactly
    // the 10-class chance rate), so this pins two things: the op does
    // not accidentally copy true_label into pred_label (a join-key
    // bug would read as acc = 1.0), and the measured rate stays in
    // the chance band expected of label-free geometry
    val acc = rows.count(_._6 == 1L).toDouble / rows.length
    assert(acc < 0.3, f"accuracy $acc%.3f suggests truth leaked into the vote")
    assert(acc > 0.02, f"accuracy $acc%.3f below chance floor — vote broken")
  }
}
