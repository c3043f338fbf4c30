package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityPack

/** Mutual-kNN graph: the DuckDB oracle pins exact values; these pin
  * the graph semantics — edges really are mutual, components really
  * are closed, and they match the seeded flat IVF reference. */
class KnnGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val comps = SimilarityPack.qKnnGraph(spark, TestSpark.sf)
    .as[(Long, Long, Long)].collect()

  private lazy val top = SimilarityPack.knnJoin(spark, TestSpark.sf, Some(16))
    .as[(Long, Long, Double, Long)].collect()

  /** Components by brute-force union-find over the mutual top-3
    * edges (cos ≥ 0.2) of (vec_id, n_id, cos, rank) rows, as
    * (rep, size, id sum) sorted by rep; also the edge vertex count. */
  private def unionFind(top: Seq[(Long, Long, Double, Long)]): (Seq[(Long, Long, Long)], Int) = {
    val fwd = top.map(t => (t._1, t._2) -> t._3).toMap
    val mutual = fwd.keys.filter { case (a, b) =>
      a < b && fwd.contains((b, a)) && fwd((a, b)) >= 0.2 }.toSeq
    val verts = mutual.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = verts.groupBy(find).map { case (_, vs) =>
      (vs.min, vs.length.toLong, vs.sum)
    }.toSeq.sortBy(_._1)
    (comps, verts.length)
  }

  test("components partition the mutual-edge vertex set; reps are member minima") {
    val (want, nVerts) = unionFind(top.toSeq)
    assert(comps.map(_._2).sum == nVerts,
      "component sizes must sum to the mutual-edge vertex count")
    assert(comps.forall(_._2 >= 2), "a singleton component leaked in")
    assert(comps.sortBy(_._1).sameElements(want),
      "components diverged from brute-force union-find")
  }

  test("components equal union-find over the seeded flat IVF reference's top 3") {
    val ref = KnnFlatReference.topN(KnnFlatReference.rows(spark, TestSpark.sf, 16), 3)
    assert(comps.sortBy(_._1).sameElements(unionFind(ref)._1),
      "components diverged from the flat IVF reference")
  }
}
