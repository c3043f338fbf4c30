package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann
import graft.streaming.EventStream

/** Streaming vector search: the candidate emission is a pure function
  * of (vector, index) — identical however the live vectors are
  * batched — and the streamed result equals the same kernel run in
  * batch over the same index (the oracle already pins exact values;
  * these pin the streaming-specific seams). */
class StreamAnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val silver = {
    val out = graft.TempDirs.create("graft_ann_spec_silver")
    EventStream.writeAnnIndex(spark, TestSpark.sf, out.toString)
  }

  private lazy val liveRows = Tables.embeddings(spark, TestSpark.sf)
    .filter(col("vec_id") % 5 === 0)
    .select(col("vec_id"), col("embedding"))
    .as[(Long, Seq[Float])].collect().toSeq

  private def drainBatched(batches: Seq[Seq[(Long, Seq[Float])]],
                           name: String): Set[(Long, Long, Double)] = {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Ann.annProbeJoin(
        input.toDS().toDF("vec_id", "embedding"), silver._1, silver._2)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[(Long, Long, Double)].collect().toSet
  }

  test("candidate emission is independent of micro-batch boundaries and matches batch") {
    assert(liveRows.nonEmpty)
    val one = drainBatched(Seq(liveRows), "graft_sann_one")
    val small = drainBatched(liveRows.grouped(17).toSeq, "graft_sann_small")
    val rev = drainBatched(liveRows.reverse.grouped(31).toSeq, "graft_sann_rev")
    val batch = Ann.annProbeJoin(
      Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding")),
      silver._1, silver._2).as[(Long, Long, Double)].collect().toSet
    assert(one.nonEmpty)
    assert(one == small && small == rev && rev == batch)
  }

  test("candidates stay inside probed clusters and above the floor; no self matches") {
    val out = drainBatched(Seq(liveRows), "graft_sann_inv")
    assert(out.forall(_._3 >= 0.2))
    assert(out.forall(r => r._1 != r._2))
    // every n_id is a history vector (archive slice), never live
    assert(out.forall(r => r._2 % 5 != 0))
  }

  test("two-level index: hierarchy is consistent and the posting relation partitions the corpus") {
    // force the two-level form at unit scale (k=16 > twoLevelMin=4 ⇒
    // k1=4 coarse cells × k2=4 sub-cells)
    val e = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val (cents, posting) = Ann.buildAnnIndex(e, 16, twoLevelMin = 4)
    val cRows = cents.select(col("cid"), col("parent"), col("level"))
      .as[(Long, Long, Int)].collect()
    val l1 = cRows.filter(_._3 == 1)
    val l2 = cRows.filter(_._3 == 2)
    assert(l1.length == 4, "sqrt(16) coarse cells")
    assert(l2.length <= 16 && l2.length > 4, s"sub-cells: ${l2.length}")
    assert(l1.forall(c => c._1 == c._2), "coarse cells are their own parent")
    val l1Ids = l1.map(_._1).toSet
    assert(l2.forall(c => l1Ids.contains(c._2)), "every sub-cell's parent is a coarse cell")
    // posting lists partition the history slice; clusters are sub-cells
    val p = posting.select(col("n_id"), col("cluster")).as[(Long, Long)].collect()
    val histIds = e.select(col("vec_id")).as[Long].collect().toSet
    assert(p.map(_._1).toSet == histIds && p.length == histIds.size,
      "every history vector appears exactly once")
    val l2Ids = l2.map(_._1).toSet
    assert(p.forall(r => l2Ids.contains(r._2)), "assignments land on sub-cells only")
  }

  test("two-level probe finds the near-exact neighbors the flat probe finds for most queries") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val twoLevel = Ann.buildAnnIndex(e, 16, twoLevelMin = 4)
    val live = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    val hier = Ann.annProbeJoin(live, twoLevel._1, twoLevel._2)
      .as[(Long, Long, Double)].collect()
    assert(hier.nonEmpty, "hierarchical probe emits candidates")
    assert(hier.forall(_._3 >= 0.2) && hier.forall(r => r._1 != r._2))
    // ANN recall sanity vs the flat index at the same k: the
    // hierarchical probe is approximate, but on the fixture it must
    // recover a solid majority of the flat probe's candidate pairs
    val flat = Ann.annProbeJoin(live, silver._1, silver._2)
      .as[(Long, Long, Double)].collect()
    val hs = hier.map(r => (r._1, r._2)).toSet
    val fs = flat.map(r => (r._1, r._2)).toSet
    val recall = (hs intersect fs).size.toDouble / math.max(1, fs.size)
    assert(recall >= 0.5, f"two-level recall vs flat too low: $recall%.3f")
  }
}
