package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextPack

/** The r14 containment rewrite: the rarest-shingle anchor probe must
  * be row-identical to the exhaustive shingle self-join (the filter is
  * exact, not a recall dial — a contained set's rarest shingle is by
  * definition in the container), and it must catch the low-Jaccard
  * containment pairs a minhash/LSH prefilter would drop.
  */
class ContainmentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("anchor-probe containment is row-identical to the exhaustive form") {
    val fast = TextPack.qContainment(spark, TestSpark.sf)
    val slow = TextPack.qContainmentExhaustive(spark, TestSpark.sf)
    assert(fast.count() == slow.count())
    assert(fast.except(slow).count() == 0)
    assert(slow.except(fast).count() == 0)
  }

  test("anchor probe catches a tiny-Jaccard containment pair") {
    import spark.implicits._
    // doc 1 is 5 distinct words (3 shingles), doc 2 embeds doc 1's text
    // inside ~200 unique words: Jaccard ~= 3/200 — far below any LSH
    // banding threshold — but containment is exactly 1.0, and doc 1's
    // rarest shingle (all of its shingles have df=2 here) still anchors
    // the pair. docs 3/4 are unrelated noise.
    val small = "aa bb cc dd ee"
    val filler = (0 until 200).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, s"$filler $small"),
      (3L, "xx yy zz qq rr ss tt"),
      (4L, "one two three four five six")
    ).toDF("doc_id", "text")
    val dsh = docs.select(col("doc_id"), explode(array_distinct(
      graft.functions.ShingleHash.shingle_hash60(col("text"), 3))).as("sh"))
    val dfc = dsh.groupBy(col("sh")).agg(count(lit(1)).as("graft_df"))
    val anchors = dsh.join(dfc, Seq("sh"))
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
    val out = cand
      .join(arrs.select(col("doc_id").as("a"), col("shs").as("sh_a"),
        col("nsh").as("na")), Seq("a"))
      .join(arrs.select(col("doc_id").as("b"), col("shs").as("sh_b"),
        col("nsh").as("nb")), Seq("b"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
        === least(col("na"), col("nb")))
      .select(col("a"), col("b")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    // sanity: the pair's Jaccard really is below the usual 0.05 floor
    val jac = graft.operators.Dedup.overlap(dsh, "sh", dsh)
      .filter(col("a") === 1L && col("b") === 2L)
      .select(col("jacv")).head().getDouble(0)
    assert(jac < 0.05, s"engineered pair's Jaccard should be tiny, got $jac")
  }

  test("randomized equivalence sweep: anchor == exhaustive on planted corpora") {
    // 5 seeded random corpora, each with word-salad docs plus planted
    // containment structure (verbatim substrings, duplicated docs,
    // overlapping-but-not-contained pairs): the anchor probe and the
    // exhaustive self-join must produce the identical pair relation —
    // the empirical face of the recall-exactness proof (a contained
    // set's rarest shingle is in the container).
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919L)
      def salad(n: Int): String =
        (0 until n).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
      val base = (0 until 24).map(i => (i.toLong, salad(6 + rnd.nextInt(20))))
      val docs0 = base ++
        // contained: doc k's full text embedded in filler
        base.take(3).zipWithIndex.map { case ((_, t), j) =>
          (100L + j, s"${salad(8)} $t ${salad(8)}") } ++
        // exact duplicates (mutual containment)
        base.slice(3, 5).zipWithIndex.map { case ((_, t), j) => (200L + j, t) }
      val df = docs0.toDF("doc_id", "text")
      val dsh = df.select(col("doc_id"), explode(array_distinct(
        graft.functions.ShingleHash.shingle_hash60(col("text"), 3))).as("sh"))
      // exhaustive reference
      val sizes = dsh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      val x = dsh.select(col("doc_id").as("a"), col("sh"))
      val y = dsh.select(col("doc_id").as("b"), col("sh").as("sh_b"))
      val exhaustive = x.join(y, col("sh") === col("sh_b") && col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .join(sizes.toDF("a", "na"), "a").join(sizes.toDF("b", "nb"), "b")
        .filter(col("c") === least(col("na"), col("nb")))
        .select(col("a"), col("b"))
      // anchor probe
      val dfc = dsh.groupBy(col("sh")).agg(count(lit(1)).as("graft_df"))
      val anchors = dsh.join(dfc, Seq("sh")).groupBy(col("doc_id"))
        .agg(min_by(col("sh"), struct(col("graft_df"), col("sh"))).as("sh"))
      val cand = anchors.select(col("doc_id").as("u"), col("sh"))
        .join(dsh.select(col("doc_id").as("v"), col("sh")), Seq("sh"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")).distinct()
      val arrs = dsh.groupBy(col("doc_id"))
        .agg(collect_list(col("sh")).as("shs"), count(lit(1)).as("nsh"))
      val anchor = cand
        .join(arrs.select(col("doc_id").as("a"), col("shs").as("sh_a"),
          col("nsh").as("na")), Seq("a"))
        .join(arrs.select(col("doc_id").as("b"), col("shs").as("sh_b"),
          col("nsh").as("nb")), Seq("b"))
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          === least(col("na"), col("nb")))
        .select(col("a"), col("b"))
      assert(anchor.except(exhaustive).count() == 0
        && exhaustive.except(anchor).count() == 0,
        s"anchor != exhaustive at seed $seed")
      assert(exhaustive.count() >= 3, s"planted pairs missing at seed $seed")
    }
  }

  test("candidate volume is anchor-bounded, not df-squared") {
    import spark.implicits._
    // 50 docs sharing one moderately-hot shingle prefix: exhaustive
    // candidate generation emits ~50*49/2 pair-rows through that key;
    // the anchor probe emits at most one probe row per doc, each
    // fanning out only by its RAREST shingle's df (=1 here), so the
    // candidate set stays empty (no doc is contained in another).
    val docs = (0 until 50).map { i =>
      (i.toLong, s"common header here unique$i tail$i mark$i")
    }.toDF("doc_id", "text")
    val dsh = docs.select(col("doc_id"), explode(array_distinct(
      graft.functions.ShingleHash.shingle_hash60(col("text"), 3))).as("sh"))
    val dfc = dsh.groupBy(col("sh")).agg(count(lit(1)).as("graft_df"))
    val anchors = dsh.join(dfc, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(min_by(col("sh"), struct(col("graft_df"), col("sh"))).as("sh"))
    val cand = anchors.select(col("doc_id").as("u"), col("sh"))
      .join(dsh.select(col("doc_id").as("v"), col("sh")), Seq("sh"))
      .filter(col("u") =!= col("v"))
    // every doc's rarest shingle is unique to it -> zero candidates,
    // where the exhaustive self-join would have emitted 1225 pairs
    // through the shared header key alone
    assert(cand.count() == 0)
  }
}
