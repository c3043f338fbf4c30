package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the transitive
  * closure a real dedup pipeline needs: near-dup PAIRS must become
  * CLUSTERS (a~b, b~c => {a,b,c}) so exactly one representative per
  * cluster survives, not per pair.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction
  * (Kiveris et al. 2014, "Connected Components in MapReduce and
  * Beyond" — the published production CC for exactly this setting).
  * Each round rewrites the edge set; the fixed point is a forest of
  * STARS, every node pointing at its component's minimum id. Two
  * earlier relational forms were measured and rejected on the r17
  * mutual-kNN graph (diameter 43 on 500 near-uniform vectors — kNN
  * graphs are long thin chains, unlike shallow near-dup copy
  * clusters): plain min-label hooking needs diameter rounds, and
  * hook + pointer-jump stalls just the same once the label forest
  * flattens into many depth-1 trees that merge one boundary edge per
  * round (measured: still >25 rounds). Star contraction merges whole
  * trees per round: the same graph closes in 4 rounds.
  *
  * Each round is two grouped-min aggregates and two joins on the
  * (shrinking) edge relation — the MapReduce-portable scale shape;
  * rounds are O(log n) with high probability. The driver only runs
  * the loop; edges never collect.
  */
object ConnectedComponents {

  /** (a, b) edge list -> (id, rep) for every node appearing in an
    * edge, rep = min node id of its component. Throws if the graph
    * has not converged within `maxIter` rounds (a silent partial
    * closure would under-merge clusters). The returned relation is
    * persisted in the caller's [[graft.QueryScope]].
    *
    * KNOWN BOUNDED LEAK: the per-round localCheckpoint blocks bypass
    * the CacheManager, so they linger until RDD GC — ≤ rounds
    * (O(log n), 2-5 in practice) edge-table copies, MEMORY_AND_DISK.
    * Deliberately accepted: force-unpersisting a checkpointed RDD
    * destroys its only copy (lineage is truncated — nothing can
    * recompute it), so an eviction or late re-action on a derived
    * frame would fail instead of recompute. Driver GC reclaims the
    * handles between queries. */
  def labels(edges: DataFrame, maxIter: Int = 20,
             smallGraphMax: Long = 65536L): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // canonical undirected form (u > v), dups dropped; checkpointed so
    // every round starts from a flat scan (the round loop would
    // otherwise nest the caller's plan — for the kNN graph a
    // crossJoin + windows + semi-join — once per round, and the
    // exponential tree OOMed the driver in plan rendering alone).
    // Self-loops survive the canonicalization into `canon` (one scan,
    // no second pass over the caller's relation) and are split off
    // below: they carry no connectivity, but a node whose ONLY edge
    // is a self-loop must still label as its own singleton — the
    // pre-r17 min-label implementation emitted (x, x) for it, and
    // "every node appearing in an edge" is the documented contract.
    val canon = edges
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
    val canonCnt = canon.count()
    var e = canon.filter(col("u") =!= col("v"))
    var eCnt = e.count()
    // singleton rows owed to self-loop-only nodes: cheap block-scan
    // filters on the checkpointed canon (empty for every in-repo
    // caller — they pre-filter a < b)
    def selfLoopSingletons(labeled: DataFrame): DataFrame =
      canon.filter(col("u") === col("v")).select(col("u").as("id"))
        .join(labeled.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("rep"))
    // ADAPTIVE SMALL-GRAPH PATH: below the repo's KB-bounded collect
    // budget (65536 rows ≈ 1 MB of id pairs — the same bound the
    // centroid-table and broadcast-side collects honor), a driver
    // union-find beats the distributed rounds by ~10×: each star
    // round is 3 shuffle stages + a checkpoint, ~0.5 s of pure stage
    // overhead on a 400-edge graph. This is the broadcast-join
    // tradeoff applied to closure: small side → driver, big side →
    // the O(log n) contraction below (the 100× scale probes exceed
    // the bound and exercise it). Both paths are spec-pinned equal
    // (ConnectedComponentsSpec / KnnGraphSpec brute-force replays).
    if (canonCnt <= smallGraphMax) {
      val pairs = canon.select(col("u"), col("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        // a self-loop registers its node (singleton) without a union
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labs = parent.keys.toSeq.map(v => (v, find(v)))
      val spark = edges.sparkSession
      import spark.implicits._
      return labs.toDF("id", "rep").transform(graft.QueryScope.persist)
    }
    var round = 0
    while (round < maxIter) {
      // LARGE-STAR: over the symmetric adjacency of x, let
      // m = min(Γ(x) ∪ {x}); connect every LARGER neighbor to m.
      val sym = e.select(col("u").as("x"), col("v").as("n"))
        .union(e.select(col("v").as("x"), col("u").as("n")))
      val mins = sym.groupBy(col("x"))
        .agg(least(min(col("n")), col("x")).as("m"))
      // no distinct here: duplicate edges are structurally harmless
      // (small-star's grouped min ignores them and its own distinct
      // re-canonicalizes), and the extra shuffle cost more than the
      // duplicates at every measured scale
      val large = sym.join(mins, "x")
        .filter(col("n") > col("x"))
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // SMALL-STAR: orient (u > v); let m = min of u's smaller
      // neighborhood; connect every smaller neighbor AND u itself
      // to m.
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = large.join(minsS, "u")
      val small = withM
        .select(col("v").as("a"), col("m").as("b"))
        .union(minsS.select(col("u").as("a"), col("m").as("b")))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      // convergence = set equality with the previous round. Both sets
      // are canonical and checkpointed, so equal COUNTS plus one empty
      // one-sided anti-join imply equality; the count compare is a
      // near-free job on materialized blocks and skips the anti-join
      // on every still-shrinking round
      val smallCnt = small.count()
      val changed =
        if (smallCnt != eCnt) 1L
        else small.join(e, Seq("u", "v"), "left_anti").limit(1).count()
      e = small
      eCnt = smallCnt
      if (changed == 0) {
        // fixed point = stars: (leaf -> min) edges plus the centers
        val stars = e.select(col("u").as("id"), col("v").as("rep"))
          .union(e.select(col("v").as("id"), col("v").as("rep")))
          .distinct()
        return stars.union(selfLoopSingletons(stars)).transform(graft.QueryScope.persist)
      }
      round += 1
    }
    throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds")
  }
}
