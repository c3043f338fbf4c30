package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Folds

/** Era/fold machinery (SURVEY §2 M1/T3/T5): fold assignment as a tiny
  * broadcastable relation, fold-complement row selection, and the
  * deterministic column-permutation primitive behind MDA.
  */
object EraPack extends QueryPack {

  private def orderEras(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(Tables.eraOfDate(col("o_orderdate")).as("era")).distinct()

  /** M1 — fold assignment over distinct eras (`utils.py:11-48`),
    * deterministic rank-mod-k variant. */
  def qFoldAssign(s: SparkSession, d: String): DataFrame =
    Folds.foldAssignment(orderEras(s, d), "era", 3).orderBy(col("era"))

  /** M1/P3 — rows-per-fold via broadcast join back to the fact table
    * (the `era.isin(fold_eras)` semi-join at `utils.py:34`). */
  def qFoldCounts(s: SparkSession, d: String): DataFrame = {
    val folds = Folds.foldAssignment(orderEras(s, d), "era", 3)
    Tables.orders(s, d)
      .withColumn("era", Tables.eraOfDate(col("o_orderdate")))
      .join(broadcast(folds), "era")
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 0).as("sum_price"))
      .orderBy(col("fold"))
  }

  /** T3 — the SHUFFLED era k-fold (`utils.py:26-29`: np.random.shuffle
    * of unique eras + array_split), with the shuffle realized as the
    * deterministic md5-hash60 ordering (`q_split_assign`'s trick) so
    * fold MEMBERSHIP itself is oracle-checkable, not just fold sizing:
    * folds broadcast-join back to orders and each fold reports its era
    * count, row count, and an order-independent era checksum. */
  def qFoldRandom(s: SparkSession, d: String): DataFrame = {
    val folds = Folds.eraKFoldHashed(orderEras(s, d), "era", 3, "fold42")
    Tables.orders(s, d)
      .withColumn("era", Tables.eraOfDate(col("o_orderdate")))
      .join(broadcast(folds), "era")
      .groupBy(col("fold"))
      .agg(countDistinct(col("era")).as("n_eras"),
        count(lit(1)).as("n_orders"),
        sum(col("era")).as("era_sum"))
      .orderBy(col("fold"))
  }

  /** T5 — era-local deterministic column permutation
    * (`feature_selection_numerai.py:127-129`): l_quantity re-dealt
    * within each shipdate-month era by a multiplicative-hash ordering.
    */
  def qPermuteEra(s: SparkSession, d: String): DataFrame = {
    // (l_orderkey, l_linenumber) alone is NOT unique in the fixture;
    // (l_orderkey, l_linenumber, l_partkey, l_suppkey) is — the full
    // key is required for a deterministic, oracle-stable permutation.
    val base = Tables.lineitem(s, d)
      .select(Tables.eraOfDate(col("l_shipdate")).as("era"),
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val hashKey =
      (col("l_orderkey") * lit(2654435761L) + col("l_linenumber") * lit(40503L)
        + col("l_partkey") * lit(7919L) + col("l_suppkey") * lit(104729L)) % lit(999999937L)
    // r14: through the era-size dispatcher — at fixture scale it
    // measures task-sized eras and picks this one-pass form (the plan
    // FoldsDispatchSpec pins); past the crossover the SAME call picks
    // the two-pass, so a user never has to know the ceiling exists
    Folds.permuteWithinEraAdaptive(base, "l_quantity", "era",
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"), hashKey)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").as("q_perm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  }

  /** T5 on the TWO-PASS rank path: same permutation, but both
    * orderings' per-era row numbers come from the sketch-bucketed
    * two-pass ([[graft.operators.Folds.permuteWithinEraTwoPass]]) —
    * no window partition spans an era. Ranks are bit-identical to the
    * one-pass by construction (FoldsSpec pins FULL-table equality);
    * the driver query scopes to the 1996 ship-year because the form
    * costs ~8x the one-pass wherever an era fits one task (it runs
    * two full rank pipelines — see the operator scaladoc), and the
    * harness-scale default is and should be `q_permute_era`'s
    * one-pass: this row oracle-checks the ceiling-remover MACHINERY,
    * not a recommendation to pay its constant at small era sizes. */
  def qPermuteEraTwoPass(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === 1996)
      .select(Tables.eraOfDate(col("l_shipdate")).as("era"),
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val hashKey =
      (col("l_orderkey") * lit(2654435761L) + col("l_linenumber") * lit(40503L)
        + col("l_partkey") * lit(7919L) + col("l_suppkey") * lit(104729L)) % lit(999999937L)
    // the two-pass form directly: this row exists to keep the
    // ceiling-remover machinery oracle-checked, so it pins the
    // two-pass rather than letting fixture-scale era sizes dispatch it
    // away (see the operator scaladoc for the crossover)
    Folds.permuteWithinEraTwoPass(base, "l_quantity", "era",
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"), hashKey)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").as("q_perm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  }

  val queries: Map[String, Q] = Map(
    "q_fold_assign" -> qFoldAssign,
    "q_fold_counts" -> qFoldCounts,
    "q_fold_random" -> qFoldRandom,
    "q_permute_era" -> qPermuteEra,
    "q_permute_era_two_pass" -> qPermuteEraTwoPass,
  )

  val oracles: Map[String, String] = Map(
    "q_fold_assign" ->
      """SELECT era, CAST((row_number() OVER (ORDER BY era) - 1) % 3 AS BIGINT) AS fold
        |FROM (SELECT DISTINCT year(o_orderdate)*12 + month(o_orderdate) AS era FROM orders)
        |ORDER BY era""".stripMargin,
    "q_fold_counts" ->
      """WITH folds AS (
        |  SELECT era, CAST((row_number() OVER (ORDER BY era) - 1) % 3 AS BIGINT) AS fold
        |  FROM (SELECT DISTINCT year(o_orderdate)*12 + month(o_orderdate) AS era FROM orders))
        |SELECT fold, count(*) AS n_orders, round(sum(o_totalprice), 0) AS sum_price
        |FROM orders JOIN folds ON year(o_orderdate)*12 + month(o_orderdate) = folds.era
        |GROUP BY fold ORDER BY fold""".stripMargin,
    "q_fold_random" ->
      """WITH e AS (
        |  SELECT DISTINCT year(o_orderdate)*12 + month(o_orderdate) AS era FROM orders),
        |p AS (
        |  SELECT era,
        |    row_number() OVER (
        |      ORDER BY ('0x'||substr(md5('fold42#'||era),1,15))::BIGINT, era) - 1 AS pos,
        |    count(*) OVER () AS n
        |  FROM e),
        |f AS (
        |  SELECT era,
        |    CASE WHEN pos < (n//3 + 1) * (n%3) THEN pos // (n//3 + 1)
        |         ELSE n%3 + (pos - (n//3 + 1) * (n%3)) // (n//3) END AS fold
        |  FROM p)
        |SELECT CAST(f.fold AS BIGINT) AS fold,
        |  count(DISTINCT f.era) AS n_eras, count(*) AS n_orders,
        |  CAST(sum(f.era) AS BIGINT) AS era_sum
        |FROM orders o JOIN f ON year(o.o_orderdate)*12 + month(o.o_orderdate) = f.era
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_permute_era" ->
      """WITH base AS (
        |  SELECT year(l_shipdate)*12 + month(l_shipdate) AS era,
        |    l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_partkey, l_suppkey, l_quantity
        |  FROM lineitem),
        |a AS (SELECT era, l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    row_number() OVER (PARTITION BY era
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM base),
        |b AS (SELECT era, l_quantity,
        |    row_number() OVER (PARTITION BY era ORDER BY
        |      (l_orderkey * 2654435761 + l_linenumber * 40503
        |       + l_partkey * 7919 + l_suppkey * 104729) % 999999937,
        |      l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM base)
        |SELECT a.l_orderkey, a.l_linenumber, a.l_partkey, a.l_suppkey,
        |  b.l_quantity AS q_perm
        |FROM a JOIN b ON a.era = b.era AND a.rn = b.rn
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    // two-pass rank path, same answer: equality with the one-window
    // oracle IS the check
    "q_permute_era_two_pass" ->
      """WITH base AS (
        |  SELECT year(l_shipdate)*12 + month(l_shipdate) AS era,
        |    l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_partkey, l_suppkey, l_quantity
        |  FROM lineitem WHERE year(l_shipdate) = 1996),
        |a AS (SELECT era, l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    row_number() OVER (PARTITION BY era
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM base),
        |b AS (SELECT era, l_quantity,
        |    row_number() OVER (PARTITION BY era ORDER BY
        |      (l_orderkey * 2654435761 + l_linenumber * 40503
        |       + l_partkey * 7919 + l_suppkey * 104729) % 999999937,
        |      l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM base)
        |SELECT a.l_orderkey, a.l_linenumber, a.l_partkey, a.l_suppkey,
        |  b.l_quantity AS q_perm
        |FROM a JOIN b ON a.era = b.era AND a.rn = b.rn
        |ORDER BY 1, 2, 3, 4""".stripMargin,
  )
}
