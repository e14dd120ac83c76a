package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining: which items appear TOGETHER in
  * the same basket (order, session, document) more often than chance —
  * the "customers who bought X also bought Y" primitive, and for a
  * training-data pipeline the co-tag/co-entity association step that
  * turns flat item logs into a weighted recommendation edge list.
  *
  * Scale shape: the only pair-generating step is a SELF-JOIN ON THE
  * BASKET KEY — pair volume is Σ per-basket C(size, 2), so the
  * `maxBasketItems` cap is the scale rail (one degenerate 10⁵-item
  * basket would alone emit 5·10⁹ pairs; capped baskets bound the
  * blow-up to C(cap, 2) each, and the cap filter is one broadcast-able
  * basket-size aggregate). Everything after the pair aggregate runs on
  * the (item, item) pair table, which is vocabulary-sized, not
  * corpus-sized. All outputs are exact integers on the repo's
  * DECIMAL(38,0) product rail (lift's n_ab·N·10⁶ product overflows
  * BIGINT near N ≈ 3·10⁶ baskets — the aucExact lesson).
  */
object Basket {

  /** Pairwise ASSOCIATION RULES over (basket, item) rows — support,
    * directional confidence, and lift for every ordered item pair
    * whose co-occurrence count reaches `minSupport`:
    *
    *   support_ppm    = n_both·10⁶ div N        (N = kept baskets)
    *   confidence_ppm = n_both·10⁶ div n_ante   (P(cons | ante))
    *   lift_ppm       = n_both·N·10⁶ div (n_ante·n_cons)
    *                    (> 10⁶ ⇔ positive association)
    *
    * Rows are first collapsed to DISTINCT (basket, item) — quantity
    * does not multiply co-occurrence. Baskets with more than
    * `maxBasketItems` distinct items are dropped ENTIRELY (membership
    * and N both exclude them — a consistent universe, and the
    * documented pair-volume cap); item marginals are counted over the
    * kept universe so confidence/lift stay probability-consistent.
    * Both directions of every pair are emitted (confidence is
    * asymmetric; support and lift repeat on purpose so each rule row
    * is self-contained).
    *
    * @return (antecedent, consequent, n_both, n_ante, n_cons,
    *         support_ppm, confidence_ppm, lift_ppm) */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Int = 2,
                       maxBasketItems: Int = 64): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    require(maxBasketItems >= 2, "maxBasketItems must be >= 2")
    // r15 (the coOccurrenceEdgesCanonical rewrite, guide §2.3/§2.4):
    // ONE exchange builds the per-basket sorted item set — collect_set
    // dedups (basket, item) inside the aggregate, the size cap becomes
    // a plain filter on the set, and canonical pairs are emitted in
    // place by two generators. The old spelling paid a distinct
    // exchange, a size-cap aggregate + membership join, and a
    // basket-keyed self-join before the pair aggregate ever ran.
    // Basket universe, marginals and pair counts are value-identical.
    // feeds N, marginals, and the pair stream
    val sets = materialize(df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .filter(col("__b").isNotNull && col("__i").isNotNull)
      .groupBy("__b")
      .agg(sort_array(collect_set(col("__i"))).as("__xs"))
      .filter(size(col("__xs")) <= maxBasketItems)).df
    val nBaskets = sets.groupBy().agg(count(lit(1)).as("__n"))
    val marginals = sets.select(explode(col("__xs")).as("__i"))
      .groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"))
    val pairs = sets
      .select(posexplode(col("__xs")).as(Seq("__p", "ia")), col("__xs"))
      .select(col("ia"),
        explode(slice(col("__xs"), col("__p") + lit(2),
          greatest(size(col("__xs")) - col("__p") - lit(1), lit(0))))
          .as("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    val directed = pairs
      .select(col("ia").as("antecedent"), col("ib").as("consequent"),
        col("n_both"))
      .unionAll(pairs.select(col("ib").as("antecedent"),
        col("ia").as("consequent"), col("n_both")))
    directed
      .join(marginals.withColumnRenamed("__i", "antecedent")
        .withColumnRenamed("__ni", "n_ante"), "antecedent")
      .join(marginals.withColumnRenamed("__i", "consequent")
        .withColumnRenamed("__ni", "n_cons"), "consequent")
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"),
        expr("n_both * 1000000 div __n").as("support_ppm"),
        expr("n_both * 1000000 div n_ante").as("confidence_ppm"),
        expr("CAST(CAST(n_both AS DECIMAL(38,0)) * __n * 1000000" +
          " DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)")
          .as("lift_ppm"))
  }
}
