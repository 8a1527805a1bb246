package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables

/** The last four TPC-H query shapes (Q2, Q11, Q16, Q20), completing
  * the 22-query relational surface. The driver schema has no partsupp
  * table, so the part↔supplier relationship is derived from lineitem
  * (who actually shipped which part) and "supply cost" is proxied by
  * the minimum line price — each adaptation noted per query.
  *
  * Scale notes:
  *   - Q2's correlated "cost = min cost for this part" subquery is a
  *     two-level plan: one shuffle builds per-(part,supplier) costs,
  *     a groupBy computes the per-part minimum, and the equality join
  *     back is AQE-broadcastable (the min side carries one row per
  *     part). Supplier/nation/region dims broadcast.
  *   - Q11's "share of total" threshold is a 1-row global aggregate
  *     cross-joined (broadcast) under every per-part row — no second
  *     pass over lineitem, no driver collect.
  *   - Q16 collapses lineitem to DISTINCT (part,supplier) FIRST (one
  *     shuffle, map-side combinable), so the count-distinct agg and
  *     the part join run on the tiny pair relation, not raw lineitem.
  *   - Q20 compares decimal quantity sums with integer scaling
  *     (q97 * 5 > total) — exact arithmetic, no float threshold at
  *     any scale, single shuffle on l_suppkey.
  */
object TpchFinal {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  // ---------------------------------------------------------------- Q2
  /** Min-cost supplier (Q2 shape, adapted: cost(part, supplier) =
    * min line extended price from lineitem instead of ps_supplycost):
    * for each STANDARD part of size 10-20, the EUROPE supplier(s)
    * offering it at the minimum cost. */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val euroSupp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, sfDir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name".as("nation"))
    val parts = Tables.part(spark, sfDir)
      .filter($"p_type" === "STANDARD" && $"p_size".between(10, 20))
      .select($"p_partkey", $"p_name")
    // partsupp proxy: one exact-decimal min per (part, supplier) pair.
    // The part/supplier predicates are functions of the GROUPING KEYS,
    // so they commute with the min — broadcast-joining them BELOW the
    // groupBy shrinks the pair shuffle to qualifying rows only (~2% of
    // lineitem), instead of aggregating every pair and discarding most.
    val offers = Tables.lineitem(spark, sfDir)
      .join(broadcast(euroSupp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"l_suppkey",
        $"s_name", $"s_acctbal", $"nation", $"p_partkey", $"p_name")
      .agg(min(dec($"l_extendedprice")).as("cost"))
    // "cost = min cost for this part" as a window min over the pair
    // relation: the offers subtree runs ONCE and the per-part minimum
    // rides the same p_partkey shuffle (a groupBy-min + equality
    // self-join form computes the whole offers plan twice — seen in
    // the physical plan — and adds a sort-merge join)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"p_partkey")
    offers.withColumn("min_cost", min($"cost").over(w))
      .filter($"cost" === $"min_cost")
      .select($"s_acctbal", $"s_name", $"nation", $"p_partkey", $"p_name",
        $"cost".cast("double").as("cost"))
      .orderBy($"s_acctbal".desc, $"nation", $"s_name", $"p_partkey")
      .limit(100)
  }

  val q2MinCostSupplierSql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |offers AS (
      |  SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_name, cost
      |  FROM cost
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  JOIN part ON l_partkey = p_partkey
      |    AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20)
      |SELECT s_acctbal, s_name, nation, p_partkey, p_name,
      |  CAST(cost AS DOUBLE) AS cost
      |FROM offers o
      |WHERE cost = (SELECT min(cost) FROM offers i WHERE i.p_partkey = o.p_partkey)
      |ORDER BY s_acctbal DESC, nation, s_name, p_partkey LIMIT 100""".stripMargin

  // --------------------------------------------------------------- Q11
  /** Important stock (Q11 shape, adapted: "stock value" = revenue of
    * lineitems shipped by EUROPE suppliers, grouped by part): parts
    * whose value exceeds 1.5x the mean share — a self-normalizing
    * threshold that stays meaningful at every scale factor. */
  def q11ImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val supp9 = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, sfDir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey")
    val one = lit(1).cast(DecimalType(12, 2))
    // perPart feeds BOTH the threshold filter and the 1-row totals —
    // without persist the whole lineitem join+agg executes twice
    // (verified: no ReusedExchange fires across the two consumers).
    // The persisted relation is |parts|-sized, not fact-sized.
    val perPart = Tables.lineitem(spark, sfDir)
      .join(broadcast(supp9), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey".as("p_partkey"))
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("value"))
      .persist()
    val totals = perPart.agg(
      count(lit(1)).as("n_parts"),
      sum(dec($"value")).cast("double").as("tot"))
    perPart.crossJoin(broadcast(totals))
      .filter($"value" > lit(1.5) * $"tot" / $"n_parts")
      .select($"p_partkey", $"value", round($"value" / $"tot", 6).as("share"))
      .orderBy($"value".desc, $"p_partkey")
  }

  val q11ImportantPartsSql: String =
    """WITH per_part AS (
      |  SELECT l_partkey AS p_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |      AS value
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  GROUP BY 1),
      |totals AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_parts,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS tot
      |  FROM per_part)
      |SELECT p_partkey, value, round(value / tot, 6) AS share
      |FROM per_part CROSS JOIN totals
      |WHERE value > 1.5 * tot / n_parts
      |ORDER BY value DESC, p_partkey""".stripMargin

  // --------------------------------------------------------------- Q16
  /** Parts/supplier relationship (Q16 shape, adapted: the pair
    * relation is DISTINCT (l_partkey, l_suppkey) from lineitem;
    * "complaint" suppliers proxied as s_acctbal < 1000): how many
    * qualified suppliers can ship each (brand, type, size) bucket. */
  def q16SupplierCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_suppkey").distinct()
    val excluded = Tables.supplier(spark, sfDir)
      .filter($"s_acctbal" < 1000).select($"s_suppkey")
    val parts = Tables.part(spark, sfDir)
      .filter($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO"
        && $"p_size".isin(5, 10, 15, 20))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    pairs
      .join(broadcast(excluded), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  val q16SupplierCountSql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (5, 10, 15, 20)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // --------------------------------------------------------------- Q20
  /** Excess-stock suppliers (Q20 shape, adapted: no ps_availqty —
    * "excess" = more than 20% of a supplier's all-time PROMO-part
    * quantity shipped in 1997 alone). Threshold compared in exact
    * decimals with integer scaling: no float boundary at any SF. */
  def q20PromoSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val promoParts = Tables.part(spark, sfDir)
      .filter($"p_type" === "PROMO").select($"p_partkey")
    val zero = lit(0).cast(DecimalType(12, 2))
    val perSupp = Tables.lineitem(spark, sfDir)
      .join(broadcast(promoParts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(sum(when(year($"l_shipdate") === 1997, dec($"l_quantity")).otherwise(zero))
        .as("q97"),
        sum(dec($"l_quantity")).as("q_total"))
      .filter($"q97" * lit(5) > $"q_total")
    perSupp
      .join(broadcast(Tables.supplier(spark, sfDir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_name", $"n_name".as("nation"),
        $"q97".cast("double").as("qty_1997"),
        $"q_total".cast("double").as("qty_total"))
      .orderBy($"s_name")
  }

  val q20PromoSuppliersSql: String =
    """WITH per_supp AS (
      |  SELECT l_suppkey,
      |    sum(CASE WHEN year(l_shipdate) = 1997
      |      THEN CAST(l_quantity AS DECIMAL(12,2))
      |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS q97,
      |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS q_total
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      |  GROUP BY 1)
      |SELECT s_name, n_name AS nation,
      |  CAST(q97 AS DOUBLE) AS qty_1997,
      |  CAST(q_total AS DOUBLE) AS qty_total
      |FROM per_supp
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE q97 * 5 > q_total
      |ORDER BY s_name""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q2_min_cost_supplier", q2MinCostSupplier, q2MinCostSupplierSql),
    QueryDef("q11_important_parts", q11ImportantParts, q11ImportantPartsSql),
    QueryDef("q16_supplier_count", q16SupplierCount, q16SupplierCountSql),
    QueryDef("q20_promo_suppliers", q20PromoSuppliers, q20PromoSuppliersSql))
}
