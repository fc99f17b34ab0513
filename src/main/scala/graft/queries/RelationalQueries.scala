package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryPrep._

/** Relational baseline: scan, aggregate, join and top-k over the
  * TPC-H-shaped tables. */
object RelationalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, dir) => {
      li(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
    }),

    "q02_top_parts" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      li(s, dir).join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("p_partkey").asc)
        .limit(10)
    }),

    "q03_nation_revenue" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      li(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q04_semi_anti" -> ((s, dir) => {
      // customers with >= 1 urgent order but no high-value order:
      // left-semi + left-anti join shapes over the same fact table
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val urgent = o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      val bigSpend = o.where(col("o_totalprice") > 350000)
        .select(col("o_custkey").as("c_custkey"))
      c.join(urgent, Seq("c_custkey"), "left_semi")
        .join(bigSpend, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_top_parts" ->
      """SELECT p_partkey, p_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, p_partkey ASC LIMIT 10""".stripMargin,

    "q03_nation_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q04_semi_anti" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 350000)""".stripMargin
  )
}
