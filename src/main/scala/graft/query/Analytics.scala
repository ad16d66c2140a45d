package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions._
import graft.transform.DimTime

/** The reference's GraphQL analytic queries (reference `app.py:31-226`,
  * `schema.graphql:42-86`) as pure `DataFrame` combinators — the query
  * semantics without the HTTP layer. Dynamic SQL splicing + whitelists
  * (`app.py:57-62`) become typed parameters; the DataFrame API is
  * injection-free by construction.
  */
object Analytics {

  /** O2/O3 — whitelisted dynamic sort + LIMIT/OFFSET pagination
    * (reference `app.py:45,57-63`; defaults `schema.graphql:48-49`).
    * `tieBreaker` makes the total order unique so OFFSET is deterministic
    * (the reference's ordering is non-total — SURVEY §7.5). */
  final case class Page(
      sortBy: String,
      ascending: Boolean = false,
      limit: Int = 10,
      offset: Int = 0)

  def paginate(df: DataFrame, page: Page, whitelist: Set[String], tieBreaker: String): DataFrame = {
    require(whitelist.contains(page.sortBy), s"sort column ${page.sortBy} not in whitelist $whitelist")
    val key = if (page.ascending) col(page.sortBy).asc else col(page.sortBy).desc
    df.orderBy(key, col(tieBreaker).asc).offset(page.offset).limit(page.limit)
  }

  /** `productSales` (reference `app.py:31-69`): orders ⋈ items ⋈ product dim
    * in a date range, excluding dead statuses, optional product/category
    * filter. NOTE the reference returns one row per matching order *item*
    * (duplicate orders preserved — SURVEY §2.3 J4); we keep that. */
  def productSales(
      orders: DataFrame,
      lineitem: DataFrame,
      part: DataFrame,
      start: String,
      end: String,
      partKey: Option[Long] = None,
      brand: Option[String] = None,
      excludeStatuses: Seq[String] = Seq("F"),
      page: Page = Page("o_orderdate")): DataFrame = {
    val sortable = Set("o_orderdate", "o_totalprice")
    require(sortable.contains(page.sortBy), s"sort column ${page.sortBy} not in whitelist $sortable")
    val base = orders
      .filter(col("o_orderdate").between(to_timestamp(lit(start)), to_timestamp(lit(end))))
      .filter(!col("o_orderstatus").isInCollection(excludeStatuses))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val filtered = Seq(
      partKey.map(k => col("p_partkey") === lit(k)),
      brand.map(b => col("p_brand") === lit(b)))
      .flatten
      .foldLeft(base)((df, p) => df.filter(p))
    val projected = filtered.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      col("o_totalprice"), col("l_linenumber"), col("p_partkey"))
    // unique tie-break must be the line, not the (duplicated) order key
    val key = if (page.ascending) col(page.sortBy).asc else col(page.sortBy).desc
    projected
      .orderBy(key, col("o_orderkey").asc, col("l_linenumber").asc, col("p_partkey").asc)
      .offset(page.offset).limit(page.limit)
  }

  /** `customerPurchaseHistory` (reference `app.py:72-106`): one customer's
    * orders with open/closed optional date bounds (P7). */
  def customerPurchaseHistory(
      orders: DataFrame,
      custKey: Long,
      start: Option[String] = None,
      end: Option[String] = None,
      page: Page = Page("o_orderdate")): DataFrame = {
    val base = orders.filter(col("o_custkey") === lit(custKey))
    val bounded = Seq(
      start.map(s => col("o_orderdate") >= to_timestamp(lit(s))),
      end.map(e => col("o_orderdate") <= to_timestamp(lit(e))))
      .flatten
      .foldLeft(base)((df, p) => df.filter(p))
    paginate(
      bounded.select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"), col("o_totalprice")),
      page, Set("o_orderdate", "o_totalprice"), "o_orderkey")
  }

  /** `topSellingProductsByCategory` analog (reference `app.py:109-154`,
    * A3+J5+O4): 4-way join lineitem ⋈ supplier ⋈ nation ⋈ region (the
    * testdata's 2-level category hierarchy), revenue top-k. Both dims
    * broadcast; top-k plans as `TakeOrderedAndProject` — no full sort. */
  def topSellers(
      lineitem: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      region: DataFrame,
      k: Int): DataFrame =
    lineitem
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("s_suppkey"), col("s_name"))
      .agg(
        sum(col("l_quantity")).as("units_sold"),
        decSum(lineRevenueDec(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        countDistinct(col("l_orderkey")).as("order_count"))
      .orderBy(col("revenue").desc, col("s_suppkey").asc)
      .limit(k)

  /** `salesTrends` (reference `app.py:157-179`, A4+J6): dim_time ⋈ orders on
    * the *expression* `to_date(o_orderdate) = date` — the reference joins
    * `DATE(o.order_date) = dt.date` — then items, bucketed by a whitelisted
    * `date_trunc` unit. dim_time is generated (never persisted) and
    * broadcast: it is thousands of rows even for a century. */
  def salesTrends(
      orders: DataFrame,
      lineitem: DataFrame,
      unit: String,
      dimStart: String,
      dimEnd: String): DataFrame = {
    require(Seq("day", "week", "month").contains(unit), s"interval $unit not whitelisted")
    val spark = orders.sparkSession
    val dim = DimTime(spark, dimStart, dimEnd)
    orders
      .join(broadcast(dim), to_date(col("o_orderdate")) === dim("date"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_trunc(unit, col("date")).as("bucket"))
      .agg(
        decSum(lineRevenueDec(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("order_count"))
      .orderBy(col("bucket"))
  }

  /** S8 — point lookup on a broadcast-able dim (reference `app.py:212`). */
  def categoryLookup(nation: DataFrame, region: DataFrame, nationKey: Int): DataFrame =
    nation
      .filter(col("n_nationkey") === lit(nationKey))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))

  /** J7 — 2-level hierarchy resolution (the reference's
    * `product_categories.parent_id` self-reference, `etl.py:39-58`):
    * roots ∪ children-with-parent-name. */
  def hierarchy(nation: DataFrame, region: DataFrame): DataFrame = {
    val roots = region.select(
      lit("region").as("level"),
      col("r_name").as("name"),
      lit(null).cast("string").as("parent"))
    val children = nation
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(lit("nation").as("level"), col("n_name").as("name"), col("r_name").as("parent"))
    roots.unionByName(children).orderBy(col("level"), col("name"))
  }

  /** S9 — the `updateProduct` mutation (reference `app.py:182-226`). Vanilla
    * Spark has no in-place update; the semantics is a conditional rewrite
    * (`CASE WHEN key = ? THEN new ELSE old`). In production this is a Delta/
    * Iceberg `MERGE`; the dataflow shape is identical. */
  def conditionalPriceUpdate(part: DataFrame, partKey: Long, newPrice: Double): DataFrame =
    part.select(
      col("p_partkey"),
      col("p_name"),
      col("p_retailprice").as("old_price"),
      when(col("p_partkey") === lit(partKey), lit(newPrice))
        .otherwise(col("p_retailprice")).as("new_price"),
      (col("p_partkey") === lit(partKey)).as("updated"))
}
