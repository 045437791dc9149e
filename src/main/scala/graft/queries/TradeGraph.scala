package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The customer–supplier trade graph behind q123, q156, q158, q183, q202
  * and q226: one node per customer and per supplier, an edge in each
  * direction for every (customer, supplier) pair that share an order.
  *
  * The loops run on LONG node ids: a customer key `ck` is `ck·2` and a
  * supplier key `sk` is `sk·2+1`, an injective encoding of the two key
  * spaces. Every per-iteration hash join, repartition and aggregate then
  * hashes and compares 8-byte longs instead of prefixed strings, and the
  * per-iteration shuffles move narrower rows (round 19: shuffle bytes
  * −6–25 %, executor CPU −10–32 %). The prefixed `c:`/`s:` string ids the
  * oracle hashes are decoded once, in the final O(V) projection
  * ([[decode]]), so the output is identical to a string-id loop. The
  * pairs are made distinct on the 8-byte int pair before the encode
  * (§2.3 narrower types).
  */
object TradeGraph {

  /** (src, dst) trade edges, both directions, from the `orders` and
    * `lineitem` tables.
    */
  def edges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    build(orders, lineitem, None)

  /** (src, dst, w) trade edges, both directions, each pair carrying the
    * deterministic cost `1 + (ck + sk) % 5` in 1..5 — a function of the
    * keys, computed before the encode, so it is the same in both
    * directions.
    */
  def weightedEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    build(orders, lineitem, Some(lit(1L) + (col("ck") + col("sk")) % 5L))

  /** The node id of customer key `key`. */
  def customer(key: Column): Column = key.cast("long") * 2L

  /** The node id of supplier key `key`. */
  def supplier(key: Column): Column = key.cast("long") * 2L + 1L

  /** The `c:<custkey>` / `s:<suppkey>` string id of the long node id in
    * column `node`.
    */
  def decode(node: String): Column =
    expr(s"CASE WHEN $node % 2 = 0 THEN concat('c:', $node div 2) " +
      s"ELSE concat('s:', $node div 2) END")

  private def build(orders: DataFrame, lineitem: DataFrame,
                    w: Option[Column]): DataFrame = {
    val o = orders.select("o_orderkey", "o_custkey")
    val li = lineitem.select("l_orderkey", "l_suppkey")
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("ck"),
        col("l_suppkey").cast("long").as("sk"))
      .distinct()
      .select(Seq(customer(col("ck")).as("c"),
        supplier(col("sk")).as("sup")) ++ w.map(_.as("w")): _*)
    val weight = w.map(_ => col("w")).toSeq
    pairs.select(col("c").as("src") +: col("sup").as("dst") +: weight: _*)
      .unionAll(
        pairs.select(col("sup").as("src") +: col("c").as("dst") +: weight: _*))
  }
}
