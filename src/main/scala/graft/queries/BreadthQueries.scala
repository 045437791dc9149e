package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable.wsTokens
import OracleSql.tokSql
import Tables.t

/** Breadth batch 3: term weighting, decile histograms, pivot tables, and
  * regex extraction. The TF-IDF variant uses a rational (log-free) IDF so
  * every value is exact integer-ratio arithmetic — engine-portable without
  * tolerance; a production scorer would wrap `ln()` around the same ratio.
  */
object BreadthQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Term weighting: tf, df, and a log-free tf*(N/df) score per
    // (doc, token). One explode + two aggregations; the df table is
    // vocabulary-sized and broadcast by AQE.
    "q43_term_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // corpus size: metadata-only count, one cheap job
      // ONE tokenize+aggregate pass; doc_len and df derive from the tf
      // aggregate via window sums — no re-scan, no joins
      val tf = docs
        .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      tf
        .withColumn("doc_len",
          sum("tf").over(Window.partitionBy("doc_id")))
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy("tok")))
        .select(col("doc_id"), col("tok"), col("tf"), col("doc_len"), col("df"),
          (col("tf").cast("double") / col("doc_len") *
            (lit(n.toDouble) / col("df"))).as("score"))
        .orderBy("doc_id", "tok")
    }),

    // Decile histogram of order values: exact ntile over a total order,
    // computed distributed (GlobalOrder) — the naive
    // ntile().over(Window.orderBy(..)) collapses to ONE partition and
    // cannot scale; this matches its semantics bit-for-bit.
    "q44_ntile_histogram" -> ((s, dir) => {
      graft.ext.GlobalOrder.withNtile(
        t(s, dir, "orders").select("o_totalprice", "o_orderkey"),
        10, Seq(col("o_totalprice"), col("o_orderkey")), "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("decile")
    }),

    // Pivot: returnflag rows × linestatus columns of summed quantity.
    // Explicit values list so the output schema is static (required for
    // the oracle and, at scale, to avoid a discovery pass over the data).
    "q45_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")),

    // Regex extraction: structured capture groups out of string columns.
    "q46_regex_extract" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_extract(col("p_type"), "(\\w+)$", 1).as("last_type_word"))
        .orderBy("p_partkey")),

    // Deterministic 80/10/10 train/val/test split by content-hash bucket
    // (same doc_id -> same split, on any engine, forever).
    "q47_dataset_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          graft.ext.Sampling.splitAssign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),

    // Class-balanced cap: at most 10 documents per source, chosen by
    // doc_id order — the downsampling step of a mixture recipe.
    "q48_cap_per_group" -> ((s, dir) =>
      graft.ext.Sampling.capPerGroup(
        t(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", 10)
        .orderBy("source", "doc_id")),

    // Correlated scalar subquery: each customer's largest order (Catalyst
    // decorrelates to an aggregate + join).
    "q49_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q49_customer")
      t(s, dir, "orders").createOrReplaceTempView("q49_orders")
      val df = s.sql(
        """SELECT c_custkey,
                  (SELECT round(max(o_totalprice), 2) FROM q49_orders
                   WHERE o_custkey = c_custkey) AS max_order
           FROM q49_customer ORDER BY c_custkey""")
      // plan is resolved eagerly by sql(); drop the views so the only
      // queries-map entry with session side effects cleans up after itself
      s.catalog.dropTempView("q49_customer")
      s.catalog.dropTempView("q49_orders")
      df
    }),

    // HAVING: post-aggregation group filter (planned as Filter above the
    // final HashAggregate — no extra pass). Threshold 10 is non-trivial at
    // every bundled scale factor (max orders/customer at sf0.001 is 18).
    "q51_having" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("spend"))
        .filter(col("n_orders") >= 10)
        .orderBy("o_custkey")),

    // Union-by-name: schema-aligned union of differently-ordered inputs.
    "q52_union_by_name" -> ((s, dir) => {
      val a = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          lit("customer").as("kind"))
      val b = t(s, dir, "supplier")
        .select(lit("supplier").as("kind"), col("s_name").as("name"),
          col("s_suppkey").as("key")) // deliberately different column order
      a.unionByName(b).orderBy("kind", "key")
    }),

    // Array-function sweep over the embedding column: size, slicing,
    // element stats, sort/contains — the collection-type surface.
    "q50_array_funcs" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(v).cast("long").as("dim"),
        element_at(v, 1).as("first"),
        element_at(v, -1).as("last"),
        aggregate(slice(v, 1, 8), lit(0.0), _ + _).as("head8_sum"),
        array_min(v).as("min_val"),
        array_max(v).as("max_val"))
        .orderBy("vec_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q43_term_weights" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
          dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY 1),
          idf AS (SELECT tok, count(*) AS df
                  FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents)
          SELECT tf.doc_id, tf.tok, tf.tf, dl.doc_len, idf.df,
                 tf.tf * 1.0 / dl.doc_len * (n.n * 1.0 / idf.df) AS score
          FROM tf JOIN dl USING (doc_id) JOIN idf USING (tok), n
          ORDER BY doc_id, tok""",

    "q44_ntile_histogram" ->
      """WITH d AS (SELECT o_totalprice,
                    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
                    FROM orders)
         SELECT decile, count(*) AS n, round(min(o_totalprice), 2) AS lo,
                round(max(o_totalprice), 2) AS hi
         FROM d GROUP BY 1 ORDER BY decile""",

    "q45_pivot" ->
      """SELECT l_returnflag,
                round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
                round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "q46_regex_extract" ->
      """SELECT p_partkey,
                regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
                regexp_extract(p_name, '^(\w+)', 1) AS first_word,
                regexp_extract(p_type, '(\w+)$', 1) AS last_type_word
         FROM part ORDER BY p_partkey""",

    "q47_dataset_split" ->
      """WITH b AS (
           SELECT lang,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 10000 AS bucket
           FROM documents)
         SELECT lang,
                CASE WHEN bucket < 8000 THEN 'train'
                     WHEN bucket < 9000 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n
         FROM b GROUP BY 1, 2 ORDER BY lang, split""",

    "q48_cap_per_group" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn <= 10 ORDER BY source, doc_id""",

    "q49_scalar_subquery" ->
      """SELECT c_custkey,
                (SELECT round(max(o_totalprice), 2) FROM orders
                 WHERE o_custkey = c_custkey) AS max_order
         FROM customer ORDER BY c_custkey""",

    "q50_array_funcs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT vec_id, len(v) AS dim, v[1] AS first, v[-1] AS last,
                list_sum(v[1:8]) AS head8_sum,
                list_min(v) AS min_val, list_max(v) AS max_val
         FROM e ORDER BY vec_id""",

    "q51_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS spend
         FROM orders GROUP BY 1 HAVING count(*) >= 10
         ORDER BY o_custkey""",

    "q52_union_by_name" ->
      """SELECT key, name, kind FROM (
           SELECT c_custkey AS key, c_name AS name, 'customer' AS kind FROM customer
           UNION ALL
           SELECT s_suppkey AS key, s_name AS name, 'supplier' AS kind FROM supplier)
         ORDER BY kind, key"""
  )
}
