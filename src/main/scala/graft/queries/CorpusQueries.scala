package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.functions.Portable.wsTokens
import OracleSql.tokSql
import Tables.t

/** Corpus-level analytics a training-data pipeline runs before/after
  * filtering: n-gram frequency tables, vocabulary statistics, and a
  * user-funnel rollup over the events stream.
  */
object CorpusQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Corpus-wide top-20 word bigrams (explode -> count -> top-k). The
    // count shuffle moves (bigram, partial count) pairs — map-side combine
    // keeps it bounded by vocabulary, not corpus size.
    "q40_top_ngrams" -> ((s, dir) => {
      val w = col("w")
      t(s, dir, "documents")
        .select(wsTokens(col("text")).as("w"))
        .select(w, explode(sequence(lit(1), greatest(size(w) - 1, lit(1))))
          .as("i"))
        .filter(col("i") <= size(w) - 1)
        .select(concat_ws(" ", element_at(w, col("i")),
          element_at(w, col("i") + 1)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram"))
        .limit(20)
    }),

    // Vocabulary stats: corpus size, token totals, distinct vocabulary,
    // type-token ratio.
    "q41_vocab_stats" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(wsTokens(col("text"))).as("tok"))
      toks.agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"))
        .select(col("n_tokens"), col("n_vocab"),
          (col("n_vocab").cast("double") / col("n_tokens")).as("type_token_ratio"))
    }),

    // Funnel: users who signed up, then clicked after first signup, then
    // purchased after first click (event-time ordering via min timestamps).
    "q42_event_funnel" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
      val perUser = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts_us"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts_us"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("t_purchase"))
      perUser.agg(
        count(lit(1)).as("n_users"),
        count_if(col("t_signup").isNotNull).as("n_signup"),
        count_if(col("t_signup").isNotNull && col("t_click") > col("t_signup"))
          .as("n_signup_click"),
        count_if(col("t_signup").isNotNull && col("t_click") > col("t_signup")
          && col("t_purchase") > col("t_click")).as("n_full_funnel"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q40_top_ngrams" ->
      s"""WITH words AS (SELECT $tokSql AS w FROM documents),
          pos AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                  FROM words),
          bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram FROM pos)
          SELECT bigram, count(*) AS n FROM bg GROUP BY 1
          ORDER BY n DESC, bigram LIMIT 20""",

    "q41_vocab_stats" ->
      s"""WITH toks AS (SELECT unnest($tokSql) AS tok FROM documents)
          SELECT count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab,
                 count(DISTINCT tok) * 1.0 / count(*) AS type_token_ratio
          FROM toks""",

    "q42_event_funnel" ->
      """WITH per_user AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
                  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
           FROM events GROUP BY 1)
         SELECT count(*) AS n_users,
                CAST(count_if(t_signup IS NOT NULL) AS BIGINT) AS n_signup,
                CAST(count_if(t_signup IS NOT NULL AND t_click > t_signup)
                     AS BIGINT) AS n_signup_click,
                CAST(count_if(t_signup IS NOT NULL AND t_click > t_signup
                         AND t_purchase > t_click) AS BIGINT) AS n_full_funnel
         FROM per_user"""
  )
}
