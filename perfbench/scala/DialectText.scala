package perfbench

/** Dialect text of the dialect queries in the batch mix, as `SparkEntry` defines them.
  * Used only to time `Parser.parseStatement` on its own; `SparkEntry` parses
  * the same text again inside construction. A traced run checks that each
  * text still gives the same result as its `SparkEntry` query. */
object DialectText {
  val of: Map[String, String] = Map(
    "q_agg_basic" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_price, round(avg(l_discount), 6) AS avg_disc, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "q_join_multi_agg" ->
      "SELECT n.n_name AS nation, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS cnt FROM lineitem JOIN supplier s ON l_suppkey = s.s_suppkey JOIN nation n ON s.s_nationkey = n.n_nationkey GROUP BY n.n_name",
    "q_topk" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25",
    "q_window_session" ->
      "SELECT user_id, count(*) AS cnt, window_start() AS ws FROM events GROUP BY user_id, SessionWindow('1h') WITH (TIMESTAMP='ts')",
    "q_window_counting" ->
      "SELECT user_id, count(*) AS cnt, round(sum(value), 2) AS sv FROM events GROUP BY user_id, CountingWindow(5) WITH (TIMESTAMP='ts', TIEBREAK='event_id')",
    "q_lag" ->
      "SELECT user_id, event_id, round(value - lag(value, 1, 0) OVER (PARTITION BY user_id), 2) AS dv FROM events WITH (TIMESTAMP='ts', TIEBREAK='event_id')",
    "q_cep_pattern" ->
      "SELECT * FROM events MATCH_RECOGNIZE ( PARTITION BY user_id ORDER BY ts MEASURES MATCH_NUMBER() AS mn, LAST(A.value) AS lastv, FIRST(A.ts) - 0 AS t0 ONE ROW PER MATCH PATTERN (A{3}) WITHIN '60d' DEFINE A AS value > 50 )")
}
