package graft

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.Relational
import graft.pipeline.CollectionsPipeline
import graft.ranking.RankingMetrics
import graft.similarity.Similarity
import graft.sources.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HllRegisters

/** The full query surface (SURVEY.md §2): every operator exposed as a
  * `(SparkSession, sfDir) => DataFrame`, with a DuckDB-equivalent
  * oracle SQL wherever the semantics are ANSI-expressible.
  *
  * Cross-engine hash-stability rules used throughout:
  *  - float aggregates are `round(…, 2|4|6)` identically on both sides;
  *  - every top-k has a total-order tiebreak;
  *  - derived integer columns are BIGINT on both sides;
  *  - timestamps are never emitted raw — always formatted strings or
  *    epoch millis.
  */
object Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    Tables.tune(s)
    if (name == "events") Tables.events(s, dir) else Tables(s, dir, name)
  }

  // ---------------------------------------------------------------
  // Core relational (reference-pipeline surface)
  // ---------------------------------------------------------------

  val q01_filter_project: QFn = (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag")

  val q01_sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_quantity > 45""".stripMargin

  val q02_agg_group: QFn = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q02_sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  val q03_join_agg: QFn = (s, d) =>
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))

  val q03_sql: String =
    """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  val q04_broadcast_dim: QFn = (s, d) =>
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"),
        round(avg("c_acctbal"), 4).as("avg_bal"))

  val q04_sql: String =
    """SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  val q05_sort_topk: QFn = (s, d) =>
    Relational.topK(
      t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal"),
      25, col("c_acctbal").desc, col("c_custkey").asc)

  val q05_sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_acctbal DESC, c_custkey LIMIT 25""".stripMargin

  val q06_window_rank: QFn = (s, d) =>
    Relational.groupTopK(
      t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
      3, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc))

  val q06_sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  val q07_distinct: QFn = (s, d) =>
    t(s, d, "customer").select("c_nationkey", "c_mktsegment").distinct()

  val q07_sql: String =
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"

  /** Union-merge: two "sources" of the same keyed entity merged by
    * key — the reference's merge_lists_and_categories
    * (create_merged.py:614). */
  val q08_union_merge: QFn = (s, d) => {
    val o = t(s, d, "orders")
    val a = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("key"), lit("open").as("src"),
        col("o_totalprice").as("score"))
    val b = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("key"), lit("urgent").as("src"),
        col("o_totalprice").as("score"))
    a.unionByName(b)
      .groupBy("key")
      .agg(count(lit(1)).as("n_sources"),
        min("src").as("primary_src"),
        round(max("score"), 2).as("score"))
  }

  val q08_sql: String =
    """SELECT key, count(*) AS n_sources, min(src) AS primary_src,
      |  round(max(score), 2) AS score
      |FROM (
      |  SELECT o_orderkey AS key, 'open' AS src, o_totalprice AS score
      |  FROM orders WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT o_orderkey AS key, 'urgent' AS src, o_totalprice AS score
      |  FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY key""".stripMargin

  val q09_semi_join: QFn = (s, d) =>
    t(s, d, "orders")
      .join(t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")

  val q09_sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin

  /** Customers with no finished order — the anti-join is against a
    * FILTERED orders side so the result is non-empty at every SF (an
    * anti-join on all orders matches zero customers in this data and
    * the oracle hash would verify an empty set). */
  val q10_anti_join: QFn = (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  val q10_sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  val q11_regex_filter: QFn = (s, d) =>
    t(s, d, "part")
      .filter(col("p_name").rlike("^(red|blue) .*(bolt|gear)$"))
      .select("p_partkey", "p_name", "p_brand")

  val q11_sql: String =
    """SELECT p_partkey, p_name, p_brand FROM part
      |WHERE regexp_matches(p_name, '^(red|blue) .*(bolt|gear)$')""".stripMargin

  val q12_tokenize_explode: QFn = (s, d) =>
    t(s, d, "part")
      .select(explode(TextFunctions.tokens(col("p_name"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))

  val q12_sql: String =
    """SELECT token, count(*) AS freq FROM (
      |  SELECT unnest(list_filter(regexp_split_to_array(trim(p_name), '\s+'),
      |    x -> len(x) > 0)) AS token
      |  FROM part)
      |GROUP BY token""".stripMargin

  /** Ordered member-list build per container — the reference's
    * Collection.members assembly, as string_agg for engine-portable
    * comparison. */
  val q13_collect_members: QFn = (s, d) =>
    t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(
        array_join(transform(array_sort(collect_list(col("o_orderkey"))),
          _.cast("string")), ",").as("members"),
        count(lit(1)).as("n_members"))

  val q13_sql: String =
    """SELECT o_custkey,
      |  string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS members,
      |  count(*) AS n_members
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Snapshot diff (update_es.py produce_update_operations): per-user
    * aggregate fingerprints of two event snapshots, classified
    * insert/update/delete/noop via one full-outer join. */
  val q14_snapshot_diff: QFn = (s, d) => {
    val e = t(s, d, "events")
    def snap(pred: Column): DataFrame =
      e.filter(pred).groupBy("user_id")
        .agg(md5(concat(count(lit(1)).cast("string"), lit("|"),
          round(sum("value"), 2).cast("string"))).as("fp"))
    Relational.snapshotDiff(
      snap(col("event_id") % 2 === 0), snap(col("event_id") % 2 === 1),
      "user_id", "fp")
      .select(col("key").as("user_id"), col("op"))
  }

  val q14_sql: String =
    """WITH prev AS (
      |  SELECT user_id, md5(count(*)::VARCHAR || '|' ||
      |    round(sum(value), 2)::VARCHAR) AS fp
      |  FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
      |curr AS (
      |  SELECT user_id, md5(count(*)::VARCHAR || '|' ||
      |    round(sum(value), 2)::VARCHAR) AS fp
      |  FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
      |SELECT coalesce(p.user_id, c.user_id) AS user_id,
      |  CASE WHEN p.fp IS NULL THEN 'insert'
      |       WHEN c.fp IS NULL THEN 'delete'
      |       WHEN p.fp <> c.fp THEN 'update'
      |       ELSE 'noop' END AS op
      |FROM prev p FULL OUTER JOIN curr c ON p.user_id = c.user_id""".stripMargin

  /** Snapshot-maintenance APPLY — the other half of q14
    * (update_es.py:249 produces the operations;
    * scripts/apply_operations.py:10 merges them into the maintained
    * index): given the previous snapshot and an insert/update/delete
    * op stream whose update ops carry ONLY the changed fields
    * (unchanged fields ship as NULL — the ES partial-`doc` update
    * contract), produce the next snapshot declaratively. Apply = one
    * keyed LEFT OUTER join snapshot×ops + a field-wise
    * `coalesce(op.field, snap.field)` (q32's merge idiom pointed at
    * mutation): absent op → row carried; delete → dropped; insert →
    * op fields; update → coalesce. Here the op stream is derived as
    * the q14 diff of the even/odd event halves, so the applied
    * result must equal the "current" snapshot EXACTLY — the closure
    * property apply(prev, diff(prev, curr)) == curr, spec-pinned;
    * the oracle replays the same apply. Values are exact BIGINT
    * cents. Scale shape: insert ops enter via the ops side of ONE
    * full-outer join on the snapshot key; both the diff and the
    * apply join share that key, and in a real deployment the op
    * stream is incremental (≪ snapshot) — broadcastable under the
    * size gate — while the snapshot side never reshuffles twice. */
  val q67_apply_ops: QFn = (s, d) => {
    val e = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    def snap(pred: Column): DataFrame =
      e.filter(pred).groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum("cents").cast("long").as("sum_cents"))
    // users ≡0 mod 5 are new in curr (inserts); ≡0 mod 7 vanished
    // (deletes); everyone else updates or carries
    val prev = snap(col("event_id") % 2 === 0 &&
        col("user_id") % 5 =!= 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prev.count() // feeds the diff AND the apply join (CLAUDE.md)
    val curr = snap(col("event_id") % 2 === 1 &&
      col("user_id") % 7 =!= 0)
    val ops = prev.as("p").join(curr.as("c"), Seq("user_id"),
        "full_outer")
      .select(col("user_id"),
        when(col("p.n_events").isNull, "insert")
          .when(col("c.n_events").isNull, "delete")
          .when(col("p.n_events") =!= col("c.n_events") ||
            col("p.sum_cents") =!= col("c.sum_cents"), "update")
          .otherwise("noop").as("op"),
        // update ops carry ONLY changed fields; inserts carry both
        when(col("p.n_events").isNull ||
          col("p.n_events") =!= col("c.n_events"),
          col("c.n_events")).as("n_new"),
        when(col("p.n_events").isNull ||
          col("p.sum_cents") =!= col("c.sum_cents"),
          col("c.sum_cents")).as("s_new"))
      .filter(col("op") =!= "noop")
    applyOps(prev, ops)
  }

  /** q67's APPLY core over any (user_id, n_events, sum_cents)
    * snapshot and (user_id, op, n_new, s_new) net-op set — shared
    * with the streaming maintainer
    * ([[graft.streaming.Streams.streamingApplyOps]]) and the fixture
    * specs so batch, stream and test can't diverge. Strict ES
    * partial-update semantics (the Round14OpsSpec.replay contract,
    * exactly): delete removes the key; insert REGROUNDS the row —
    * the op's fields verbatim, never coalesced from a superseded
    * row; update coalesces onto an EXISTING row only — an update on
    * an ABSENT key is a dropped no-op. The last two rules can't fire
    * differently in q67's diff-derived ops (inserts are always
    * snapshot-absent, updates always have a prev row — replace ≡
    * coalesce there) but CAN under a stream's batch split (a
    * post-delete update landing in a later micro-batch); enforcing
    * them here keeps foldBatch∘…∘foldBatch == sequential replay
    * across ANY split. One full-outer join on the snapshot key. */
  private[graft] def applyOps(snap: DataFrame, ops: DataFrame)
    : DataFrame =
    snap.select(col("user_id"), col("n_events"), col("sum_cents"),
        lit(1).as("s_present")).as("s")
      .join(ops.as("o"), Seq("user_id"), "full_outer")
      .filter(col("o.op").isNull || col("o.op") =!= "delete")
      .filter(col("s_present").isNotNull || col("o.op") === "insert")
      .select(col("user_id"),
        when(col("o.op") === "insert", col("o.n_new"))
          .otherwise(coalesce(col("o.n_new"), col("s.n_events")))
          .as("n_events"),
        when(col("o.op") === "insert", col("o.s_new"))
          .otherwise(coalesce(col("o.s_new"), col("s.sum_cents")))
          .as("sum_cents"))

  val q67_sql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |prev AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents
      |  FROM e WHERE event_id % 2 = 0 AND user_id % 5 <> 0
      |  GROUP BY user_id),
      |curr AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents
      |  FROM e WHERE event_id % 2 = 1 AND user_id % 7 <> 0
      |  GROUP BY user_id),
      |ops AS (SELECT coalesce(p.user_id, c.user_id) AS user_id,
      |    CASE WHEN p.n_events IS NULL THEN 'insert'
      |         WHEN c.n_events IS NULL THEN 'delete'
      |         WHEN p.n_events <> c.n_events
      |           OR p.sum_cents <> c.sum_cents THEN 'update'
      |         ELSE 'noop' END AS op,
      |    CASE WHEN p.n_events IS NULL
      |           OR p.n_events <> c.n_events
      |      THEN c.n_events END AS n_new,
      |    CASE WHEN p.n_events IS NULL
      |           OR p.sum_cents <> c.sum_cents
      |      THEN c.sum_cents END AS s_new
      |  FROM prev p FULL OUTER JOIN curr c ON p.user_id = c.user_id),
      |f AS (SELECT * FROM ops WHERE op <> 'noop')
      |SELECT coalesce(s.user_id, o.user_id) AS user_id,
      |  CAST(coalesce(o.n_new, s.n_events) AS BIGINT) AS n_events,
      |  CAST(coalesce(o.s_new, s.sum_cents) AS BIGINT) AS sum_cents
      |FROM prev s FULL OUTER JOIN f o ON s.user_id = o.user_id
      |WHERE o.op IS NULL OR o.op <> 'delete'""".stripMargin

  /** OP-LOG COMPACTION — the third of the snapshot-maintenance
    * family (q14 DIFFS two snapshots into ops, q67 APPLIES ops,
    * this COMPACTS a multi-op-per-key log into the one net op per
    * key — what a CDC pipeline ships downstream instead of the raw
    * log, and what every log-structured store's compaction does):
    *
    *   - the LAST GROUNDING op (insert/delete) per key makes
    *     everything before it irrelevant (an insert carries all
    *     fields; a delete erases state — updates after a delete are
    *     no-ops under the strict ES partial-update contract, q67's
    *     declared semantics);
    *   - net delete  ⇐ last grounding is a delete;
    *   - net insert  ⇐ last grounding is an insert, fields = per-
    *     field LAST non-null at-or-after it (the insert grounds
    *     every field, later partial updates override);
    *   - net update  ⇐ no grounding op: per-field last non-null
    *     over the updates; all-null merges are no-ops and dropped.
    *
    * Spec pins the defining property replay(compact(log)) ==
    * replay(log) against a sequential driver replay on hostile
    * sequences (insert→update→delete→update→insert, update-on-
    * absent, all-null updates) plus idempotence compact∘compact =
    * compact. Scale shape: ONE key-partitioned aggregate pass for
    * the grounding seq + a second over the at-or-after slice (both
    * collapse map-side; `max_by … FILTER` keeps the per-field
    * last-write-wins inside the aggregate — no window sort), joined
    * on the op-log key; |log|-bounded throughout, never touching a
    * snapshot. Seq/field values exact BIGINTs. */
  val q68_compact_ops: QFn = (s, d) => {
    val ops = compactOpLog(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ops.count() // feeds the grounding pass AND the field merge
    compactOps(ops)
  }

  /** q68's compaction core over any (user_id, seq, op, n_new, s_new)
    * log — shared with the fixture specs so test and query can't
    * diverge. */
  private[graft] def compactOps(ops: DataFrame): DataFrame = {
    val g = ops.groupBy("user_id").agg(
      max(when(col("op") =!= "update", col("seq"))).as("gseq"),
      expr("max_by(op, seq) FILTER (WHERE op <> 'update')")
        .as("gop"))
    ops.join(g, Seq("user_id"))
      .filter(col("gseq").isNull || col("seq") >= col("gseq"))
      .groupBy("user_id")
      .agg(max(col("gop")).as("gop"),
        expr("max_by(n_new, seq) FILTER (WHERE n_new IS NOT NULL)")
          .as("n_med"),
        expr("max_by(s_new, seq) FILTER (WHERE s_new IS NOT NULL)")
          .as("s_med"))
      .select(col("user_id"),
        coalesce(col("gop"), lit("update")).as("op"),
        when(coalesce(col("gop"), lit("update")) =!= "delete",
          col("n_med")).as("n_new"),
        when(coalesce(col("gop"), lit("update")) =!= "delete",
          col("s_med")).as("s_new"))
      .filter(col("op") =!= "update" ||
        col("n_new").isNotNull || col("s_new").isNotNull)
  }

  /** The deterministic multi-op-per-key log q68 compacts — derived
    * from events so every path is exercised (deletes, full inserts,
    * partial updates on alternating fields, update-only keys). */
  private[graft] def compactOpLog(s: SparkSession, d: String)
    : DataFrame =
    t(s, d, "events")
      .select(col("user_id"), col("event_id").as("seq"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .select(col("user_id"), col("seq"),
        when(col("seq") % 13 === 0, "delete")
          .when(col("seq") % 3 === 0, "insert")
          .otherwise("update").as("op"),
        col("cents"))
      .select(col("user_id"), col("seq"), col("op"),
        when(col("op") === "insert", col("cents"))
          .when(col("op") === "update" && col("seq") % 2 === 0,
            col("cents")).as("n_new"),
        when(col("op") === "insert", col("cents") * 2)
          .when(col("op") === "update" && col("seq") % 2 === 1,
            col("cents") * 3).as("s_new"))

  val q68_sql: String =
    """WITH raw AS (SELECT user_id, event_id AS seq,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |ops AS (SELECT user_id, seq,
      |    CASE WHEN seq % 13 = 0 THEN 'delete'
      |         WHEN seq % 3 = 0 THEN 'insert'
      |         ELSE 'update' END AS op, cents
      |  FROM raw),
      |log AS (SELECT user_id, seq, op,
      |    CASE WHEN op = 'insert' THEN cents
      |         WHEN op = 'update' AND seq % 2 = 0 THEN cents
      |    END AS n_new,
      |    CASE WHEN op = 'insert' THEN cents * 2
      |         WHEN op = 'update' AND seq % 2 = 1 THEN cents * 3
      |    END AS s_new
      |  FROM ops),
      |g AS (SELECT user_id,
      |    max(CASE WHEN op <> 'update' THEN seq END) AS gseq,
      |    arg_max(op, seq) FILTER (WHERE op <> 'update') AS gop
      |  FROM log GROUP BY user_id),
      |m AS (SELECT l.user_id, max(g.gop) AS gop,
      |    arg_max(n_new, seq) FILTER (WHERE n_new IS NOT NULL)
      |      AS n_med,
      |    arg_max(s_new, seq) FILTER (WHERE s_new IS NOT NULL)
      |      AS s_med
      |  FROM log l JOIN g ON l.user_id = g.user_id
      |  WHERE g.gseq IS NULL OR l.seq >= g.gseq
      |  GROUP BY l.user_id)
      |SELECT user_id, coalesce(gop, 'update') AS op,
      |  CAST(CASE WHEN coalesce(gop, 'update') <> 'delete'
      |    THEN n_med END AS BIGINT) AS n_new,
      |  CAST(CASE WHEN coalesce(gop, 'update') <> 'delete'
      |    THEN s_med END AS BIGINT) AS s_new
      |FROM m
      |WHERE coalesce(gop, 'update') <> 'update'
      |   OR n_med IS NOT NULL OR s_med IS NOT NULL""".stripMargin

  /** Interesting-score analog (create_merged.py:82): weighted
    * deterministic score from typed features.
    *
    * Computed in INTEGER space (score x 1e7 is exact because acctbal
    * is 2-dp money) with the HALF_UP 4-dp round done by integer
    * arithmetic. The naive float form — round(weighted sum, 4) —
    * lands on an exact .xxxx5 tie for a systematic slice of rows
    * (2-dp inputs x decimal weights terminate at 5-7 digits), and
    * Spark round (decimal repr, HALF_UP) vs other engines' round
    * (binary) then disagree: observed as 10 mismatched rows at sf0.1.
    */
  val q15_scoring: QFn = (s, d) => {
    val cents = round(col("c_acctbal") * 100, 0).cast("long")
    val scaled = least(cents, lit(1000000L)) * 5 +
      when(col("c_mktsegment") === "BUILDING", 3000000L)
        .otherwise(0L) +
      pmod(col("c_custkey"), lit(10)) * 200000L
    // HALF_UP = round half AWAY FROM ZERO — acctbal (and so the
    // score) can be negative, where floor((x+500)/1000) would round
    // toward +inf instead; mirror the sign explicitly
    val rounded = when(scaled >= 0,
      floor((scaled + 500) / lit(1000.0)))
      .otherwise(-floor((-scaled + 500) / lit(1000.0)))
    t(s, d, "customer")
      .select(col("c_custkey"), (rounded / 10000.0).as("score"))
  }

  val q15_sql: String =
    """WITH t AS (SELECT c_custkey,
      |    least(CAST(round(c_acctbal * 100) AS BIGINT), 1000000) * 5
      |    + (CASE WHEN c_mktsegment = 'BUILDING' THEN 3000000 ELSE 0 END)
      |    + (c_custkey % 10) * 200000 AS scaled
      |  FROM customer)
      |SELECT c_custkey,
      |  -- BIGINT cast: DuckDB floor returns DOUBLE and -floor(0.4)
      |  -- is negative zero, which hashes as '-0.0' vs Spark's '0.0'
      |  CAST(CASE WHEN scaled >= 0 THEN floor((scaled + 500) / 1000.0)
      |       ELSE -floor((-scaled + 500) / 1000.0) END AS BIGINT)
      |    / 10000.0 AS score
      |FROM t""".stripMargin

  /** Deterministic content-hash id (label_to_hash / namehash analog,
    * create_merged.py:807) over the normalized name. */
  val q16_hash_id: QFn = (s, d) =>
    t(s, d, "customer")
      .select(col("c_custkey"),
        md5(lower(trim(col("c_name")))).as("name_hash"))

  val q16_sql: String =
    "SELECT c_custkey, md5(lower(trim(c_name))) AS name_hash FROM customer"

  /** The REAL ENS id (q16's md5 was a stand-in): ERC-137 namehash —
    * recursive keccak-256 label fold — of the curated name under
    * .eth, via the codegen'd [[org.apache.spark.sql.graft
    * .NamehashExpr]]. Byte-for-byte the ids the reference exports
    * (create_merged.py:807-826). FULL DuckDB oracle since round 15:
    * [[KeccakOracleSql]] unrolls keccak-f[1600] into recursive-CTE
    * rounds of scalar UBIGINT arithmetic, so the last "no SQL engine
    * mirrors this" exemption is gone; the published ERC-137 / Keccak
    * vector pins stay in Round6OpsSpec as the independent anchor. */
  val q16b_namehash: QFn = (s, d) => {
    val label = graft.text.Normalize.curatedName(col("c_name"))
    t(s, d, "customer")
      .select(col("c_custkey"), label.as("label"),
        graft.text.Normalize.namehash(concat(label, lit(".eth")))
          .as("node"))
  }

  /** Mirrors [[q16b_namehash]]: the curated label is q20's
    * expression, the namehash chain is [[KeccakOracleSql]]. */
  val q16b_sql: String = KeccakOracleSql.namehashSql(
    labelSql = """regexp_replace(regexp_replace(lower(trim(
                 |    nfc_normalize(c_name))), '\s+', ' ', 'g'),
                 |    '\.eth$', '')""".stripMargin,
    keyCol = "c_custkey",
    srcTable = "customer",
    outCols =
      "l.key AS c_custkey, l.label AS label, c.node AS node")

  val q17_related_overlap: QFn = (s, d) =>
    Relational.topK(
      Relational.relatedByOverlap(
        t(s, d, "lineitem").select("l_suppkey", "l_partkey"),
        "l_suppkey", "l_partkey"),
      50, col("shared").desc, col("c1").asc, col("c2").asc)

  val q17_sql: String =
    """WITH m AS (SELECT DISTINCT l_suppkey AS c, l_partkey AS i FROM lineitem),
      |f AS (SELECT i FROM m GROUP BY i HAVING count(*) <= 1000),
      |p AS (SELECT m.c, m.i FROM m JOIN f USING (i))
      |SELECT a.c AS c1, b.c AS c2, count(*) AS shared
      |FROM p a JOIN p b ON a.i = b.i AND a.c < b.c
      |GROUP BY a.c, b.c
      |ORDER BY shared DESC, c1, c2 LIMIT 50""".stripMargin

  val q18_json_extract: QFn = (s, d) =>
    t(s, d, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))

  val q18_sql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events WHERE event_type = 'click'""".stripMargin

  /** End-to-end collection build (the reference's whole DAG in one
    * declarative pipeline — see [[CollectionsPipeline]]). */
  val q19_collection_pipeline: QFn = (s, d) => {
    val o = t(s, d, "orders")
    CollectionsPipeline.build(
      Seq(
        o.filter(col("o_orderstatus") === "O")
          .select("o_custkey", "o_orderkey", "o_totalprice"),
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey", "o_orderkey", "o_totalprice")),
      "o_custkey", "o_orderkey", "o_totalprice", topK = 5)
  }

  val q19_sql: String =
    """WITH m AS (
      |  SELECT o_custkey AS ckey, o_orderkey AS member,
      |    o_totalprice AS mscore
      |  FROM orders WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT o_custkey, o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |d AS (SELECT ckey, member, max(mscore) AS mscore
      |  FROM m GROUP BY ckey, member),
      |r AS (SELECT *, row_number() OVER (PARTITION BY ckey
      |    ORDER BY mscore DESC, member) AS rn FROM d),
      |stats AS (SELECT ckey, count(*) AS n_members,
      |    round(sum(mscore), 2) AS total_score FROM d GROUP BY ckey),
      |tops AS (SELECT ckey,
      |    string_agg(member::VARCHAR, ',' ORDER BY rn) AS top_members
      |  FROM r WHERE rn <= 5 GROUP BY ckey)
      |SELECT stats.ckey, n_members, total_score, top_members,
      |  md5(stats.ckey::VARCHAR) AS collection_id
      |FROM stats JOIN tops ON stats.ckey = tops.ckey""".stripMargin

  /** Name curation / canonicalization (force_normalize analog):
    * NFC (custom codegen'd expression) + case/whitespace canonical
    * form + suffix strip + canonical hash. */
  val q20_normalize_names: QFn = (s, d) =>
    t(s, d, "customer")
      .select(col("c_custkey"),
        graft.text.Normalize.curatedName(col("c_name")).as("label"),
        md5(graft.text.Normalize.canonicalLabel(col("c_name")))
          .as("label_hash"))

  val q20_sql: String =
    """SELECT c_custkey,
      |  regexp_replace(regexp_replace(lower(trim(nfc_normalize(c_name))),
      |    '\s+', ' ', 'g'), '\.eth$', '') AS label,
      |  md5(regexp_replace(lower(trim(nfc_normalize(c_name))),
      |    '\s+', ' ', 'g')) AS label_hash
      |FROM customer""".stripMargin

  /** NDCG@5 ranking quality per customer: predicted order = price
    * desc; relevance = order priority grade (learning-to-rank eval
    * analog). */
  val q21_ndcg: QFn = (s, d) => {
    val rel = when(col("o_orderpriority") === "1-URGENT", 2.0)
      .when(col("o_orderpriority") === "2-HIGH", 1.0).otherwise(0.0)
    RankingMetrics.ndcgAtK(
      t(s, d, "orders"), "o_custkey", rel,
      predictedOrder = Seq(col("o_totalprice").desc,
        col("o_orderkey").asc),
      tiebreak = Seq(col("o_orderkey").asc), k = 5)
  }

  val q21_sql: String = {
    // weights hardcoded independently of RankingMetrics.discountWeights
    // (1/log2(i+1), 5dp — see that Scaladoc for why 5) so a formula
    // bug there cannot cancel out in the parity check
    val ws = Seq(1.0, 0.63093, 0.5, 0.43068, 0.38685)
    def wCase(rn: String): String =
      (1 to 5).map(i => s"WHEN $rn = $i THEN ${ws(i - 1)}")
        .mkString("CASE ", " ", " ELSE 0.0 END")
    s"""WITH base AS (SELECT o_custkey, o_orderkey, o_totalprice,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 2.0
       |         WHEN o_orderpriority = '2-HIGH' THEN 1.0
       |         ELSE 0.0 END AS rel
       |  FROM orders),
       |ranked AS (SELECT *,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_totalprice DESC, o_orderkey) AS rn_pred,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY rel DESC, o_orderkey) AS rn_ideal
       |  FROM base),
       |agg AS (SELECT o_custkey,
       |    round(sum(rel * (${wCase("rn_pred")})), 6) AS dcg,
       |    round(sum(rel * (${wCase("rn_ideal")})), 6) AS idcg
       |  FROM ranked GROUP BY o_custkey)
       |SELECT o_custkey, dcg, idcg,
       |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 4) ELSE 0.0 END AS ndcg
       |FROM agg""".stripMargin
  }

  /** Deterministic avatar/emoji assignment (AvatarEmoji.get_emoji,
    * create_merged.py:849): hash-bucket the canonical name into a
    * small pool dim and broadcast-join the pick. */
  val q22_avatar_assign: QFn = (s, d) => {
    val bucket = md5Bucket(lower(trim(col("c_name")))) % 25
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")),
        bucket === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("avatar"))
  }

  val q22_sql: String =
    """SELECT c_custkey, n_name AS avatar
      |FROM customer JOIN nation
      |ON (('0x' || substr(md5(lower(trim(c_name))), 1, 8))::BIGINT % 25)
      |   = n_nationkey""".stripMargin

  /** Prefix/suffix mining (research/collection-name-normalization:
    * most-popular-prefixes.py / most-popular-suffixes.py): first/last
    * token frequencies over the corpus. */
  val q23_affix_freq: QFn = (s, d) => {
    val toks = TextFunctions.tokens(col("p_name"))
    val p = t(s, d, "part")
    val pre = p.select(try_element_at(toks, lit(1)).as("affix"),
      lit("prefix").as("kind"))
    val suf = p.select(try_element_at(toks, lit(-1)).as("affix"),
      lit("suffix").as("kind"))
    pre.unionByName(suf)
      .groupBy("affix", "kind")
      .agg(count(lit(1)).as("freq"))
  }

  val q23_sql: String =
    """WITH toks AS (SELECT list_filter(regexp_split_to_array(trim(p_name), '\s+'),
      |    x -> len(x) > 0) AS t FROM part)
      |SELECT affix, kind, count(*) AS freq FROM (
      |  SELECT t[1] AS affix, 'prefix' AS kind FROM toks
      |  UNION ALL
      |  SELECT t[-1] AS affix, 'suffix' AS kind FROM toks)
      |GROUP BY affix, kind""".stripMargin

  /** Exact discrete percentiles per group (price distribution stats —
    * the popularity/qrank percentile analysis analog). Discrete (the
    * value at rank ⌈p·n⌉) rather than interpolated on purpose: the
    * result is an ACTUAL data value, bit-identical in every engine —
    * interpolated quantiles differ by 1 ulp across engines and flip
    * 2-dp rounding at .xx5 boundaries (observed at sf0.001). At
    * 100 TB the same stats come from approx_percentile; this is the
    * exact, oracle-comparable form. */
  val q25_quantiles: QFn = (s, d) => {
    val w = Window.partitionBy("l_returnflag")
      .orderBy("l_extendedprice")
    def pick(p: Double, name: String) =
      round(max(when(col("rn") === ceil(col("n") * p),
        col("l_extendedprice"))), 2).as(name)
    t(s, d, "lineitem")
      .select("l_returnflag", "l_extendedprice")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("l_returnflag")))
      .groupBy("l_returnflag")
      .agg(pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))
  }

  val q25_sql: String =
    """WITH r AS (SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  round(max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END), 2) AS p50,
      |  round(max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END), 2) AS p90,
      |  round(max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END), 2) AS p99
      |FROM r GROUP BY l_returnflag""".stripMargin

  /** ROLLUP hierarchy totals (OLAP cube slice — collection counts at
    * every hierarchy level). */
  val q26_rollup: QFn = (s, d) =>
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_extendedprice"), 2).as("revenue"),
        count(lit(1)).as("n"))

  val q26_sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Declarative cross-tab: per-user event counts pivoted by type
    * (explicit value list keeps columns deterministic at any scale —
    * pivot without values triggers an extra distinct job). */
  val q27_pivot: QFn = (s, d) =>
    t(s, d, "events")
      .groupBy("user_id")
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))

  val q27_sql: String =
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin

  /** Deterministic hash split (train/val/test): content-hash bucket,
    * engine-portable (md5), reproducible across runs and engines —
    * the right way to carve eval sets out of a 100 TB corpus (a
    * rand() sample is neither reproducible nor join-stable). */
  val q28_hash_split: QFn = (s, d) => {
    val bucket = md5Bucket(col("o_orderkey").cast("string")) % 100
    t(s, d, "orders")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
  }

  val q28_sql: String =
    """SELECT CASE
      |    WHEN (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 100) < 80 THEN 'train'
      |    WHEN (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 100) < 90 THEN 'val'
      |    ELSE 'test' END AS split,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // Text analysis (documents)
  // ---------------------------------------------------------------

  val t01_token_count: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.wordPieceCount(col("text")).as("n_pieces"),
        col("n_chars"))

  val t01_sql: String =
    """SELECT doc_id,
      |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |    x -> len(x) > 0))::BIGINT AS n_tokens,
      |  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    x -> len(x) > 0))::BIGINT AS n_pieces,
      |  n_chars
      |FROM documents""".stripMargin

  val t02_quality_score: QFn = (s, d) => {
    val base = t(s, d, "documents").select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
      TextFunctions.meanTokenLen(col("text")).as("mean_tok_len"))
    base.withColumn("quality",
      round(least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
        (lit(1.0) - least(col("punct_ratio") * 5, lit(1.0))) * 0.25 +
        least(col("stop_ratio") * 4, lit(1.0)) * 0.25, 4))
  }

  val t02_sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> len(x) > 0))::BIGINT AS n_tokens,
      |    round((len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))
      |      / greatest(len(text), 1), 4) AS punct_ratio,
      |    round(len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |        x -> len(x) > 0),
      |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
      |      / greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |        x -> len(x) > 0)), 1), 4) AS stop_ratio,
      |    round(list_sum(list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |        x -> len(x) > 0), x -> len(x)))
      |      / greatest(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |        x -> len(x) > 0)), 1), 4) AS mean_tok_len
      |  FROM documents)
      |SELECT doc_id, n_tokens, punct_ratio, stop_ratio, mean_tok_len,
      |  round(least(n_tokens / 100.0, 1.0) * 0.5 +
      |    (1.0 - least(punct_ratio * 5, 1.0)) * 0.25 +
      |    least(stop_ratio * 4, 1.0) * 0.25, 4) AS quality
      |FROM base""".stripMargin

  val t03_langid: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang").as("true_lang"),
        TextFunctions.langId(col("text")).as("pred_lang"))

  val t03_sql: String = {
    def hits(lex: Seq[String]): String =
      s"""len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0),
         |    x -> list_contains([${lex.map("'" + _ + "'").mkString(",")}], x)))""".stripMargin
    val lx = TextFunctions.langLexicon
    s"""WITH h AS (SELECT doc_id, lang,
       |  ${hits(lx("en"))} AS s_en,
       |  ${hits(lx("de"))} AS s_de,
       |  ${hits(lx("fr"))} AS s_fr,
       |  ${hits(lx("es"))} AS s_es
       |  FROM documents)
       |SELECT doc_id, lang AS true_lang,
       |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       |       WHEN s_en >= s_de THEN 'en'
       |       ELSE 'de' END AS pred_lang
       |FROM h""".stripMargin
  }

  /** LANGUAGE-ID ACCURACY AUDIT — the s09/d12/d16 discipline applied
    * to t03: the documents table carries a ground-truth `lang`
    * column, so the stopword-profile classifier's confusion matrix
    * is measurable, not assumed. Per (true, predicted) cell: count
    * and the within-language share in HALF_UP integer ppm (exact
    * BIGINT idiom). The matrix is |langs|²-bounded; both aggregates
    * collapse map-side; the tiny cell table persists once for its
    * two consumers (totals + output join). */
  val t18_langid_confusion: QFn = (s, d) => {
    // audit role (declared in AuditFence + Queries.auditRoleKeys):
    // the confusion truth is ONE label-keyed O(n) aggregate
    val cm = graft.tools.AuditFence.fenced("t18_langid_confusion",
        t(s, d, "documents"))
      .select(col("lang").as("true_lang"),
        TextFunctions.langId(col("text")).as("pred_lang"))
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cm.count() // feeds the per-language totals AND the output join
    val tot = cm.groupBy("true_lang").agg(sum("n").as("n_lang"))
    cm.join(tot, Seq("true_lang"))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        col("n_lang"),
        expr("CAST((2 * 1000000 * n + n_lang) DIV (2 * n_lang)" +
          " AS BIGINT)").as("share_ppm"))
  }

  val t18_sql: String = {
    def hits(lex: Seq[String]): String =
      s"""len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0),
         |    x -> list_contains([${lex.map("'" + _ + "'").mkString(",")}], x)))""".stripMargin
    val lx = TextFunctions.langLexicon
    s"""WITH h AS (SELECT lang,
       |  ${hits(lx("en"))} AS s_en,
       |  ${hits(lx("de"))} AS s_de,
       |  ${hits(lx("fr"))} AS s_fr,
       |  ${hits(lx("es"))} AS s_es
       |  FROM documents),
       |p AS (SELECT lang AS true_lang,
       |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       |       WHEN s_en >= s_de THEN 'en'
       |       ELSE 'de' END AS pred_lang
       |  FROM h),
       |cm AS (SELECT true_lang, pred_lang,
       |    CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
       |tot AS MATERIALIZED (SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_lang
       |  FROM cm GROUP BY 1)
       |SELECT cm.true_lang, cm.pred_lang, n, n_lang,
       |  CAST((2 * 1000000 * n + n_lang) // (2 * n_lang) AS BIGINT)
       |    AS share_ppm
       |FROM cm JOIN tot ON cm.true_lang = tot.true_lang""".stripMargin
  }

  /** Per-collection token-count map — preprocessing_service.py:14-16
    * verbatim at the semantic level: the reference Counter()s the
    * tokens of every collection's member names
    * (`tokenized_names_counts`); here each brand's part-name tokens
    * aggregate to (token, count) cells and the map emits as the md5
    * of the "tok:count" cells sorted BY THAT CONCATENATED STRING on
    * both engines (sorting by token alone can diverge from
    * concat-order when one token prefixes another — same-keyed
    * order on both sides is the q62 members_md5 idiom). Two
    * map-side-collapsing aggregates, output \|brands\| rows. */
  val q64_token_count_map: QFn = (s, d) => {
    val cells = t(s, d, "part")
      .select(col("p_brand"),
        explode(TextFunctions.tokens(lower(col("p_name")))).as("tok"))
      .groupBy("p_brand", "tok").agg(count(lit(1)).as("c"))
    cells.groupBy("p_brand")
      .agg(count(lit(1)).as("n_distinct"),
        sum("c").cast("long").as("n_tokens"),
        md5(concat_ws(",", sort_array(collect_list(
          concat(col("tok"), lit(":"), col("c"))))))
          .as("counts_md5"))
  }

  val q64_sql: String =
    """WITH tk AS (SELECT p_brand, unnest(list_filter(
      |    regexp_split_to_array(lower(trim(p_name)), '\s+'),
      |    x -> len(x) > 0)) AS tok FROM part),
      |cells AS (SELECT p_brand, tok || ':' || count(*) AS cell,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tk GROUP BY p_brand, tok)
      |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(list(cell ORDER BY cell), ','))
      |    AS counts_md5
      |FROM cells GROUP BY p_brand""".stripMargin

  /** Membership/type cardinality audit — scripts/stats_members_type
    * .py:22-41 verbatim at the semantic level: the reference counts
    * total member occurrences, unique members, unique (member, type)
    * pairs, unique category types, and how many unique members map
    * into the wikidata index. Here orders are the typed containers
    * (o_orderpriority = category type), lineitems the member
    * occurrences, and the part table the id-mapping index (the
    * WikiMapper analog: a member "maps" iff its partkey exists
    * there). ONE summary row, all BIGINTs. Scale shape: one
    * orderkey-keyed join, the multi-distinct agg expands to one
    * grouped pass per distinct spec (Catalyst's expand — each still
    * map-side combines), and the mapped count is a distinct + LEFT
    * SEMI against the index side. */
  val q65_member_type_stats: QFn = (s, d) => {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val ord = t(s, d, "orders")
      .select(col("o_orderkey").as("ok"),
        col("o_orderpriority").as("typ"))
    val mt = li.join(ord, Seq("ok"))
    val base = mt.agg(
      count(lit(1)).cast("long").as("members_total"),
      countDistinct(col("pk")).as("members_unique"),
      countDistinct(col("pk"), col("typ")).as("member_type_pairs"),
      countDistinct(col("typ")).as("types_unique"))
    val mapped = li.select("pk").distinct()
      .join(t(s, d, "part").select(col("p_partkey").as("pk")),
        Seq("pk"), "left_semi")
      .agg(count(lit(1)).cast("long").as("members_mapped"))
    base.crossJoin(mapped) // two 1-row frames — scalar combine
  }

  val q65_sql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |mt AS (SELECT pk, o_orderpriority AS typ
      |  FROM li JOIN orders ON ok = o_orderkey)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM mt) AS members_total,
      |  (SELECT CAST(count(DISTINCT pk) AS BIGINT) FROM mt)
      |    AS members_unique,
      |  (SELECT CAST(count(*) AS BIGINT) FROM
      |    (SELECT DISTINCT pk, typ FROM mt)) AS member_type_pairs,
      |  (SELECT CAST(count(DISTINCT typ) AS BIGINT) FROM mt)
      |    AS types_unique,
      |  (SELECT CAST(count(*) AS BIGINT) FROM
      |    (SELECT DISTINCT pk FROM li WHERE pk IN
      |      (SELECT p_partkey FROM part))) AS members_mapped"""
      .stripMargin

  /** Flesch–Kincaid-style READABILITY grade per document — the
    * classic curation signal (too-low and too-high grades both flag
    * non-prose). Syllables are the standard public heuristic (vowel
    * GROUPS, `[aeiouy]+` matches), sentences are `[.!?]+` runs (this
    * corpus has none — the column degenerates to the clamp floor of
    * 1, declared; real crawls vary it), words are the t01 tokenizer.
    * Grade = 0.39·W/T + 11.8·Y/W − 15.59, computed EXACTLY in milli
    * units by integer cross-multiplication over the common
    * denominator W·T, then ONE sign-aware HALF_UP integer division
    * (q50's idiom — a float grade is a small rational and ties at
    * any rounding digit). Pure per-row codegen map, zero shuffles. */
  val t19_readability: QFn = (s, d) => {
    val txt = lower(trim(col("text")))
    t(s, d, "documents")
      .select(col("doc_id"),
        greatest(lit(1L), size(TextFunctions.tokens(txt)).cast("long"))
          .as("w"),
        greatest(lit(1L),
          size(regexp_extract_all(txt, lit("[.!?]+"), lit(0)))
            .cast("long")).as("t"),
        greatest(lit(1L),
          size(regexp_extract_all(txt, lit("[aeiouy]+"), lit(0)))
            .cast("long")).as("y"))
      .withColumn("num",
        lit(390L) * col("w") * col("w")
          + lit(11800L) * col("y") * col("t")
          - lit(15590L) * col("w") * col("t"))
      .withColumn("den", col("w") * col("t"))
      .select(col("doc_id"), col("w").as("words"),
        col("t").as("sentences"), col("y").as("syllables"),
        expr("CAST(CASE WHEN num >= 0" +
          " THEN (2 * num + den) DIV (2 * den)" +
          " ELSE -((2 * (-num) + den) DIV (2 * den)) END AS BIGINT)")
          .as("fk_milli"))
  }

  val t19_sql: String =
    """WITH b AS (SELECT doc_id,
      |    greatest(1, len(list_filter(
      |      regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0))) AS w,
      |    greatest(1, len(regexp_extract_all(lower(trim(text)),
      |      '[.!?]+'))) AS t,
      |    greatest(1, len(regexp_extract_all(lower(trim(text)),
      |      '[aeiouy]+'))) AS y
      |  FROM documents),
      |n AS (SELECT doc_id, w, t, y,
      |    390*w*w + 11800*y*t - 15590*w*t AS num, w*t AS den FROM b)
      |SELECT doc_id, CAST(w AS BIGINT) AS words,
      |  CAST(t AS BIGINT) AS sentences, CAST(y AS BIGINT) AS syllables,
      |  CAST(CASE WHEN num >= 0 THEN (2*num + den) // (2*den)
      |    ELSE -((2*(-num) + den) // (2*den)) END AS BIGINT)
      |    AS fk_milli
      |FROM n""".stripMargin

  /** Cross-document boilerplate share per doc — see
    * [[TextFunctions.boilerplateShare]]. 5-gram shingles (the family
    * level d07/d10 share), df ≥ 2 = "appears in any OTHER doc". */
  val t20_boilerplate: QFn = (s, d) =>
    TextFunctions.boilerplateShare(t(s, d, "documents"), "doc_id",
      "text", n = 5, minDf = 2L)

  // lazy: shingleToksSql is declared further down the object body
  lazy val t20_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 3, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       |      t[i+3] || ' ' || t[i+4])) AS shingles
       |  FROM toks WHERE len(t) >= 5),
       |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |df AS (SELECT shingle, count(*) AS df FROM post GROUP BY 1),
       |j AS (SELECT p.doc_id,
       |    count(*) AS n_shingles,
       |    CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_boiler
       |  FROM post p JOIN df ON p.shingle = df.shingle
       |  GROUP BY p.doc_id)
       |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       |  n_boiler,
       |  CAST((2 * 1000000 * n_boiler + n_shingles)
       |    // (2 * n_shingles) AS BIGINT) AS boiler_ppm
       |FROM j""".stripMargin

  /** C4-style rule bundle (Raffel et al. 2020's public cleaning
    * heuristics — the OTHER canonical filter battery next to t15's
    * Gopher thresholds; C4 is substring/punctuation-shaped where
    * Gopher is ratio-shaped): per doc, flags for the doc-level C4
    * rules expressible on this corpus — no curly brace (code), no
    * "lorem ipsum" placeholder, no "javascript" token (the
    * enable-JS boilerplate tell), ≥ 3 whitespace words, terminal
    * sentence punctuation present, and no line shorter than 3 words
    * (lines = newline splits; this corpus is single-line, so the
    * rule degenerates to the doc-level word count — declared, the
    * column is live on real crawls). Pure per-row whole-stage
    * codegen, zero shuffles — the 100 TB shape of every rule
    * battery. `passes` multiplies the flags (C4 drops a doc failing
    * any rule). */
  val t21_c4_rules: QFn = (s, d) => {
    val lower_ = lower(col("text"))
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    t(s, d, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_words"),
        flag(!lower_.contains("{")).as("r_brace"),
        flag(!lower_.contains("lorem ipsum")).as("r_lorem"),
        flag(!array_contains(TextFunctions.tokens(lower_),
          "javascript")).as("r_js"),
        flag(TextFunctions.tokenCount(col("text")) >= 3)
          .as("r_words"),
        flag(col("text").rlike("[.!?]")).as("r_punct"))
      .withColumn("passes",
        col("r_brace") * col("r_lorem") * col("r_js") *
          col("r_words") * col("r_punct"))
  }

  val t21_sql: String =
    """WITH f AS (SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text),
      |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_words,
      |    CASE WHEN contains(lower(text), '{') THEN 0 ELSE 1 END
      |      AS r_brace,
      |    CASE WHEN contains(lower(text), 'lorem ipsum') THEN 0
      |      ELSE 1 END AS r_lorem,
      |    CASE WHEN list_contains(list_filter(
      |        regexp_split_to_array(trim(lower(text)), '\s+'),
      |        x -> len(x) > 0), 'javascript') THEN 0 ELSE 1 END
      |      AS r_js,
      |    CASE WHEN regexp_matches(text, '[.!?]') THEN 1 ELSE 0 END
      |      AS r_punct
      |  FROM documents)
      |SELECT doc_id, n_words,
      |  CAST(r_brace AS BIGINT) AS r_brace,
      |  CAST(r_lorem AS BIGINT) AS r_lorem,
      |  CAST(r_js AS BIGINT) AS r_js,
      |  CAST(CASE WHEN n_words >= 3 THEN 1 ELSE 0 END AS BIGINT)
      |    AS r_words,
      |  CAST(r_punct AS BIGINT) AS r_punct,
      |  CAST(r_brace * r_lorem * r_js *
      |    (CASE WHEN n_words >= 3 THEN 1 ELSE 0 END) * r_punct
      |    AS BIGINT) AS passes
      |FROM f""".stripMargin

  /** Per-SOURCE corpus QA report — the Dolma/RedPajama per-source
    * accounting line that decides which feeds to keep: per `source`,
    * docs, exact token mass, distinct languages, docs that are exact
    * duplicates of ANYTHING in the corpus (d01's normalized-text
    * fingerprint, corpus-wide — cross-source duplication charges
    * BOTH sources, which is the decision-relevant semantics), and
    * the duplicate share in HALF_UP integer ppm. Scale shape: the
    * fingerprint df table collapses map-side to distinct-fingerprint
    * size, joins back on the fp key (corpus-keyed, one shuffle
    * each), and the final aggregate is |sources|-bounded with
    * map-side combine. */
  val t22_source_report: QFn = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"),
        col("source"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_toks"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("fp"))
    val dfc = docs.groupBy("fp").agg(count(lit(1)).as("n_fp"))
    docs.join(dfc, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_toks").cast("long").as("n_tokens"),
        countDistinct("lang").cast("long").as("n_langs"),
        sum(when(col("n_fp") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_dup_docs"))
      .withColumn("dup_ppm",
        expr("(n_dup_docs * 2000000 + n_docs) DIV (2 * n_docs)"))
  }

  val t22_sql: String =
    """WITH docs AS (SELECT doc_id, source, lang,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text),
      |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_toks,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      AS fp
      |  FROM documents),
      |dfc AS (SELECT fp, count(*) AS n_fp FROM docs GROUP BY fp)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  CAST((sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) * 2000000
      |    + count(*)) // (2 * count(*)) AS BIGINT) AS dup_ppm
      |FROM docs JOIN dfc USING (fp)
      |GROUP BY source""".stripMargin

  /** Per-(user, event_type) DEBOUNCE accounting — the event-stream
    * throttling/dedup primitive: an event repeated within the 1 h
    * cooldown of its predecessor is a burst member (suppressed); the
    * first event of each burst is kept. Gap-vs-predecessor semantics
    * (lag), so the whole query is TWO windows on ONE (user, type,
    * time) Exchange+Sort plus a burst-run aggregate — the q40
    * gaps-and-islands machinery pointed at rate limiting. Output per
    * (user, type): totals, kept (= burst count), suppressed, longest
    * burst. */
  val e16_debounce: QFn = (s, d) => {
    val e = t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ms", "event_id")
    val bursts = e
      .withColumn("new_burst",
        when(lag("ms", 1).over(w).isNull ||
          col("ms") - lag("ms", 1).over(w) >= 3600000L, 1L)
          .otherwise(0L))
      .withColumn("burst_id", sum("new_burst").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "event_type", "burst_id")
      .agg(count(lit(1)).as("blen"))
    bursts.groupBy("user_id", "event_type")
      .agg(sum("blen").cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_kept"),
        (sum("blen") - count(lit(1))).cast("long").as("n_suppressed"),
        max("blen").cast("long").as("longest_burst"))
  }

  val e16_sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms,
      |    event_id FROM events),
      |f AS (SELECT user_id, event_type, ms, event_id,
      |    CASE WHEN lag(ms) OVER w IS NULL
      |      OR ms - lag(ms) OVER w >= 3600000 THEN 1 ELSE 0 END
      |      AS new_burst
      |  FROM e WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY ms, event_id)),
      |r AS (SELECT user_id, event_type,
      |    sum(new_burst) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING)
      |      AS burst_id
      |  FROM f),
      |b AS (SELECT user_id, event_type, burst_id, count(*) AS blen
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT user_id, event_type,
      |  CAST(sum(blen) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(blen) - count(*) AS BIGINT) AS n_suppressed,
      |  CAST(max(blen) AS BIGINT) AS longest_burst
      |FROM b GROUP BY 1, 2""".stripMargin

  /** Community detection over the part co-purchase graph by
    * synchronous label propagation — see
    * [[graft.graph.LabelPropagation]] (packed-BIGINT argmax, fixed 4
    * rounds, oracle-unrolled). */
  /** Integer GRAM (scatter) matrix of the embedding corpus — the
    * 64×64 Σ x·xᵀ every PCA / OPQ-rotation / whitening training step
    * starts from, as a distributed aggregate. Values quantize to
    * GLOBAL milli-units first (`round(x·1000)` — the fixed-scale
    * cents idiom, NOT s05's per-vector scaling), so every cell is an
    * exact BIGINT sum: order-independent, partition-invariant, and
    * engine-identical — the int-accumulated GEMM trick. Milli (not
    * micro) keeps cell sums inside BIGINT to ~10^9 rows (1e6 per
    * product · 1e9 rows ≈ 1e15). Scale shape: one vec_id-keyed
    * self-join of the 64-per-vector exploded stream (the honest
    * pairing cost; i ≤ j halves it) whose 4096-cell aggregate
    * collapses map-side — the shuffle past the join is ≤ 2 080 rows
    * per task regardless of corpus size. */
  val s11_gram: QFn = (s, d) => {
    val flat = embD(s, d)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        expr("CAST(round(x * 1000, 0) AS BIGINT)").as("xi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flat.count() // both sides of the self-join read it
    val b = flat.select(col("vec_id"), col("i").as("j"),
      col("xi").as("xj"))
    flat.join(b, Seq("vec_id"))
      .filter(col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("xi") * col("xj")).cast("long").as("gram_milli2"))
      .select(col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), col("n"), col("gram_milli2"))
  }

  val s11_sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |f AS (SELECT vec_id, i - 1 AS i,
      |    CAST(round(v[CAST(i AS INT)] * 1000, 0) AS BIGINT) AS xi
      |  FROM e, unnest(range(1, len(v) + 1)) AS u(i))
      |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(a.xi * b.xi) AS BIGINT) AS gram_milli2
      |FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY 1, 2""".stripMargin

  /** Top-eigenvector POWER ITERATION over s11's gram matrix — the
    * round-12 candidate closing the OPQ/PCA loop: the principal
    * direction of the embedding corpus, computed end-to-end in exact
    * integer arithmetic. The distributed work is the gram itself
    * (s11); the 64×64 matrix is then a BOUNDED DRIVER FINISH (2 080
    * cells — the 8-row-codebook economics). The gram is first
    * PRE-SCALED by its own max cell (gdiv = max(max|cell|/10^7, 1);
    * cell' = sign-aware HALF_UP(cell/gdiv)) — eigenvectors are
    * scale-invariant, and the rescale caps |cell| at ~10^7 so the
    * per-row products below are overflow-safe at ANY corpus size
    * (|g·v| ≤ 10^7 · 2·10^5 · 64 ≈ 1.3·10^14 ≪ 2^63), not just at
    * the ~10^7-row corpus where raw milli² cells would stay small.
    * Then 4 unrolled rounds of w = G·v with a deterministic integer
    * rescale (dd = max(max|w|/10^5, 1); v' = sign-aware
    * HALF_UP(w/dd), so the largest component pins to ±~10^5).
    * Components emit ×10 as ppm-of-max. The oracle runs the SAME
    * pre-scale and four rounds as unrolled CTEs over the gram CTE —
    * an eigenvector two engines agree on bit-for-bit. */
  val s12_power_iter: QFn = (s, d) => {
    val v = topEigenMilli(s, d)
    import s.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x * 10) }.toSeq
      .toDF("i", "v_ppm")
  }

  /** The s12 driver finish, shared with s14's rotation: the exact
    * integer top eigenvector of s11's gram (largest component pinned
    * to ±~10^5). Bounded — the gram is dim² = 2 080 cells regardless
    * of corpus size. */
  private[graft] def topEigenMilli(s: SparkSession, d: String): Array[Long] = {
    val cells = s11_gram(s, d)
      .select("i", "j", "gram_milli2").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2)))
    val dim = cells.map(_._2).max + 1
    val g = Array.ofDim[Long](dim, dim)
    val gdiv = math.max(
      cells.map(c => math.abs(c._3)).max / 10000000L, 1L)
    def hup(x: Long): Long =
      if (x >= 0) (2 * x + gdiv) / (2 * gdiv)
      else -((2 * -x + gdiv) / (2 * gdiv))
    cells.foreach { case (i, j, x) =>
      val xs = hup(x); g(i)(j) = xs; g(j)(i) = xs
    }
    var v = Array.fill(dim)(100000L)
    for (_ <- 1 to 4) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L
        var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        acc
      }
      val dd = math.max(w.map(math.abs).max / 100000L, 1L)
      v = w.map(x => if (x >= 0) (2 * x + dd) / (2 * dd)
                     else -((2 * -x + dd) / (2 * dd)))
    }
    v
  }

  /** The WITH-chain ending in `v4` (the integer eigenvector) plus the
    * milli-coordinate relation `f` — shared prefix of s12's and s14's
    * oracles. */
  private lazy val s12Chain: String = {
    val gramCore = s11_sql
      .replaceFirst("(?s)\nSELECT .*$", "")
    def round(r: Int) =
      s"""w$r AS (SELECT g.i, CAST(sum(g.gr * v.v) AS BIGINT) AS w
         |  FROM g JOIN v${r - 1} v ON g.j = v.i GROUP BY 1),
         |m$r AS (SELECT greatest(max(abs(w)) // 100000, 1) AS dd
         |  FROM w$r),
         |v$r AS (SELECT i, CAST(CASE WHEN w >= 0
         |    THEN (2 * w + dd) // (2 * dd)
         |    ELSE -((2 * (-w) + dd) // (2 * dd)) END AS BIGINT) AS v
         |  FROM w$r, m$r)""".stripMargin
    s"""$gramCore,
       |up AS (SELECT a.i AS i, b.i AS j,
       |    CAST(sum(a.xi * b.xi) AS BIGINT) AS gr
       |  FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |g0 AS (SELECT i, j, gr FROM up
       |  UNION ALL SELECT j, i, gr FROM up WHERE i < j),
       |gm AS (SELECT greatest(max(abs(gr)) // 10000000, 1) AS gdiv
       |  FROM g0),
       |g AS (SELECT i, j, CAST(CASE WHEN gr >= 0
       |    THEN (2 * gr + gdiv) // (2 * gdiv)
       |    ELSE -((2 * (-gr) + gdiv) // (2 * gdiv)) END AS BIGINT)
       |    AS gr
       |  FROM g0, gm),
       |v0 AS (SELECT DISTINCT i, CAST(100000 AS BIGINT) AS v FROM g),
       |${(1 to 4).map(round).mkString(",\n")}""".stripMargin
  }

  lazy val s12_sql: String =
    s"""$s12Chain
       |SELECT CAST(i AS BIGINT) AS i, CAST(v * 10 AS BIGINT) AS v_ppm
       |FROM v4""".stripMargin

  /** OPQ-STYLE ROTATED PRODUCT QUANTIZATION — the rotation step of
    * the OPQ family (Ge et al., CVPR 2013: align the coordinate
    * system to the data before subspace coding) built entirely from
    * exact integers both engines mirror bit-for-bit:
    *
    *   1. u = s12's integer top eigenvector (the [[topEigenMilli]]
    *      driver finish — dim² gram cells, bounded at any corpus).
    *   2. Householder vector w = u + sign(u₀)·‖u‖·e₀ (the standard
    *      cancellation-free construction); H = I − 2wwᵀ/wᵀw is an
    *      exact reflection mapping the principal direction onto
    *      coordinate 0 — so subspace 0's codebook absorbs the
    *      dominant variance instead of every subspace paying for it.
    *   3. Every vector rotates in milli-integer space:
    *      rx_i = x_i − HALF_UP(2·(w·x)·w_i / w·w) — one dot product
    *      per vector, never a dense 64×64 multiply (the Householder
    *      form is WHY this is linear, the same economics that make
    *      reflections the workhorse of dense QR).
    *   4. PQ with s06's geometry (4 subspaces × 16 dims, codebooks =
    *      vectors 0-7, rotated codebooks for the rotated layout) and
    *      exact integer squared distances; per-vector reconstruction
    *      error = Σ over subspaces of the argmin distance.
    *
    * Output: one row per layout (householder / natural) with corpus
    * totals — the reconstruction-error report the OPQ decision rides
    * on. All sums stay inside BIGINT to ~10^9 vectors (per-vector
    * error ≤ ~6·10^8 milli²). Shuffle shape: the dot-product
    * aggregate and one |corpus|·4-row subspace aggregate; the
    * codebook side is 512 rows and broadcasts by construction. */
  val s14_opq_rotate: QFn = (s, d) => {
    val u = topEigenMilli(s, d)
    val nv = math.sqrt(u.map(x => x * x).sum.toDouble).toLong
    val w = u.clone()
    w(0) = u(0) + (if (u(0) >= 0) nv else -nv)
    val ww = w.map(x => x * x).sum
    val wArr = array(w.map(lit(_)): _*)
    val flat = embD(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        expr("CAST(round(x * 1000, 0) AS BIGINT)").as("xm"))
      .withColumn("wi", element_at(wArr, col("i") + 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flat.count() // dot-product side AND rotation side read it
    val dots = flat.groupBy("vec_id")
      .agg(sum(col("xm") * col("wi")).as("dt"))
    val rx = flat.join(dots, Seq("vec_id"))
      .withColumn("num", lit(2L) * col("dt") * col("wi"))
      .withColumn("rx", col("xm") - expr(
        s"CASE WHEN num >= 0 THEN (2 * num + ${ww}L) DIV ${2 * ww}L " +
          s"ELSE -((2 * -num + ${ww}L) DIV ${2 * ww}L) END"))
      .select(col("vec_id"), col("i"), col("xm"), col("rx"))
    // codebooks: vectors 0-7 in both layouts — 8·64 rows by
    // construction, so the explicit broadcast is size-safe
    val cb = rx.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("i"),
        col("rx").as("cr"), col("xm").as("cn"))
    val perSub = rx.join(broadcast(cb), Seq("i"))
      .groupBy(col("vec_id"), col("cid"), (col("i") / 16).cast("int")
        .as("sub"))
      .agg(sum((col("rx") - col("cr")) * (col("rx") - col("cr")))
        .as("sdr"),
        sum((col("xm") - col("cn")) * (col("xm") - col("cn")))
        .as("sdn"))
    val perVec = perSub.groupBy("vec_id", "sub")
      .agg(min(col("sdr")).as("mr"), min(col("sdn")).as("mn"))
      .groupBy("vec_id")
      .agg(sum(col("mr")).as("er"), sum(col("mn")).as("en"))
    perVec.agg(count(lit(1)).cast("long").as("vecs"),
        sum(col("er")).cast("long").as("ter"),
        sum(col("en")).cast("long").as("ten"))
      .selectExpr("stack(2, 'householder', vecs, ter, " +
        "'natural', vecs, ten) AS (layout, vecs, total_err_milli2)")
  }

  lazy val s14_sql: String =
    s"""$s12Chain,
       |nvc AS (SELECT CAST(floor(sqrt(CAST(sum(v * v) AS BIGINT)))
       |    AS BIGINT) AS nv FROM v4),
       |sg AS (SELECT CASE WHEN v >= 0 THEN 1 ELSE -1 END AS sgn
       |  FROM v4 WHERE i = 0),
       |wv AS MATERIALIZED (SELECT i, CAST(CASE WHEN i = 0 THEN v + sgn * nv
       |    ELSE v END AS BIGINT) AS w FROM v4, nvc, sg),
       |wwc AS (SELECT CAST(sum(w * w) AS BIGINT) AS ww FROM wv),
       |dt AS MATERIALIZED (SELECT f.vec_id, CAST(sum(f.xi * wv.w) AS BIGINT) AS dt
       |  FROM f JOIN wv ON f.i = wv.i GROUP BY 1),
       |rx AS MATERIALIZED (SELECT f.vec_id, f.i, f.xi,
       |    CAST(f.xi - (CASE WHEN 2 * dt.dt * wv.w >= 0
       |      THEN (2 * (2 * dt.dt * wv.w) + ww) // (2 * ww)
       |      ELSE -((2 * -(2 * dt.dt * wv.w) + ww) // (2 * ww))
       |    END) AS BIGINT) AS rxv
       |  FROM f JOIN wv ON f.i = wv.i
       |  JOIN dt ON f.vec_id = dt.vec_id, wwc),
       |cbk AS MATERIALIZED (SELECT vec_id AS cid, i, rxv AS cr, xi AS cn FROM rx
       |  WHERE vec_id < 8),
       |ps AS MATERIALIZED (SELECT r.vec_id, c.cid, r.i // 16 AS sub,
       |    CAST(sum((r.rxv - c.cr) * (r.rxv - c.cr)) AS BIGINT) AS sdr,
       |    CAST(sum((r.xi - c.cn) * (r.xi - c.cn)) AS BIGINT) AS sdn
       |  FROM rx r JOIN cbk c ON r.i = c.i GROUP BY 1, 2, 3),
       |pm AS (SELECT vec_id, sub, min(sdr) AS mr, min(sdn) AS mn
       |  FROM ps GROUP BY 1, 2),
       |pv AS (SELECT vec_id, CAST(sum(mr) AS BIGINT) AS er,
       |    CAST(sum(mn) AS BIGINT) AS en FROM pm GROUP BY 1),
       |tot AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS vecs,
       |    CAST(sum(er) AS BIGINT) AS ter, CAST(sum(en) AS BIGINT) AS ten
       |  FROM pv)
       |SELECT 'householder' AS layout, vecs, ter AS total_err_milli2
       |FROM tot
       |UNION ALL
       |SELECT 'natural' AS layout, vecs, ten AS total_err_milli2
       |FROM tot""".stripMargin

  /** HARD-NEGATIVE MINING for contrastive embedding training — the
    * training-pair assembly step every embedding-model pipeline runs
    * after clustering: per anchor, the top-5 highest-cosine vectors
    * from a DIFFERENT IVF cluster (same-cluster neighbours are
    * presumed positives and excluded BEFORE ranking — the filter
    * bites exactly on the nearest candidates, which is the point).
    * Reuses s04's Lloyd centroids for the cluster assignment (one
    * broadcast of the 16-row centroid table + one per-vector argmax
    * window) and s01's bounded-heap TopKBy for the ranking, so the
    * shuffle past the scoring map work carries |anchors|·k rows —
    * never the corpus × anchors pair relation. Oracle extends s04's
    * centroid CTE chain with the cluster-disjoint scored relation. */
  val s13_hard_negatives: QFn = (s, d) => {
    val e = embD(s, d)
    val cents = Similarity.ivfCentroids(e, nLists = 16, iters = 1)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cs").desc, col("cent_id"))
    val assign = e.select(col("vec_id"), col("embedding").as("v"))
      .join(broadcast(cents))
      .withColumn("cs", Similarity.cosine(col("v"), col("cv")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("v"), col("cent_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assign.count() // corpus side AND anchor side read it (CLAUDE.md)
    val anchors = assign.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("p"),
        col("cent_id").as("p_cent"))
    val scored = assign
      .join(broadcast(anchors))
      .filter(col("cent_id") =!= col("p_cent") &&
        col("vec_id") =!= col("probe_id"))
      .withColumn("cos", Similarity.cosine(col("v"), col("p")))
      .select("probe_id", "vec_id", "cos")
    Similarity.topKScored(scored, 5)
  }

  // lazy: centCos/cosSql are declared further down the object body
  lazy val s13_sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 16),
       |s1 AS (SELECT e.vec_id, e.v, c0.cent_id, $centCos AS cs
       |  FROM e, c0),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT vec_id, v, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS r
       |    FROM s1) WHERE r = 1),
       |u1 AS (SELECT cent_id, i, round(avg(v[i]), 6) AS m
       |  FROM a1, range(1, 65) t(i) GROUP BY 1, 2),
       |cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM u1
       |  GROUP BY cent_id),
       |al AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, cents.cent_id, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY $centCos DESC, cent_id)
       |      AS r
       |    FROM e, cents) x WHERE r = 1),
       |anch AS (SELECT vec_id AS probe_id, v AS pv,
       |    cent_id AS p_cent FROM al WHERE vec_id < 5),
       |scored AS (SELECT probe_id, al.vec_id, $cosSql AS cos
       |  FROM al, anch
       |  WHERE al.cent_id <> anch.p_cent
       |    AND al.vec_id <> anch.probe_id)
       |SELECT probe_id, vec_id, cos, rnk FROM (
       |  SELECT probe_id, vec_id, cos, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM scored) WHERE rnk <= 5""".stripMargin

  /** OHLC bar resampling — the time-series downsampling primitive
    * (tick stream → hourly open/high/low/close/volume bars): ONE
    * map-side-combining aggregate per (event_type, hour) bucket, no
    * window over the event stream. Open/close are `min_by`/`max_by`
    * over a PACKED total-order key (within-hour ms offset · 2^33 +
    * event_id — the offset keeps the pack inside BIGINT for any
    * epoch; the unique key makes the argmin deterministic, mirrored
    * by DuckDB's arg_min/arg_max). Values in exact cents (e12's
    * proven round idiom). Output is bucket-bounded regardless of
    * corpus size. */
  val e17_ohlc: QFn = (s, d) =>
    Relational.ticks(t(s, d, "events"))
      .groupBy(col("event_type"), floor(col("ms") / 3600000L).as("hour"))
      .agg(Relational.barAggs.head, Relational.barAggs.tail: _*)
      .select("event_type", "hour", "n_events", "volume_cents",
        "low", "high", "open", "close")

  val e17_sql: String =
    """WITH e AS (SELECT event_type, epoch_ms(ts) AS ms, event_id,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |b AS (SELECT event_type, ms // 3600000 AS hour,
      |    (ms % 3600000) * 8589934592 + event_id AS k, cents FROM e)
      |SELECT event_type, CAST(hour AS BIGINT) AS hour,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS volume_cents,
      |  CAST(min(cents) AS BIGINT) AS low,
      |  CAST(max(cents) AS BIGINT) AS high,
      |  CAST(arg_min(cents, k) AS BIGINT) AS open,
      |  CAST(arg_max(cents, k) AS BIGINT) AS close
      |FROM b GROUP BY 1, 2""".stripMargin

  /** Bar REAGGREGATION — e17's hourly bars derived from minute bars
    * instead of raw ticks: the progressive-downsampling pattern a
    * 100 TB feed actually runs (minute bars persist once; hour/day
    * views re-aggregate 60×-smaller inputs, never rescanning ticks).
    * The bar algebra is associative when each bar carries its
    * first/last tick keys: hour open = `min_by(minute open, minute's
    * min tick key)`, close symmetric, low/high/volume/n fold as
    * min/max/sum — all exact. Output is IDENTICAL to e17's direct
    * hourly bars (same oracle modulo CTE shape; spec pins the two
    * queries row-for-row — the q57-style mergeability proof, for
    * bars). */
  val e18_bar_rollup: QFn = (s, d) => {
    val minuteBars = Relational.ticks(t(s, d, "events"))
      .groupBy(col("event_type"), floor(col("ms") / 60000L).as("minute"))
      .agg(Relational.barAggs.head, Relational.barAggs.tail: _*)
    minuteBars
      .withColumn("hour", floor(col("minute") / 60L))
      .groupBy("event_type", "hour")
      .agg(sum("n_events").cast("long").as("n_events"),
        sum("volume_cents").cast("long").as("volume_cents"),
        min("low").as("low"), max("high").as("high"),
        min_by(col("open"), col("min_k")).as("open"),
        max_by(col("close"), col("max_k")).as("close"))
      .select("event_type", "hour", "n_events", "volume_cents",
        "low", "high", "open", "close")
  }

  // identical result to e17 by construction — the oracle states the
  // direct form and the SPEC pins the rollup path equal to e17
  val e18_sql: String = e17_sql

  /** WATERMARK STRESS PROFILE — the audit that PICKS a
    * `withWatermark` delay from data instead of folklore. The live
    * feed's own arrival order is the no-information case here (the
    * generator appends in event-time order, so observed lateness is
    * exactly 0 — a true but vacuous row); what a streaming team
    * actually runs before shipping a delay is the REPLAY STRESS
    * TEST: re-feed the log under BOUNDED deterministic disorder —
    * arrival time = event time + a per-event pseudo-random jitter
    * ≤ 6 h (md5-derived, so both engines mirror it; sized to the
    * feed's per-key density — 150 users × ~11 h mean gap — so the
    * sweep is populated) — and
    * measure, per candidate delay, how many events a per-key
    * watermark would drop as late. Per event: lateness = (running
    * per-user max event-time over arrival order, excluding self) −
    * own event-time, clamped at 0 — provably ≤ the jitter bound, so
    * the candidate spine {0, 10 m, 1 h, 3 h, 6 h} SWEEPS the
    * knee and the last row proves the bound (exactly 0 dropped at
    * the jitter ceiling). ONE pass: the user-partitioned running
    * max (never an unpartitioned window), one bounded conditional
    * aggregate, the 5-candidate spine stacked from the single
    * result row. All integer ms — no float ever appears. */
  val e19_lateness_profile: QFn = (s, d) => {
    val delays = Seq(0L, 600000L, 3600000L, 10800000L, 21600000L)
    val w = Window.partitionBy("user_id")
      .orderBy("arrival_ms", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("arrival_ms",
        col("ms") + md5Bucket(col("event_id").cast("string"))
          % 21600001L)
      .withColumn("late_ms",
        greatest(coalesce(max("ms").over(w), col("ms")) - col("ms"),
          lit(0L)))
    val aggs = count(lit(1)).cast("long").as("n_events") +:
      max("late_ms").cast("long").as("max_late_ms") +:
      delays.map(dl =>
        sum(when(col("late_ms") > dl, 1L).otherwise(0L))
          .cast("long").as(s"n_$dl"))
    val row = late.agg(aggs.head, aggs.tail: _*)
    val stackArgs = delays
      .map(dl => s"${dl}L, n_$dl").mkString(", ")
    row.selectExpr("n_events", "max_late_ms",
        s"stack(${delays.size}, $stackArgs) AS (delay_ms, n_late)")
      .select(col("delay_ms"), col("n_late"),
        expr("(n_late * 2000000 + n_events) DIV (2 * n_events)")
          .as("late_ppm"),
        col("n_events"), col("max_late_ms"))
  }

  val e19_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    epoch_ms(ts) + ('0x' || substr(md5(CAST(event_id AS
      |      VARCHAR)), 1, 8))::BIGINT % 21600001 AS arrival_ms
      |  FROM events),
      |l AS (SELECT greatest(coalesce(max(ms) OVER
      |      (PARTITION BY user_id ORDER BY arrival_ms, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ms)
      |      - ms, 0) AS late_ms
      |  FROM e),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(max(late_ms) AS BIGINT) AS max_late_ms,
      |    CAST(sum(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_0,
      |    CAST(sum(CASE WHEN late_ms > 600000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_600000,
      |    CAST(sum(CASE WHEN late_ms > 3600000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_3600000,
      |    CAST(sum(CASE WHEN late_ms > 10800000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_10800000,
      |    CAST(sum(CASE WHEN late_ms > 21600000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_21600000
      |  FROM l),
      |d AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT)), (600000),
      |    (3600000), (10800000), (21600000)) v(delay_ms))
      |SELECT d.delay_ms,
      |  CASE d.delay_ms WHEN 0 THEN n_0 WHEN 600000 THEN n_600000
      |    WHEN 3600000 THEN n_3600000 WHEN 10800000 THEN n_10800000
      |    ELSE n_21600000 END AS n_late,
      |  CAST(((CASE d.delay_ms WHEN 0 THEN n_0
      |    WHEN 600000 THEN n_600000 WHEN 3600000 THEN n_3600000
      |    WHEN 10800000 THEN n_10800000
      |    ELSE n_21600000 END) * 2000000 + n_events)
      |    // (2 * n_events) AS BIGINT) AS late_ppm,
      |  n_events, max_late_ms
      |FROM d, s""".stripMargin

  /** Table-profiling / ANALYZE pass — the statistics row every
    * engine computes before planning and every pipeline prints
    * before trusting a feed: per column of lineitem, row count,
    * null count and EXACT distinct cardinality, in ONE scan.
    * Shape: UNPIVOT first (`stack` each row to (col_name, value)),
    * then a two-level aggregate — the first level collapses to
    * (column, distinct value) vocabulary size MAP-SIDE, so the only
    * corpus-scale shuffle carries per-task vocabularies, and the
    * second level is vocabulary-bounded. Measured 3× faster than the
    * N-way `countDistinct` expand at sf0.1 (1.2 s vs 3.5 s warm) —
    * the expand replicates every ROW per distinct spec, the unpivot
    * replicates per COLUMN but combines before shuffling. Values
    * unpivot as strings; Spark's double→string is shortest-round-trip
    * (injective), so string-distinct ≡ value-distinct — the one
    * declared caveat is −0.0 vs 0.0 (absent in this data). q42's
    * HLL is the sketch companion when a column's cardinality is
    * itself corpus-scale. */
  /** The one lineitem column list BOTH q66 sides derive from — a
    * runtime `df.columns` on the Spark side with a hardcoded oracle
    * would silently desynchronize under schema drift; instead the
    * Spark side asserts the parquet still matches this list. */
  private val LineitemCols = Seq("l_orderkey", "l_partkey",
    "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  val q66_profile: QFn = (s, d) => {
    val df = t(s, d, "lineitem")
    val cols = LineitemCols
    require(df.columns.toSeq == cols,
      s"lineitem schema drifted from q66's pinned column list: " +
        s"got ${df.columns.mkString(",")}")
    val stackArgs = cols
      .map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
    df.selectExpr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
      .groupBy("col_name", "v").agg(count(lit(1)).as("c"))
      .groupBy("col_name")
      .agg(sum("c").cast("long").as("n_rows"),
        sum(when(col("v").isNull, col("c")).otherwise(0L))
          .cast("long").as("n_nulls"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_distinct"))
      .select("col_name", "n_rows", "n_nulls", "n_distinct")
  }

  val q66_sql: String = {
    val cols = LineitemCols
    cols.map(c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
  }

  /** Typo/near-identifier pair mining over customer names — see
    * [[Dedup.editDistancePairs]] (SymSpell deletion-neighborhood
    * candidates, exact levenshtein verify). The id-like name space
    * ("Customer#000000123") is exactly the vocabulary shape this
    * index excels at: every name has ≤ len+1 variant keys and the
    * buckets stay a handful deep. */
  val d19_edit_pairs: QFn = (s, d) =>
    Dedup.editDistancePairs(t(s, d, "customer"), "c_name")

  val d19_sql: String =
    """WITH names AS (SELECT DISTINCT c_name AS name FROM customer),
      |vars AS (SELECT name, unnest(list_prepend(name,
      |    [name[1:i-1] || name[i+1:] for i in range(1, len(name)+1)]))
      |    AS v
      |  FROM names),
      |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.name < b.name)
      |SELECT name_a, name_b,
      |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(name_a, name_b) <= 1""".stripMargin

  /** SOURCE-pair shingle-vocabulary Jaccard — see
    * [[Dedup.sourceShingleJaccard]]. The feed-MIRROR detector: t22
    * charges per-source exact-duplicate share (zero on this corpus —
    * no two sources carry byte-identical docs), this measures how
    * much of each pair's n-gram VOCABULARY coincides, which is the
    * signal that actually fires when two feeds scrape the same site
    * through different boilerplate. Same 3-token shingles as d02,
    * HALF_UP integer ppm (never a float round). */
  val d18_source_overlap: QFn = (s, d) =>
    Dedup.sourceShingleJaccard(t(s, d, "documents"), "source",
      "text", n = 3)

  val d18_sql: String =
    s"""WITH toks AS (SELECT source, $shingleToksSql AS t
       |  FROM documents),
       |sh AS (SELECT source, unnest(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |p AS (SELECT DISTINCT source, shingle FROM sh),
       |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       |  FROM p GROUP BY source),
       |inter AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM p a JOIN p b
       |    ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, s1.n AS n_a, s2.n AS n_b, inter,
       |  CAST((inter * 2000000 + (s1.n + s2.n - inter))
       |    // (2 * (s1.n + s2.n - inter)) AS BIGINT) AS jaccard_ppm
       |FROM inter JOIN sizes s1 ON src_a = s1.source
       |JOIN sizes s2 ON src_b = s2.source""".stripMargin

  /** Modularity of the g12 partition — the AUDIT row for label
    * propagation (the s09/d12/d16/t18 discipline: a clustering you
    * can't score is a clustering you can't trust). Exact-integer
    * Q·4m² — see [[graft.graph.LabelPropagation.modularityPpm]];
    * ppm scaling stays inside BIGINT to m ≈ 10^6 edges — past that,
    * compute per-community terms at reduced scale or in two stages
    * (the e_c/d_c aggregates themselves are unbounded-scale safe). */
  val g13_modularity: QFn = (s, d) => {
    // the co-purchase mining (groupBy + pair explode + support cut)
    // feeds BOTH the LPA loop and the modularity scorer — persist +
    // materialize before the fan-out (CLAUDE.md) or it runs twice
    val pairs = coPurchasePairs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    graft.graph.LabelPropagation.modularityPpm(pairs,
      graft.graph.LabelPropagation.run(pairs, rounds = 4,
        canonical = true), canonical = true)
  }

  lazy val g13_sql: String = {
    val lpa = g12_sql.replaceFirst(
      "\nSELECT node, CAST\\(label AS BIGINT\\) AS label FROM l4", "")
    s"""$lpa,
       |mm AS (SELECT count(*) AS m FROM e0),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node
       |    FROM e0) u GROUP BY node),
       |dcs AS (SELECT l4.label, sum(deg) AS dc
       |  FROM deg JOIN l4 ON deg.node = l4.node GROUP BY 1),
       |ecs AS (SELECT x.label AS label, count(*) AS ec FROM e0
       |  JOIN l4 x ON e0.a = x.node JOIN l4 y ON e0.b = y.node
       |  WHERE x.label = y.label GROUP BY 1),
       |terms AS (SELECT 4::HUGEINT * mm.m * coalesce(ecs.ec, 0)
       |    - dcs.dc::HUGEINT * dcs.dc AS term
       |  FROM dcs LEFT JOIN ecs ON dcs.label = ecs.label, mm),
       |agg AS (SELECT count(*) AS nc, sum(term) AS num FROM terms)
       |SELECT CAST(nc AS BIGINT) AS n_communities,
       |  CAST(mm.m AS BIGINT) AS m_edges,
       |  CAST(CASE WHEN num >= 0
       |    THEN (2::HUGEINT * 1000000 * num + 4::HUGEINT * mm.m * mm.m)
       |      // (8::HUGEINT * mm.m * mm.m)
       |    ELSE -((2::HUGEINT * 1000000 * (-num) + 4::HUGEINT * mm.m * mm.m)
       |      // (8::HUGEINT * mm.m * mm.m)) END AS BIGINT)
       |    AS modularity_ppm
       |FROM agg, mm""".stripMargin
  }

  val g12_label_prop: QFn = (s, d) => {
    // the mined pairs back both branches of run's symmetrizing union
    // — persist + materialize per the canonical-edges contract
    val pairs = coPurchasePairs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    graft.graph.LabelPropagation.run(pairs, rounds = 4,
      canonical = true)
  }

  val g12_sql: String = {
    def round(i: Int) =
      s"""m$i AS (SELECT s.dst AS node, l.label FROM sym s
         |  JOIN l${i - 1} l ON s.src = l.node),
         |c$i AS (SELECT node, label, count(*) AS cnt FROM m$i
         |  GROUP BY 1, 2),
         |x$i AS (SELECT node, max(cnt * 4294967296 - (label + 1))
         |    AS enc
         |  FROM c$i GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT node,
         |  ((enc // 4294967296) + 1) * 4294967296 - enc - 1 AS label
         |  FROM x$i)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e0 AS MATERIALIZED (SELECT x.pk AS a, y.pk AS b
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
       |  UNION ALL SELECT b AS src, a AS dst FROM e0),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node,
       |  src AS label FROM sym),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT node, CAST(label AS BIGINT) AS label FROM l4"""
      .stripMargin
  }

  /** COMMUNITY REFINEMENT past LPA ([[graft.graph.LabelPropagation
    * .refineMerge]]): one monotone sweep of mutual-best community
    * merges with exact-integer modularity gain 4m·e_cd − 2·d_c·d_d —
    * the agglomeration step that recovers structure when synchronous
    * LPA over-fragments (349 communities at sf0.01) or collapses.
    * Output shape matches g12 (node, label); g13 is the scorer and
    * Round13OpsSpec pins Q(g14) ≥ Q(g12) at two SFs. */
  val g14_refine_communities: QFn = (s, d) => {
    // same persist discipline as g13: the mined edge list feeds both
    // the LPA loop and the refinement sweep
    val pairs = coPurchasePairs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    graft.graph.LabelPropagation.refineMerge(pairs,
      graft.graph.LabelPropagation.run(pairs, rounds = 4,
        canonical = true), canonical = true)
  }

  lazy val g14_sql: String = {
    val lpa = g12_sql.replaceFirst(
      "\nSELECT node, CAST\\(label AS BIGINT\\) AS label FROM l4", "")
    s"""$lpa,
       |mm AS (SELECT count(*) AS m FROM e0),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node
       |    FROM e0) u GROUP BY node),
       |dcs AS MATERIALIZED (SELECT l4.label, CAST(sum(deg) AS BIGINT)
       |    AS dc
       |  FROM deg JOIN l4 ON deg.node = l4.node GROUP BY 1),
       |bet AS MATERIALIZED (SELECT least(x.label, y.label) AS c,
       |    greatest(x.label, y.label) AS p, count(*) AS ecd
       |  FROM e0 JOIN l4 x ON e0.a = x.node JOIN l4 y ON e0.b = y.node
       |  WHERE x.label <> y.label GROUP BY 1, 2),
       |ord AS (SELECT c, p, ecd FROM bet
       |  UNION ALL SELECT p, c, ecd FROM bet),
       |gains AS (SELECT o.c, o.p,
       |    4::HUGEINT * mm.m * o.ecd - 2::HUGEINT * d1.dc * d2.dc
       |      AS gain
       |  FROM ord o JOIN dcs d1 ON d1.label = o.c
       |  JOIN dcs d2 ON d2.label = o.p, mm),
       |best AS MATERIALIZED (SELECT c, p, gain FROM (
       |    SELECT c, p, gain, row_number() OVER (
       |      PARTITION BY c ORDER BY gain DESC, p ASC) AS r
       |    FROM gains) WHERE r = 1),
       |mut AS (SELECT b1.c AS newl, b1.p AS oldl FROM best b1
       |  JOIN best b2 ON b1.c = b2.p AND b1.p = b2.c
       |  WHERE b1.gain > 0 AND b1.c < b1.p)
       |SELECT l4.node, CAST(coalesce(mut.newl, l4.label) AS BIGINT)
       |  AS label
       |FROM l4 LEFT JOIN mut ON l4.label = mut.oldl""".stripMargin
  }

  val t04_fingerprint: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))

  val t04_sql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  val t05_ngram_freq: QFn = (s, d) =>
    TextFunctions.ngramFreq(t(s, d, "documents"), "doc_id", "text",
      2, minFreq = 5)

  val t05_sql: String =
    """SELECT shingle, count(*) AS freq FROM (
      |  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
      |    i -> t[i] || ' ' || t[i+1])) AS shingle
      |  FROM (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS t FROM documents))
      |GROUP BY shingle HAVING count(*) >= 5""".stripMargin

  /** PII scrub (training-data hygiene): emails and phone-like numbers
    * redacted in one codegen'd regexp_replace chain, with per-class
    * counts. PII is injected deterministically (the synthetic corpus
    * has none) so the scrub regexes are actually exercised and the
    * oracle hash bites on the scrubbed text. */
  val t06_pii_scrub: QFn = (s, d) => {
    val dirty = concat(col("text"), lit(" contact user"),
      col("doc_id"), lit("@example.com or 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    t(s, d, "documents")
      .select(col("doc_id"),
        TextFunctions.emailCount(dirty).as("n_emails"),
        TextFunctions.phoneCount(dirty).as("n_phones"),
        md5(TextFunctions.scrubPii(dirty)).as("scrubbed_fp"))
  }

  val t06_sql: String = {
    val email = TextFunctions.emailRe
    val phone = TextFunctions.phoneRe
    s"""WITH dirty AS (SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or 555-' ||
       |    lpad((doc_id % 10000)::VARCHAR, 4, '0') AS dirty
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(dirty, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(dirty, '$phone')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(dirty, '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g')) AS scrubbed_fp
       |FROM dirty""".stripMargin
  }

  /** Token-repetition quality signals (Gopher-style repetition
    * filters): repeated-token fraction and top-token share per doc —
    * explode + two hash aggregates, no per-row interpreted folds.
    * Token-less docs emit nothing (mirrored by the oracle). The
    * sign-blind floor((20000x+n)/(2n)) HALF_UP form is safe here by
    * construction: both numerators are counts, never negative. */
  val t07_repetition: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_freq"))
      // ratios of counts terminate at the 4dp tie digit whenever the
      // token count divides a power of 10 (n=160 → 1/160 = 0.00625!),
      // so the HALF_UP round happens in integer space like q15/e03
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (floor(((col("n_tokens") - col("n_distinct")) * 20000 +
          col("n_tokens")) / (col("n_tokens").cast("double") * 2)) /
          10000.0).as("rep_ratio"),
        (floor((col("top_freq") * 20000 + col("n_tokens")) /
          (col("n_tokens").cast("double") * 2)) / 10000.0)
          .as("top_share"))

  val t07_sql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0)) AS tok
      |  FROM documents),
      |f AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_freq
      |  FROM f GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct,
      |  floor(((n_tokens - n_distinct) * 20000 + n_tokens)
      |    / (n_tokens * 2.0)) / 10000.0 AS rep_ratio,
      |  floor((top_freq * 20000 + n_tokens)
      |    / (n_tokens * 2.0)) / 10000.0 AS top_share
      |FROM a""".stripMargin

  /** Per-document salient terms by TF-IDF: term frequency × ln(N/df),
    * top-3 per doc with full tiebreaks. Ranking compares the ROUNDED
    * 6-dp score (identical on both engines) so rank order is
    * hash-stable; ln never terminates in decimal, so the 6-dp round
    * cannot hit the exact-tie trap. The scalar doc count joins in via
    * a broadcast cross join — no single-partition window anywhere. */
  val t08_tfidf: QFn = (s, d) => {
    val tf = t(s, d, "documents")
      .select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tf feeds df, the doc count AND the score join — materialize
    tf.count()
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tf.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfc, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("doc_id", "term", "tf", "df", "tfidf", "rn")
  }

  val t08_sql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      |scored AS (SELECT doc_id, term, tf, df,
      |    round(tf * ln(n_docs / df), 6) AS tfidf
      |  FROM tf JOIN dfc USING (term) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS rn FROM scored)
      |SELECT doc_id, term, tf, df, tfidf, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 3""".stripMargin

  /** Character-trigram LM quality proxy (the CCNet/KenLM-style
    * perplexity filter, self-trained on the corpus): per doc, the
    * average log-probability of its char trigrams under the corpus
    * trigram model, P(c3|c1c2) = count(tri)/count(bigram-prefix).
    * The floating part is ONE ln per distinct (tri) row, immediately
    * converted to exact integer MICRO-nats (round(ln·1e6) as BIGINT),
    * so every sum is integer — order-independent and hash-stable
    * across engines (a raw double sum over millions of rows drifts by
    * summation order). The 4-dp average uses the sign-branched
    * HALF_UP integer form (log-probs are ≤ 0). Residual cross-engine
    * exposure is the ln itself (JVM Math.log vs libm may differ by
    * 1 ulp): a flip needs the true value within ~ulp of a 0.5 micro-
    * nat boundary, and ln is evaluated once per DISTINCT (tn, bn)
    * pair (a few thousand), so the odds are ~1e-6 per run — accepted
    * and monitored by the three-SF parity gate. */
  val t09_charlm: QFn = (s, d) => {
    // normalize ONCE into an attribute before the lambda: an
    // expression inside transform()'s lambda is re-evaluated per
    // ELEMENT, so lower(trim(text)) in the lambda body would copy the
    // whole document ~1.5k times per row (measured 3x the query)
    // trigrams are PACKED LONG code-point triples (codegen'd
    // CharTrigramCodes) — injective vs the substring form, so every
    // group/count/ratio is identical while the hot path hashes and
    // shuffles 8-byte longs instead of allocating one 3-char string
    // per corpus position; the bigram prefix is a bit shift
    def tri = {
      import org.apache.spark.sql.graft.{CharTrigramCodes, ColumnBridge}
      t(s, d, "documents")
        .select(col("doc_id"), lower(trim(col("text"))).as("gs"))
        // mirrors the oracle's length(s) >= 3 doc set
        .filter(length(col("gs")) >= 3)
        .select(col("doc_id"),
          explode(ColumnBridge.column(CharTrigramCodes(
            ColumnBridge.expression(col("gs"))))).as("tri"))
    }
    // The trigram stream is exploded ONCE and immediately reduced to
    // the per-doc trigram frequency table tf (map-side combine, one
    // shuffle on (doc_id, tri)); tf then feeds BOTH the model rollups
    // and the scoring — the earlier two-pass form re-exploded and
    // re-substringed the whole corpus stream for scoring (measured
    // ~40% of the query). Counts stay exact integers, so scoring by
    // c·lp_micro is bit-identical to scoring each occurrence.
    val tf = tri.groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count() // feeds the model AND the scoring join (CLAUDE.md rule)
    val tc = tf.groupBy("tri").agg(sum(col("c")).as("tn"))
    val bc = tc.groupBy(shiftrightunsigned(col("tri"), 21).as("bi"))
      .agg(sum(col("tn")).as("bn"))
    // lp is computed per DISTINCT trigram (|model| rows, ~50k) and the
    // tiny scored model broadcasts back onto tf — the corpus-sized
    // side never touches a log() or a string op
    val model = tc.join(bc,
        shiftrightunsigned(col("tri"), 21) === col("bi"))
      .select(col("tri"),
        round(log(col("tn") / col("bn")) * 1e6, 0).cast("long")
          .as("lp_micro"))
    val sumLp = sum(col("c") * col("lp_micro"))
    val n = sum(col("c"))
    // HALF_UP at 4dp in integer space; S <= 0 so mirror q15's sign
    val avg = -floor(((-sumLp) * 2 + n * 100) /
      (n.cast("double") * 200)) / 10000.0
    tf.join(model, "tri")
      .groupBy("doc_id")
      .agg(n.as("n_tris"), sumLp.as("sum_lp_micro"),
        avg.as("avg_logp"))
  }

  val t09_sql: String =
    """WITH d AS (SELECT doc_id, lower(trim(text)) AS s FROM documents
      |  WHERE length(lower(trim(text))) >= 3),
      |tri AS (SELECT doc_id, substr(s, CAST(i AS INT), 3) AS tri
      |  FROM d, unnest(range(1, length(s) - 1)) AS u(i)),
      |tc AS (SELECT tri, count(*) AS tn FROM tri GROUP BY tri),
      |bc AS (SELECT substr(tri, 1, 2) AS bi, count(*) AS bn
      |  FROM tri GROUP BY 1),
      |scored AS (SELECT doc_id,
      |    CAST(round(ln(tn / bn) * 1000000) AS BIGINT) AS lp_micro
      |  FROM tri t JOIN tc USING (tri)
      |  JOIN bc ON substr(t.tri, 1, 2) = bc.bi)
      |SELECT doc_id, count(*) AS n_tris,
      |  CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro,
      |  -floor(((-CAST(sum(lp_micro) AS BIGINT)) * 2 + count(*) * 100)
      |    / (count(*) * 200.0)) / 10000.0 AS avg_logp
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Word segmentation round-trip (wordninja-style _tokenizer
    * analog): fit a Zipf dictionary on the corpus, strip spaces from
    * each doc, re-segment, compare token counts. FULL DuckDB oracle
    * since round 15: WordSegmenter's costs are integer micro-nats, so
    * the whole Viterbi DP is engine-exact and [[q24_sql]] mirrors it
    * as a recursive-CTE forward DP (window of the last
    * [[segDpWindow]] best values per position, npieces carried in the
    * state — no backtrace needed because the output is counts). */
  val q24_word_segmentation: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val model = graft.text.WordSegmenter.fitFromCorpus(docs, "text")
    val squashed = docs.select(col("doc_id"),
      regexp_replace(lower(col("text")), "\\s+", "").as("label"),
      TextFunctions.tokenCount(col("text")).as("n_orig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.text.WordSegmenter
      .segmentDocs(s, squashed, model, "doc_id", "label")
      .join(squashed.select(col("doc_id").as("id"), col("n_orig")),
        "id")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_orig"),
        (col("n_tokens") === col("n_orig")).as("roundtrip_exact"))
  }

  /** Structural DP window of the q24 oracle: must be ≥ the longest
    * vocabulary word (8 at every test SF; 12 = margin). A longer
    * vocab word would make the ORACLE miss arcs Spark uses — which
    * surfaces as a loud hash mismatch, never a silent pass. */
  private val segDpWindow = 12

  /** DuckDB mirror of q24: fit the same capped Zipf vocab (micro-nat
    * costs — round(1e6·ln(rank·ln(n))) agrees bit-for-bit with
    * StrictMath across the swept domain), then run the Viterbi DP as
    * a recursive CTE. State per (doc, pos): lists `b` / `np` of the
    * last [[segDpWindow]] best-costs / piece-counts; candidates are
    * the unknown single char (u) plus dictionary arcs d1..dW from a
    * pre-joined MATERIALIZED arc table; tie order is u, d2..dW
    * ascending, d1 last — d1 and u share the DP state (both step one
    * char), so the CASE folds them. */
  val q24_sql: String = {
    val w = segDpWindow
    val cands = (1 to w)
      .map(l => s"b[$l] + a.d$l AS v$l").mkString(",\n            ")
    val dcols = (1 to w)
      .map(l => s"max(CASE WHEN l=$l THEN v.cost END) AS d$l")
      .mkString(",\n    ")
    val least = "least(u, " +
      (1 to w).map(l => s"coalesce(v$l, u)").mkString(", ") + ")"
    val pick = "CASE WHEN u = best THEN 1 " +
      (2 to w).map(l => s"WHEN v$l = best THEN $l").mkString(" ") +
      " ELSE 1 END"
    val newb = "[best, " +
      (1 until w).map(l => s"b[$l]").mkString(", ") + "]"
    val npl = "CASE pick " +
      (1 to w).map(l => s"WHEN $l THEN np[$l]").mkString(" ") +
      " END + 1"
    val newnp = "[npnew, " +
      (1 until w).map(l => s"np[$l]").mkString(", ") + "]"
    val nulls = ", NULL" * (w - 1)
    s"""WITH RECURSIVE
       |toks AS MATERIALIZED (
       |  SELECT unnest(list_filter(
       |    regexp_split_to_array(trim(lower(text)), '\\s+'),
       |    x -> len(x) > 0)) AS word
       |  FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT word, CAST(round(1e6 * ln(rnk *
       |      ln(greatest(nv, 2)::DOUBLE))) AS BIGINT) AS cost
       |  FROM (
       |    SELECT word,
       |      row_number() OVER (ORDER BY freq DESC, word ASC) AS rnk,
       |      count(*) OVER () AS nv
       |    FROM (SELECT word, count(*) AS freq FROM toks GROUP BY word
       |          ORDER BY freq DESC, word ASC LIMIT 100000) z) zz),
       |sq AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS s,
       |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n_orig
       |  FROM documents),
       |pstr AS MATERIALIZED (
       |  SELECT doc_id, i, l, substr(s, i - l + 1, l) AS w
       |  FROM sq, unnest(range(1, length(s) + 1)) AS t(i),
       |       unnest(range(1, ${w + 1})) AS u(l)
       |  WHERE l <= i),
       |arcs AS MATERIALIZED (
       |  SELECT p.doc_id, p.i,
       |    $dcols
       |  FROM pstr p LEFT JOIN vocab v ON v.word = p.w
       |  GROUP BY p.doc_id, p.i),
       |dp AS (
       |  SELECT doc_id, length(s) AS n, 0 AS pos,
       |    CAST([0$nulls] AS BIGINT[]) AS b,
       |    CAST([0$nulls] AS BIGINT[]) AS np
       |  FROM sq
       |  UNION ALL
       |  SELECT doc_id, n, pos,
       |    $newb AS b,
       |    $newnp AS np
       |  FROM (
       |    SELECT q.*, ($npl) AS npnew FROM (
       |      SELECT m.*, ($pick) AS pick FROM (
       |        SELECT c.*, $least AS best FROM (
       |          SELECT d.doc_id, d.n, d.pos + 1 AS pos, d.b, d.np,
       |            d.b[1] + ${graft.text.WordSegmenter.UnknownCostMicro} AS u,
       |            $cands
       |          FROM dp d JOIN arcs a
       |            ON a.doc_id = d.doc_id AND a.i = d.pos + 1
       |          WHERE d.pos < d.n) c) m) q) z),
       |fin AS MATERIALIZED (
       |  SELECT doc_id, np[1] AS n_tokens FROM dp WHERE pos = n)
       |SELECT s.doc_id, CAST(coalesce(f.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  s.n_orig, (coalesce(f.n_tokens, 0) = s.n_orig) AS roundtrip_exact
       |FROM sq s JOIN fin f ON f.doc_id = s.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // Deduplication (documents)
  // ---------------------------------------------------------------

  val d01_exact_dedup: QFn = (s, d) =>
    Dedup.exactClusters(t(s, d, "documents"), "doc_id", "text")

  val d01_sql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |  count(*) AS cluster_size, min(doc_id) AS keep_id
      |FROM documents GROUP BY fp""".stripMargin

  private lazy val shingleToksSql =
    """list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0)""".stripMargin

  val d02_ngram_jaccard: QFn = (s, d) =>
    Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      shingleSize = 3, threshold = 0.5, maxDf = 200)

  val d02_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |keep AS (SELECT shingle FROM posting GROUP BY shingle
       |  HAVING count(*) <= 200),
       |p AS (SELECT posting.doc_id, posting.shingle FROM posting
       |  JOIN keep USING (shingle)),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
       |  FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id1, id2,
       |  round(inter / (s1.n + s2.n - inter), 4) AS jaccard
       |FROM inter JOIN sizes s1 ON id1 = s1.doc_id
       |JOIN sizes s2 ON id2 = s2.doc_id
       |WHERE round(inter / (s1.n + s2.n - inter), 4) >= 0.5""".stripMargin

  /** LSH BANDING-RECALL AUDIT — the question every dedup deployment
    * must answer before trusting MinHash-LSH at corpus scale: which
    * of the EXACT near-dup pairs does the banding even surface?
    * Truth is d02's canonical exact pair set (prefix-filtered,
    * pruned-universe intersection over full sizes, j ≥ 0.5); for
    * each truth pair, `bands_shared` counts the colliding bands of
    * the d03 12-hash/4-band signatures — an EXACT integer (0..4, no
    * probability model, no rounding), and `detected` = bands_shared
    * ≥ 1 is precisely "the d03 candidate join would have emitted
    * this pair". The s09/d12 audit discipline at the PAIR level:
    * banding recall is measured, not assumed (p_detect = 1−(1−j³)⁴
    * is the theory; this table is the ground truth). Signature table
    * persists once for its two join consumers (CLAUDE.md rule); the
    * truth pipeline and the signature build read ONE ShingleCache —
    * the corpus is tokenized once for both sides of the audit. */
  val d16_lsh_recall: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val cache = new graft.dedup.ShingleCache(docs, "doc_id", "text")
    // fence: the exact-truth join is df-capped + prefix-filtered
    // inside ngramJaccardPairs (AuditFence.declared("d16_lsh_recall"))
    val truth = graft.tools.AuditFence.fenced("d16_lsh_recall",
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
        cache = Some(cache)))
    val sigs = Dedup.minhashSignatures(
      cache.postings(3, distinct = true), 12)
      .select(col("doc_id"),
        Dedup.lshBandKeys(col("sig"), 4, 3).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count() // two join consumers fan out
    truth
      .join(sigs.select(col("doc_id").as("id1"), col("bk").as("bk1")),
        Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"), col("bk").as("bk2")),
        Seq("id2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        size(array_intersect(col("bk1"), col("bk2"))).cast("long")
          .as("bands_shared"),
        when(size(array_intersect(col("bk1"), col("bk2"))) >= 1, 1L)
          .otherwise(0L).as("detected"))
  }

  val d16_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |keep AS (SELECT shingle FROM posting GROUP BY shingle
       |  HAVING count(*) <= 200),
       |p AS (SELECT posting.doc_id, posting.shingle FROM posting
       |  JOIN keep USING (shingle)),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    count(*) AS inter
       |  FROM p a JOIN p b ON a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT id1, id2,
       |    round(inter / (s1.n + s2.n - inter), 4) AS jaccard
       |  FROM inter JOIN sizes s1 ON id1 = s1.doc_id
       |  JOIN sizes s2 ON id2 = s2.doc_id
       |  WHERE round(inter / (s1.n + s2.n - inter), 4) >= 0.5),
       |sig AS (SELECT doc_id, list_transform(range(0, 12),
       |    s -> list_min(list_transform(shingles,
       |      x -> md5(s::VARCHAR || ':' || x)))) AS sig
       |  FROM sh),
       |bk AS (SELECT doc_id, list_transform(range(0, 4),
       |    b -> b::VARCHAR || '|' ||
       |      md5(array_to_string(sig[b*3+1 : b*3+3], ','))) AS bk
       |  FROM sig)
       |SELECT t.id1, t.id2, t.jaccard,
       |  CAST(len(list_intersect(b1.bk, b2.bk)) AS BIGINT)
       |    AS bands_shared,
       |  CAST(CASE WHEN len(list_intersect(b1.bk, b2.bk)) >= 1
       |    THEN 1 ELSE 0 END AS BIGINT) AS detected
       |FROM truth t JOIN bk b1 ON t.id1 = b1.doc_id
       |JOIN bk b2 ON t.id2 = b2.doc_id""".stripMargin

  /** DEDUP IMPACT REPORT — the one-row summary every curation run
    * prints before anyone trusts it: how many documents and tokens
    * do exact dedup (d01's fingerprint, keep-lowest-id) AND
    * near-dedup (d03's verified MinHash-LSH pairs under d15's
    * keep-lowest-id policy: a doc drops when any verified near-dup
    * with a smaller id exists) actually remove from this corpus?
    * All exact integers; removed-token fraction in HALF_UP integer
    * ppm. Exact duplicates are RARE in this corpus (8 of 5000 docs
    * at sf0.1, zero at smaller SFs — all of them also near-dups)
    * while near-dedup carries the real mass (4.7% of sf0.1 tokens);
    * the report is exactly what exposes that kind of corpus fact. Scale shape: one
    * fingerprint aggregate, the d03 candidate machinery (its cost),
    * one node-sized anti-join, one scalar rollup — ONE output row
    * regardless of corpus size. */
  val d17_dedup_impact: QFn = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.tokenCount(col("text")).as("ntok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // feeds keepers, totals AND the final anti-join
    val exactRemoved = docs
      .join(docs.groupBy("fp").agg(min("doc_id").as("keep")),
        Seq("fp"))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id"))
    // fence: near-dup removals come from the banded candidate set
    // (AuditFence.declared("d17_dedup_impact"))
    val nearRemoved = graft.tools.AuditFence.fenced(
      "d17_dedup_impact",
      Dedup.minhashLshPairs(t(s, d, "documents"),
        "doc_id", "text", shingleSize = 3, numHashes = 12, bands = 4,
        threshold = 0.5))
      .select(col("id2").as("doc_id"))
    val removed = exactRemoved.withColumn("why", lit("exact"))
      .union(nearRemoved.withColumn("why", lit("near")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    removed.count() // feeds two category counts AND the anti-join
    val kept = docs.join(removed.select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    val cat = removed.groupBy().agg(
      countDistinct(when(col("why") === "exact", col("doc_id")))
        .as("n_exact_removed"),
      countDistinct(when(col("why") === "near", col("doc_id")))
        .as("n_near_removed"),
      countDistinct("doc_id").as("n_removed"))
    docs.agg(count(lit(1)).as("n_docs"),
      sum("ntok").as("tokens_total"))
      .crossJoin(cat)
      .crossJoin(kept.agg(sum("ntok").as("tokens_kept")))
      .select(col("n_docs"), col("n_exact_removed"),
        col("n_near_removed"), col("n_removed"),
        col("tokens_total"), col("tokens_kept"),
        expr("CAST((2 * 1000000 * (tokens_total - tokens_kept) + " +
          "tokens_total) DIV (2 * tokens_total) AS BIGINT)")
          .as("tokens_removed_ppm"))
  }

  val d17_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
       |    s -> list_min(list_transform(shingles,
       |      x -> md5(s::VARCHAR || ':' || x)))) AS sig
       |  FROM sh),
       |banded AS (SELECT doc_id, shingles, unnest(list_transform(range(0, 4),
       |    b -> b::VARCHAR || '|' ||
       |      md5(array_to_string(sig[b*3+1 : b*3+3], ',')))) AS band
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |pairs AS (SELECT id1, id2, s1.shingles AS sh1, s2.shingles AS sh2
       |  FROM cand JOIN sh s1 ON id1 = s1.doc_id
       |  JOIN sh s2 ON id2 = s2.doc_id),
       |scored AS (SELECT id1, id2,
       |    len(list_intersect(sh1, sh2)) AS inter,
       |    len(sh1) AS n1, len(sh2) AS n2 FROM pairs),
       |near AS (SELECT DISTINCT id2 AS doc_id FROM scored
       |  WHERE round(inter / (n1 + n2 - inter), 4) >= 0.5),
       |f AS (SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |      AS fp,
       |    CAST(len(list_filter(regexp_split_to_array(trim(text),
       |      '\\s+'), x -> len(x) > 0)) AS BIGINT) AS ntok
       |  FROM documents),
       |ex AS (SELECT f.doc_id FROM f
       |  JOIN (SELECT fp, min(doc_id) AS keep FROM f GROUP BY fp) k
       |    ON f.fp = k.fp WHERE f.doc_id <> k.keep),
       |rem AS (SELECT doc_id, 'exact' AS why FROM ex
       |  UNION ALL SELECT doc_id, 'near' AS why FROM near),
       |cat AS (SELECT
       |    CAST(count(DISTINCT CASE WHEN why = 'exact' THEN doc_id
       |      END) AS BIGINT) AS n_exact_removed,
       |    CAST(count(DISTINCT CASE WHEN why = 'near' THEN doc_id
       |      END) AS BIGINT) AS n_near_removed,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_removed
       |  FROM rem),
       |tot AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(ntok) AS BIGINT) AS tokens_total FROM f),
       |kp AS (SELECT CAST(sum(ntok) AS BIGINT) AS tokens_kept
       |  FROM f WHERE doc_id NOT IN (SELECT doc_id FROM rem))
       |SELECT n_docs, n_exact_removed, n_near_removed, n_removed,
       |  tokens_total, tokens_kept,
       |  CAST((2 * 1000000 * (tokens_total - tokens_kept) +
       |    tokens_total) // (2 * tokens_total) AS BIGINT)
       |    AS tokens_removed_ppm
       |FROM tot CROSS JOIN cat CROSS JOIN kp""".stripMargin

  val d03_minhash_lsh: QFn = (s, d) =>
    Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.5)

  val d03_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
       |    s -> list_min(list_transform(shingles,
       |      x -> md5(s::VARCHAR || ':' || x)))) AS sig
       |  FROM sh),
       |banded AS (SELECT doc_id, shingles, unnest(list_transform(range(0, 4),
       |    b -> b::VARCHAR || '|' ||
       |      md5(array_to_string(sig[b*3+1 : b*3+3], ',')))) AS band
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |pairs AS (SELECT id1, id2, s1.shingles AS sh1, s2.shingles AS sh2
       |  FROM cand JOIN sh s1 ON id1 = s1.doc_id
       |  JOIN sh s2 ON id2 = s2.doc_id),
       |scored AS (SELECT id1, id2,
       |    len(list_intersect(sh1, sh2)) AS inter,
       |    len(sh1) AS n1, len(sh2) AS n2 FROM pairs)
       |SELECT id1, id2, round(inter / (n1 + n2 - inter), 4) AS jaccard
       |FROM scored
       |WHERE round(inter / (n1 + n2 - inter), 4) >= 0.5""".stripMargin

  /** MinHash-Jaccard ESTIMATE vs exact — the sketch-accuracy table
    * for the dedup family (the q42/t11/q47 theme applied to d03's
    * sketch): for every LSH candidate pair, the estimate is the
    * fraction of equal signature components (matches·1e6 DIV 12 —
    * quantized to twelfths, exactly what a 12-hash signature can
    * resolve) next to the exact shingle-set Jaccard (integer-ppm
    * HALF_UP). At 100 TB the exact column is computed ONLY within
    * candidates (postings semi-joined to candidate docs first) —
    * the sketch is what makes that affordable. 12 equality terms are
    * unrolled comparisons, not an interpreted lambda (CLAUDE.md
    * hot-path rule). */
  val d12_minhash_est: QFn = (s, d) =>
    // fence: exact Jaccard only over the band candidates
    // (AuditFence.declared("d12_minhash_est"))
    graft.tools.AuditFence.fenced("d12_minhash_est",
      Dedup.minhashEstimatePairs(t(s, d, "documents"), "doc_id",
        "text", shingleSize = 3, numHashes = 12, bands = 4))

  val d12_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
       |    s -> list_min(list_transform(shingles,
       |      x -> md5(s::VARCHAR || ':' || x)))) AS sig
       |  FROM sh),
       |banded AS (SELECT doc_id, unnest(list_transform(range(0, 4),
       |    b -> b::VARCHAR || '|' ||
       |      md5(array_to_string(sig[b*3+1 : b*3+3], ',')))) AS band
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |m AS (SELECT id1, id2,
       |    len(list_filter(range(1, 13),
       |      i -> g1.sig[i] = g2.sig[i])) AS matches,
       |    len(list_intersect(s1.shingles, s2.shingles)) AS inter,
       |    len(s1.shingles) AS n1, len(s2.shingles) AS n2
       |  FROM cand
       |  JOIN sig g1 ON id1 = g1.doc_id JOIN sig g2 ON id2 = g2.doc_id
       |  JOIN sh s1 ON id1 = s1.doc_id JOIN sh s2 ON id2 = s2.doc_id)
       |SELECT id1, id2,
       |  CAST((matches * 1000000) // 12 AS BIGINT) AS est_ppm,
       |  CAST((inter * 2000000 + (n1 + n2 - inter))
       |    // (2 * (n1 + n2 - inter)) AS BIGINT) AS exact_ppm
       |FROM m""".stripMargin

  val d04_simhash: QFn = (s, d) =>
    Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
      shingleSize = 3, maxHamming = 6)

  /** Shared CTE chain of the SimHash oracle (through `cand`): same
    * md5-nibble-parity votes (odd hex digit = +1) over the 64-nibble
    * digest md5(shingle) || md5('x:' || shingle), same 8-bit banding.
    * The 64 vote aggregates are generated, not hand-written; bit 63's
    * weight is spelled (-max - 1) so the literal stays BIGINT, and
    * the packed value is the identical two's-complement signature on
    * both engines (xor / bit_count / shift+mask are all
    * representation-based). Used by d04 (pairs) and d06 (clusters
    * over the pair graph). */
  private val simhashCtesSql: String = {
    val votes = (0 until 64).map(i =>
      s"sum(CASE WHEN strpos('13579bdf', substr(d, ${i + 1}, 1)) > 0 " +
        s"THEN 1 ELSE -1 END) AS v$i").mkString(",\n    ")
    val packed = (0 until 64).map { i =>
      val w = if (i == 63) "(-9223372036854775807 - 1)"
        else (1L << i).toString
      s"(CASE WHEN v$i >= 0 THEN $w ELSE 0 END)"
    }.mkString(" + ")
    s"""toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |digests AS (SELECT doc_id,
       |    md5(shingle) || md5('x:' || shingle) AS d
       |  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM digests GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($packed AS BIGINT) AS sig FROM votes),
       |banded AS (SELECT doc_id, sig,
       |    b::VARCHAR || '|' || (((sig >> (b * 8)) & 255))::VARCHAR AS band
       |  FROM sig, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS u(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |    a.sig AS sig1, b.sig AS sig2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin
  }

  val d04_sql: String =
    s"""WITH $simhashCtesSql
       |SELECT id1, id2, CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sig1, sig2)) <= 6""".stripMargin

  /** SimHash ACCURACY audit (d12's theme for the other sketch): for
    * every d04 near-dup pair, the hamming distance sits next to the
    * exact 3-gram-set Jaccard (integer-ppm) — the monotone
    * hamming↔similarity relationship the banding recall argument
    * rests on, as a hash-verified table instead of an assumption.
    * Exact intersections are in-row array_intersects over the
    * candidate pairs only. */
  val d13_simhash_est: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    // fence: exact Jaccard only over the hamming<=6 band pairs
    // (AuditFence.declared("d13_simhash_est"))
    val pairs = graft.tools.AuditFence.fenced("d13_simhash_est",
      Dedup.simhashPairs(docs, "doc_id", "text",
        shingleSize = 3, maxHamming = 6))
    val sets = TextFunctions.shinglePostings(docs, "doc_id", "text",
      3, distinct = true)
      .groupBy("doc_id").agg(collect_list(col("shingle")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count() // both pair-side joins read it
    pairs
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")),
        "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        "id2")
      .select(col("id1"), col("id2"), col("hamming"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long")
          .as("inter"),
        (size(col("sh1")) + size(col("sh2"))).cast("long").as("ns"))
      .select(col("id1"), col("id2"), col("hamming"),
        expr("(inter * 2000000 + (ns - inter)) DIV (2 * (ns - inter))")
          .as("exact_ppm"))
  }

  val d13_sql: String =
    s"""WITH $simhashCtesSql,
       |p AS (SELECT id1, id2,
       |    CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
       |  FROM cand WHERE bit_count(xor(sig1, sig2)) <= 6),
       |x AS (SELECT p.id1, p.id2, p.hamming,
       |    len(list_intersect(s1.shingles, s2.shingles)) AS inter,
       |    len(s1.shingles) + len(s2.shingles) AS ns
       |  FROM p JOIN sh s1 ON p.id1 = s1.doc_id
       |  JOIN sh s2 ON p.id2 = s2.doc_id)
       |SELECT id1, id2, hamming,
       |  CAST((inter * 2000000 + (ns - inter)) // (2 * (ns - inter))
       |    AS BIGINT) AS exact_ppm
       |FROM x""".stripMargin

  /** Embedding-cosine near-duplicate pairs (the modern semantic-dedup
    * path) through banded hyperplane LSH: candidates only from shared
    * (band, bucket) keys — ids-only shuffles, exact cosine verify
    * inside candidates, NO all-pairs BroadcastNestedLoopJoin. The
    * 0.4 threshold is calibrated to this corpus (max pairwise cosine
    * at sf0.01 is 0.51), so the oracle verifies a non-empty result. */
  val d05_embedding_dedup: QFn = (s, d) =>
    Similarity.bandedLshNeighborPairs(embD(s, d), bands = 4,
      bandBits = 4, dim = 64, minCos = 0.4)

  /** Oracle mirror of the banded-LSH dedup: the deterministic ±1
    * plane components are plan-time literals — inlined into the SQL,
    * bucketing reproduced band by band. */
  val d05_sql: String = {
    val signs = Similarity.planeSigns(16, 64)
    val bandSelects = (0 until 4).map { b =>
      val bits = (0 until 4).map { i =>
        val arr = signs(b * 4 + i).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(v, $arr::DOUBLE[]) >= 0 " +
          s"THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, v, '$b|' || ($bits)::VARCHAR AS band FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |banded AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.vec_id < b.vec_id)
       |SELECT id1, id2,
       |  round(list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
       |FROM cand JOIN e x ON id1 = x.vec_id JOIN e y ON id2 = y.vec_id
       |WHERE round(list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4""".stripMargin
  }

  /** Near-dup CLUSTERING: connected components over the SimHash pair
    * graph (d04's exact parameters), labelling every document with
    * the min doc_id reachable through near-dup edges — the step that
    * turns pairwise dedup output into keep-one-per-cluster decisions
    * (remove_duplicates, create_merged.py:992, generalized to a
    * transitive duplicate relation). Iterative min-label propagation,
    * O(diameter) rounds of one join + one aggregate
    * ([[graft.graph.Components]]); singleton docs keep their own id. */
  val d06_dup_clusters: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
      shingleSize = 3, maxHamming = 6).select("id1", "id2")
    graft.graph.Components.componentSizes(
      docs.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("component"),
        col("cluster_size"))
  }

  /** Shared oracle fragment: SimHash candidate pairs → transitive
    * closure via a recursive CTE (min reachable id = the component
    * label). Used by d06 and d08. */
  private val dupGraphCtesSql: String =
    s"""$simhashCtesSql,
       |pairs AS (SELECT id1, id2 FROM cand
       |  WHERE bit_count(xor(sig1, sig2)) <= 6),
       |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
       |  UNION SELECT id2, id1 FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |  WHERE e.v <> r.u),
       |comp AS (SELECT u AS id, least(u, min(v)) AS component
       |  FROM reach GROUP BY u)""".stripMargin

  val d06_sql: String =
    s"""WITH RECURSIVE $dupGraphCtesSql,
       |lab AS (SELECT d.doc_id,
       |    coalesce(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
       |SELECT doc_id, component,
       |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
       |    AS cluster_size
       |FROM lab""".stripMargin

  /** Canonical-document pick per duplicate cluster — the step AFTER
    * d06's clustering: each near-dup cluster keeps its best document
    * (longest text, doc_id as the total-order tiebreak) and marks the
    * rest for removal. Reference analog: remove_duplicates keeps one
    * collection per duplicate group (create_merged.py:992); LLM
    * pipelines keep the highest-quality member of each near-dup
    * cluster. The pick is ONE window pass over the cluster labels —
    * first_value and count share a single partition+order+frame spec,
    * so they plan into one WindowExec on one component shuffle. */
  val d08_cluster_canonical: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
      shingleSize = 3, maxHamming = 6).select("id1", "id2")
    val comp = graft.graph.Components.connectedComponents(
      docs.select(col("doc_id").as("id")), pairs)
    val lab = comp.join(
      docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
    val w = Window.partitionBy("component")
      .orderBy(col("n_chars").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lab.select(
      col("id").as("doc_id"), col("component"),
      first("id").over(w).as("canonical_id"),
      count(lit(1)).over(w).as("cluster_size"),
      when(col("id") === first("id").over(w), 1L).otherwise(0L)
        .as("keep"))
  }

  val d08_sql: String =
    s"""WITH RECURSIVE $dupGraphCtesSql,
       |lab AS (SELECT d.doc_id,
       |    coalesce(c.component, d.doc_id) AS component, d.n_chars
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
       |SELECT doc_id, component,
       |  first_value(doc_id) OVER w AS canonical_id,
       |  CAST(count(*) OVER w AS BIGINT) AS cluster_size,
       |  CAST(CASE WHEN doc_id = first_value(doc_id) OVER w
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM lab
       |WINDOW w AS (PARTITION BY component
       |  ORDER BY n_chars DESC, doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  /** Benchmark decontamination: flag training documents sharing any
    * 5-gram shingle with a held-out "eval" slice (doc_id % 50 == 0) —
    * the n-gram-overlap decontamination step every LLM data pipeline
    * runs before training. One semi-join on the shingle hash (the
    * eval index is tiny next to the corpus — AQE broadcasts it);
    * contamination fraction rounded HALF_UP in integer space
    * (numerators are counts, non-negative). */
  val d07_decontaminate: QFn = (s, d) =>
    Dedup.decontaminate(t(s, d, "documents"), "doc_id", "text")

  val d07_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 3, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       |      t[i+3] || ' ' || t[i+4])) AS shingles
       |  FROM toks WHERE len(t) >= 5),
       |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |ev AS (SELECT DISTINCT shingle FROM post WHERE doc_id % 50 = 0),
       |train AS (SELECT * FROM post WHERE doc_id % 50 <> 0),
       |totals AS (SELECT doc_id, count(*) AS n_shingles
       |  FROM train GROUP BY doc_id),
       |hits AS (SELECT doc_id, count(*) AS n_hits FROM train
       |  WHERE shingle IN (SELECT shingle FROM ev) GROUP BY doc_id)
       |SELECT t.doc_id, t.n_shingles,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  floor((coalesce(h.n_hits, 0) * 20000 + t.n_shingles)
       |    / (t.n_shingles * 2.0)) / 10000.0 AS contaminated_frac
       |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin

  /** BLOOM-FILTER decontamination — d07's semantics at the shape 100 TB
    * requires: the eval side's 5-gram shingles fold into a 32 768-bit
    * filter (k=3 md5 probes) built once and shipped as a PLAN CONSTANT
    * ([[graft.dedup.Bloom]]), so the corpus-side test is three codegen'd
    * md5 probes per shingle — the eval semi-join's shuffle is gone
    * entirely. The price is a one-sided false-positive rate; exact
    * hits ride along per document so the FP count is itself part of
    * the verified output (n_false_pos > 0 at every SF — the filter is
    * deliberately sized so the trade is visible, not vacuous). The
    * oracle mirrors the bitset as a distinct-position set: bitset
    * membership ≡ position-set membership, hash-identical down to
    * each false positive. */
  val d10_bloom_decontaminate: QFn = (s, d) =>
    Dedup.bloomDecontaminate(t(s, d, "documents"), "doc_id", "text")

  val d10_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 3, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       |      t[i+3] || ' ' || t[i+4])) AS shingles
       |  FROM toks WHERE len(t) >= 5),
       |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |r AS (SELECT unnest([0, 1, 2]) AS r),
       |evp AS (SELECT DISTINCT ('0x' || substr(md5(r::VARCHAR || ':' ||
       |    shingle), 1, 8))::BIGINT % 32768 AS pos
       |  FROM post CROSS JOIN r WHERE doc_id % 50 = 0),
       |ev AS (SELECT DISTINCT shingle FROM post WHERE doc_id % 50 = 0),
       |train AS (SELECT doc_id, shingle FROM post WHERE doc_id % 50 <> 0),
       |tp AS (SELECT doc_id, shingle, ('0x' || substr(md5(r::VARCHAR ||
       |    ':' || shingle), 1, 8))::BIGINT % 32768 AS pos
       |  FROM train CROSS JOIN r),
       |bh AS (SELECT doc_id, shingle FROM tp JOIN evp USING (pos)
       |  GROUP BY doc_id, shingle HAVING count(*) = 3)
       |SELECT doc_id, n_shingles, n_bloom_hits, n_exact_hits,
       |  n_bloom_hits - n_exact_hits AS n_false_pos FROM (
       |  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN bh.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_bloom_hits,
       |    CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_exact_hits
       |  FROM train tr
       |  LEFT JOIN bh ON tr.doc_id = bh.doc_id AND tr.shingle = bh.shingle
       |  LEFT JOIN ev ON tr.shingle = ev.shingle
       |  GROUP BY tr.doc_id) a""".stripMargin

  /** CONTENT-DEFINED CHUNKING dedup — the insertion-robust complement
    * to d09's fixed stride: chunk boundaries are set where the
    * content's 8-char window hash starts with nibble 0 (p = 1/16 →
    * ~16-char expected chunks), so a duplicated region re-synchronizes
    * on the SAME boundaries no matter how far an edit shifted it —
    * the property FastCDC-style storage dedup is built on (fixed
    * windows lose alignment after one inserted byte). Declarative
    * pipeline: position explode → boundary filter → per-doc lead()
    * window pairs consecutive boundaries → chunk hash groupBy (60-bit
    * md5 keys, 8-byte shuffle rows). The per-position window hash is
    * CDC's inherent cost; a codegen'd boundary-array Expression would
    * fuse the explode+filter into one pass per doc — the upgrade
    * path if this became the bottleneck, same judgment call as
    * WordShinglesExpr. */
  val d11_cdc_chunks: QFn = (s, d) =>
    Dedup.cdcChunks(t(s, d, "documents"), "doc_id", "text")
      .groupBy("ckey")
      .agg(countDistinct("id").as("n_docs"),
        count(lit(1)).as("n_occ"), min("clen").as("chunk_len"))
      .filter(col("n_docs") >= 2)

  val d11_sql: String =
    """WITH docs AS (SELECT doc_id, text FROM documents
      |  WHERE length(text) >= 8),
      |pos AS (SELECT doc_id, text, p
      |  FROM docs, unnest(generate_series(2, length(text) - 7, 1))
      |    AS t(p)
      |  WHERE substr(md5(substr(text, CAST(p AS INT), 8)), 1, 1) = '0'),
      |b AS (SELECT doc_id, text, CAST(1 AS BIGINT) AS bp FROM docs
      |  UNION ALL SELECT doc_id, text, CAST(p AS BIGINT) FROM pos),
      |ch AS (SELECT doc_id, text, bp,
      |    coalesce(lead(bp, 1) OVER (PARTITION BY doc_id ORDER BY bp),
      |      length(text) + 1) AS np
      |  FROM b),
      |ck AS (SELECT doc_id, np - bp AS clen,
      |    ('0x' || substr(md5(substr(text, CAST(bp AS INT),
      |      CAST(np - bp AS INT))), 1, 15))::BIGINT AS ckey
      |  FROM ch WHERE np > bp)
      |SELECT ckey, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(min(clen) AS BIGINT) AS chunk_len
      |FROM ck GROUP BY ckey
      |HAVING count(DISTINCT doc_id) >= 2""".stripMargin

  /** COUNT-MIN sketch heavy hitters with full sketch parity: 4 hash
    * rows × 16 counters, cell = Σ counts of tokens hashing there (a
    * pure SUM — order-independent, so partial aggregation collapses
    * the sketch map-side and the shuffle carries ≤ 64 cells per
    * partition REGARDLESS of corpus size; that is the whole trade vs
    * the exact per-token groupBy). Estimates for the top-20 exact
    * tokens = min over the 4 rows; exact counts ride along to show
    * the one-sided error (est ≥ exact always; the 16-wide rows are
    * sized to the 31-token synthetic vocab so collisions actually
    * happen — width scales with vocabulary/memory, not data). Cells
    * are derived from the exact counts table here because the query
    * computes `exact` anyway for comparison (Σ counts per cell ≡
    * counting the raw stream); a pure-sketch pipeline would aggregate
    * (row, cell) keys straight off the token stream and never build
    * the vocab. Hash = md5(row ":" token) → first 8 hex digits mod
    * width, mirrored digit-for-digit by the oracle. */
  val t11_countmin: QFn = (s, d) => {
    val exact = t(s, d, "documents")
      .select(explode(TextFunctions.tokens(lower(col("text"))))
        .as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cells + top-k both branch off exact within one job — materialize
    exact.count()
    val rows = explode(array((0 until 4).map(lit(_)): _*)).as("r")
    val cell = TextFunctions.countMinCell(col("r"), col("tok"), 16)
    val cells = exact.select(col("tok"), col("n_exact"), rows)
      .withColumn("cell", cell)
      .groupBy("r", "cell").agg(sum("n_exact").as("cnt"))
    val top = exact
      .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
    val probes = top.select(col("tok"), col("n_exact"), rows)
      .withColumn("cell", cell)
    probes.join(cells, Seq("r", "cell"))
      .groupBy("tok", "n_exact").agg(min("cnt").as("n_cm"))
      .select(col("tok"), col("n_exact"), col("n_cm"))
  }

  val t11_sql: String =
    """WITH tk AS (SELECT unnest(list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0)) AS tok FROM documents),
      |exact AS (SELECT tok, count(*) AS n_exact FROM tk GROUP BY tok),
      |r AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cells AS (SELECT r,
      |    ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 8))::BIGINT
      |      % 16 AS cell,
      |    CAST(sum(n_exact) AS BIGINT) AS cnt
      |  FROM exact CROSS JOIN r GROUP BY 1, 2),
      |top AS (SELECT tok, n_exact FROM exact
      |  ORDER BY n_exact DESC, tok LIMIT 20),
      |probes AS (SELECT tok, n_exact, r,
      |    ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 8))::BIGINT
      |      % 16 AS cell
      |  FROM top CROSS JOIN r)
      |SELECT tok, CAST(n_exact AS BIGINT) AS n_exact,
      |  CAST(min(cnt) AS BIGINT) AS n_cm
      |FROM probes JOIN cells USING (r, cell)
      |GROUP BY tok, n_exact""".stripMargin

  /** The PURE-sketch Count-Min pipeline — the form a 100 TB job
    * actually runs: (row, cell) keys aggregate STRAIGHT off the token
    * stream, no exact-vocab table ever materializes. The cells are
    * order-independent sums, so partial aggregation collapses the
    * sketch map-side and the shuffle carries ≤ 4×16 = 64 cells per
    * partition regardless of corpus size (t11 derives the same cells
    * from its audit vocab — a spec pins both cell sets identical;
    * the oracle here also counts the raw stream). */
  val t12_countmin_pure: QFn = (s, d) =>
    TextFunctions.countMinCells(t(s, d, "documents"), 4, 16)
      .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))

  val t12_sql: String =
    """WITH tk AS (SELECT unnest(list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0)) AS tok FROM documents),
      |r AS (SELECT unnest([0, 1, 2, 3]) AS r)
      |SELECT r,
      |  ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 8))::BIGINT
      |    % 16 AS cell,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM tk CROSS JOIN r GROUP BY 1, 2""".stripMargin

  /** SUBSTRING-level dedup — duplicated 64-char spans ACROSS documents
    * (the fixed-stride approximation of suffix-array training-data
    * dedup: exact-match spans, stride 32 so any duplicated region
    * ≥ 96 chars is guaranteed to contribute at least one aligned
    * window pair in most alignments, and verbatim copies always
    * collide on every window). Each doc emits ⌈len/32⌉ windows inside
    * whole-stage codegen (sequence + explode + substring); the window
    * is reduced to a 60-bit md5 key BEFORE the shuffle, so the
    * groupBy carries 8-byte longs, not 64-char strings — at 100 TB
    * the span aggregate is the job, and it's one partial-aggregated
    * shuffle keyed on the span hash. */
  val d09_span_dedup: QFn = (s, d) => {
    val docs = t(s, d, "documents")
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"), col("text"))
    val spans = docs
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - lit(63),
          lit(32))).as("p"),
        col("text"))
      .select(col("doc_id"),
        conv(substring(md5(expr("substring(text, p, 64)")), 1, 15),
          16, 10).cast("long").as("span_key"))
    spans.groupBy("span_key")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
  }

  val d09_sql: String =
    """WITH docs AS (SELECT doc_id, text FROM documents
      |  WHERE length(text) >= 64),
      |sp AS (SELECT doc_id, substr(text, CAST(p AS INT), 64) AS span
      |  FROM docs, unnest(generate_series(1, length(text) - 63, 32))
      |    AS t(p)),
      |h AS (SELECT doc_id,
      |    ('0x' || substr(md5(span), 1, 15))::BIGINT AS span_key
      |  FROM sp)
      |SELECT span_key, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_occ
      |FROM h GROUP BY span_key
      |HAVING count(DISTINCT doc_id) >= 2""".stripMargin

  // ---------------------------------------------------------------
  /** d20 — duplicated-span REMOVAL, the C4 dedup rule ("discard all
    * but one of any three-sentence span occurring more than once",
    * Raffel et al. 2020 §2.2) as a corpus REWRITE: where d09 only
    * FINDS duplicated spans and d17 counts their impact, d20 emits
    * the rewritten corpus with every duplicate span dropped
    * keep-FIRST plus the per-doc impact columns. Adaptation declared
    * like t15's: this corpus is single-line word text with no
    * sentence punctuation, so the "sentence-triple" unit becomes a
    * fixed 8-token segment (the non-overlapping analog of d09's
    * character windows) — the rule, keep = globally first occurrence
    * by (doc_id, seg_idx), is C4's exactly.
    *
    * Scale shape (the d09 discipline): the keep-first decision
    * shuffles only (span_key, doc_id, seg_idx) — the 60-bit md5 span
    * key plus two longs, never the segment text — through ONE
    * map-side-combining min(struct) aggregate; the segment stream
    * itself shuffles once for the flag join and once for the per-doc
    * reassembly. min(struct) (not a row_number window) keeps a
    * mega-duplicated span from serializing through a single window
    * partition: partial aggregation collapses a hot span key
    * map-side, so skew lands as pre-combined singletons.
    * Body: [[graft.dedup.Dedup.spanRemoval]]. */
  val d20_span_removal: QFn = (s, d) =>
    Dedup.spanRemoval(t(s, d, "documents"), "doc_id", "text",
      segTokens = 8)

  val d20_sql: String =
    """WITH toks AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> x <> '') AS tk
      |  FROM documents WHERE len(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0),
      |segs AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
      |    array_to_string(tk[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)],
      |      ' ') AS seg
      |  FROM toks, unnest(range(CAST(ceil(len(tk)/8.0) AS BIGINT)))
      |    AS t(i)),
      |h AS (SELECT doc_id, seg_idx, seg,
      |    ('0x' || substr(md5(seg), 1, 15))::BIGINT AS span_key
      |  FROM segs),
      |r AS (SELECT *, row_number() OVER (PARTITION BY span_key
      |    ORDER BY doc_id, seg_idx) AS rn FROM h)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
      |    ORDER BY seg_idx), '') AS new_text,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_removed,
      |  CAST(sum(CASE WHEN rn > 1 THEN len(string_split(seg, ' '))
      |    ELSE 0 END) AS BIGINT) AS toks_removed
      |FROM r GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** d21 — OFFSET-INVARIANT duplicated-substring removal (the r13
    * verdict's #1 capability ask; Lee et al. 2021's ExactSubstr
    * dedup, Spark-approximated): d20 removes duplicates only at
    * fixed 8-token segment boundaries — a one-token shift of the
    * same duplicated passage defeats its rewrite — while d21's
    * STRIDE-1 anchor windows detect a duplicated run of ≥ 8 tokens
    * at EVERY alignment, so shifted copies are removed keep-first
    * wherever they start (DedupSpec plants exactly the shifted
    * fixture d20 provably misses). Body + scale shape:
    * [[graft.dedup.Dedup.substringRemoval]]. */
  val d21_substr_removal: QFn = (s, d) =>
    Dedup.substringRemoval(t(s, d, "documents"), "doc_id", "text",
      anchorTokens = 8)

  val d21_sql: String =
    """WITH toks AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> x <> '') AS tk
      |  FROM documents WHERE len(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0),
      |win AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    ('0x' || substr(md5(array_to_string(
      |      tk[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')), 1, 15))
      |      ::BIGINT AS span_key
      |  FROM toks, unnest(range(greatest(len(tk) - 7, 0))) t(i)
      |  WHERE len(tk) >= 8),
      |r AS (SELECT *, row_number() OVER (PARTITION BY span_key
      |    ORDER BY doc_id, i) AS rn FROM win),
      |red AS (SELECT doc_id, i FROM r WHERE rn > 1),
      |cov AS (SELECT DISTINCT doc_id, i + d AS j
      |  FROM red, unnest(range(8)) t(d)),
      |rpd AS (SELECT doc_id, CAST(count(*) AS BIGINT)
      |    AS n_red_windows FROM red GROUP BY doc_id),
      |tok AS (SELECT doc_id, CAST(j AS BIGINT) AS j,
      |    tk[CAST(j+1 AS INT)] AS tok
      |  FROM toks, unnest(range(len(tk))) t(j))
      |SELECT t.doc_id,
      |  coalesce(string_agg(CASE WHEN c.j IS NULL THEN t.tok END,
      |    ' ' ORDER BY t.j), '') AS new_text,
      |  CAST(count(*) AS BIGINT) AS n_toks,
      |  CAST(sum(CASE WHEN c.j IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS toks_removed,
      |  coalesce(any_value(rpd.n_red_windows), 0::BIGINT)
      |    AS n_red_windows
      |FROM tok t
      |LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
      |LEFT JOIN rpd ON t.doc_id = rpd.doc_id
      |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** d22 — FUZZY benchmark decontamination (r14 verdict #3, the #1
    * "what's missing" item): the near-dup companion to d07's exact
    * 5-gram pass, mirroring the GPT-3-appendix/Llama practice of
    * dropping training docs with high n-gram overlap against eval
    * sets — paraphrased or lightly-edited eval leakage an exact
    * shingle semi-join misses. d03's MinHash-LSH banding generates
    * train×eval candidates; verification scores BOTH symmetric
    * Jaccard and d14's asymmetric eval-containment as HALF_UP
    * integer ppm (thresholds compare the ppm longs — engine-exact).
    * No fence needed: exact verification is candidate-bounded by
    * construction (the d12 discipline). Body + scale shape:
    * [[graft.dedup.Dedup.fuzzyDecontaminate]]. */
  val d22_fuzzy_decontaminate: QFn = (s, d) =>
    Dedup.fuzzyDecontaminate(t(s, d, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, evalMod = 50)

  val d22_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
       |    s -> list_min(list_transform(shingles,
       |      x -> md5(s::VARCHAR || ':' || x)))) AS sig
       |  FROM sh),
       |banded AS (SELECT doc_id, unnest(list_transform(range(0, 4),
       |    b -> b::VARCHAR || '|' ||
       |      md5(array_to_string(sig[b*3+1 : b*3+3], ',')))) AS band
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
       |  FROM banded a JOIN banded b ON a.band = b.band
       |  WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
       |m AS (SELECT train_id, eval_id,
       |    len(list_intersect(s1.shingles, s2.shingles)) AS inter,
       |    len(s1.shingles) AS n_t, len(s2.shingles) AS n_e
       |  FROM cand JOIN sh s1 ON train_id = s1.doc_id
       |  JOIN sh s2 ON eval_id = s2.doc_id),
       |scored AS (SELECT train_id, eval_id,
       |    CAST((inter * 2000000 + (n_t + n_e - inter))
       |      // (2 * (n_t + n_e - inter)) AS BIGINT) AS jaccard_ppm,
       |    CAST((inter * 2000000 + n_e) // (2 * n_e) AS BIGINT)
       |      AS containment_ppm
       |  FROM m)
       |SELECT train_id, eval_id, jaccard_ppm, containment_ppm,
       |  CASE WHEN jaccard_ppm >= 500000 AND containment_ppm >= 800000
       |    THEN 'both' WHEN jaccard_ppm >= 500000 THEN 'jaccard'
       |    ELSE 'containment' END AS reason
       |FROM scored
       |WHERE jaccard_ppm >= 500000 OR containment_ppm >= 800000""".stripMargin

  // ---------------------------------------------------------------
  // Similarity search (embeddings)
  // ---------------------------------------------------------------

  /** Engine-portable hash bucket: first 8 hex chars of md5 as a
    * non-negative BIGINT (DuckDB mirror: ('0x'||substr(md5(x),1,8))::BIGINT).
    * The 8-char cap keeps the value inside a signed long on both
    * engines. */
  private def md5Bucket(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private def embD(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))

  val s01_cosine_topk: QFn = (s, d) => {
    val e = embD(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), 10)
  }

  private val centCos =
    "round(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6)"

  private val cosSql =
    "round(list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 6)"

  val s01_sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
       |scored AS (SELECT probe_id, e.vec_id, $cosSql AS cos
       |  FROM e, p WHERE e.vec_id <> probe_id)
       |SELECT probe_id, vec_id, cos, rnk FROM (
       |  SELECT probe_id, vec_id, cos, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM scored) WHERE rnk <= 10""".stripMargin

  val s02_knn_join: QFn = (s, d) => {
    val e = embD(s, d)
    Similarity.bruteForceTopKPartitioned(e, e, 5)
  }

  val s02_sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, v AS pv FROM e),
       |scored AS (SELECT probe_id, e.vec_id, $cosSql AS cos
       |  FROM e, p WHERE e.vec_id <> probe_id)
       |SELECT probe_id, vec_id, cos, rnk FROM (
       |  SELECT probe_id, vec_id, cos, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM scored) WHERE rnk <= 5""".stripMargin

  val s03_ann_lsh: QFn = (s, d) =>
    Similarity.lshNeighborPairs(embD(s, d), planes = 8, dim = 64,
      minCos = 0.3)

  /** Oracle mirror of hyperplane LSH: the deterministic ±1 plane
    * components are plan-time literals — inlined into the SQL. */
  val s03_sql: String = {
    val signs = Similarity.planeSigns(8, 64)
    val bucketExpr = (0 until 8).map { h =>
      val arr = signs(h).map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $arr::DOUBLE[]) >= 0 " +
        s"THEN ${1 << h} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS bucket FROM e)
       |SELECT a.vec_id AS id1, b2.vec_id AS id2,
       |  round(list_dot_product(a.v, b2.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6) AS cos
       |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |WHERE round(list_dot_product(a.v, b2.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 6) >= 0.3""".stripMargin
  }

  /** MULTI-PROBE LSH ([[Similarity.multiProbeLshPairs]]): same 8
    * deterministic hyperplanes as s03, but each vector also probes
    * the 8 buckets one sign-flip away — recovering the near-neighbor
    * pairs a single boundary plane split apart (ham_bits=1 rows are
    * exactly the pairs s03 misses) for a constant 9× probe fanout
    * instead of more tables. Same scale shape: one bucket-keyed
    * equi-join, exact cosine within candidates only. */
  val s07_multiprobe: QFn = (s, d) =>
    Similarity.multiProbeLshPairs(embD(s, d), planes = 8, dim = 64,
      minCos = 0.3)

  val s07_sql: String = {
    val signs = Similarity.planeSigns(8, 64)
    val bucketExpr = (0 until 8).map { h =>
      val arr = signs(h).map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $arr::DOUBLE[]) >= 0 " +
        s"THEN ${1 << h} ELSE 0 END)"
    }.mkString(" + ")
    val probeList = ("bucket" +: (0 until 8).map(h =>
      s"xor(bucket, ${1L << h})")).mkString("[", ", ", "]")
    val cos = "round(list_dot_product(a.v, b2.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * " +
      "sqrt(list_dot_product(b2.v, b2.v))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM e),
       |p AS (SELECT vec_id, v, bucket,
       |    unnest($probeList) AS probe FROM b)
       |SELECT a.vec_id AS id1, b2.vec_id AS id2,
       |  CAST(bit_count(xor(a.bucket, b2.bucket)) AS BIGINT)
       |    AS ham_bits,
       |  $cos AS cos
       |FROM p a JOIN b b2
       |  ON a.probe = b2.bucket AND a.vec_id < b2.vec_id
       |WHERE $cos >= 0.3""".stripMargin
  }

  val s04_ann_ivf: QFn = (s, d) => {
    val e = embD(s, d)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), k = 10,
      nLists = 16, nProbe = 4)
  }

  /** Oracle mirror of IVF with ONE Lloyd refinement iteration: seed =
    * 16 lowest ids, cosine argmax assignment, per-dimension mean
    * rounded to 6 dp (same rounding as the Spark side, so the exact
    * centroid doubles match), then the nProbe search. */
  val s04_sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 16),
       |s1 AS (SELECT e.vec_id, e.v, c0.cent_id, $centCos AS cs
       |  FROM e, c0),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT vec_id, v, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS r
       |    FROM s1) WHERE r = 1),
       |u1 AS (SELECT cent_id, i, round(avg(v[i]), 6) AS m
       |  FROM a1, range(1, 65) t(i) GROUP BY 1, 2),
       |cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM u1
       |  GROUP BY cent_id),
       |cand_assign AS (SELECT vec_id AS cand_id, v AS cand_v, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      $centCos DESC, cent_id) AS r
       |  FROM e, cents),
       |lists AS (SELECT cand_id, cand_v, cent_id FROM cand_assign
       |  WHERE r = 1),
       |probe_assign AS (SELECT vec_id AS probe_id, v AS probe_v, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      $centCos DESC, cent_id) AS r
       |  FROM e, cents WHERE vec_id < 5),
       |probed AS (SELECT probe_id, probe_v, cent_id FROM probe_assign
       |  WHERE r <= 4),
       |scored AS (SELECT probe_id, cand_id,
       |    round(list_dot_product(probe_v, cand_v) /
       |      (sqrt(list_dot_product(probe_v, probe_v)) *
       |       sqrt(list_dot_product(cand_v, cand_v))), 6) AS cos
       |  FROM probed JOIN lists USING (cent_id)
       |  WHERE probe_id <> cand_id)
       |SELECT probe_id, cand_id, cos, rnk FROM (
       |  SELECT probe_id, cand_id, cos, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM scored) WHERE rnk <= 10""".stripMargin


  /** Scalar quantization of embeddings to 256-level codes (the int8
    * storage/transport form — at 100 TB the embedding column is the
    * bulk of the bytes and 8x compression is the difference between
    * one cluster and eight). Codes come from the codegen'd
    * [[org.apache.spark.sql.graft.QuantizeCsv]] expression; the range
    * params ride along so any reader can dequantize. */
  val s05_quantize: QFn = (s, d) => {
    import org.apache.spark.sql.graft.{ColumnBridge, QuantizeCsv}
    val e = embD(s, d)
    e.select(col("vec_id"),
      round(array_min(col("embedding")), 6).as("mn"),
      round(array_max(col("embedding")), 6).as("mx"),
      ColumnBridge.column(QuantizeCsv(
        ColumnBridge.expression(col("embedding")), 256)).as("codes"))
  }

  val s05_sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
      |SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
      |  array_to_string(list_transform(v, x ->
      |    CAST(CASE WHEN mx > mn
      |      THEN floor((x - mn) / (mx - mn) * 255 + 0.5)
      |      ELSE 0 END AS BIGINT)::VARCHAR), ',') AS codes
      |FROM b""".stripMargin

  /** PRODUCT QUANTIZATION ([[Similarity.productQuantize]]): 64-dim
    * embeddings → 4 subspaces × 8-entry codebooks = 4 small codes +
    * a reconstruction error per vector — the IVF-PQ memory layout
    * (nSub bytes/vector) that billion-scale ANN runs on. Codebooks =
    * the 8 lowest-id vectors (deterministic, SQL-mirrorable — same
    * convention as s04's seeding); distances via the codegen'd
    * ‖v−c‖² = v·v − 2·v·c + c·c identity; argmin ties break to the
    * lowest centroid id. ZERO shuffles — a pure map at any corpus
    * size. */
  val s06_pq: QFn = (s, d) => {
    val e = embD(s, d)
    val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
      .collect().map { r =>
        (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)
      }.toSeq
    Similarity.productQuantize(e, nSub = 4, cents)
  }

  val s06_sql: String = {
    val dists = (0 until 4).map { j =>
      val lo = j * 16 + 1
      val hi = (j + 1) * 16
      s"""list_dot_product(e.v[$lo:$hi], e.v[$lo:$hi])
         |    - 2 * list_dot_product(e.v[$lo:$hi], c.cv[$lo:$hi])
         |    + list_dot_product(c.cv[$lo:$hi], c.cv[$lo:$hi]) AS d$j"""
        .stripMargin
    }.mkString(",\n  ")
    val mins = (0 until 4).map(j => s"min(d$j) AS m$j").mkString(", ")
    val picks = (0 until 4)
      .map(j => s"min(CASE WHEN d.d$j = m.m$j THEN d.cid END) AS c$j")
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |d AS (SELECT e.vec_id, c.cid,
       |  $dists
       |  FROM e CROSS JOIN c),
       |m AS (SELECT vec_id, $mins FROM d GROUP BY vec_id),
       |p AS (SELECT d.vec_id,
       |    $picks,
       |    m.m0, m.m1, m.m2, m.m3
       |  FROM d JOIN m USING (vec_id)
       |  GROUP BY d.vec_id, m.m0, m.m1, m.m2, m.m3)
       |SELECT vec_id, c0, c1, c2, c3,
       |  round(m0 + m1 + m2 + m3, 6) AS err FROM p""".stripMargin
  }

  /** IVF-PQ search — s04's routing composed with s06's codes into
    * the query path every billion-scale ANN index runs: probes route
    * to nProbe lists, candidates score by ASYMMETRIC distance (probe
    * subvectors vs codebook entries resolved through each
    * candidate's 4 PQ codes) — the candidate's raw vector is never
    * read at query time. Routing centroids = 16 lowest ids (0 Lloyd
    * iterations — the SQL-mirrorable choice), codebooks = 8 lowest
    * ids, both deterministic. See [[Similarity.ivfPqTopK]]. */
  val s08_ivfpq: QFn = (s, d) => {
    val e = embD(s, d)
    val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
      .collect().map { r =>
        (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)
      }.toSeq
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), k = 10,
      nLists = 16, nProbe = 4, nSub = 4, cents)
  }

  val s08_sql: String = {
    val dists = (0 until 4).map { j =>
      val lo = j * 16 + 1
      val hi = (j + 1) * 16
      s"""list_dot_product(e.v[$lo:$hi], e.v[$lo:$hi])
         |    - 2 * list_dot_product(e.v[$lo:$hi], c.cv[$lo:$hi])
         |    + list_dot_product(c.cv[$lo:$hi], c.cv[$lo:$hi]) AS d$j"""
        .stripMargin
    }.mkString(",\n  ")
    val mins = (0 until 4).map(j => s"min(d$j) AS m$j").mkString(", ")
    val picks = (0 until 4)
      .map(j => s"min(CASE WHEN d.d$j = m.m$j THEN d.cid END) AS c$j")
      .mkString(",\n    ")
    val adcTerms = (0 until 4).map { j =>
      val lo = j * 16 + 1
      val hi = (j + 1) * 16
      s"""list_dot_product(p.pv[$lo:$hi], p.pv[$lo:$hi])
         |    - 2 * list_dot_product(p.pv[$lo:$hi], b$j.cv[$lo:$hi])
         |    + list_dot_product(b$j.cv[$lo:$hi], b$j.cv[$lo:$hi])"""
        .stripMargin
    }.mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |d AS (SELECT e.vec_id, c.cid,
       |  $dists
       |  FROM e CROSS JOIN cb AS c),
       |m AS (SELECT vec_id, $mins FROM d GROUP BY vec_id),
       |codes AS (SELECT d.vec_id,
       |    $picks
       |  FROM d JOIN m USING (vec_id) GROUP BY d.vec_id),
       |r0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 16),
       |s1 AS (SELECT e.vec_id, e.v, r0.cent_id, $centCos AS cs
       |  FROM e, r0),
       |lists AS (SELECT vec_id AS cand_id, cent_id FROM (
       |    SELECT vec_id, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS r
       |    FROM s1) WHERE r = 1),
       |probes AS (SELECT vec_id AS probe_id, v AS pv, cent_id FROM (
       |    SELECT vec_id, v, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS r
       |    FROM s1 WHERE vec_id < 5) WHERE r <= 4),
       |cand AS (SELECT l.cand_id, l.cent_id, k.c0, k.c1, k.c2, k.c3
       |  FROM lists l JOIN codes k ON k.vec_id = l.cand_id),
       |adc AS (SELECT p.probe_id, c.cand_id, round(
       |    $adcTerms, 6) AS adc
       |  FROM probes p JOIN cand c USING (cent_id)
       |  JOIN cb b0 ON b0.cid = c.c0 JOIN cb b1 ON b1.cid = c.c1
       |  JOIN cb b2 ON b2.cid = c.c2 JOIN cb b3 ON b3.cid = c.c3
       |  WHERE p.probe_id <> c.cand_id)
       |SELECT probe_id, cand_id, adc, rnk FROM (
       |  SELECT probe_id, cand_id, adc, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
       |  FROM adc) WHERE rnk <= 10""".stripMargin
  }

  /** Alphabetical-segment collection merge — the reference's
    * range-suffix consolidation (scripts/
    * merge_collections_ending_with_letters.py:31-49): collections
    * named like "X: A–F", "X, B to D" or "X: C" are detected by the
    * reference's own regex, grouped by their base prefix, and MERGED
    * (members unioned, the merged collection renamed to the prefix)
    * — but only when more than one segment shares the prefix; single
    * matches and non-matching names pass through unchanged.
    * scripts/filter_duplicates.py applies the same merge machinery
    * keyed on the exact name.
    *
    * Fixture collections are built per (brand, letter-of-size) with
    * three deterministic name shapes so every regex arm is
    * exercised: a "misc" form (no match → passthrough), a "B to F"
    * range form (the first regex arm), and a ": C" single-letter
    * form (the second arm). Members are the sorted distinct part
    * keys; the emitted member list is an md5 over the sorted
    * comma-join, so the hash is order-independent under any
    * partitioning. Scale shape: one aggregate builds the
    * collections, one regex map, ONE prefix-keyed shuffle of the
    * matched member lists (member payload moves once); pass-through
    * rows never shuffle again. */
  val q62_alpha_merge: QFn = (s, d) => {
    val pat = "(.*)(([,:–(] ?[A-Z0-9]+[a-z]* ?([–-]| to ) ?[^ ]+$)" +
      "|((: |, |– |starting with |\\()[A-Z]\\)?$))"
    val cols = t(s, d, "part")
      .select(col("p_brand"), col("p_partkey"),
        expr("p_size % 26").as("m"))
      .groupBy("p_brand", "m")
      .agg(sort_array(collect_set(col("p_partkey"))).as("members"))
      .select(expr("""CASE
        |  WHEN m % 5 = 0 THEN p_brand || ' misc ' || char(65 + m)
        |  WHEN m % 5 = 1 THEN p_brand || ', ' || char(65 + m)
        |    || ' to ' || char(65 + (m + 4) % 26)
        |  ELSE p_brand || ': ' || char(65 + m) END""".stripMargin)
          .as("name"),
        col("members"))
    val flagged = cols.withColumn("prefix",
      when(col("name").rlike(pat),
        regexp_extract(col("name"), pat, 1)))
    val merged = flagged.filter(col("prefix").isNotNull)
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_src"), min("name").as("only_name"),
        sort_array(array_distinct(flatten(collect_list("members"))))
          .as("mm"))
      .select(
        when(col("n_src") > 1, col("prefix")).otherwise(col("only_name"))
          .as("name"),
        col("n_src").cast("long").as("n_src"), col("mm"))
    val passthrough = flagged.filter(col("prefix").isNull)
      .select(col("name"), lit(1L).as("n_src"), col("members").as("mm"))
    merged.unionByName(passthrough)
      .select(col("name"), col("n_src"),
        size(col("mm")).cast("long").as("n_members"),
        md5(concat_ws(",",
          transform(col("mm"), x => x.cast("string")))).as("members_md5"))
  }

  val q62_sql: String = {
    val pat = "(.*)(([,:–(] ?[A-Z0-9]+[a-z]* ?([–-]| to ) ?[^ ]+$)" +
      "|((: |, |– |starting with |\\()[A-Z]\\)?$))"
    s"""WITH cols AS (SELECT
       |    CASE
       |      WHEN (p_size % 26) % 5 = 0
       |        THEN p_brand || ' misc ' || chr(65 + p_size % 26)
       |      WHEN (p_size % 26) % 5 = 1
       |        THEN p_brand || ', ' || chr(65 + p_size % 26)
       |          || ' to ' || chr(65 + (p_size % 26 + 4) % 26)
       |      ELSE p_brand || ': ' || chr(65 + p_size % 26) END AS name,
       |    list_sort(list(DISTINCT p_partkey)) AS members
       |  FROM part GROUP BY p_brand, p_size % 26),
       |f AS (SELECT name, members,
       |    CASE WHEN regexp_matches(name, '$pat')
       |      THEN regexp_extract(name, '$pat', 1) END AS prefix
       |  FROM cols),
       |m AS (SELECT
       |    CASE WHEN count(*) > 1 THEN prefix ELSE min(name) END AS name,
       |    CAST(count(*) AS BIGINT) AS n_src,
       |    list_sort(list_distinct(flatten(list(members)))) AS mm
       |  FROM f WHERE prefix IS NOT NULL GROUP BY prefix),
       |p AS (SELECT name, CAST(1 AS BIGINT) AS n_src, members AS mm
       |  FROM f WHERE prefix IS NULL),
       |u AS (SELECT * FROM m UNION ALL SELECT * FROM p)
       |SELECT name, n_src, CAST(len(mm) AS BIGINT) AS n_members,
       |  md5(array_to_string(list_transform(mm, x -> x::VARCHAR), ','))
       |    AS members_md5
       |FROM u""".stripMargin
  }

  /** Fusing is TOKENIZER-EXACT (left-to-right greedy over every
    * adjacent occurrence — "a b a b" fuses BOTH, "a a a" fuses the
    * first pair only, exactly like BPE merge application): the text
    * is space-DOUBLED before the literal replace, so adjacent
    * occurrences no longer share a delimiter character (each double
    * space lends one space to the occurrence on its left and one to
    * the one on its right), the delimited doubled pair
    * (`' a  b '` → `' a_b '`) is replaced leftmost-non-overlapping —
    * identical scan semantics in Spark and DuckDB — and the doubles
    * collapse back to single spaces (every gap is exactly two spaces
    * by construction). Each learning round is one map-side-combining
    * bigram aggregate (the t05/t16 machinery) over a corpus scan
    * with the accumulated fuses applied in-flight.
    *
    * Batched-greedy distributed BPE learning — the standard trick
    * for landing a REALISTIC merge count in a fixed number of driver
    * rounds: per round, ONE map-side-combining bigram aggregate over
    * the current tokenization, collect the top-`cand` candidate
    * pairs (bounded driver finish — `cand` rows, same economics as
    * the graph drivers' bounded collects), then greedily accept
    * candidates in (count desc, pair asc) order under the exact
    * NON-INTERFERENCE rule: accept (c,d) iff c is no accepted pair's
    * RIGHT token, d is no accepted pair's LEFT token, and the fused
    * name c_d collides with no accepted token or fused name this
    * round. That is precisely the condition under which fusing one
    * accepted pair can neither destroy an occurrence of another
    * (destruction needs the patterns to overlap in text, which needs
    * right-of-one == left-of-other) nor create one (new adjacencies
    * involve only the fresh fused names, all blocked), so every
    * accepted pair's reported freq is its true start-of-round count,
    * accepted matches never overlap, and the batch application is
    * order-invariant — the same exactness the old whole-token-
    * disjoint rule bought, at several× the per-round acceptance
    * (shared LEFT tokens, e.g. (a,b)+(a,c), are now fine), which is
    * what lets the ROUND count — the driver-scheduling floor — stay
    * single-digit at tokenizer-scale merge counts. Application is
    * [[org.apache.spark.sql.graft.BpeApplyExpr]]: the accumulated
    * plan rides as ONE codegen'd expression whose hot path is a
    * single O(len) token scan per round (non-overlap makes the
    * batch a hash-set lookup, not merges separate replace passes),
    * so the merge count can reach the hundreds a real tokenizer
    * wants without the corpus scan degrading — see [[bpeRounds]] for
    * the shipped knobs. The DuckDB oracle applies the equivalent
    * doubled-space replace fold via list_reduce. Returns the
    * accepted merges as
    * (round, seq, pair, freq) plus the per-round accepted batches
    * (the [[org.apache.spark.sql.graft.BpeApplyExpr]] plan). */
  private def bpeLearnBatched(base: DataFrame, rounds: Int,
      cand: Int): (Seq[(Long, Long, String, Long)], Seq[Seq[String]],
        DataFrame) = {
    val spark = base.sparkSession
    import spark.implicits._
    def bridgeCol(e: org.apache.spark.sql.catalyst.expressions
        .Expression) =
      org.apache.spark.sql.graft.ColumnBridge.column(e)
    def bridgeExpr(c: Column) =
      org.apache.spark.sql.graft.ColumnBridge.expression(c)
    var plan = Vector.empty[Seq[String]]
    var cur = base
    val out = Seq.newBuilder[(Long, Long, String, Long)]
    (1 to rounds).foreach { round =>
      val top = cur
        .select(explode(bridgeCol(
          org.apache.spark.sql.graft.WordShinglesExpr(
            bridgeExpr(col("txt")), 2))).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("sh").asc).limit(cand)
        .as[(String, Long)].collect()
      val ul = scala.collection.mutable.HashSet.empty[String]
      val ur = scala.collection.mutable.HashSet.empty[String]
      val acc = top.iterator.filter { case (pair, _) =>
        val ts = pair.split(" ")
        val fused = pair.replace(' ', '_')
        if (ur.contains(ts(0)) || ul.contains(ts(1)) ||
          ul.contains(fused) || ur.contains(fused)) false
        else { ul += ts(0); ul += fused; ur += ts(1); ur += fused
          true }
      }.toVector
      plan :+= acc.map(_._1)
      acc.zipWithIndex.foreach { case ((p, f), i) =>
        out += ((round.toLong, (i + 1).toLong, p, f))
      }
      // apply the round's batch lazily, and MATERIALIZE the fused
      // corpus every few rounds (eager localCheckpoint — the
      // CLAUDE.md iterative-loop rule): each scan then applies at
      // most `bpeCheckpointEvery` batches on top of the last
      // checkpoint, so the whole learn is O(rounds·len) string work
      // instead of the O(rounds²·len) a re-apply-from-scratch
      // accumulates, while the checkpoint job count stays
      // rounds/4 — at 20 sequential driver rounds, per-job
      // scheduling overhead is the floor the round count pays
      cur = cur.withColumn("txt",
        bridgeCol(org.apache.spark.sql.graft.BpeApplyExpr(
          bridgeExpr(col("txt")), Seq(acc.map(_._1)))))
      // LAZY here, not the usual eager: the very next round's top-k
      // collect is this frame's single consumer and materializes the
      // checkpoint blocks inside its own job — eager would pay one
      // extra full job per checkpoint for nothing (and q63 never
      // consumes the final frame at all), and the plan stays bounded
      // (≤ bpeCheckpointEvery applies) either way
      if (round % bpeCheckpointEvery == 0 || round == rounds)
        cur = cur.localCheckpoint(eager = false)
    }
    (out.result(), plan, cur)
  }

  /** Batched-BPE scale knobs shared by q63/t23 and their oracles:
    * [[bpeRounds]] driver rounds × [[bpeCand]] candidates lands 300+
    * merges at every test SF (a realistic tokenizer-training merge
    * count), at one bounded `bpeCand`-row collect per round. The
    * corpus vocabulary is tiny (31 base tokens), so merges come from
    * fused tokens entering the candidate pool round over round — but
    * under the non-interference accept rule each round takes every
    * compatible candidate (shared lefts and shared rights both
    * allowed), so acceptance per round is pool-limited, not
    * matching-limited, and the ROUND count — each round is one
    * sequential driver-scheduled Spark job, the latency floor the
    * round-11 verdict flagged — stays single-digit. */
  private val bpeRounds = 6
  private val bpeCand = 2048
  private val bpeCheckpointEvery = 4

  val q63_bpe_merges: QFn = (s, d) => {
    val spark = s
    import spark.implicits._
    val base = t(s, d, "documents").select(
      concat(lit(" "),
        regexp_replace(lower(trim(col("text"))), "\\s+", " "),
        lit(" ")).as("txt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // the sequential rounds re-scan it (CLAUDE.md)
    val (merges, _, _) = bpeLearnBatched(base, bpeRounds, bpeCand)
    base.unpersist(blocking = false) // output is a LocalRelation
    merges.toDF("round", "seq", "pair", "freq")
  }

  /** BPE ENCODE — the APPLY half of q63's merge learning (the step a
    * tokenizer pipeline runs over the whole corpus once training
    * ends): learn the same 300+ batched merges q63 learns
    * ([[bpeLearnBatched]] — [[bpeRounds]] driver rounds, [[bpeCand]]
    * candidates each, greedy non-interfering accept), and report
    * per-doc token counts
    * before/after plus the saving in HALF_UP integer ppm — the
    * compression accounting a tokenizer-training run reports.
    *
    * The apply semantics are [[org.apache.spark.sql.graft
    * .BpeApplyExpr]]'s — the space-doubled leftmost-non-overlapping
    * fuse the learning rounds and the oracle share (tokenizer-exact:
    * "a b a b" fuses both, "a a a" only the first pair), one O(len)
    * token scan per round. The encode reads the learner's final
    * checkpointed corpus directly (doc_id rides through the rounds),
    * so the full plan is applied exactly once per document across
    * the whole run; counts are exact BIGINTs and ppm is
    * cross-multiplied HALF_UP (no float division reaches the
    * output). */
  val t23_bpe_encode: QFn = (s, d) => {
    val base = t(s, d, "documents").select(
      col("doc_id"),
      concat(lit(" "),
        regexp_replace(lower(trim(col("text"))), "\\s+", " "),
        lit(" ")).as("txt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // the learning rounds + the encode re-scan it
    // carry doc_id and n_before THROUGH the learning rounds: the
    // learner's final checkpoint IS the encoded corpus
    val withBefore = base.select(col("doc_id"),
      TextFunctions.tokenCount(col("txt")).as("n_before"), col("txt"))
    val (_, _, fused) = bpeLearnBatched(withBefore,
      bpeRounds, bpeCand)
    fused
      .select(col("doc_id"), col("n_before"),
        TextFunctions.tokenCount(col("txt")).as("n_after"))
      .withColumn("saved_ppm",
        expr("CASE WHEN n_before = 0 THEN 0 ELSE " +
          "((n_before - n_after) * 2000000 + n_before) " +
          "DIV (2 * n_before) END"))
  }

  // shared oracle CTE for the batched BPE rounds (q63/t23): per
  // round, bigram counts -> top-`bpeCand` candidate lists -> a
  // single-row RECURSIVE greedy walk accepting non-interfering
  // candidates (left not an accepted right, right not an accepted
  // left, fused name fresh — bpeLearnBatched's exactness rule)
  // -> a per-doc list_reduce fold applying the accepted
  // batch with the space-doubling fuse (one projection, not a
  // per-merge recursive step — at 50+ accepted merges a round the
  // recursive form materialized a full corpus copy per merge).
  // MATERIALIZED is load-bearing: recursive members re-evaluate
  // referenced CTEs per iteration, which would otherwise recompute
  // the whole upstream chain each step.
  private def bpeRoundCte(k: Int, src: String): String =
    s"""tok$k AS MATERIALIZED (SELECT list_filter(
       |    regexp_split_to_array(trim(t), '\\s+'),
       |    x -> len(x) > 0) AS tk FROM $src),
       |bi$k AS MATERIALIZED (SELECT sh, CAST(count(*) AS BIGINT)
       |      AS c FROM (
       |    SELECT unnest(list_transform(range(1,
       |      greatest(len(tk), 1)),
       |      i -> tk[i] || ' ' || tk[i+1])) AS sh
       |    FROM tok$k) GROUP BY sh),
       |cand$k AS MATERIALIZED (SELECT
       |    list(sh ORDER BY c DESC, sh)[:$bpeCand] AS cs,
       |    list(c ORDER BY c DESC, sh)[:$bpeCand] AS cf FROM bi$k),
       |a$k(i, acc, freqs, ul, ur) AS (
       |  SELECT 0, CAST([] AS VARCHAR[]), CAST([] AS BIGINT[]),
       |    CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[]) FROM cand$k
       |  UNION ALL
       |  SELECT i + 1,
       |    CASE WHEN ok THEN list_append(acc, cs[i+1]) ELSE acc END,
       |    CASE WHEN ok THEN list_append(freqs, cf[i+1])
       |      ELSE freqs END,
       |    CASE WHEN ok THEN ul || [lt, fs] ELSE ul END,
       |    CASE WHEN ok THEN ur || [rt, fs] ELSE ur END
       |  FROM (SELECT i, acc, freqs, ul, ur, cs, cf, lt, rt, fs,
       |      NOT list_contains(ur, lt) AND NOT list_contains(ul, rt)
       |        AND NOT list_contains(ul || ur, fs) AS ok
       |    FROM (SELECT i, acc, freqs, ul, ur, cs, cf,
       |        str_split(cs[i+1], ' ')[1] AS lt,
       |        str_split(cs[i+1], ' ')[2] AS rt,
       |        replace(cs[i+1], ' ', '_') AS fs
       |      FROM a$k, cand$k WHERE i < len(cs)))),
       |f$k AS MATERIALIZED (SELECT acc, freqs FROM a$k
       |  ORDER BY i DESC LIMIT 1),
       |t$k AS MATERIALIZED (SELECT doc_id,
       |    replace(list_reduce(
       |      list_prepend(replace(t, ' ', '  '), acc),
       |      (s, p) -> replace(s,
       |        ' ' || replace(p, ' ', '  ') || ' ',
       |        ' ' || replace(p, ' ', '_') || ' ')),
       |    '  ', ' ') AS t
       |  FROM $src, f$k)""".stripMargin

  val t23_sql: String = {
    // the same batched learning rounds as q63's oracle, with doc_id
    // carried through every fuse CTE so the final scan counts per
    // document
    val ctes = (1 to bpeRounds)
      .map(k => bpeRoundCte(k, s"t${k - 1}")).mkString(",\n")
    s"""WITH RECURSIVE t0 AS MATERIALIZED (SELECT doc_id,
       |    ' ' || regexp_replace(lower(trim(text)),
       |    '\\s+', ' ', 'g') || ' ' AS t FROM documents),
       |$ctes,
       |cnt AS (SELECT t0.doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(trim(t0.t),
       |      '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_before,
       |    CAST(len(list_filter(regexp_split_to_array(
       |      trim(t$bpeRounds.t),
       |      '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_after
       |  FROM t0 JOIN t$bpeRounds USING (doc_id))
       |SELECT doc_id, n_before, n_after,
       |  CAST(CASE WHEN n_before = 0 THEN 0 ELSE
       |    ((n_before - n_after) * 2000000 + n_before)
       |    // (2 * n_before) END AS BIGINT) AS saved_ppm
       |FROM cnt""".stripMargin
  }

  /** Hashed-feature postings for the NB classifier pair (t24/t25):
    * token → 64-way md5 bucket ([[TextFunctions.hashBucket]]), one
    * (doc, y, bucket, cnt) row per occupied cell. The label is the
    * Gopher-style length cut `n_chars >= 300` — a DECLARED demo
    * label standing in for the expensive upstream signal (human
    * tags, an LM filter) that the real workflow distills into a
    * cheap classifier (the CCNet/fastText discipline). */
  private def nbPostings(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        (col("n_chars") >= 300).cast("int").as("y"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("y"),
        TextFunctions.hashBucket(col("tok"), 64).as("b"))
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("cnt"))

  /** Shared t24 weight-table builder: per-bucket class counts with
    * add-one smoothing → log-likelihood-ratio weight in integer
    * MICRO-units (BIGINT), so downstream per-doc scoring is an exact
    * order-free integer sum — the only float op is ln over the
    * 65-row bounded table (irrational values, so the 1e6 rounding
    * never lands on a tie digit — CLAUDE.md rounding rule). Row
    * feature_id = -1 carries the class prior (doc counts + log-odds).
    * Always exactly 65 rows: a literal 0..63 spine left-joins the
    * observed cells. */
  private def nbWeights(s: SparkSession, post: DataFrame,
                        docs: DataFrame): DataFrame = {
    val cc = post.groupBy("b").agg(
      sum(when(col("y") === 1, col("cnt")).otherwise(0L)).as("np"),
      sum(when(col("y") === 0, col("cnt")).otherwise(0L)).as("nn"))
    val spine = s.range(0, 64).select(col("id").as("b"))
    val full = spine.join(cc, Seq("b"), "left")
      .select(col("b"), coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("nn"), lit(0L)).as("nn"))
    val tot = full.agg(sum("np").as("tp"), sum("nn").as("tn"))
    val w = full.crossJoin(tot).select(
      col("b").as("feature_id"),
      col("np").cast("long").as("n_pos"),
      col("nn").cast("long").as("n_neg"),
      round((log((col("np") + lit(1.0)) / (col("tp") + lit(64.0)))
        - log((col("nn") + lit(1.0)) / (col("tn") + lit(64.0))))
        * lit(1e6), 0).cast("long").as("w_micro"))
    // The prior ln(npd/nnd) is ±Infinity/NaN when either class is
    // empty, and Spark's round→cast would emit an overflowed long
    // while the DuckDB oracle errors — a degenerate single-class
    // corpus must break engine parity LOUDLY, not silently. The
    // assert_true guard is null (coalesce → +0) on every valid
    // corpus, so non-degenerate w_micro stays byte-identical.
    val priorGuard = coalesce(
      assert_true(col("npd") > lit(0L) && col("nnd") > lit(0L),
        lit("nbWeights prior: degenerate single-class corpus " +
          "(one of npd/nnd is zero)")).cast("long"),
      lit(0L))
    val prior = docs.agg(
        sum(col("y")).cast("long").as("npd"),
        sum(lit(1) - col("y")).cast("long").as("nnd"))
      .select(lit(-1L).as("feature_id"),
        col("npd").as("n_pos"), col("nnd").as("n_neg"),
        (round(log(col("npd").cast("double") / col("nnd")) * lit(1e6),
          0).cast("long") + priorGuard).as("w_micro"))
    w.unionAll(prior)
  }

  private def nbDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      (col("n_chars") >= 300).cast("int").as("y"))

  /** TRAIN a hashing-trick Naive Bayes quality classifier — the
    * fastText-style model-train step of a filtering pipeline
    * (Joulin et al. 2016; CCNet trains exactly this shape against
    * heuristic labels). Training IS one aggregation: per-bucket
    * class counts collapse map-side to ≤ 2×64 cells per partition
    * REGARDLESS of corpus size (the Count-Min economics applied to
    * supervised counts), then the 65-row bounded table gets its
    * add-one-smoothed log-likelihood-ratio weights. At 100 TB this
    * is a single partial-aggregated shuffle of 65 cells — the
    * cheapest possible distributed trainer, and exactly why NB is
    * the classical first classifier at this scale. */
  val t24_nb_train: QFn = (s, d) =>
    nbWeights(s, nbPostings(s, d), nbDocs(s, d))
      .orderBy("feature_id")

  val t24_sql: String =
    """WITH docs AS (SELECT doc_id,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y, text
      |  FROM documents),
      |tk AS (SELECT doc_id, y, unnest(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'),
      |    x -> len(x) > 0)) AS tok FROM docs),
      |po AS (SELECT doc_id, y,
      |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b,
      |    count(*) AS cnt FROM tk GROUP BY 1, 2, 3),
      |cc AS (SELECT b, sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS np,
      |    sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS nn
      |  FROM po GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 64)) AS b),
      |f AS (SELECT s.b, coalesce(np, 0) AS np, coalesce(nn, 0) AS nn
      |  FROM spine s LEFT JOIN cc ON s.b = cc.b),
      |tot AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM f),
      |w AS (SELECT b AS feature_id, CAST(np AS BIGINT) AS n_pos,
      |    CAST(nn AS BIGINT) AS n_neg,
      |    CAST(round((ln((np + 1.0) / (tp + 64.0))
      |      - ln((nn + 1.0) / (tn + 64.0))) * 1e6, 0) AS BIGINT)
      |      AS w_micro
      |  FROM f CROSS JOIN tot),
      |prior AS (SELECT CAST(-1 AS BIGINT) AS feature_id,
      |    CAST(sum(y) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - y) AS BIGINT) AS n_neg,
      |    CAST(round(ln(sum(y) * 1.0 / sum(1 - y)) * 1e6, 0)
      |      AS BIGINT) AS w_micro
      |  FROM docs)
      |SELECT * FROM w UNION ALL SELECT * FROM prior
      |ORDER BY feature_id""".stripMargin

  /** EVALUATE the t24 classifier on its training corpus — the audit
    * row (s09/d12/t18 discipline: a model you can't score is a model
    * you can't ship). Per-doc score = Σ cnt·w_micro + prior, an
    * EXACT integer sum (micro-unit weights, so no float-order
    * nondeterminism at any parallelism); predict positive on
    * score ≥ 0. The 65-row weight table broadcasts (bounded by the
    * width constant, not the data — the CLAUDE.md size gate is
    * satisfied by construction); accuracy and base-rate land as
    * HALF_UP ppm. */
  val t25_nb_eval: QFn = (s, d) => {
    val docs = nbDocs(s, d)
    val post = nbPostings(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    post.count() // feeds the weight aggregation AND the scoring join
    val w = nbWeights(s, post, docs)
    val prior = w.filter(col("feature_id") === -1L)
      .select(col("w_micro").as("prior_micro"))
    val scored = post.join(
        broadcast(w.filter(col("feature_id") >= 0L)
          .select(col("feature_id").as("b"), col("w_micro"))),
        Seq("b"))
      .groupBy("doc_id", "y")
      .agg(sum(col("cnt") * col("w_micro")).as("score"))
      .crossJoin(prior)
      .select(col("y"),
        (col("score") + col("prior_micro") >= 0L).cast("int")
          .as("pred"))
    scored.agg(
        count(lit(1)).as("n_docs"),
        sum("y").cast("long").as("n_pos_docs"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_docs"), col("n_pos_docs"), col("n_correct"),
        expr("(2 * 1000000 * n_correct + n_docs) DIV (2 * n_docs)")
          .as("accuracy_ppm"),
        expr("(2 * 1000000 * greatest(n_pos_docs, n_docs - " +
          "n_pos_docs) + n_docs) DIV (2 * n_docs)").as("base_ppm"))
  }

  val t25_sql: String =
    """WITH docs AS (SELECT doc_id,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y, text
      |  FROM documents),
      |tk AS (SELECT doc_id, y, unnest(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'),
      |    x -> len(x) > 0)) AS tok FROM docs),
      |po AS MATERIALIZED (SELECT doc_id, y,
      |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b,
      |    count(*) AS cnt FROM tk GROUP BY 1, 2, 3),
      |cc AS (SELECT b, sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS np,
      |    sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS nn
      |  FROM po GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 64)) AS b),
      |f AS (SELECT s.b, coalesce(np, 0) AS np, coalesce(nn, 0) AS nn
      |  FROM spine s LEFT JOIN cc ON s.b = cc.b),
      |tot AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM f),
      |w AS (SELECT b,
      |    CAST(round((ln((np + 1.0) / (tp + 64.0))
      |      - ln((nn + 1.0) / (tn + 64.0))) * 1e6, 0) AS BIGINT)
      |      AS w_micro
      |  FROM f CROSS JOIN tot),
      |prior AS (SELECT CAST(round(ln(sum(y) * 1.0 / sum(1 - y))
      |      * 1e6, 0) AS BIGINT) AS prior_micro FROM docs),
      |sc AS (SELECT po.doc_id, po.y,
      |    sum(po.cnt * w.w_micro) AS score
      |  FROM po JOIN w ON po.b = w.b GROUP BY 1, 2),
      |pr AS (SELECT y, CASE WHEN score + prior_micro >= 0
      |    THEN 1 ELSE 0 END AS pred FROM sc CROSS JOIN prior)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(y) AS BIGINT) AS n_pos_docs,
      |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  CAST((2 * 1000000 * sum(CASE WHEN pred = y THEN 1 ELSE 0 END)
      |    + count(*)) // (2 * count(*)) AS BIGINT) AS accuracy_ppm,
      |  CAST((2 * 1000000 * greatest(sum(y), count(*) - sum(y))
      |    + count(*)) // (2 * count(*)) AS BIGINT) AS base_ppm
      |FROM pr""".stripMargin

  /** Per-SOURCE distribution DRIFT vs the corpus — KL(P_src ‖ Q)
    * over the 64 hashed-token buckets (t24's feature space): the
    * mixture-monitoring row a pretraining pipeline runs per feed to
    * catch a source whose content shifted (scrape drift, feed
    * contamination) before it reaches training. Complements t22
    * (per-source VOLUME accounting) with a per-source CONTENT
    * distance; q61 is the per-DOC selection cousin (DSIR) — this is
    * the per-FEED audit.
    *
    * Both distributions are smoothed over the full 64-bucket spine
    * with MATCHED prior mass — add-1 per source, add-|sources| for
    * the corpus — so every ln is defined, P and Q each sum to
    * exactly 1, and a source whose counts are an exact 1/|S| share
    * of every bucket scores exactly zero (the add-1-everywhere
    * variant leaves a ~millinat smoothing floor on empty buckets;
    * matched priors cancel it — spec-pinned kl_nano == 0 on
    * identical per-source corpora). Each of the 64 per-bucket terms
    * p·ln(p/q) rounds ONCE to integer nano-nats (irrational unless
    * p = q, where the term is exactly 0 in both engines — no
    * rounding-tie exposure), and the per-source KL is their exact
    * BIGINT sum.
    *
    * Scale shape: the ONLY corpus-scale work is the token explode
    * into the (source, bucket) aggregate, which collapses map-side
    * to ≤ |sources|·64 cells per task regardless of corpus size
    * (the t24 training economics); everything after is arithmetic
    * on a |sources|×64-bounded table — the corpus totals re-derive
    * from that table, never from a second scan. */
  val t26_source_drift: QFn = (s, d) => {
    val cells = TextFunctions.sourceCells(t(s, d, "documents"), 64)
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
    // bounded from here on: |sources| × 64 rows
    val spine = cells.select("source").distinct()
      .crossJoin(s.range(0, 64).select(col("id").as("b")))
    val full = spine.join(cells, Seq("source", "b"), "left")
      .select(col("source"), col("b"),
        coalesce(col("c"), lit(0L)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    full.count() // feeds the three marginals AND the scoring join
    val srcTot = full.groupBy("source").agg(sum("c").as("cs"))
    val bTot = full.groupBy("b").agg(sum("c").as("cb"))
    val tot = full.agg(sum("c").as("ct"),
      countDistinct("source").as("ns"))
    full.join(srcTot, "source").join(broadcast(bTot), "b")
      .crossJoin(broadcast(tot))
      .withColumn("p", (col("c") + 1) / (col("cs") + 64))
      .withColumn("q",
        (col("cb") + col("ns")) / (col("ct") + col("ns") * 64))
      .withColumn("term_nano",
        round(col("p") * (log(col("p")) - log(col("q"))) * 1e9, 0)
          .cast("long"))
      .groupBy("source")
      .agg(max("cs").cast("long").as("n_tokens"),
        sum(when(col("c") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_occupied"),
        sum("term_nano").as("kl_nano"))
  }

  val t26_sql: String =
    """WITH tk AS (SELECT source, unnest(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'),
      |    x -> len(x) > 0)) AS tok FROM documents),
      |cells AS (SELECT source,
      |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b,
      |    count(*) AS c FROM tk GROUP BY 1, 2),
      |spine AS (SELECT source, b
      |  FROM (SELECT DISTINCT source FROM cells),
      |    (SELECT unnest(range(0, 64)) AS b)),
      |f AS (SELECT s.source, s.b, coalesce(c.c, 0) AS c
      |  FROM spine s LEFT JOIN cells c
      |    ON s.source = c.source AND s.b = c.b),
      |st AS (SELECT source, sum(c) AS cs FROM f GROUP BY 1),
      |bt AS (SELECT b, sum(c) AS cb FROM f GROUP BY 1),
      |tt AS (SELECT sum(c) AS ct, count(DISTINCT source) AS ns
      |  FROM f),
      |terms AS (SELECT f.source, f.c,
      |    CAST(round(((f.c + 1) / (st.cs + 64))
      |      * (ln((f.c + 1) / (st.cs + 64))
      |        - ln((bt.cb + tt.ns) / (tt.ct + tt.ns * 64)))
      |      * 1e9, 0) AS BIGINT) AS term_nano,
      |    st.cs
      |  FROM f JOIN st USING (source) JOIN bt USING (b) CROSS JOIN tt)
      |SELECT source, CAST(max(cs) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_occupied,
      |  CAST(sum(term_nano) AS BIGINT) AS kl_nano
      |FROM terms GROUP BY source""".stripMargin

  /** TARGET-TRAINED LM SCORING — the actual CCNet filtering shape
    * (Wenzek et al. 2020 train KenLM on the TARGET domain and score
    * the raw crawl with it; t09/t14 are the self-trained cousins,
    * q61 the bucket-level DSIR form): a char-trigram LM is fit on
    * the target feed ONLY (source = 'src0', q61's target), then
    * every document in the corpus is scored under that model with
    * declared add-one/backoff smoothing over a fixed pseudo-
    * vocabulary K = 4096:
    *
    *   seen trigram            lp = ln((tn + 1) / (bn + K))
    *   unseen tri, seen bigram lp = ln(      1  / (bn + K))
    *   unseen bigram           lp = ln(      1  /       K )
    *
    * Every case is ln of a ratio of integers (irrational — the
    * micro-round never ties); per-doc totals are exact BIGINT sums
    * of count·lp_micro; avg is the t09 sign-branched HALF_UP 4-dp.
    * Output also carries n_unseen — the out-of-domain token mass
    * that IS the filter's signal.
    *
    * Scale shape: the MODEL side is target-only and VOCABULARY-
    * bounded (distinct char trigrams plateau under Heaps' law — the
    * model doesn't grow with target-corpus size once the charset is
    * covered), so the planner broadcasts it under AQE's size
    * decision (the t09 convention: no explicit broadcast of a
    * data-dependent side — the fallback past the threshold is a
    * tri-keyed shuffle join, not an OOM); the corpus side is one
    * trigram explode collapsed map-side to per-doc trigram tf (the
    * t09 single-shuffle shape) followed by the two model left-joins.
    * Trigrams ride as packed longs ([[org.apache.spark.sql.graft.CharTrigramCodes]]);
    * the bigram prefix is a bit shift, never a second string op. */
  /** The packed-long trigram stream of (doc_id, text) rows — shared
    * by t27 and its streaming twin. */
  private[graft] def charTris(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{CharTrigramCodes, ColumnBridge}
    df.withColumn("gs", lower(trim(col("text")))).drop("text")
      .filter(length(col("gs")) >= 3)
      .withColumn("tri",
        explode(ColumnBridge.column(CharTrigramCodes(
          ColumnBridge.expression(col("gs"))))))
      .drop("gs")
  }

  /** t27's model trained on a `(doc_id, text)` corpus: (trigram lp
    * table, bigram-backoff lp table, unseen-bigram floor) in integer
    * micro-nats — shared with the streaming serve twin so both paths
    * score identically. */
  private[graft] def targetLmModel(corpus: DataFrame)
    : (DataFrame, DataFrame, Column) = {
    val K = 4096
    val tc = charTris(corpus)
      .groupBy("tri").agg(count(lit(1)).as("tn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tc.count() // feeds the trigram table AND the bigram rollup
    val bc = tc.groupBy(shiftrightunsigned(col("tri"), 21).as("bi"))
      .agg(sum("tn").as("bn"))
    val triLp = tc.join(bc,
        shiftrightunsigned(col("tri"), 21) === col("bi"))
      .select(col("tri"),
        round(log((col("tn") + 1) / (col("bn") + K)) * 1e6, 0)
          .cast("long").as("lp_seen"))
    val biLp = bc.select(col("bi"),
      round(log(lit(1.0) / (col("bn") + K)) * 1e6, 0)
        .cast("long").as("lp_bi"))
    val lpFloor = round(log(lit(1.0) / K) * 1e6, 0).cast("long")
    (triLp, biLp, lpFloor)
  }

  val t27_target_lm: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val (triLp, biLp, lpFloor) = targetLmModel(docs
      .filter(col("source") === "src0").select(col("doc_id"), col("text")))
    val tf = charTris(docs.select(col("doc_id"), col("text")))
      .groupBy("doc_id", "tri")
      .agg(count(lit(1)).as("c"))
    val scored = tf
      .join(triLp, Seq("tri"), "left")
      .withColumn("bi", shiftrightunsigned(col("tri"), 21))
      .join(biLp, Seq("bi"), "left")
      .select(col("doc_id"), col("c"),
        when(col("lp_seen").isNull, col("c")).otherwise(0L)
          .as("unseen_c"),
        coalesce(col("lp_seen"), col("lp_bi"), lpFloor).as("lp"))
    val sumLp = sum(col("c") * col("lp"))
    val n = sum(col("c"))
    val avg = -floor(((-sumLp) * 2 + n * 100) /
      (n.cast("double") * 200)) / 10000.0
    scored.groupBy("doc_id")
      .agg(n.as("n_tris"),
        sum("unseen_c").cast("long").as("n_unseen"),
        sumLp.as("sum_lp_micro"), avg.as("avg_logp"))
  }

  val t27_sql: String =
    """WITH d AS (SELECT doc_id, source, lower(trim(text)) AS s
      |    FROM documents WHERE length(lower(trim(text))) >= 3),
      |tri AS (SELECT doc_id, source,
      |    substr(s, CAST(i AS INT), 3) AS tri
      |  FROM d, unnest(range(1, length(s) - 1)) AS u(i)),
      |tc AS (SELECT tri, count(*) AS tn FROM tri
      |  WHERE source = 'src0' GROUP BY tri),
      |bc AS (SELECT substr(tri, 1, 2) AS bi, sum(tn) AS bn
      |  FROM tc GROUP BY 1),
      |tl AS (SELECT tri, CAST(round(ln((tn + 1) / (bn + 4096))
      |      * 1e6, 0) AS BIGINT) AS lp_seen
      |  FROM tc JOIN bc ON substr(tc.tri, 1, 2) = bc.bi),
      |bl AS (SELECT bi, CAST(round(ln(1.0 / (bn + 4096)) * 1e6, 0)
      |      AS BIGINT) AS lp_bi
      |  FROM bc),
      |tf AS (SELECT doc_id, tri, count(*) AS c FROM tri
      |  GROUP BY 1, 2),
      |sc AS (SELECT doc_id, c,
      |    CASE WHEN tl.lp_seen IS NULL THEN c ELSE 0 END AS unseen_c,
      |    coalesce(tl.lp_seen, bl.lp_bi,
      |      CAST(round(ln(1.0 / 4096) * 1e6, 0) AS BIGINT)) AS lp
      |  FROM tf LEFT JOIN tl USING (tri)
      |  LEFT JOIN bl ON substr(tf.tri, 1, 2) = bl.bi)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tris,
      |  CAST(sum(unseen_c) AS BIGINT) AS n_unseen,
      |  CAST(sum(c * lp) AS BIGINT) AS sum_lp_micro,
      |  -floor(((-CAST(sum(c * lp) AS BIGINT)) * 2 + sum(c) * 100)
      |    / (sum(c) * 200.0)) / 10000.0 AS avg_logp
      |FROM sc GROUP BY doc_id""".stripMargin

  /** URL CANONICALIZATION — the key-making pass before URL-level
    * dedup/filtering (C4 and CCNet both dedup BY URL before any
    * content pass; a raw crawl spells one page dozens of ways). Each
    * document plants a deterministically-messy absolute URL from its
    * own columns — mixed-case scheme/host, scheme-matched default
    * port vs a kept :8080, dot-segments / duplicate slashes /
    * root-escaping `..`, tracking params in unsorted order, a
    * fragment — and [[org.apache.spark.sql.graft.UrlNormalize]]
    * (codegen'd, per-row, zero shuffles) canonicalizes it. The
    * ORACLE recomputes the EXPECTED canonical form closed-form per
    * arm (the m05 writer→parser discipline): a hash match proves
    * the normalizer lands every rule — case, port, dot-segment,
    * slash-collapse, trailing-slash, param-drop, param-sort,
    * fragment — on all 2·3·4·5 planted arm combinations.
    * UrlNormalizeSpec pins the hostile shapes the planted arms
    * can't reach (no-scheme passthrough, userinfo, `..` past root,
    * duplicate param keys, '?'-only, '#' before '?'). */
  val t28_url_normalize: QFn = (s, d) => {
    import org.apache.spark.sql.graft.{ColumnBridge, UrlNormalize}
    val two = pmod(col("doc_id"), lit(2))
    val three = pmod(col("doc_id"), lit(3))
    val four = pmod(col("doc_id"), lit(4))
    val five = pmod(col("doc_id"), lit(5))
    val scheme = when(two === 0, lit("HTTP")).otherwise(lit("https"))
    val port = when(three === 0,
        when(two === 0, lit(":80")).otherwise(lit(":443")))
      .when(three === 1, lit(":8080"))
      .otherwise(lit(""))
    val path = when(four === 0, lit("/a/./b/"))
      .when(four === 1, lit("/a/b/../c"))
      .when(four === 2, lit("//x//y"))
      .otherwise(lit("/../deep"))
    val query = when(five === 0, lit("?utm_source=feed&z=1&a=2"))
      .when(five === 1, lit("?b=2&a=1"))
      .when(five === 2, lit("?utm_campaign=x&gclid=123"))
      .when(five === 3, lit("?a=1"))
      .otherwise(lit(""))
    val frag = when(two === 1, lit("#Sec1")).otherwise(lit(""))
    val url = concat(scheme, lit("://WWW."), col("source"),
      lit(".Example.COM"), port, path, query, frag)
    t(s, d, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("url", url)
      .withColumn("url_canon",
        ColumnBridge.column(UrlNormalize(
          ColumnBridge.expression(col("url")))))
      .select("doc_id", "url", "url_canon")
  }

  /** The oracle rebuilds BOTH the planted mess and its expected
    * canonical form arm-by-arm — it never re-runs a normalizer, so
    * agreement pins the Scala algorithm against an independent
    * statement of the rules. */
  val t28_sql: String =
    """SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
      |  || '://WWW.' || source || '.Example.COM'
      |  || (CASE WHEN doc_id % 3 = 0 THEN
      |        (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
      |      WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
      |  || (CASE doc_id % 4 WHEN 0 THEN '/a/./b/'
      |      WHEN 1 THEN '/a/b/../c' WHEN 2 THEN '//x//y'
      |      ELSE '/../deep' END)
      |  || (CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&z=1&a=2'
      |      WHEN 1 THEN '?b=2&a=1'
      |      WHEN 2 THEN '?utm_campaign=x&gclid=123'
      |      WHEN 3 THEN '?a=1' ELSE '' END)
      |  || (CASE WHEN doc_id % 2 = 1 THEN '#Sec1' ELSE '' END)
      |    AS url,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
      |  || '://www.' || lower(source) || '.example.com'
      |  || (CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
      |  || (CASE doc_id % 4 WHEN 0 THEN '/a/b' WHEN 1 THEN '/a/c'
      |      WHEN 2 THEN '/x/y' ELSE '/deep' END)
      |  || (CASE doc_id % 5 WHEN 0 THEN '?a=2&z=1'
      |      WHEN 1 THEN '?a=1&b=2' WHEN 3 THEN '?a=1'
      |      ELSE '' END) AS url_canon
      |FROM documents""".stripMargin

  /** Shared unigram-LM training knobs (t29/t30 and their specs):
    * pieces are word n-grams up to [[ulmMaxPiece]] words, the
    * candidate pool / vocab cap is [[ulmSeedCap]] (the per-round
    * bounded driver collect, q63's economics), over [[ulmRounds]]
    * hard-EM rounds. */
  private val ulmMaxPiece = 4
  private val ulmSeedCap = 16384
  private val ulmRounds = 4

  /** t29 — unigram-LM tokenizer TRAINING (Kudo 2018; SentencePiece's
    * other half next to BPE q63): hard-EM with a Viterbi E-step over
    * a word-n-gram candidate vocabulary and an exact-integer M-step;
    * see [[graft.text.UnigramLm]] for the determinism and bounded-
    * collect discipline. FULL DuckDB oracle since round 15
    * ([[t29_sql]]): the costs are integer micro-nats and the
    * cost-table build (round(±1e6·ln)) agrees bit-for-bit with
    * StrictMath across the swept domain, so the ENTIRE training
    * chain — seed n-gram counts, four Viterbi E-steps, four exact
    * M-steps — replays as chained recursive CTEs (the q63 batched-
    * BPE oracle discipline, extended to a DP per round). Output is
    * the learned vocabulary (piece, n_words, count, cost_micronat),
    * all BIGINTs and strings — hash-stable by construction. */
  val t29_unigram_train: QFn = (s, d) => {
    val spark = s
    import spark.implicits._
    val docs = t(s, d, "documents").select(col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // seed pass + the tokenize pass re-scan it
    // tokenize ONCE and persist: every EM round re-ran the
    // split/trim/lower projection from the raw text before r15 —
    // identical output each round (guide §1.2); the rounds now scan
    // ready word arrays
    val tok = text.UnigramLm.tokenize(docs, lit(0L), "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tok.count()
    val (_, vocab) = text.UnigramLm.train(docs, "text",
      maxPieceWords = ulmMaxPiece, seedCap = ulmSeedCap,
      rounds = ulmRounds, tok = Some(tok))
    docs.unpersist(blocking = false) // output is a LocalRelation
    tok.unpersist(blocking = false)
    vocab.map { case (p, c, cost) =>
      (p, (p.count(_ == ' ') + 1).toLong, c, cost)
    }.toDF("piece", "n_words", "count", "cost_micronat")
  }

  /** t30 — unigram-LM ENCODE (t23's shape for the unigram family):
    * train t29's model, then Viterbi-segment the corpus once and
    * report per-doc word/piece counts plus the HALF_UP integer-ppm
    * saving. FULL DuckDB oracle since round 15 ([[t30_sql]]) — the
    * t29 training chain plus one more recursive-CTE Viterbi pass. */
  val t30_unigram_encode: QFn = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // seed pass + the tokenize pass re-scan it
    // ONE persisted tokenization feeds the 4 EM rounds AND the final
    // encode (ids ride along — training ignores them, the encode
    // keys its per-doc report on them); before r15 each of those 5
    // passes re-split the raw text from the cache
    val tok = text.UnigramLm.tokenize(docs, col("doc_id"), "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tok.count()
    val (model, _) = text.UnigramLm.train(docs, "text",
      maxPieceWords = ulmMaxPiece, seedCap = ulmSeedCap,
      rounds = ulmRounds, tok = Some(tok))
    val out = text.UnigramLm.encodeTok(s, tok, model, "doc_id")
    // the encode is lazy over the persisted tok; Verify/Bench clear
    // the cache manager after each query, so no unpersist here
    out
  }

  /** DuckDB mirror of [[graft.text.UnigramLm]]'s hard-EM training
    * chain (shared prefix of [[t29_sql]]/[[t30_sql]]). One Viterbi
    * E-step = three chained CTEs: `a{k}` pivots per-(doc, end-pos)
    * arc costs against the round's vocab (MATERIALIZED — the
    * CLAUDE.md recursive-CTE lesson), `dp{k}` runs the forward DP as
    * a recursive CTE whose state carries the last [[ulmMaxPiece]]
    * best costs plus the accumulated TINYINT backpointers, and
    * `tr{k}` walks the backpointers (one row per piece, all docs in
    * parallel per step) so `pc{k}` can join piece strings back on
    * (doc, pos, len). The M-step (`v{k}`) is the capped
    * (count DESC, piece ASC) top-[[ulmSeedCap]] with micro-nat
    * costs over the capped total — exactly toCosts. Tie-break
    * mirrors Model.segment: candidates scanned l ascending with
    * strict improvement (the CASE picks the FIRST l at the min). */
  /** One M-step CTE: capped (count DESC, piece ASC) top-seedCap
    * counts with micro-nat costs over the CAPPED total — exactly
    * UnigramLm.toCosts after topCounts. */
  private def ulmVocabCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT piece, c,
       |    CAST(round(-1e6 * ln(c::DOUBLE / total::DOUBLE)) AS BIGINT) AS cost,
       |    CAST(round(1e6 * ln(total::DOUBLE * 100.0)) AS BIGINT) AS unk
       |  FROM (SELECT piece, c, sum(c) OVER () AS total FROM (
       |    SELECT piece, count(*) AS c FROM ($src) GROUP BY piece
       |    ORDER BY c DESC, piece ASC LIMIT $ulmSeedCap) z) zz)""".stripMargin

  /** One Viterbi E-step as CTE text: arc pivot `a{k}` against
    * `vprev`, forward-DP `dp{k}` (recursive; state = last
    * [[ulmMaxPiece]] best costs + accumulated backpointers),
    * backtrace `tr{k}` (one row per chosen piece). */
  private def ulmDpRoundSql(k: Int, vprev: String): String = {
    val mp = ulmMaxPiece
    val dcols = (1 to mp)
      .map(l => s"max(CASE WHEN l=$l THEN v.cost END) AS d$l")
      .mkString(",\n    ")
    val cands = (1 to mp).map { l =>
      if (l == 1) "coalesce(b[1] + a.d1, b[1] + a.unk) AS v1"
      else s"b[$l] + a.d$l AS v$l"
    }.mkString(",\n            ")
    val least = "least(" +
      (1 to mp).map(l => s"coalesce(v$l, v1)").mkString(", ") + ")"
    val pick = "CASE " +
      (1 until mp).map(l => s"WHEN v$l = best THEN $l")
        .mkString(" ") + s" ELSE $mp END"
    val newb = "[best, " +
      (1 until mp).map(l => s"b[$l]").mkString(", ") + "]"
    val nulls = ", NULL" * (mp - 1)
    s"""a$k AS MATERIALIZED (
       |  SELECT p.doc_id, p.i, any_value(p.unk) AS unk,
       |    $dcols
       |  FROM (SELECT ps.*, (SELECT any_value(unk) FROM $vprev) AS unk
       |        FROM pstr ps) p
       |  LEFT JOIN $vprev v ON v.piece = p.piece
       |  GROUP BY p.doc_id, p.i),
       |dp$k AS (
       |  SELECT doc_id, n, 0 AS pos,
       |    CAST([0$nulls] AS BIGINT[]) AS b,
       |    CAST([] AS TINYINT[]) AS backs
       |  FROM w
       |  UNION ALL
       |  SELECT doc_id, n, pos, $newb AS b,
       |    list_append(backs, CAST(pick AS TINYINT)) AS backs
       |  FROM (
       |    SELECT m.*, ($pick) AS pick FROM (
       |      SELECT c.*, $least AS best FROM (
       |        SELECT d.doc_id, d.n, d.pos + 1 AS pos, d.b, d.backs,
       |            $cands
       |        FROM dp$k d JOIN a$k a
       |          ON a.doc_id = d.doc_id AND a.i = d.pos + 1
       |        WHERE d.pos < d.n) c) m) q),
       |tr$k AS (
       |  SELECT doc_id, n AS pos, backs FROM dp$k
       |  WHERE pos = n AND n > 0
       |  UNION ALL
       |  SELECT doc_id, pos - backs[pos], backs FROM tr$k
       |  WHERE pos - backs[pos] > 0)""".stripMargin
  }

  private def ulmChainSql: String = {
    val mp = ulmMaxPiece
    val seeds = (1 to mp).map(k =>
      s"SELECT unnest(list_transform(range(1, greatest(len(ws)-$k+2, 1)), " +
        s"i -> array_to_string(ws[i:i+$k-1], ' '))) AS piece FROM w")
      .mkString(" UNION ALL ")
    val parts = Seq(
      s"""w AS MATERIALIZED (
         |  SELECT doc_id, ws, len(ws) AS n FROM (
         |    SELECT doc_id, list_filter(
         |      regexp_split_to_array(trim(lower(text)), '\\s+'),
         |      x -> len(x) > 0) AS ws FROM documents)),
         |pstr AS MATERIALIZED (
         |  SELECT doc_id, i, l, array_to_string(ws[i-l+1:i], ' ') AS piece
         |  FROM w, unnest(range(1, n + 1)) AS t(i),
         |       unnest(range(1, ${mp + 1})) AS u(l)
         |  WHERE l <= i)""".stripMargin,
      ulmVocabCte("v0", seeds)) ++
      (1 to ulmRounds).flatMap(k => Seq(
        ulmDpRoundSql(k, s"v${k - 1}"),
        s"""pc$k AS MATERIALIZED (
           |  SELECT t.doc_id, p.piece
           |  FROM tr$k t JOIN pstr p
           |    ON p.doc_id = t.doc_id AND p.i = t.pos
           |      AND p.l = t.backs[t.pos])""".stripMargin,
        ulmVocabCte(s"v$k", s"SELECT piece FROM pc$k")))
    "WITH RECURSIVE\n" + parts.mkString(",\n")
  }

  val t29_sql: String =
    s"""$ulmChainSql
       |SELECT piece,
       |  CAST(length(piece) - length(replace(piece, ' ', '')) + 1
       |    AS BIGINT) AS n_words,
       |  c AS count, cost AS cost_micronat
       |FROM v$ulmRounds""".stripMargin

  val t30_sql: String = {
    // one more Viterbi pass (the encode) with the trained model
    val k = ulmRounds + 1
    s"""$ulmChainSql,
       |${ulmDpRoundSql(k, s"v$ulmRounds")}
       |SELECT w.doc_id, CAST(w.n AS BIGINT) AS n_words,
       |  CAST(coalesce(np.np, 0) AS BIGINT) AS n_pieces,
       |  CASE WHEN w.n = 0 THEN 0 ELSE
       |    ((w.n - coalesce(np.np, 0)) * 2000000 + w.n)
       |      // (2 * w.n) END AS saved_ppm
       |FROM w LEFT JOIN (
       |  SELECT doc_id, count(*) AS np FROM tr$k GROUP BY doc_id) np
       |  ON np.doc_id = w.doc_id""".stripMargin
  }

  val q63_sql: String = {
    // learning only: the accepted batches f1..fR, unnested with
    // their in-round sequence
    val ctes = (1 to bpeRounds)
      .map(k => bpeRoundCte(k, s"t${k - 1}")).mkString(",\n")
    val union = (1 to bpeRounds)
      .map(k => s"SELECT $k AS r, acc, freqs FROM f$k")
      .mkString("\n    UNION ALL ")
    s"""WITH RECURSIVE t0 AS MATERIALIZED (SELECT doc_id,
       |    ' ' || regexp_replace(lower(trim(text)),
       |    '\\s+', ' ', 'g') || ' ' AS t FROM documents),
       |$ctes
       |SELECT CAST(r AS BIGINT) AS round, CAST(seq AS BIGINT) AS seq,
       |  acc[seq] AS pair, freqs[seq] AS freq FROM (
       |  SELECT z.*, unnest(range(1, len(acc) + 1)) AS seq FROM (
       |    $union) z)""".stripMargin
  }

  /** ANN RECALL AUDIT — the sketch-accuracy table for the ANN family
    * (the d12/d13 discipline applied to s04): per probe, recall@10
    * of the IVF search against the exact brute-force top-10 (s01's
    * fenced baseline), as HALF_UP integer ppm. This is the number
    * that TUNES nProbe/nLists at corpus scale: the exact side is
    * bounded to the tiny probe set (never the corpus self-join), so
    * the audit costs one brute-force pass over |probes|·|corpus|
    * map work plus the ANN query itself — affordable at any scale
    * precisely because probes are few. Both sides break ties by
    * candidate id over 6-dp cosines, so the sets are deterministic
    * and the recall is an exact rational. */
  val s09_ann_recall: QFn = (s, d) => {
    val e = embD(s, d)
    // fence: brute-force truth only for the bounded probe set
    // (AuditFence.declared("s09_ann_recall"))
    val probes = graft.tools.AuditFence.fenced("s09_ann_recall",
      e.filter(col("vec_id") < 5))
    val exact = Similarity.bruteForceTopK(e, probes, 10)
      .select(col("probe_id"), col("vec_id").as("cand_id"))
    val ann = Similarity.ivfTopK(e, probes, k = 10, nLists = 16,
        nProbe = 4)
      .select(col("probe_id"), col("cand_id"))
    val hits = exact.join(ann, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("h"))
    exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("h"), lit(0L)).as("hits"))
      .withColumn("recall_ppm",
        expr("(hits * 2000000 + n_exact) DIV (2 * n_exact)"))
  }

  val s09_sql: String =
    s"""WITH exact AS ($s01_sql),
       |ann AS ($s04_sql),
       |hits AS (SELECT exact.probe_id, CAST(count(*) AS BIGINT) AS h
       |  FROM exact JOIN ann ON exact.probe_id = ann.probe_id
       |    AND exact.vec_id = ann.cand_id
       |  GROUP BY exact.probe_id),
       |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM exact GROUP BY probe_id)
       |SELECT ne.probe_id, ne.n_exact,
       |  CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       |  CAST((coalesce(hits.h, 0) * 2000000 + ne.n_exact)
       |    // (2 * ne.n_exact) AS BIGINT) AS recall_ppm
       |FROM ne LEFT JOIN hits ON ne.probe_id = hits.probe_id"""
      .stripMargin

  /** CLUSTER-QUALITY AUDIT — simplified (centroid-based) silhouette
    * over the s04/d15 Lloyd clustering (Rousseeuw 1987's silhouette
    * with centroid distances standing in for mean pairwise
    * distances — the standard O(n·k) form; the exact form is O(n²)).
    * Per vector: a = cosine distance to its OWN centroid, b = to the
    * nearest OTHER centroid; s = (b − a)/max(a, b) — with
    * centroid-argmax assignment b ≥ a always, so s = (cos1 − cos2)
    * / (1 − cos2) ∈ [0, 1]. This is the operational knob audit for
    * d15/s04: nLists must grow with the corpus, and mean silhouette
    * per cluster is the measurement that says when.
    *
    * Hash-stability: 6-dp cosines are recovered into exact integer
    * MICRO-units first, then s is HALF_UP integer-ppm by
    * cross-multiplication — a decimal ratio of 6-dp decimals CAN
    * terminate exactly at the tie digit (the CLAUDE.md rounding-tie
    * trap), so no float division ever happens. Scale shape: ONE
    * broadcast of the tiny centroid table, one per-vector window
    * (argmax + runner-up from the same Exchange), one |clusters|-row
    * aggregate with map-side combine. */
  val s10_cluster_quality: QFn = (s, d) => {
    // audit role (declared in AuditFence + Queries.auditRoleKeys):
    // the truth pass is the corpus×broadcast-centroid join — O(n·k)
    val e = graft.tools.AuditFence.fenced("s10_cluster_quality",
      embD(s, d))
    val cents = Similarity.ivfCentroids(e, nLists = 16, iters = 1)
    val scored = e.select(col("vec_id"), col("embedding").as("v"))
      .join(broadcast(cents))
      .withColumn("cs", Similarity.cosine(col("v"), col("cv")))
      .withColumn("c_micro",
        expr("CAST(round(cs * 1e6) AS BIGINT)"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cs").desc, col("cent_id"))
    val ranked = scored.withColumn("r", row_number().over(w))
      .filter(col("r") <= 2)
    val own = ranked.filter(col("r") === 1)
      .select(col("vec_id"), col("cent_id"), col("c_micro").as("c1"))
    val nxt = ranked.filter(col("r") === 2)
      .select(col("vec_id"), col("c_micro").as("c2"))
    val pts = own.join(nxt, "vec_id")
      .select(col("vec_id"), col("cent_id"),
        expr("""CASE WHEN c2 >= 1000000 THEN CAST(0 AS BIGINT)
          |  ELSE ((c1 - c2) * 2000000 + (1000000 - c2))
          |    DIV (2 * (1000000 - c2)) END""".stripMargin)
          .as("s_ppm"))
    pts.groupBy("cent_id").agg(
        count(lit(1)).as("n"), sum("s_ppm").as("sum_s_ppm"))
      .withColumn("mean_s_ppm",
        expr("(2 * sum_s_ppm + n) DIV (2 * n)"))
  }

  val s10_sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 16),
       |s1 AS (SELECT e.vec_id, e.v, c0.cent_id, $centCos AS cs
       |  FROM e, c0),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT vec_id, v, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS r
       |    FROM s1) WHERE r = 1),
       |u1 AS (SELECT cent_id, i, round(avg(v[i]), 6) AS m
       |  FROM a1, range(1, 65) t(i) GROUP BY 1, 2),
       |cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM u1
       |  GROUP BY cent_id),
       |sc AS (SELECT e.vec_id, cents.cent_id, $centCos AS cs
       |  FROM e, cents),
       |rk AS (SELECT vec_id, cent_id,
       |    CAST(round(cs * 1e6) AS BIGINT) AS c_micro,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, cent_id) AS r
       |  FROM sc),
       |own AS (SELECT vec_id, cent_id, c_micro AS c1 FROM rk
       |  WHERE r = 1),
       |nxt AS (SELECT vec_id, c_micro AS c2 FROM rk WHERE r = 2),
       |pt AS (SELECT own.vec_id, own.cent_id,
       |    CASE WHEN c2 >= 1000000 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(((c1 - c2) * 2000000 + (1000000 - c2))
       |        // (2 * (1000000 - c2)) AS BIGINT) END AS s_ppm
       |  FROM own JOIN nxt USING (vec_id))
       |SELECT cent_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
       |  CAST((2 * sum(s_ppm) + count(*)) // (2 * count(*))
       |    AS BIGINT) AS mean_s_ppm
       |FROM pt GROUP BY cent_id""".stripMargin

  // ---------------------------------------------------------------
  // Multimodal (binary columns)
  // ---------------------------------------------------------------

  val m01_binary_meta: QFn = (s, d) =>
    Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")
      .select(col("media_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"), col("meta.sha").as("sha"))

  val m01_sql: String =
    """SELECT doc_id AS media_id,
      |  'application/octet-stream' AS mime,
      |  octet_length(encode(text))::BIGINT AS n_bytes,
      |  sha256(text) AS sha
      |FROM documents""".stripMargin

  /** Partition-wise decode, ORACLE-VERIFIED on ALL THREE dispatch
    * arms. Documents rotate by doc_id mod 3:
    *  - 0 → a byte-exact 24-bpp BI_RGB BMP whose pixel bytes VARY by
    *    pixel-array position ((doc_id·7 + p·13) mod 251, planted
    *    over padding positions too); the decoder
    *    ([[Multimodal.HeaderCodec.bmp24ChannelSums]]) walks the
    *    declared offset + 4-byte row stride and EXCLUDES the
    *    padding, so the (ΣB, ΣG, ΣR) sums prove REAL pixel decoding
    *    (stride > 3w whenever w mod 4 ≠ 0).
    *  - 1 → a structurally valid PNG whose zlib stream is REAL
    *    (stored deflate block + closed-form Adler-32 the JDK
    *    Inflater VERIFIES) and whose rows carry live FILTER TYPES
    *    (None/Sub/Up planted declaratively over raw pixels
    *    (doc_id·11 + q·17) mod 251); the decoder
    *    ([[Multimodal.HeaderCodec.pngRgb8ChannelSums]]) inflates and
    *    REVERSES the filters, so the (ΣR, ΣG, ΣB) sums prove real
    *    PNG pixel decoding — a wrong adler, a mis-reversed filter,
    *    or a mis-walked chunk hash-mismatches. (Average/Paeth are
    *    pinned by real-deflate golden vectors in the codec spec;
    *    they have no declarative closed form worth mirroring.)
    *  - 2 → text payloads on the unrecognized arm's exact byte-lane
    *    sums — the original plumbing check.
    * Features emitted as an integer CSV string (raw float arrays are
    * unsortable/unhashable in the harness's pandas compare); the
    * oracle recomputes ALL arms from the planted formulas. The
    * decoder itself handles MORE than m02 plants: GIF (clean-room
    * LZW), every PNG depth×color-type×interlace combination — those
    * arms are oracle-verified via golden vectors + the randomized
    * writer→decoder fuzz suite (MultimodalCodecSpec /
    * MultimodalFuzzSpec) rather than m02's declarative oracle,
    * because a valid GIF/compressed-PNG payload can't be assembled
    * declaratively in SQL. Remaining declared gap: true
    * transform-coded media — DCT video (H.264…; MJPEG decodes via
    * m07's frame walk) and MP3/AAC audio (PCM, G.711, and IMA ADPCM
    * all decode). */
  val m02_feature_stub: QFn = (s, d) => {
    def le(c: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)
    def be32(c: Column): Column = lpad(hex(c), 8, "0")
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val base = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("w", pmod(col("doc_id"), lit(31)) + 1)
      .withColumn("h", pmod(col("doc_id"), lit(17)) + 1)
      .withColumn("stride", expr("((w * 3 + 3) DIV 4) * 4"))
      .withColumn("pix", col("stride") * col("h"))
      // PNG arm dimensions (kept small: no padding, one filter byte
      // per row; plen = decompressed stream length h·(1+3·pw))
      .withColumn("pw", pmod(col("doc_id"), lit(13)) + 1)
      .withColumn("ph", pmod(col("doc_id"), lit(7)) + 1)
      .withColumn("plen", col("ph") * (col("pw") * 3 + 1))
    val pixHex = array_join(
      transform(sequence(lit(0L), col("pix") - 1),
        p => lpad(hex(pmod(col("doc_id") * 7 + p * 13, lit(251))),
          2, "0")), "")
    val bmpHex = concat(
      lit("424D"), le(col("pix") + 54, 4), lit("00000000"),
      le(lit(54L), 4),                       // pixel-data offset
      le(lit(40L), 4),                       // BITMAPINFOHEADER size
      le(col("w"), 4), le(col("h"), 4),
      le(lit(1L), 2),                        // planes
      le(lit(24L), 2),                       // bits per pixel
      le(lit(0L), 4),                        // BI_RGB
      le(col("pix"), 4),
      le(lit(2835L), 4), le(lit(2835L), 4),  // 72 dpi
      le(lit(0L), 4), le(lit(0L), 4),
      pixHex)
    // ---- PNG writer: raw pixel byte at raw index q is
    // (doc_id·11 + q·17) mod 251; row r carries FILTER TYPE r mod 3
    // (None / Sub / Up), applied DECLARATIVELY — the decoder must
    // reverse them to land back on the planted values. The zlib
    // stream is a single STORED deflate block (header 0x78 0x01,
    // block 0x01 + LEN + ~LEN) with a closed-form Adler-32:
    // s1 = 1+ΣD, s2 = L+Σ(L−i)·D_i, both mod 65521 — Inflater
    // VERIFIES the adler, so a wrong closed form would fail the
    // whole arm, not just a checksum nobody reads. Chunk CRCs are
    // planted zero (the decoder is CRC-lenient, golden vectors pin
    // it against real-CRC files; CRC32 has no closed positional
    // form). ----
    val strideP = col("pw") * 3 + 1
    def vAt(q: Column): Column =
      pmod(col("doc_id") * 11 + q * 17, lit(251))
    val dArr = transform(sequence(lit(0L), col("plen") - 1), i => {
      val r = idiv(i, strideP)
      val o = pmod(i, strideP)
      val j = o - 1
      val q = r * (col("pw") * 3) + j
      val t0 = pmod(r, lit(3))
      when(o === 0, t0).otherwise(
        when(t0 === 0, vAt(q))
          .when(t0 === 1,
            when(j >= 3, pmod(vAt(q) - vAt(q - 3), lit(256)))
              .otherwise(vAt(q)))
          .otherwise(
            when(r >= 1,
              pmod(vAt(q) - vAt(q - col("pw") * 3), lit(256)))
              .otherwise(vAt(q))))
    })
    val withD = base.withColumn("pd", dArr)
    val s1 = pmod(lit(1L) +
      aggregate(col("pd"), lit(0L), (a, x) => a + x), lit(65521L))
    val s2 = pmod(col("plen") +
      aggregate(zip_with(col("pd"),
        sequence(col("plen"), lit(1L), lit(-1L)),
        (b, wt) => b * wt), lit(0L), (a, x) => a + x), lit(65521L))
    val zlibHex = concat(
      lit("780101"),                          // zlib hdr + final stored block
      le(col("plen"), 2), le(lit(65535L) - col("plen"), 2),
      array_join(transform(col("pd"),
        b => lpad(hex(b), 2, "0")), ""),
      lpad(hex(s2), 4, "0"), lpad(hex(s1), 4, "0"))
    val pngHex = concat(
      lit("89504E470D0A1A0A"),
      lit("0000000D"), lit("49484452"),       // IHDR len + type
      be32(col("pw")), be32(col("ph")), lit("0802000000"),
      lit("00000000"),                        // IHDR CRC (lenient)
      be32(col("plen") + 11), lit("49444154"), // IDAT len + type
      zlibHex, lit("00000000"),               // IDAT CRC (lenient)
      lit("00000000"), lit("49454E44"), lit("00000000")) // IEND
    val media = withD
      .withColumn("payload",
        when(pmod(col("doc_id"), lit(3)) === 0, unhex(bmpHex))
          .when(pmod(col("doc_id"), lit(3)) === 1, unhex(pngHex))
          .otherwise(col("text").cast("binary")))
      .select(col("doc_id").as("media_id"), col("payload"),
        struct(lit("application/octet-stream").as("mime"),
          length(col("payload")).cast("long").as("n_bytes"),
          lit("").as("sha")).as("meta"))
    Multimodal.extractFeatures(media)
      .select(col("media_id"), col("n_bytes"),
        array_join(transform(col("features"),
          f => f.cast("long").cast("string")), ",")
          .as("features_csv"))
  }

  /** Oracle replay of both decode arms from the planted formulas:
    * BMP rows sum (doc_id·7 + p·13) mod 251 over NON-PADDING pixel
    * positions per channel (p mod stride < 3w, channel = that mod
    * 3); text rows replay the byte-lane sums via `ord` (the corpus
    * is ASCII, so characters equal UTF-8 payload bytes). */
  val m02_sql: String =
    """WITH b AS (SELECT doc_id, doc_id % 31 + 1 AS w,
      |    doc_id % 17 + 1 AS h,
      |    (((doc_id % 31 + 1) * 3 + 3) // 4) * 4 AS stride
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (SELECT doc_id, w, h, stride, stride * h AS pix,
      |    unnest(range(0, stride * h)) AS p FROM b),
      |bsum AS (SELECT doc_id, w, h, pix,
      |    CAST(sum(CASE WHEN p % stride < 3 * w
      |      AND (p % stride) % 3 = 0
      |      THEN (doc_id * 7 + p * 13) % 251 ELSE 0 END) AS BIGINT)
      |      AS sb,
      |    CAST(sum(CASE WHEN p % stride < 3 * w
      |      AND (p % stride) % 3 = 1
      |      THEN (doc_id * 7 + p * 13) % 251 ELSE 0 END) AS BIGINT)
      |      AS sg,
      |    CAST(sum(CASE WHEN p % stride < 3 * w
      |      AND (p % stride) % 3 = 2
      |      THEN (doc_id * 7 + p * 13) % 251 ELSE 0 END) AS BIGINT)
      |      AS sr
      |  FROM px GROUP BY doc_id, w, h, pix),
      |bout AS (SELECT doc_id AS media_id,
      |    CAST(54 + pix AS BIGINT) AS n_bytes,
      |    '1,' || w || ',' || h || ',24,' || (54 + pix) || ',' ||
      |      sb || ',' || sg || ',' || sr AS features_csv
      |  FROM bsum),
      |png AS (SELECT doc_id, doc_id % 13 + 1 AS pw,
      |    doc_id % 7 + 1 AS ph FROM documents WHERE doc_id % 3 = 1),
      |pq AS (SELECT doc_id, pw, ph, ph * (3 * pw + 1) AS plen,
      |    unnest(range(0, 3 * pw * ph)) AS q FROM png),
      |psum AS (SELECT doc_id, pw, ph, plen,
      |    CAST(sum(CASE WHEN q % 3 = 0
      |      THEN (doc_id * 11 + q * 17) % 251 ELSE 0 END) AS BIGINT)
      |      AS sr,
      |    CAST(sum(CASE WHEN q % 3 = 1
      |      THEN (doc_id * 11 + q * 17) % 251 ELSE 0 END) AS BIGINT)
      |      AS sg,
      |    CAST(sum(CASE WHEN q % 3 = 2
      |      THEN (doc_id * 11 + q * 17) % 251 ELSE 0 END) AS BIGINT)
      |      AS sb
      |  FROM pq GROUP BY doc_id, pw, ph, plen),
      |pout AS (SELECT doc_id AS media_id,
      |    CAST(68 + plen AS BIGINT) AS n_bytes,
      |    '2,' || pw || ',' || ph || ',24,' || (68 + plen) || ',' ||
      |      sr || ',' || sg || ',' || sb AS features_csv
      |  FROM psum),
      |m AS (SELECT doc_id AS media_id, text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents WHERE doc_id % 3 = 2),
      |x AS (SELECT media_id, (i - 1) % 8 AS lane,
      |    ord(substring(text, CAST(i AS INTEGER), 1)) AS b
      |  FROM (SELECT media_id, text,
      |      unnest(range(1, length(text) + 1)) AS i FROM m)),
      |g AS (SELECT media_id, lane, CAST(sum(b) AS BIGINT) AS s
      |  FROM x GROUP BY 1, 2),
      |lanes AS (SELECT m.media_id, m.n_bytes, l.lane,
      |    coalesce(g.s, 0) AS s
      |  FROM m CROSS JOIN range(0, 8) l(lane)
      |  LEFT JOIN g ON g.media_id = m.media_id AND g.lane = l.lane),
      |tout AS (SELECT media_id, n_bytes,
      |    array_to_string(list(s::VARCHAR ORDER BY lane), ',')
      |      AS features_csv
      |  FROM lanes GROUP BY media_id, n_bytes)
      |SELECT * FROM bout UNION ALL SELECT * FROM pout
      |UNION ALL SELECT * FROM tout""".stripMargin

  /** Cross-document duplicated content tiles: payloads chunked into
    * fixed 256-byte tiles (binary substring — codegen'd), each tile
    * keyed by a hash, tiles appearing in 2+ distinct media reported.
    * This is the content-defined-block half of image/video tile dedup:
    * with a real codec the tile would be a decoded image patch, but
    * the shuffle shape (fan out to tiles, one hash-keyed aggregate) is
    * the real contract — at 100 TB the tile aggregate is the job and
    * it shuffles hashes + ids only, never payload bytes twice.
    * Hash-stability: DuckDB's md5 only takes VARCHAR, so both engines
    * hash the HEX of the tile bytes (hex(substring(payload)) ==
    * substring(hex(payload)) because hex is byte-wise). */
  val m03_tile_dedup: QFn = (s, d) => {
    val media = Multimodal.asMedia(t(s, d, "documents"), "doc_id",
      "text")
    Multimodal.chunkPayload(media, 256)
      .filter(length(col("chunk")) > 0)
      .select(col("media_id"), md5(hex(col("chunk"))).as("tile_hash"))
      .groupBy("tile_hash")
      .agg(countDistinct("media_id").as("n_media"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_media") >= 2)
  }

  val m03_sql: String =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
      |idx AS (SELECT doc_id, hx,
      |    unnest(generate_series(0,
      |      greatest(CAST(ceil(len(hx) / 512.0) AS BIGINT), 1) - 1)) AS i
      |  FROM h),
      |tiles AS (SELECT doc_id,
      |    md5(substring(hx, i * 512 + 1, 512)) AS tile_hash
      |  FROM idx WHERE len(hx) > i * 512)
      |SELECT tile_hash, count(DISTINCT doc_id) AS n_media,
      |  count(*) AS n_occ
      |FROM tiles GROUP BY tile_hash
      |HAVING count(DISTINCT doc_id) >= 2""".stripMargin

  /** Per-frame energy / silence / RMS map with REAL PCM decode on
    * the audio arms: documents ≡ 1 mod 4 become byte-exact
    * RIFF/WAVE files (mono 16-bit PCM) whose planted samples VARY —
    * sample k is ((doc_id·31 + k·7) mod 997) − 498, written s16le —
    * and [[Multimodal.Decoder.frames]] decodes the data chunk back
    * into signed samples and frames them into 64-SAMPLE windows with
    * energy Σs² per frame (REAL signal energy: a decoder that missed
    * the sign extension, the data-chunk offset, or the s16le layout
    * produces different numbers). Documents ≡ 3 mod 4 become G.711
    * telephony WAVs (format code 6 A-law / 7 μ-law, one code byte
    * per sample from (doc_id·13 + k·11) mod 256) that the decoder
    * expands through the ITU companding tables — and because G.711
    * is closed-form integer arithmetic, the ORACLE mirrors the
    * expansion formula itself — any payload past 256 samples walks
    * the whole code space (gcd(11, 256) = 1), so the hash pins the
    * full tables end-to-end. Even documents stay text payloads framed
    * into 64-byte windows with Σb² energy — the plumbing arm. The fan-out happens INSIDE the per-partition
    * decode boundary ([[Multimodal.extractFrameFeatures]]): payload
    * bytes reach the decode once and never shuffle again — what the
    * media-keyed aggregate shuffles is ~40 B/frame. Per media:
    * frame count, silent-frame count (frame RMS < 100 milli-units),
    * peak/total energy, and the media RMS — all EXACT integers: RMS
    * in milli-units is isqrt((10⁶·Σv²) div n) with the ±1 correction
    * that makes floor(sqrt(double)) exact for y < 2⁵², so no float
    * rounding ever reaches the hash (house rounding-tie rule). */
  val m04_frame_energy: QFn = (s, d) => {
    def le(c: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)
    val base = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("rate",
        lit(8000L) + pmod(col("doc_id"), lit(5)) * 1000)
    val sampleHex = array_join(
      transform(sequence(lit(0L), col("n") - 1), k => {
        val u = pmod(
          pmod(col("doc_id") * 31 + k * 7, lit(997)) - 498,
          lit(65536))
        concat(lpad(hex(pmod(u, lit(256))), 2, "0"),
          lpad(hex(shiftright(u, 8)), 2, "0"))
      }), "")
    val wavHex = concat(
      lit("52494646"), le(col("n") * 2 + 36, 4), // "RIFF" + size
      lit("57415645"), lit("666D7420"),      // "WAVE" "fmt "
      le(lit(16L), 4), le(lit(1L), 2),       // fmt size, PCM
      le(lit(1L), 2), le(col("rate"), 4),    // mono, sample rate
      le(col("rate") * 2, 4),                // byte rate
      le(lit(2L), 2), le(lit(16L), 2),       // block align, bits
      lit("64617461"), le(col("n") * 2, 4),  // "data" + size
      sampleHex)
    // G.711 arm (doc_id ≡ 3 mod 4): one code byte per sample from
    // the planted formula (doc_id·13 + k·11) mod 256, format code 6
    // (A-law, doc_id ≡ 3 mod 8) or 7 (μ-law, ≡ 7 mod 8) at 8 bits —
    // the decoder expands through the ITU tables and the oracle
    // mirrors the same closed-form companding arithmetic
    val g711Hex = array_join(
      transform(sequence(lit(0L), col("n") - 1), k =>
        lpad(hex(pmod(col("doc_id") * 13 + k * 11, lit(256))),
          2, "0")), "")
    val fmtCode = when(pmod(col("doc_id"), lit(8)) === 3, lit(6L))
      .otherwise(lit(7L))
    val g711WavHex = concat(
      lit("52494646"), le(col("n") + 36, 4),  // "RIFF" + size
      lit("57415645"), lit("666D7420"),       // "WAVE" "fmt "
      le(lit(16L), 4), le(fmtCode, 2),        // fmt size, 6/7
      le(lit(1L), 2), le(col("rate"), 4),     // mono, sample rate
      le(col("rate"), 4),                     // byte rate (1 B/smp)
      le(lit(1L), 2), le(lit(8L), 2),         // block align, bits
      lit("64617461"), le(col("n"), 4),       // "data" + size
      g711Hex)
    val media = base
      .withColumn("payload",
        when(pmod(col("doc_id"), lit(4)) === 1, unhex(wavHex))
          .when(pmod(col("doc_id"), lit(4)) === 3, unhex(g711WavHex))
          .otherwise(col("text").cast("binary")))
      .select(col("doc_id").as("media_id"), col("payload"))
    Multimodal.frameEnergy(Multimodal.extractFrameFeatures(media))
  }

  /** Oracle replay from the planted formulas: the PCM arm recomputes
    * sample k = (doc_id·31 + k·7) mod 997 − 498 directly (a hash
    * match pins the s16le writer → sign-extending parser round
    * trip); the G.711 arm replays the ITU companding expansion as
    * closed-form integer arithmetic (xor/shift/bias — the same
    * formulas the decoder's 256-entry tables were built from); the
    * text arm replays Σb² via `ord`; all mirror the exact-isqrt ±1
    * correction. */
  val m04_sql: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(length(text) AS BIGINT) AS n FROM documents),
      |wsam AS (SELECT doc_id, unnest(range(0, n)) AS k FROM d
      |  WHERE doc_id % 4 = 1),
      |wval AS (SELECT doc_id, k // 64 AS f,
      |    (doc_id * 31 + k * 7) % 997 - 498 AS v FROM wsam),
      |wfr AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS n_units,
      |    CAST(sum(v * v) AS BIGINT) AS e
      |  FROM wval GROUP BY doc_id, f),
      |gsam AS (SELECT doc_id, unnest(range(0, n)) AS k FROM d
      |  WHERE doc_id % 4 = 3),
      |gcode AS (SELECT doc_id, k // 64 AS f,
      |    (doc_id * 13 + k * 11) % 256 AS code FROM gsam),
      |gval AS (SELECT doc_id, f,
      |    CASE WHEN doc_id % 8 = 3 THEN
      |      (CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END) *
      |      (CASE WHEN (xor(code, 85) // 16) % 8 = 0
      |        THEN (xor(code, 85) % 16) * 16 + 8
      |        ELSE ((xor(code, 85) % 16) * 16 + 264)
      |          * (1 << ((xor(code, 85) // 16) % 8 - 1)) END)
      |    ELSE
      |      (CASE WHEN 255 - code >= 128 THEN -1 ELSE 1 END) *
      |      ((((255 - code) % 16) * 8 + 132)
      |        * (1 << (((255 - code) // 16) % 8)) - 132)
      |    END AS v
      |  FROM gcode),
      |gfr AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS n_units,
      |    CAST(sum(v * v) AS BIGINT) AS e
      |  FROM gval GROUP BY doc_id, f),
      |tby AS (SELECT doc_id, (i - 1) // 64 AS f,
      |    ord(substring(text, CAST(i AS INT), 1)) AS b
      |  FROM (SELECT doc_id, text,
      |      unnest(range(1, length(text) + 1)) AS i
      |    FROM d WHERE doc_id % 2 = 0)),
      |tfr AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS n_units,
      |    CAST(sum(b * b) AS BIGINT) AS e
      |  FROM tby GROUP BY doc_id, f),
      |fr AS (SELECT doc_id, 'audio/wav' AS mime, n_units, e FROM wfr
      |  UNION ALL
      |  SELECT doc_id, 'audio/wav' AS mime, n_units, e FROM gfr
      |  UNION ALL
      |  SELECT doc_id, 'application/octet-stream' AS mime,
      |    n_units, e FROM tfr),
      |fr2 AS (SELECT doc_id, mime, n_units, e,
      |    (1000000 * e) // n_units AS y,
      |    CAST(floor(sqrt(CAST((1000000 * e) // n_units AS DOUBLE)))
      |      AS BIGINT) AS r0
      |  FROM fr),
      |fr3 AS (SELECT doc_id, mime, n_units, e,
      |    r0 + CASE WHEN (r0 + 1) * (r0 + 1) <= y THEN 1 ELSE 0 END
      |       - CASE WHEN r0 * r0 > y THEN 1 ELSE 0 END AS frame_rms
      |  FROM fr2),
      |agg AS (SELECT doc_id AS media_id, mime,
      |    CAST(count(*) AS BIGINT) AS n_frames,
      |    CAST(sum(CASE WHEN frame_rms < 100000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_silent,
      |    CAST(max(e) AS BIGINT) AS max_energy,
      |    CAST(sum(e) AS BIGINT) AS total_energy,
      |    CAST(sum(n_units) AS BIGINT) AS total_units
      |  FROM fr3 GROUP BY doc_id, mime),
      |a2 AS (SELECT *, CAST((1000000::HUGEINT * total_energy)
      |      // total_units AS BIGINT) AS y,
      |    CAST(floor(sqrt(CAST((1000000::HUGEINT * total_energy)
      |      // total_units AS DOUBLE))) AS BIGINT) AS r0
      |  FROM agg)
      |SELECT media_id, mime, n_frames, n_silent, max_energy,
      |  total_energy, total_units,
      |  r0 + CASE WHEN (r0 + 1) * (r0 + 1) <= y THEN 1 ELSE 0 END
      |     - CASE WHEN r0 * r0 > y THEN 1 ELSE 0 END AS rms_milli
      |FROM a2""".stripMargin

  /** REAL container-header decode, oracle-verified end-to-end: each
    * document row is turned into a byte-exact media payload — a
    * complete 24-bpp BMP (BITMAPFILEHEADER + BITMAPINFOHEADER +
    * padded pixel rows), a GIF89a logical-screen header, a
    * RIFF/WAVE file with a 16-byte `fmt ` chunk, an abbreviated
    * JPEG stream (SOI + SOF0 frame header + EOI, big-endian per
    * ISO 10918), a RIFF/'AVI ' file with the 56-byte 'avih' main
    * header (VfW layout — frames/width/height), or an ISO BMFF MP4
    * (ftyp + moov with v0 mvhd/tkhd: millisecond duration at
    * timescale 1000, 16.16 fixed-point track dimensions) — with
    * dimensions / sample rate / frame counts / durations planted as
    * doc_id-derived formulas. Construction is
    * fully DECLARATIVE (hex-string assembly + `unhex`, all
    * whole-stage codegen — little-endian fields via a byte-reversal
    * `concat` over `shiftright`/`pmod`); the payloads then run
    * through the SAME mapPartitions decode boundary as m02, where
    * [[Multimodal.HeaderCodec]] parses the published byte layouts
    * back out (strict: BMP's file-size field and WAV's RIFF size
    * must equal the actual payload length, so a mis-assembled byte
    * fails the parse rather than passing by luck). The oracle
    * recomputes the PLANTED values from the same doc_id formulas —
    * a hash match proves writer and parser agree on every offset,
    * endianness and padding rule of the public specs. PNG (big-
    * endian IHDR) is covered by spec-pinned golden vectors instead,
    * since a valid PNG needs zlib+CRC the declarative writer can't
    * emit. At 100 TB: construction and probe are one embarrassingly
    * parallel scan, no shuffle at all — exactly the shape of a real
    * media-ingest metadata pass. */
  val m05_header_probe: QFn = (s, d) => {
    def le(c: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)
    val base = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("fmt", pmod(col("doc_id"), lit(6)))
      .withColumn("w", pmod(col("doc_id"), lit(31)) + 1)
      .withColumn("h", pmod(col("doc_id"), lit(17)) + 1)
      .withColumn("pix",
        floor((col("w") * 3 + 3) / 4) * 4 * col("h"))
      .withColumn("ndata", pmod(col("doc_id"), lit(32)) * 2)
      .withColumn("rate",
        lit(8000) + pmod(col("doc_id"), lit(5)) * 1000)
      .withColumn("ch", pmod(col("doc_id"), lit(2)) + 1)
      .withColumn("nframes", pmod(col("doc_id"), lit(1000)) + 1)
      .withColumn("durms", pmod(col("doc_id"), lit(5000)) + 1000)
    val bmpHex = concat(
      lit("424D"), le(col("pix") + 54, 4), lit("00000000"),
      le(lit(54L), 4),                       // pixel-data offset
      le(lit(40L), 4),                       // BITMAPINFOHEADER size
      le(col("w"), 4), le(col("h"), 4),
      le(lit(1L), 2),                        // planes
      le(lit(24L), 2),                       // bits per pixel
      le(lit(0L), 4),                        // BI_RGB
      le(col("pix"), 4),
      le(lit(2835L), 4), le(lit(2835L), 4),  // 72 dpi
      le(lit(0L), 4), le(lit(0L), 4),
      expr("repeat('A5', CAST(pix AS INT))"))
    val gifHex = concat(
      lit("474946383961"),                   // "GIF89a"
      le(col("w"), 2), le(col("h"), 2),
      lpad(hex(pmod(col("doc_id"), lit(8))), 2, "0"), // packed
      lit("0000"),                           // bg color, aspect
      lit("3B"))                             // trailer
    val wavHex = concat(
      lit("52494646"), le(col("ndata") + 36, 4), // "RIFF" + size
      lit("57415645"), lit("666D7420"),      // "WAVE" "fmt "
      le(lit(16L), 4), le(lit(1L), 2),       // PCM
      le(col("ch"), 2), le(col("rate"), 4),
      le(col("rate") * col("ch") * 2, 4),    // byte rate
      le(col("ch") * 2, 2), le(lit(16L), 2), // block align, bits
      lit("64617461"), le(col("ndata"), 4),  // "data" + size
      expr("repeat('00', CAST(ndata AS INT))"))
    // JPEG frame header, big-endian per ISO 10918: SOI, SOF0 with
    // length 17 (8-bit precision, h, w, 3 components with standard
    // 4:2:0 sampling/quant ids), EOI — a byte-exact abbreviated
    // stream the marker walk parses dimensions out of
    val jpgHex = concat(
      lit("FFD8FFC0001108"),
      lpad(hex(col("h")), 4, "0"), lpad(hex(col("w")), 4, "0"),
      lit("03"), lit("012200"), lit("021101"), lit("031101"),
      lit("FFD9"))
    // AVI main header, little-endian RIFF per the published VfW
    // layout: RIFF/'AVI ' + LIST/'hdrl' whose first chunk is the
    // 56-byte 'avih' (dwTotalFrames @+16, dwWidth @+32, dwHeight
    // @+36; remaining fields zero) — 88 bytes total
    val aviHex = concat(
      lit("52494646"), le(lit(80L), 4),      // "RIFF", size 80
      lit("41564920"),                       // "AVI "
      lit("4C495354"), le(lit(68L), 4),      // "LIST", size 68
      lit("6864726C"),                       // "hdrl"
      lit("61766968"), le(lit(56L), 4),      // "avih", size 56
      le(lit(33367L), 4),                    // usec/frame (~30fps)
      le(lit(0L), 4), le(lit(0L), 4), le(lit(0L), 4),
      le(col("nframes"), 4),                 // dwTotalFrames
      le(lit(0L), 4), le(lit(1L), 4), le(lit(0L), 4),
      le(col("w"), 4), le(col("h"), 4),      // dwWidth, dwHeight
      le(lit(0L), 4), le(lit(0L), 4), le(lit(0L), 4), le(lit(0L), 4))
    // MP4 / ISO BMFF, big-endian box walk: ftyp(16) + moov(140)
    // holding a minimal v0 mvhd (timescale 1000 -> duration IS ms)
    // and a trak/tkhd whose width/height are 16.16 fixed — 156 bytes
    def be(c: Column, n: Int): Column = lpad(hex(c), 2 * n, "0")
    val mp4Hex = concat(
      lit("00000010"), lit("66747970"),      // ftyp, size 16
      lit("69736F6D"), lit("00000000"),      // brand isom, minor 0
      lit("0000008C"), lit("6D6F6F76"),      // moov, size 140
      lit("00000020"), lit("6D766864"),      // mvhd, size 32
      lit("00000000"),                       // version 0 + flags
      lit("00000000"), lit("00000000"),      // creation, modification
      be(lit(1000L), 4),                     // timescale 1000
      be(col("durms"), 4),                   // duration (= ms)
      lit("00000000"),                       // pad
      lit("00000064"), lit("7472616B"),      // trak, size 100
      lit("0000005C"), lit("746B6864"),      // tkhd, size 92
      lit("00000000"),                       // version 0 + flags
      lit("00000000"), lit("00000000"),      // creation, modification
      lit("00000001"), lit("00000000"),      // track id, reserved
      be(col("durms"), 4),                   // duration
      lit("0000000000000000"),               // reserved[8]
      lit("00000000"), lit("00000000"),      // layer/alt, volume/res
      lit("00010000"), lit("00000000"), lit("00000000"), // matrix
      lit("00000000"), lit("00010000"), lit("00000000"),
      lit("00000000"), lit("00000000"), lit("40000000"),
      be(col("w"), 2), lit("0000"),          // width  16.16
      be(col("h"), 2), lit("0000"))          // height 16.16
    val media = base
      .withColumn("payload", unhex(
        when(col("fmt") === 0, bmpHex)
          .when(col("fmt") === 1, gifHex)
          .when(col("fmt") === 2, wavHex)
          .when(col("fmt") === 3, jpgHex)
          .when(col("fmt") === 4, aviHex)
          .otherwise(mp4Hex)))
      .select(col("doc_id").as("media_id"), col("payload"),
        struct(lit("application/octet-stream").as("mime"),
          length(col("payload")).cast("long").as("n_bytes"),
          lit("").as("sha")).as("meta"))
    val f = Multimodal.extractFeatures(media)
    def feat(i: Int) = element_at(col("features"), i).cast("long")
    f.select(col("media_id"),
        when(feat(1) === 1L, "image/bmp")
          .when(feat(1) === 2L, "image/png")
          .when(feat(1) === 3L, "image/gif")
          .when(feat(1) === 4L, "audio/wav")
          .when(feat(1) === 5L, "image/jpeg")
          .when(feat(1) === 6L, "video/avi")
          .when(feat(1) === 7L, "video/mp4").as("mime"),
        feat(2).as("width"), feat(3).as("height"),
        feat(4).as("depth"), feat(5).as("n_bytes"))
  }

  /** The oracle recomputes the PLANTED header fields from the same
    * doc_id formulas — it never parses bytes, so a hash match pins
    * the Spark writer+parser round trip to the intended values. */
  val m05_sql: String =
    """WITH p AS (SELECT doc_id, doc_id % 6 AS fmt,
      |    doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS h,
      |    (((doc_id % 31 + 1) * 3 + 3) // 4) * 4 * (doc_id % 17 + 1)
      |      AS pix,
      |    (doc_id % 32) * 2 AS ndata,
      |    8000 + (doc_id % 5) * 1000 AS rate,
      |    doc_id % 2 + 1 AS ch,
      |    doc_id % 1000 + 1 AS nframes,
      |    doc_id % 5000 + 1000 AS durms
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CASE fmt WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/gif'
      |    WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'image/jpeg'
      |    WHEN 4 THEN 'video/avi' ELSE 'video/mp4' END AS mime,
      |  CAST(CASE fmt WHEN 2 THEN rate ELSE w END AS BIGINT)
      |    AS width,
      |  CAST(CASE fmt WHEN 2 THEN ch ELSE h END AS BIGINT)
      |    AS height,
      |  CAST(CASE fmt WHEN 0 THEN 24 WHEN 1 THEN doc_id % 8 + 1
      |    WHEN 2 THEN 16 WHEN 3 THEN 24 WHEN 4 THEN nframes
      |    ELSE durms END AS BIGINT) AS depth,
      |  CAST(CASE fmt WHEN 0 THEN 54 + pix WHEN 1 THEN 14
      |    WHEN 2 THEN 44 + ndata WHEN 3 THEN 23 WHEN 4 THEN 88
      |    ELSE 156 END AS BIGINT) AS n_bytes
      |FROM p""".stripMargin

  /** Uniform K-FRAME SAMPLING over binary payloads — the video-model
    * preprocessing step ("sample 8 frames uniformly across the
    * clip", the Video-LLaVA / VideoMAE input contract): per media,
    * the K=8 frame indices ⌊i·n/8⌋ for i in 0..7 over the payload's
    * n 64-byte frames, each sampled frame emitted with its index,
    * byte offset/length, and content hash.
    *
    * The scale point is the ORDER of operations: SAMPLE-then-decode.
    * m04 fans every payload out to ALL frames because its semantics
    * are per-frame; here the sampled indices are computed row-locally
    * from n_bytes ALONE, and only the ≤ 8 chosen frames are ever
    * sliced out of the payload — per-media work is O(K) regardless of
    * media length, the payload is scanned once where it sits, and the
    * whole query plans ZERO exchanges (no groupBy, no window, no
    * join). Short payloads (n < 8 frames) dedupe repeated ⌊i·n/8⌋
    * indices with the row-local "this index differs from i−1's"
    * test — still no shuffle. Frame hash = md5 over the frame bytes'
    * HEX (the m03 identity: hex(substring(payload)) ==
    * substring(hex(payload)), byte-wise). */
  val m06_frame_sample: QFn = (s, d) => {
    val media = Multimodal.asMedia(t(s, d, "documents"), "doc_id",
      "text")
    media
      .select(col("media_id"), col("payload"),
        col("meta.n_bytes").as("nb"),
        expr("(meta.n_bytes + 63) DIV 64").as("n"))
      .filter(col("nb") > 0)
      .select(col("media_id"), col("payload"), col("nb"), col("n"),
        explode(sequence(lit(0L), lit(7L))).as("i"))
      .withColumn("frame_idx", expr("(i * n) DIV 8"))
      .filter(col("i") === 0L ||
        col("frame_idx") > expr("((i - 1) * n) DIV 8"))
      .select(col("media_id"), col("i").as("sample_rank"),
        col("frame_idx"),
        (col("frame_idx") * 64).as("frame_off"),
        least(lit(64L), col("nb") - col("frame_idx") * 64)
          .as("frame_len"),
        md5(hex(expr(
          "substring(payload, CAST(frame_idx * 64 + 1 AS INT), 64)")))
          .as("frame_md5"))
  }

  /** MJPEG-in-AVI FRAME PIXEL DECODE — the JDK-reachable slice of
    * the declared video gap (round-11 verdict item 2). Each document
    * becomes a byte-exact RIFF/'AVI ' file: the 56-byte 'avih' main
    * header (m05's arm), then a LIST/'movi' holding nf = doc_id%8+1
    * '00dc' video chunks, each an abbreviated ISO 10918 JPEG stream
    * (SOI + SOF0 + EOI) whose per-FRAME dimensions vary by
    * (doc_id, frame) formulas — assembly is fully declarative
    * (hex + unhex, whole-stage codegen), including the per-frame
    * chunk fan-out via `transform(sequence(...))` and RIFF's
    * even-byte chunk padding. The payloads then cross the SAME
    * mapPartitions decode boundary as m02/m04
    * ([[Multimodal.extractMjpegFrames]]): a strict AVI walk to every
    * 'movi' video chunk, per-chunk marker-walk dimensions, ImageIO
    * pixel sums when the scan is decodable. The ORACLE recomputes
    * the planted per-frame metadata from the doc_id formulas —
    * pinning the container walk (chunk count, order, sizes, padding)
    * and the per-frame SOF parse; the abbreviated streams carry no
    * entropy-coded scan, so their pixel sums are the declared ZERO
    * fallback on both sides. REAL pixel sums through the same walk
    * (ImageIO-encoded MJPEG frames at random sizes/colors, wrapped
    * in writer-exact AVI bytes) are pinned by the writer→decoder
    * fuzz spec, like the JPEG/PNG compressed paths — an
    * entropy-coded scan has no closed form a SQL writer could emit.
    * At 100 TB: one embarrassingly parallel scan, zero exchanges;
    * payload bytes never leave the decode boundary (~56 B/frame
    * does). */
  val m07_mjpeg_frames: QFn = (s, d) => {
    def le(c: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)
    val base = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("nf", pmod(col("doc_id"), lit(8)) + 1)
      .withColumn("w0", pmod(col("doc_id") * 3, lit(31)) + 1)
      .withColumn("h0", pmod(col("doc_id") * 7, lit(17)) + 1)
    // one 32-byte '00dc' chunk per frame: header(8) + 23-byte
    // abbreviated JPEG + 1 RIFF pad byte (odd size); SOF0 dims are
    // the planted (doc_id, frame) formulas
    val chunksHex = array_join(
      transform(sequence(lit(0L), col("nf") - 1), f =>
        concat(
          lit("30306463"), le(lit(23L), 4),       // "00dc", size 23
          lit("FFD8FFC0001108"),                  // SOI + SOF0 head
          lpad(hex(pmod(col("doc_id") * 7 + f * 11, lit(17)) + 1),
            4, "0"),                              // frame height
          lpad(hex(pmod(col("doc_id") * 3 + f * 5, lit(31)) + 1),
            4, "0"),                              // frame width
          lit("03012200021101031101FFD9"),        // components + EOI
          lit("00"))), "")                        // pad byte
    val aviHex = concat(
      lit("52494646"), le(col("nf") * 32 + 92, 4), // RIFF, file-8
      lit("41564920"),                             // "AVI "
      lit("4C495354"), le(lit(68L), 4),            // LIST hdrl
      lit("6864726C"),
      lit("61766968"), le(lit(56L), 4),            // avih, size 56
      le(lit(33367L), 4),                          // usec/frame
      le(lit(0L), 4), le(lit(0L), 4), le(lit(0L), 4),
      le(col("nf"), 4),                            // dwTotalFrames
      le(lit(0L), 4), le(lit(1L), 4), le(lit(0L), 4),
      le(col("w0"), 4), le(col("h0"), 4),          // dwWidth/Height
      le(lit(0L), 4), le(lit(0L), 4), le(lit(0L), 4), le(lit(0L), 4),
      lit("4C495354"), le(col("nf") * 32 + 4, 4),  // LIST movi
      lit("6D6F7669"),
      chunksHex)
    val media = base.select(col("doc_id").as("media_id"),
      unhex(aviHex).as("payload"))
    Multimodal.extractMjpegFrames(media)
  }

  /** Oracle recomputes the PLANTED per-frame container metadata from
    * the doc_id formulas (never parses bytes): a hash match pins the
    * Spark writer + RIFF walk + per-frame SOF parse round trip.
    * Pixel sums are the declared zero fallback (no decodable scan in
    * an abbreviated stream) — the REAL-pixel path is fuzz-pinned. */
  val m07_sql: String =
    """WITH p AS (SELECT doc_id, doc_id % 8 + 1 AS nf
      |  FROM documents),
      |f AS (SELECT doc_id, unnest(range(nf)) AS fi FROM p)
      |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
      |  CAST(23 AS BIGINT) AS frame_bytes,
      |  CAST((doc_id * 3 + fi * 5) % 31 + 1 AS BIGINT) AS w,
      |  CAST((doc_id * 7 + fi * 11) % 17 + 1 AS BIGINT) AS h,
      |  CAST(0 AS BIGINT) AS sum_r,
      |  CAST(0 AS BIGINT) AS sum_g,
      |  CAST(0 AS BIGINT) AS sum_b
      |FROM f""".stripMargin

  val m06_sql: String =
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
      |  FROM documents),
      |f AS (SELECT media_id, nb, hx, (nb + 63) // 64 AS n,
      |    unnest(range(0, 8)) AS i
      |  FROM m WHERE nb > 0),
      |k AS (SELECT media_id, nb, hx, i, n, (i * n) // 8 AS fidx
      |  FROM f WHERE i = 0 OR (i * n) // 8 > ((i - 1) * n) // 8)
      |SELECT media_id, CAST(i AS BIGINT) AS sample_rank,
      |  CAST(fidx AS BIGINT) AS frame_idx,
      |  CAST(fidx * 64 AS BIGINT) AS frame_off,
      |  CAST(least(64, nb - fidx * 64) AS BIGINT) AS frame_len,
      |  md5(substring(hx, CAST(fidx * 128 + 1 AS INT), 128))
      |    AS frame_md5
      |FROM k""".stripMargin

  /** Shared m08/m09 fixture: per doc a 24-bpp BMP whose pixel bytes
    * follow a PLANTED NEAR-DUP GROUP structure — group g = doc DIV 4
    * fixes the base image ((g·7 + p·13) mod 251 over pixel-array
    * positions, m02's declarative idiom), and variant r = doc mod 4
    * perturbs the bytes at positions p mod 29 < r by +97 — so each
    * group holds 4 perceptually-near variants (r=0 pristine) whose
    * dHashes land a spread of small hamming distances, while
    * different groups are unrelated. The base formula a_g + m_g·p
    * draws BOTH the offset and the position multiplier from an
    * md5 of the group id (a_g = h mod 251, m_g = 1 + (h DIV 251)
    * mod 250, never 0 mod the prime 251): with a fixed multiplier,
    * any two groups sharing a (w, h) dimension class differ by a
    * CONSTANT byte shift, which a difference hash largely ignores —
    * the planted corpus then near-dups across groups and the
    * candidate-pair relation grows quadratically with corpus size (a
    * fixture artifact, measured 104k of 110k pairs at sf0.1).
    * Group-random multipliers decorrelate the classes, so pair
    * growth tracks the REAL structure: within-group near-dups
    * (linear in docs) plus the uniform-random band-collision floor.
    * Every byte is still a closed form, so the DuckDB oracle
    * recomputes the grids, the 9×8 box averages, the
    * cross-multiplied dHash bits, and the banding verbatim. */
  private def dhashMedia(s: SparkSession, d: String,
                         idCap: Option[Int] = None): DataFrame = {
    def le(c: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)
    val ids0 = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"))
    // cap BEFORE the decode so a fenced audit bounds the whole
    // pipeline's cost, not just the pair join's
    val ids = idCap.map(c =>
      graft.tools.AuditFence.md5Cap(ids0, "doc_id", c)).getOrElse(ids0)
    val base = ids
      .withColumn("g", expr("doc_id DIV 4"))
      .withColumn("r", pmod(col("doc_id"), lit(4)))
      .withColumn("w", pmod(col("g"), lit(13)) + lit(16))
      .withColumn("h", pmod(col("g"), lit(7)) + lit(12))
      .withColumn("stride", expr("((w * 3 + 3) DIV 4) * 4"))
      .withColumn("pix", col("stride") * col("h"))
      .withColumn("hsh",
        conv(substring(md5(concat(lit("g"),
          col("g").cast("string"))), 1, 8), 16, 10).cast("long"))
      .withColumn("ga", pmod(col("hsh"), lit(251)))
      .withColumn("gm", pmod(expr("hsh DIV 251"), lit(250)) + lit(1))
    val pixHex = array_join(
      transform(sequence(lit(0L), col("pix") - 1),
        p => lpad(hex(pmod(col("ga") + col("gm") * p +
          when(pmod(p, lit(29)) < col("r"), 97).otherwise(0),
          lit(251))), 2, "0")), "")
    val bmpHex = concat(
      lit("424D"), le(col("pix") + 54, 4), lit("00000000"),
      le(lit(54L), 4), le(lit(40L), 4),
      le(col("w"), 4), le(col("h"), 4),
      le(lit(1L), 2), le(lit(24L), 2), le(lit(0L), 4),
      le(col("pix"), 4),
      le(lit(2835L), 4), le(lit(2835L), 4),
      le(lit(0L), 4), le(lit(0L), 4),
      pixHex)
    val media = base
      .select(col("doc_id").as("media_id"), unhex(bmpHex).as("payload"))
    Multimodal.extractDHashes(media)
      .select(col("media_id"), col("dhash"))
  }

  /** LSH band-bucket candidate pairs over 64-bit hashes: explode
    * each hash into (band, key) buckets at the given (shift, bits)
    * offsets and self-join on the bucket — the d04 discipline; the
    * shuffle carries (band, key, id, hash) longs only, never
    * pixels. Callers persist `hashes` (both join sides share it). */
  private def bandCandidates(hashes: DataFrame,
      offsets: Seq[(Int, Int)]): DataFrame = {
    val bands = hashes.select(col("media_id"), col("dhash"),
      explode(array(offsets.zipWithIndex.map { case ((off, bits), i) =>
        struct(lit(i).as("band"),
          shiftright(col("dhash"), off)
            .bitwiseAND(lit((1L << bits) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("media_id"), col("dhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = bands.select(col("band"), col("key"),
      col("media_id").as("id_a"), col("dhash").as("ha"))
    val b = bands.select(col("band"), col("key"),
      col("media_id").as("id_b"), col("dhash").as("hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "hb").distinct()
  }

  /** m08 — PERCEPTUAL image near-dup (dHash): decode every planted
    * BMP to a gray1000 grid, box-average to 9×8, emit the 64-bit
    * difference hash ([[Multimodal.HeaderCodec.dHash64]]), then
    * 4×16-bit LSH banding (Dedup.bandsFor(64, 3)'s prescription —
    * pigeonhole-exact for hamming ≤ 3) for candidate pairs with
    * their exact hamming distance. The non-BMP grid arms (PNG, GIF
    * incl. interlace, JPEG) are golden-pinned in
    * MultimodalCodecSpec / MultimodalFuzzSpec — a valid compressed
    * payload can't be assembled declaratively in SQL (the m02
    * precedent). */
  val m08_dhash_neardup: QFn = (s, d) => {
    val hashes = dhashMedia(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashes.count() // both band-join sides consume it (CLAUDE.md)
    bandCandidates(hashes, Seq((0, 16), (16, 16), (32, 16), (48, 16)))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
          .as("hamming"),
        expr("CASE WHEN id_a DIV 4 = id_b DIV 4 THEN 1 ELSE 0 END")
          .cast("long").as("same_group"))
  }

  // shared oracle CTE: recompute the planted grids + dHashes
  // declaratively (BMP rows are bottom-up: pixel (x, y top-down)
  // reads bytes at (h-1-y)·stride + 3x, channels B,G,R)
  private val dhashOracleCte: String =
    """dims AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r,
      |    (doc_id // 4) % 13 + 16 AS w, (doc_id // 4) % 7 + 12 AS h,
      |    ((((doc_id // 4) % 13 + 16) * 3 + 3) // 4) * 4 AS stride,
      |    ('0x' || substr(md5('g' || (doc_id // 4)), 1, 8))::BIGINT
      |      % 251 AS ga,
      |    (('0x' || substr(md5('g' || (doc_id // 4)), 1, 8))::BIGINT
      |      // 251) % 250 + 1 AS gm
      |  FROM documents),
      |cells AS (SELECT doc_id, g, r, w, h, stride, ga, gm, cx, cy,
      |    (cx * w) // 9 AS xlo,
      |    greatest((cx * w) // 9 + 1, ((cx + 1) * w) // 9) AS xhi,
      |    (cy * h) // 8 AS ylo,
      |    greatest((cy * h) // 8 + 1, ((cy + 1) * h) // 8) AS yhi
      |  FROM dims, unnest(range(9)) t1(cx), unnest(range(8)) t2(cy)),
      |px AS (SELECT doc_id, cx, cy, g, r, ga, gm,
      |    (h - 1 - y) * stride + 3 * x AS p0
      |  FROM cells, unnest(range(xlo, xhi)) tx(x),
      |    unnest(range(ylo, yhi)) ty(y)),
      |gr AS (SELECT doc_id, cx, cy,
      |    CAST(sum(
      |      299 * ((ga + gm*(p0+2) +
      |        CASE WHEN (p0+2) % 29 < r THEN 97 ELSE 0 END) % 251) +
      |      587 * ((ga + gm*(p0+1) +
      |        CASE WHEN (p0+1) % 29 < r THEN 97 ELSE 0 END) % 251) +
      |      114 * ((ga + gm*p0 +
      |        CASE WHEN p0 % 29 < r THEN 97 ELSE 0 END) % 251))
      |      AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (SELECT l.doc_id, l.cy, l.cx,
      |    CASE WHEN l.s * rr.n > rr.s * l.n THEN 1 ELSE 0 END AS bit
      |  FROM gr l JOIN gr rr ON l.doc_id = rr.doc_id
      |    AND l.cy = rr.cy AND rr.cx = l.cx + 1
      |  WHERE l.cx < 8),
      |hs AS (SELECT doc_id, bit_or(CASE WHEN bit = 0 THEN 0::BIGINT
      |    WHEN cy * 8 + cx = 63 THEN (-9223372036854775807 - 1)
      |    ELSE (1::BIGINT << (cy * 8 + cx)) END) AS dhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  val m08_sql: String =
    s"""WITH $dhashOracleCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
       |  CAST(CASE WHEN a.doc_id // 4 = b.doc_id // 4
       |    THEN 1 ELSE 0 END AS BIGINT) AS same_group
       |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |WHERE (a.dhash & 65535) = (b.dhash & 65535)
       |  OR ((a.dhash >> 16) & 65535) = ((b.dhash >> 16) & 65535)
       |  OR ((a.dhash >> 32) & 65535) = ((b.dhash >> 32) & 65535)
       |  OR ((a.dhash >> 48) & 65535) = ((b.dhash >> 48) & 65535)"""
      .stripMargin

  /** m09 — the d16-style BANDING-RECALL AUDIT for m08: exact truth =
    * all pairs at hamming ≤ 12, generated SCALABLY by pigeonhole
    * multi-index banding (13 bands — 12×5 + 1×4 bits — so any pair
    * with ≤ 12 differing bits shares at least one exact band: the
    * truth side needs no all-pairs join even at corpus scale), then
    * per-distance recall of m08's production 4×16-bit banding as
    * HALF_UP integer ppm. The DuckDB oracle computes the same truth
    * by brute-force all-pairs — equal BY THE PIGEONHOLE GUARANTEE,
    * so parity here proves the multi-index exactness, not just the
    * arithmetic.
    *
    * FENCED (r13 verdict #1): even multi-indexed, the truth side
    * carries a 1/32-per-band collision floor on uniform 64-bit
    * hashes — O(n²/32) pairs corpus-wide. A recall estimate doesn't
    * need the full corpus, so BOTH bandings run on the same
    * [[graft.tools.AuditFence.md5Cap]](2048) deterministic
    * sub-corpus (a pair's hit/miss depends only on its two hashes,
    * so every per-pair decision is unchanged and recall at
    * hamming ≤ 3 stays exactly 1.0 by the pigeonhole guarantee);
    * the oracle draws the SAME md5-ordered sample. Truth cost is
    * now bounded by cap²/32 at any corpus size. */
  val m09_dhash_recall: QFn = (s, d) => {
    val hashes = graft.tools.AuditFence.fenced("m09_dhash_recall",
        dhashMedia(s, d, idCap = Some(2048)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashes.count() // truth + production bandings both consume it
    val off13 = (0 until 12).map(i => (5 * i, 5)) :+ ((60, 4))
    val truth = bandCandidates(hashes, off13)
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 12)
    val found = bandCandidates(hashes,
        Seq((0, 16), (16, 16), (32, 16), (48, 16)))
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    truth.join(found, Seq("id_a", "id_b"), "left")
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall_ppm",
        expr("(n_found * 2000000 + n_true) DIV (2 * n_true)"))
  }

  val m09_sql: String =
    s"""WITH $dhashOracleCte,
       |samp AS (SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 2048),
       |hss AS (SELECT hs.doc_id, hs.dhash FROM hs
       |  JOIN samp USING (doc_id)),
       |pairs AS (SELECT
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT)
       |      AS hamming,
       |    CASE WHEN (a.dhash & 65535) = (b.dhash & 65535)
       |      OR ((a.dhash >> 16) & 65535) = ((b.dhash >> 16) & 65535)
       |      OR ((a.dhash >> 32) & 65535) = ((b.dhash >> 32) & 65535)
       |      OR ((a.dhash >> 48) & 65535) = ((b.dhash >> 48) & 65535)
       |      THEN 1 ELSE 0 END AS hit
       |  FROM hss a JOIN hss b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 12)
       |SELECT hamming, CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(hit) AS BIGINT) AS n_found,
       |  (CAST(sum(hit) AS BIGINT) * 2000000 + CAST(count(*) AS BIGINT))
       |    // (2 * CAST(count(*) AS BIGINT)) AS recall_ppm
       |FROM pairs GROUP BY hamming""".stripMargin

  // ---------------------------------------------------------------
  // Events
  // ---------------------------------------------------------------

  val e01_window_agg: QFn = (s, d) =>
    t(s, d, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))

  val e01_sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  val e02_sessionize: QFn = (s, d) => {
    val e = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    e.withColumn("prev_ms", lag("ms", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ms").as("start_ms"), max("ms").as("end_ms"),
        round(sum("value"), 4).as("sum_value"))
  }

  val e02_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
      |s AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
      |    OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |t AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM s)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ms) AS start_ms, max(ms) AS end_ms,
      |  round(sum(value), 4) AS sum_value
      |FROM t GROUP BY user_id, session_id""".stripMargin

  /** avg_value is computed in integer space — sum(2-dp values) is an
    * exact cent count, and the HALF_UP 4-dp round of cents*100/n is
    * pure integer arithmetic: floor((200*S + n) / (2n)). The float
    * form round(avg(value), 4) hits exact rounding ties for a
    * systematic slice of users (2-dp inputs → short-terminating
    * averages) where Spark's decimal round and a binary round
    * disagree (observed at sf0.1). The sign branch mirrors q15 so
    * HALF_UP (round away from zero on .5) holds for negative sums
    * too, not just the non-negative ones this schema happens to
    * produce. */
  val e03_user_stats: QFn = (s, d) => {
    val cents = round(sum("value") * 100, 0).cast("long")
    val n = count(lit(1))
    val halfUp =
      when(cents >= 0,
        floor((cents * 200 + n) / (n.cast("double") * 2)))
        .otherwise(-floor(((-cents) * 200 + n) / (n.cast("double") * 2)))
    t(s, d, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "click", lit(1))).as("n_clicks"),
        count(when(col("event_type") === "error", lit(1))).as("n_errors"),
        countDistinct("event_type").as("n_types"),
        (halfUp / 10000.0).as("avg_value"),
        max("value").as("max_value"))
  }

  val e03_sql: String =
    """WITH a AS (SELECT user_id, count(*) AS n,
      |    CAST(round(sum(value) * 100) AS BIGINT) AS cents,
      |    count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
      |    count(*) FILTER (WHERE event_type = 'error') AS n_errors,
      |    count(DISTINCT event_type) AS n_types,
      |    max(value) AS max_value
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n AS n_events, n_clicks, n_errors, n_types,
      |  (CASE WHEN cents >= 0 THEN floor((cents * 200 + n) / (n * 2.0))
      |        ELSE -floor(((-cents) * 200 + n) / (n * 2.0)) END)
      |    / 10000.0 AS avg_value,
      |  max_value
      |FROM a""".stripMargin


  /** Moving-window aggregate (trailing 4-event average per user) —
    * the frame-based window family. */
  val e04_moving_avg: QFn = (s, d) => {
    val e = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
      .rowsBetween(-3, Window.currentRow)
    e.withColumn("mavg", round(avg("value").over(w), 4))
      .select("user_id", "event_id", "ms", "mavg")
  }

  val e04_sql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |  round(avg(value) OVER (PARTITION BY user_id
      |    ORDER BY epoch_ms(ts), event_id
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg
      |FROM events""".stripMargin

  /** As-of join: attribute each click to the most recent view at or
    * before it per user — the temporal-join shape Spark has no native
    * operator for. Re-expressed scale-first as ONE user-keyed shuffle:
    * union both event kinds, order by (ms, kind, event_id) with views
    * before clicks at equal timestamps, and carry the last non-null
    * view forward (`last(..., ignoreNulls)` over a running frame).
    * Both engines run the identical window form, so the deterministic
    * tiebreak (max (ms, event_id) among qualifying views) is shared.
    * Clicks with no prior view keep nulls. A range/interval join would
    * shuffle |views|×|clicks| candidate pairs; this carries each row
    * exactly once. */
  val e05_asof_join: QFn = (s, d) => {
    val e = t(s, d, "events")
      .filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        when(col("event_type") === "view", lit(0)).otherwise(lit(1))
          .as("kind"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("view_id",
        last(when(col("kind") === 0, col("event_id")),
          ignoreNulls = true).over(w))
      .withColumn("view_ms",
        last(when(col("kind") === 0, col("ms")),
          ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("view_id"), (col("ms") - col("view_ms")).as("delay_ms"))
  }

  val e05_sql: String =
    """WITH u AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
      |  FROM events WHERE event_type IN ('view', 'click')),
      |w AS (SELECT user_id, event_id, ms, kind,
      |    last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
      |      OVER win AS view_id,
      |    last_value(CASE WHEN kind = 0 THEN ms END IGNORE NULLS)
      |      OVER win AS view_ms
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ms, kind, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id AS click_id, view_id,
      |  ms - view_ms AS delay_ms
      |FROM w WHERE kind = 1""".stripMargin

  /** Funnel assembly (view → click → purchase within 7 days per
    * step — sized to this corpus's ~7 h median inter-event gap so
    * both funnel outcomes actually occur): TWO chained as-of passes
    * over ONE user-keyed sort — pass
    * 1 gives every click its latest qualifying view, pass 2 gives
    * every purchase its latest click (carrying that click's view).
    * Both passes share the window spec, so Spark plans one Exchange +
    * one Sort feeding two WindowExecs; a step-wise interval join
    * would shuffle candidate pairs per step instead. The `-1`
    * sentinel keeps the click's view-attribution column non-null so
    * all three `last(...ignoreNulls)` reads pick the SAME click row. */
  val e06_funnel: QFn = (s, d) => {
    val stepMs = 7L * 24 * 3600 * 1000
    val e = t(s, d, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        when(col("event_type") === "view", lit(0))
          .when(col("event_type") === "click", lit(1))
          .otherwise(lit(2)).as("kind"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def lastOf(c: Column) = last(c, ignoreNulls = true).over(w)
    val p1 = e
      .withColumn("lv_id", lastOf(when(col("kind") === 0, col("event_id"))))
      .withColumn("lv_ms", lastOf(when(col("kind") === 0, col("ms"))))
      .withColumn("cv_id",
        when(col("kind") === 1 && col("ms") - col("lv_ms") <= stepMs,
          col("lv_id")))
    val p2 = p1
      .withColumn("lc_id", lastOf(when(col("kind") === 1, col("event_id"))))
      .withColumn("lc_ms", lastOf(when(col("kind") === 1, col("ms"))))
      .withColumn("lc_cv",
        lastOf(when(col("kind") === 1, coalesce(col("cv_id"), lit(-1L)))))
    p2.filter(col("kind") === 2)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        when(col("ms") - col("lc_ms") <= stepMs, col("lc_id"))
          .as("click_id"),
        when(col("ms") - col("lc_ms") <= stepMs && col("lc_cv") >= 0,
          col("lc_cv")).as("view_id"))
      .withColumn("full_funnel", col("view_id").isNotNull)
  }

  val e06_sql: String =
    """WITH u AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
      |      ELSE 2 END AS kind
      |  FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |p1 AS (SELECT *,
      |    last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
      |      OVER win AS lv_id,
      |    last_value(CASE WHEN kind = 0 THEN ms END IGNORE NULLS)
      |      OVER win AS lv_ms
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ms, kind, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |p1b AS (SELECT *, CASE WHEN kind = 1 AND ms - lv_ms <= 604800000
      |    THEN lv_id END AS cv_id FROM p1),
      |p2 AS (SELECT *,
      |    last_value(CASE WHEN kind = 1 THEN event_id END IGNORE NULLS)
      |      OVER win AS lc_id,
      |    last_value(CASE WHEN kind = 1 THEN ms END IGNORE NULLS)
      |      OVER win AS lc_ms,
      |    last_value(CASE WHEN kind = 1 THEN coalesce(cv_id, -1) END
      |      IGNORE NULLS) OVER win AS lc_cv
      |  FROM p1b
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ms, kind, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id AS purchase_id,
      |  CASE WHEN ms - lc_ms <= 604800000 THEN lc_id END AS click_id,
      |  CASE WHEN ms - lc_ms <= 604800000 AND lc_cv >= 0 THEN lc_cv END
      |    AS view_id,
      |  (CASE WHEN ms - lc_ms <= 604800000 AND lc_cv >= 0 THEN lc_cv END)
      |    IS NOT NULL AS full_funnel
      |FROM p2 WHERE kind = 2""".stripMargin

  /** Sliding (hopping) window aggregate — 2-hour windows every hour
    * via Spark's native `window(ts, "2 hours", "1 hour")`: each event
    * lands in exactly 2 overlapping windows; the expansion happens
    * map-side inside the aggregate (no pre-explode pass), one shuffle
    * on (window, type). The same expression carries verbatim onto a
    * Structured Streaming feed under a watermark. The oracle mirrors
    * the expansion with a 2-element unnest of hour offsets. */
  val e10_sliding_window: QFn = (s, d) =>
    t(s, d, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val e10_sql: String =
    """WITH x AS (SELECT event_type, value,
      |    date_trunc('hour', ts) - to_hours(off) AS ws
      |  FROM events, unnest([0, 1]) AS u(off))
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM x GROUP BY ws, event_type""".stripMargin

  /** Gap-based sessionization via Spark's NATIVE `session_window` —
    * the same 30-minute-gap semantics as e02's manual lag+cumsum form
    * but expressed as the built-in session aggregate, which is the
    * form that carries unchanged onto a Structured Streaming feed
    * (merging session state under a watermark). Session end is
    * last-event + gap by definition of session_window; both engines
    * floor-format timestamps to whole seconds. A spec pins e07's
    * session count equal to e02's. */
  val e07_session_window: QFn = (s, d) =>
    t(s, d, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"), col("sum_value"))

  val e07_sql: String =
    """WITH e AS (SELECT user_id, event_id, ts, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM events),
      |m AS (SELECT user_id, event_id, ts, value,
      |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS session_id
      |  FROM m)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
      |    AS session_end,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** Cohort retention matrix: users cohorted by first-activity date,
    * activity counted per (cohort, day-offset) cell as DISTINCT users.
    * The per-user first-date aggregate is tiny next to the event log
    * (|users| rows) — AQE broadcasts it back onto events, so the fact
    * table shuffles once, for the final cell aggregate. */
  val e08_retention: QFn = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = ev.groupBy("user_id")
      .agg(min("day").as("cohort_day"))
    ev.join(cohorts, Seq("user_id"))
      .groupBy(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  val e08_sql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM ev
      |  GROUP BY user_id)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
      |  CAST(day - cohort_day AS BIGINT) AS day_offset,
      |  count(DISTINCT user_id) AS n_users
      |FROM ev JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Quartile assignment by account balance — the scale-safe global
    * ntile: range-partition + per-partition ranks + offset arithmetic
    * ([[Relational.globalNtile]]); no single-partition WindowExec
    * anywhere in the plan. */
  val q29_ntile: QFn = (s, d) =>
    Relational.globalNtile(
      t(s, d, "customer").select("c_custkey", "c_acctbal"),
      buckets = 4, rangeParts = 32, bucketCol = "quartile",
      col("c_acctbal").asc, col("c_custkey").asc)

  val q29_sql: String =
    """SELECT c_custkey, c_acctbal,
      |  ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------
  // Round-2 surface: nested JSON, skeleton normalization, field-wise
  // merge, dump ingest, entity triples, type-set + by-X filters
  // ---------------------------------------------------------------

  /** Nested JSON path extraction (get_nested_field analog,
    * update_es.py): a nested doc is built deterministically from event
    * fields (props is flat in this data), then dotted / indexed paths
    * are extracted with missing-path nulls — all codegen'd JsonPath,
    * no per-row walk. */
  val q30_nested_json: QFn = (s, d) => {
    val doc = concat(lit("{\"evt\":{\"type\":\""), col("event_type"),
      lit("\",\"tags\":[\"x\",\""), col("event_type"),
      lit("\"],\"payload\":"), col("props"), lit("}}"))
    // ONE from_json parse for all four paths (each get_json_object
    // would re-parse the document); missing paths surface as nulls
    val p = graft.operators.JsonOps.parsedDoc(col("doc"),
      "evt STRUCT<type: STRING, tags: ARRAY<STRING>, " +
        "payload: STRUCT<k: BIGINT, missing: STRING>>")
    t(s, d, "events")
      .select(col("event_id"), doc.as("doc"))
      .select(col("event_id"),
        p.getField("evt").getField("type").as("etype"),
        element_at(p.getField("evt").getField("tags"), 2).as("tag1"),
        p.getField("evt").getField("payload").getField("k").as("k"),
        p.getField("evt").getField("payload").getField("missing")
          .as("missing"))
  }

  /** json_valid guard: Spark's PERMISSIVE from_json yields null
    * fields on a malformed doc (e.g. props not valid JSON, or a quote
    * inside event_type corrupting the concat) where a bare DuckDB
    * json_extract would ERROR the whole oracle — the guard makes both
    * engines degrade to nulls identically. */
  val q30_sql: String =
    """WITH j AS (SELECT event_id,
      |    '{"evt":{"type":"' || event_type || '","tags":["x","' ||
      |    event_type || '"],"payload":' || props || '}}' AS doc
      |  FROM events)
      |SELECT event_id,
      |  CASE WHEN json_valid(doc)
      |    THEN json_extract_string(doc, '$.evt.type') END AS etype,
      |  CASE WHEN json_valid(doc)
      |    THEN json_extract_string(doc, '$.evt.tags[1]') END AS tag1,
      |  CAST(CASE WHEN json_valid(doc)
      |    THEN json_extract_string(doc, '$.evt.payload.k') END
      |    AS BIGINT) AS k,
      |  CASE WHEN json_valid(doc)
      |    THEN json_extract_string(doc, '$.evt.payload.missing') END
      |    AS missing
      |FROM j""".stripMargin

  /** Confusable-skeleton normalization (ens-normalize / UTS-39 public
    * subset — force_normalize analog): homoglyph-spoofed + emoji/ZWJ
    * decorated names are built deterministically from customer names
    * (so the oracle actually bites on non-ASCII input), then collapsed
    * to their Latin skeleton by the codegen'd
    * [[org.apache.spark.sql.graft.ConfusableSkeleton]] expression. */
  // homoglyph spoof table (latin -> cyrillic) and emoji decoration,
  // spelled as explicit codepoints so the Spark and oracle copies
  // cannot drift through invisible characters
  private val spoofTo = "аеорс" // а е о р с
  private val emojiDeco = "🚀‍✨" // 🚀 ZWJ ✨

  val q31_skeleton_normalize: QFn = (s, d) => {
    import org.apache.spark.sql.graft.{ColumnBridge, ConfusableSkeleton}
    val spoofed = when(pmod(col("c_custkey"), lit(3)) === 0,
      translate(col("c_name"), "aeopc", spoofTo))
      .otherwise(col("c_name"))
    val dirty = concat(spoofed,
      when(pmod(col("c_custkey"), lit(5)) === 0,
        lit(emojiDeco)).otherwise(lit("")))
    val skel = ColumnBridge.column(
      ConfusableSkeleton(ColumnBridge.expression(dirty)))
    t(s, d, "customer")
      .select(col("c_custkey"), dirty.as("dirty"), skel.as("skel"),
        (skel === col("c_name")).as("roundtrip"))
  }

  /** Oracle mirror: same dirty-name construction (codepoints via
    * chr() — no literal-encoding drift), then the documented skeleton
    * equivalence nfc → strip → translate with the confusable table
    * inlined from [[org.apache.spark.sql.graft.Skeletonize]]. */
  val q31_sql: String = {
    import org.apache.spark.sql.graft.Skeletonize
    def chrs(s: String): String =
      s.codePoints().toArray.map(cp => s"chr($cp)").mkString(" || ")
    val from = Skeletonize.confusables.map(_._1).mkString
    val to = Skeletonize.confusables.map(_._2).mkString
    val strip = Skeletonize.stripClass
    s"""WITH dirty AS (SELECT c_custkey, c_name,
       |    (CASE WHEN c_custkey % 3 = 0
       |      THEN translate(c_name, 'aeopc', ${chrs(spoofTo)})
       |      ELSE c_name END) ||
       |    (CASE WHEN c_custkey % 5 = 0
       |      THEN ${chrs(emojiDeco)} ELSE '' END) AS dirty
       |  FROM customer)
       |SELECT c_custkey, dirty,
       |  translate(regexp_replace(nfc_normalize(dirty), '$strip', '', 'g'),
       |    ${chrs(from)}, '$to') AS skel,
       |  translate(regexp_replace(nfc_normalize(dirty), '$strip', '', 'g'),
       |    ${chrs(from)}, '$to') = c_name AS roundtrip
       |FROM dirty""".stripMargin
  }

  /** Field-wise collection merge (merge_collections analog,
    * create_merged.py:549): two snapshots of the same keyed entity
    * with different coverage/nulls, merged field-by-field keeping the
    * better-ranked source's value per FIELD (not per row) —
    * [[Relational.fieldMergeByRank]]. */
  val q32_field_merge: QFn = (s, d) => {
    val c = t(s, d, "customer")
    val a = c.filter(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey").as("key"), lit(1L).as("rnk"),
        col("c_name").as("name"),
        when(pmod(col("c_custkey"), lit(3)) === 0,
          lit(null).cast("string")).otherwise(col("c_mktsegment"))
          .as("segment"),
        round(col("c_acctbal"), 2).as("bal"))
    val b = c
      .select(col("c_custkey").as("key"), lit(2L).as("rnk"),
        when(pmod(col("c_custkey"), lit(5)) === 0,
          lit(null).cast("string"))
          .otherwise(concat(lit("fallback:"), col("c_name")))
          .as("name"),
        col("c_mktsegment").as("segment"),
        lit(null).cast("double").as("bal"))
    Relational.fieldMergeByRank(a, b, "key", "rnk",
      Seq("name", "segment", "bal"))
  }

  val q32_sql: String = {
    val max = Long.MaxValue
    s"""WITH a AS (SELECT c_custkey AS key, CAST(1 AS BIGINT) AS rnk,
       |    c_name AS name,
       |    CASE WHEN c_custkey % 3 = 0 THEN NULL
       |         ELSE c_mktsegment END AS segment,
       |    round(c_acctbal, 2) AS bal
       |  FROM customer WHERE c_custkey % 2 = 0),
       |b AS (SELECT c_custkey AS key, CAST(2 AS BIGINT) AS rnk,
       |    CASE WHEN c_custkey % 5 = 0 THEN NULL
       |         ELSE 'fallback:' || c_name END AS name,
       |    c_mktsegment AS segment, CAST(NULL AS DOUBLE) AS bal
       |  FROM customer)
       |SELECT coalesce(a.key, b.key) AS key,
       |  CASE WHEN coalesce(a.rnk, $max) <= coalesce(b.rnk, $max)
       |    THEN coalesce(a.name, b.name)
       |    ELSE coalesce(b.name, a.name) END AS name,
       |  CASE WHEN coalesce(a.rnk, $max) <= coalesce(b.rnk, $max)
       |    THEN coalesce(a.segment, b.segment)
       |    ELSE coalesce(b.segment, a.segment) END AS segment,
       |  CASE WHEN coalesce(a.rnk, $max) <= coalesce(b.rnk, $max)
       |    THEN coalesce(a.bal, b.bal)
       |    ELSE coalesce(b.bal, a.bal) END AS bal,
       |  least(coalesce(a.rnk, $max), coalesce(b.rnk, $max)) AS src_rank
       |FROM a FULL OUTER JOIN b ON a.key = b.key""".stripMargin
  }

  /** Wiki-SQL-dump ingest round-trip (create_inlets.py's
    * INSERT-statement parser): nation is serialized into MySQL-dump
    * INSERT lines (one statement per region, quote-escaped), parsed
    * back by [[graft.sources.TextSources.parseSqlDumpTuples]], and the
    * oracle is the ORIGINAL table — a parser bug breaks the hash. */
  val q33_sql_dump_parse: QFn = (s, d) => {
    val tup = concat(lit("("), col("n_nationkey"), lit(",'"),
      regexp_replace(col("n_name"), "'", "''"), lit("',"),
      col("n_regionkey"), lit(")"))
    val lines = t(s, d, "nation")
      .groupBy("n_regionkey")
      .agg(concat(lit("INSERT INTO `nation` VALUES "),
        array_join(array_sort(collect_list(tup)), ","), lit(";"))
        .as("line"))
      .select("line")
    graft.sources.TextSources
      .parseSqlDumpTuples(lines, "line",
        Seq("n_nationkey", "n_name", "n_regionkey"))
      // try_cast: a mis-parsed fragment degrades to null instead of
      // an ANSI CAST_INVALID_INPUT crash of the whole ingest
      .select(col("n_nationkey").try_cast("long").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").try_cast("long").as("n_regionkey"))
  }

  val q33_sql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation""".stripMargin

  /** Wikidata-entity explode (create_inlets.py's entity → statement
    * rows): a JSON entity doc per customer, parsed and exploded to
    * (entity_id, predicate, value) triples. The oracle emits the
    * triples directly from the base table — a serialization/parse bug
    * on the Spark side breaks the hash. */
  val q34_entity_triples: QFn = (s, d) => {
    val entity = to_json(struct(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_mktsegment").as("segment"),
      col("c_nationkey").as("nation")))
    t(s, d, "customer")
      .select(from_json(entity,
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("m"))
      .select(element_at(col("m"), "id").cast("long").as("entity_id"),
        explode(col("m")).as(Seq("predicate", "value")))
      // plain codegen'd predicate after the explode — map_filter is an
      // interpreted higher-order function (hot-path convention)
      .filter(col("predicate") =!= "id")
  }

  val q34_sql: String =
    """SELECT c_custkey AS entity_id, 'name' AS predicate,
      |  c_name AS value FROM customer
      |UNION ALL
      |SELECT c_custkey, 'segment', c_mktsegment FROM customer
      |UNION ALL
      |SELECT c_custkey, 'nation', c_nationkey::VARCHAR FROM customer""".stripMargin

  /** N-Triples entity assembly (create_kv.py entity_generator +
    * clean): NT lines are generated deterministically (subject URI,
    * predicate, quoted @en literal), then parsed — URI prefix strip,
    * literal unwrap — and grouped by subject with predicate-aware
    * aggregation: single-valued predicates take the value, multi-
    * valued ones collect a sorted set. The reference streams
    * adjacent-subject groups through Python; here it is one hash
    * aggregate keyed on subject, which scales to the full 396 M-triple
    * dump. Oracle = the original table (round-trip). */
  val q37_nt_entity: QFn = (s, d) => {
    val c = t(s, d, "customer")
    def line(pred: String, obj: Column) =
      concat(lit("<http://www.wikidata.org/entity/Q"),
        col("c_custkey"), lit(s"> <p:$pred> \""), obj, lit("\"@en ."))
    val lines = c.select(line("name", col("c_name")).as("line"))
      .unionByName(c.select(
        line("type", concat(lit("seg:"), col("c_mktsegment"))).as("line")))
      .unionByName(c.select(
        line("type", concat(lit("tier"),
          pmod(col("c_custkey"), lit(3)))).as("line")))
    val parsed = lines.select(
      regexp_extract(col("line"),
        "^<http://www\\.wikidata\\.org/entity/([^>]*)>", 1).as("subject"),
      regexp_extract(col("line"), "> <([^>]*)> ", 1).as("pred"),
      regexp_extract(col("line"), "\"(.*)\"@en \\.$", 1).as("obj"))
    parsed.groupBy("subject")
      .agg(max(when(col("pred") === "p:name", col("obj"))).as("name"),
        array_join(array_sort(
          collect_list(when(col("pred") === "p:type", col("obj")))),
          ",").as("types"))
  }

  val q37_sql: String =
    """SELECT 'Q' || c_custkey AS subject, c_name AS name,
      |  array_to_string(list_sort(['seg:' || c_mktsegment,
      |    'tier' || (c_custkey % 3)]), ',') AS types
      |FROM customer""".stripMargin

  /** Type-set filter (should_filter_by_type analog,
    * create_merged.py:591): each entity carries an array of type
    * tags; entities whose tag set intersects a banned set are dropped
    * — `arrays_overlap` is codegen'd, no explode needed. */
  val q35_type_filter: QFn = (s, d) => {
    val types = array(col("c_mktsegment"),
      concat(lit("tier"), pmod(col("c_custkey"), lit(3))))
    t(s, d, "customer")
      .withColumn("types", types)
      .filter(!arrays_overlap(col("types"),
        array(lit("MACHINERY"), lit("tier1"))))
      .select(col("c_custkey"),
        array_join(col("types"), ",").as("type_set"))
  }

  val q35_sql: String =
    """SELECT c_custkey,
      |  array_to_string([c_mktsegment, 'tier' || (c_custkey % 3)], ',')
      |    AS type_set
      |FROM customer
      |WHERE NOT list_has_any([c_mktsegment, 'tier' || (c_custkey % 3)],
      |  ['MACHINERY', 'tier1'])""".stripMargin

  /** "by X" heuristic flag (should_filter_by_by analog,
    * create_merged.py:607): names of the form "… by someone" are
    * attribution-style and filtered by the reference; the flag is a
    * plain regex test. Deterministic " by …" suffixes are injected so
    * both branches are exercised. */
  val q36_by_filter: QFn = (s, d) => {
    val name = concat(col("c_name"),
      when(pmod(col("c_custkey"), lit(7)) === 0,
        concat(lit(" by "), lower(col("c_mktsegment"))))
        .otherwise(lit("")))
    t(s, d, "customer")
      .select(col("c_custkey"), name.as("coll_name"))
      .withColumn("by_flag", col("coll_name").rlike(" by [a-z]"))
  }

  val q36_sql: String =
    """SELECT c_custkey,
      |  c_name || (CASE WHEN c_custkey % 7 = 0
      |    THEN ' by ' || lower(c_mktsegment) ELSE '' END) AS coll_name,
      |  regexp_matches(c_name || (CASE WHEN c_custkey % 7 = 0
      |    THEN ' by ' || lower(c_mktsegment) ELSE '' END),
      |    ' by [a-z]') AS by_flag
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------
  // Round-4 surface: LLM training-data assembly + relational depth
  // ---------------------------------------------------------------

  /** LLM context-window packing: documents in a deterministic total
    * order are laid into fixed token-budget bins (2048 here), bin =
    * floor(exclusive-prefix-token-sum / budget) — the manifest a
    * sequence-packing job emits before concatenating docs into
    * training rows. The global prefix sum is the scale problem: it is
    * computed by [[Relational.globalRunningSum]] (range-partition +
    * per-partition offsets, the q29 shape), so NO single-partition
    * window exists — at 100 TB the only global state is one partial
    * sum per range partition. Token counts use t01's whitespace
    * semantics so the DuckDB mirror is exact. */
  val q38_pack_sequences: QFn = (s, d) => {
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    Relational.globalRunningSum(docs, col("n_tokens"), "cum_before",
        rangeParts = 32, col("doc_id").asc)
      .withColumn("bin",
        floor(col("cum_before") / lit(2048.0)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  val q38_sql: String =
    """WITH tok AS (SELECT doc_id,
      |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> len(x) > 0))::BIGINT AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before
      |  FROM tok)
      |SELECT CAST(floor(cum_before / 2048.0) AS BIGINT) AS bin,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1""".stripMargin

  /** Deterministic stratified sampling — the data-mixing step of a
    * training pipeline: per-language rates (en kept lean, rare
    * languages upsampled) applied via the engine-portable md5 bucket,
    * so the SAME rows are selected on any engine, any run, any
    * partitioning. Pure map-side filter: no shuffle, no RNG state;
    * at 100 TB this is a scan whose selectivity is the blended rate. */
  val q39_stratified_sample: QFn = (s, d) => {
    val bucket =
      md5Bucket(concat(lit("strat:"), col("doc_id").cast("string"))) % 100
    val rate = when(col("lang") === "en", 20)
      .when(col("lang") === "zh", 40).otherwise(60)
    t(s, d, "documents")
      .withColumn("bucket", bucket)
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  val q39_sql: String =
    """SELECT doc_id, lang,
      |  ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT
      |    % 100 AS bucket
      |FROM documents
      |WHERE ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT
      |    % 100
      |  < CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 40 ELSE 60 END""".stripMargin

  /** Interval join — every view within the hour before each click,
    * per user (attribution candidate sets, not just the latest as-of
    * pick of e05). The naive plan is an inequality join = cartesian
    * blowup; here both sides are bucketed into 1-hour time bins and
    * equi-joined on (user, bin) — each click probes exactly its two
    * overlapping bins (a 1 h window spans at most 2 bins), then the
    * exact range predicate filters inside the bucket. Shuffle keys
    * are (user_id, bin): fine-grained, skew-free, and the pair count
    * never exceeds the true result by more than the bucket slack. */
  val e09_interval_join: QFn = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ms").as("vms"),
        floor(col("ms") / 3600000L).as("bin"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ms").as("cms"),
        explode(array(floor(col("ms") / 3600000L) - 1,
          floor(col("ms") / 3600000L))).as("bin"))
    clicks.join(views, Seq("user_id", "bin"))
      .filter(col("vms") >= col("cms") - 3600000L &&
        col("vms") < col("cms"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        (col("cms") - col("vms")).as("gap_ms"))
  }

  val e09_sql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
      |  FROM events)
      |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
      |  c.ms - v.ms AS gap_ms
      |FROM e c JOIN e v ON c.user_id = v.user_id
      |  AND c.event_type = 'click' AND v.event_type = 'view'
      |  AND v.ms >= c.ms - 3600000 AND v.ms < c.ms""".stripMargin

  /** SCD-2 style change intervals (gaps-and-islands): per user,
    * consecutive runs of the same event_type collapse into one
    * validity interval [valid_from, valid_to) where valid_to is the
    * next run's start (-1 = still current) — how a snapshot stream
    * becomes a slowly-changing dimension. Two partitioned windows on
    * the SAME (user, time) sort → one Exchange+Sort serves both; no
    * global window anywhere. */
  val q40_scd2: QFn = (s, d) => {
    val e = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val runs = e
      .withColumn("new_run",
        when(lag("event_type", 1).over(w).isNull ||
          lag("event_type", 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum("new_run").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(min("event_type").as("event_type"),
        min("ms").as("valid_from_ms"), count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy("user_id").orderBy("run_id")
    runs.withColumn("valid_to_ms",
        coalesce(lead("valid_from_ms", 1).over(w2), lit(-1L)))
      .select("user_id", "run_id", "event_type", "valid_from_ms",
        "valid_to_ms", "n_events")
  }

  val q40_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type
      |  FROM events),
      |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
      |      AS new_run
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |r AS (SELECT *, CAST(sum(new_run) OVER (PARTITION BY user_id
      |      ORDER BY ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM f),
      |runs AS (SELECT user_id, run_id, min(event_type) AS event_type,
      |    min(ms) AS valid_from_ms, count(*) AS n_events
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, run_id, event_type, valid_from_ms,
      |  coalesce(lead(valid_from_ms) OVER (PARTITION BY user_id
      |    ORDER BY run_id), -1) AS valid_to_ms, n_events
      |FROM runs""".stripMargin

  /** Tokenizer-vocabulary coverage: global term frequencies, top 200
    * terms by (freq desc, term), cumulative corpus coverage in exact
    * integer PPM (HALF_UP in integer space — floats never touch the
    * running sum, so the hash is stable across engines and summation
    * orders). The full aggregate is distributed; only the 200-row
    * top-k — already bounded — flows through the final rank window. */
  val t10_vocab_coverage: QFn = (s, d) => {
    val freq = t(s, d, "documents")
      .select(explode(TextFunctions.tokens(lower(col("text"))))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    freq.count() // feeds the total AND the top-k (CLAUDE.md rule)
    val total = freq.select(sum("freq").as("total"))
    val top = freq.orderBy(col("freq").desc, col("term").asc).limit(200)
    // the window input is bounded to 200 rows by the limit above, so
    // one partition is O(200) state. The partition key must be a
    // NON-FOLDABLE constant: lit(0) is constant-folded out of the
    // partition spec, leaving an unpartitioned WindowExec (and its
    // single-partition warning) in the executed plan; an empty
    // substring of a data column survives optimization and still
    // sends all 200 rows to one key.
    val w = Window.partitionBy(substring(col("term"), 1, 0))
      .orderBy(col("freq").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", count(lit(1)).over(w).cast("long"))
      .withColumn("cum", sum("freq").over(w).cast("long"))
      .withColumn("coverage_ppm",
        floor((col("cum") * 2000000L + col("total")) /
          (col("total") * 2L)).cast("long"))
      .select("rank", "term", "freq", "coverage_ppm")
  }

  val t10_sql: String =
    """WITH tok AS (SELECT
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0)) AS term
      |  FROM documents),
      |freq AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
      |n AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq),
      |top AS (SELECT term, freq FROM freq
      |  ORDER BY freq DESC, term LIMIT 200),
      |c AS (SELECT term, freq, total,
      |    CAST(count(*) OVER w AS BIGINT) AS rank,
      |    CAST(sum(freq) OVER w AS BIGINT) AS cum
      |  FROM top CROSS JOIN n
      |  WINDOW w AS (ORDER BY freq DESC, term
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT rank, term, freq,
      |  CAST(floor((cum * 2000000 + total) / (total * 2)) AS BIGINT)
      |    AS coverage_ppm
      |FROM c""".stripMargin

  /** Explicit GROUPING SETS — the marginals-only plan (status),
    * (priority), (): unlike q41's CUBE, the cross cells are never
    * computed, so the aggregate processes 3 replicas instead of 4 —
    * at 100 TB choosing the exact grouping sets IS the optimization.
    * Uses Spark 4's native Dataset.groupingSets. */
  val q43_grouping_sets: QFn = (s, d) =>
    t(s, d, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
          Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))

  val q43_sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin

  /** Deterministic fixed-size uniform sample — order by a salted md5
    * of the key and take k: the same k rows on any engine, any run,
    * any partitioning (the fixed-size counterpart of q39's rate-based
    * strata). Plans as TakeOrderedAndProject: each partition keeps k
    * rows, the driver merges — no full sort at any scale. */
  val q44_uniform_sample: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        substring(md5(concat(lit("samp:"),
          col("doc_id").cast("string"))), 1, 8).as("rk"))
      .orderBy(col("rk"), col("doc_id"))
      .limit(50)

  val q44_sql: String =
    """SELECT doc_id, lang,
      |  substr(md5('samp:' || doc_id::VARCHAR), 1, 8) AS rk
      |FROM documents ORDER BY rk, doc_id LIMIT 50""".stripMargin

  /** PageRank over the symmetrized part↔supplier supply graph
    * (bipartite, node id = 2·partkey / 2·suppkey+1 keeps the spaces
    * disjoint) — iterative graph analytics with a FULL hash oracle:
    * ranks are exact integers in 1e-12 mass units and contributions
    * are floor divisions ([[graft.graph.PageRank]]), so five rounds
    * of power iteration are bit-identical to the DuckDB oracle's five
    * unrolled CTEs. Per round: one shuffle join + one aggregate; the
    * degree-attached edge list is persisted once and reused. */
  val g01_pagerank: QFn = (s, d) => {
    // no distinct here: PageRank distincts its edge input anyway, and
    // a distinct at this level would run once PER UNION BRANCH inside
    // the edge-persist job (the subtree is consumed twice, unpersisted
    // — the CLAUDE.md fan-out rule); the raw projection is a cheap
    // scan either side
    val e0 = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    graft.graph.PageRank.pageRank(edges, iters = 5)
  }

  val g01_sql: String = {
    def round(i: Int) =
      s"""r$i AS (SELECT node, 150000000000 // cnt + coalesce(s, 0) AS r
         |  FROM nodes CROSS JOIN n LEFT JOIN (
         |    SELECT ed.dst AS node,
         |      CAST(sum((r.r * 17) // (ed.deg * 20)) AS BIGINT) AS s
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.node
         |    GROUP BY ed.dst) c USING (node))""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |n AS (SELECT count(*) AS cnt FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ed AS (SELECT edges.src, edges.dst, deg.deg
       |  FROM edges JOIN deg ON deg.src = edges.src),
       |r0 AS (SELECT node, 1000000000000 // cnt AS r
       |  FROM nodes CROSS JOIN n),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT node, CAST(r AS BIGINT) AS rank_u FROM r5""".stripMargin
  }

  /** PERSONALIZED PageRank over the same part↔supplier graph as g01:
    * teleport mass lands only on the seed set (a deterministic 1-in-5
    * supplier cohort — s_suppkey % 5 = 0, non-empty at every SF),
    * so ranks measure proximity to those suppliers, not global
    * centrality — "related to THIS collection" vs g01's "globally
    * central" (precompute_related.py's per-collection neighbourhoods).
    * Same exact-integer contract ([[graft.graph.PageRank]]): 1e-12
    * mass units, floor-division contributions, five rounds
    * bit-identical to the oracle's unrolled CTEs. The ONLY change vs
    * g01 is the per-node teleport/init vector — the loop is shared
    * verbatim. */
  val g04_ppr: QFn = (s, d) => {
    val e0 = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = t(s, d, "supplier")
      .filter(col("s_suppkey") % 5 === 0)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    graft.graph.PageRank.personalized(edges, seeds, iters = 5)
  }

  val g04_sql: String = {
    def round(i: Int) =
      s"""r$i AS (SELECT nb.node, nb.base + coalesce(s, 0) AS r
         |  FROM nb LEFT JOIN (
         |    SELECT ed.dst AS node,
         |      CAST(sum((r.r * 17) // (ed.deg * 20)) AS BIGINT) AS s
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.node
         |    GROUP BY ed.dst) c USING (node))""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |sn AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
       |  WHERE s_suppkey % 5 = 0
       |    AND s_suppkey * 2 + 1 IN (SELECT node FROM nodes)),
       |ns AS (SELECT count(*) AS cnt FROM sn),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ed AS (SELECT edges.src, edges.dst, deg.deg
       |  FROM edges JOIN deg ON deg.src = edges.src),
       |nb AS (SELECT n.node,
       |    CASE WHEN sn.node IS NOT NULL
       |      THEN 150000000000 // ns.cnt ELSE 0 END AS base,
       |    CASE WHEN sn.node IS NOT NULL
       |      THEN 1000000000000 // ns.cnt ELSE 0 END AS rr
       |  FROM nodes n CROSS JOIN ns LEFT JOIN sn ON n.node = sn.node),
       |r0 AS (SELECT node, rr AS r FROM nb),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT node, CAST(r AS BIGINT) AS rank_u FROM r5""".stripMargin
  }

  /** HyperLogLog approximate distinct with FULL cross-engine parity —
    * the classic trade at 100 TB: exact distinct shuffles every
    * (group, value) pair; the sketch shuffles at most
    * |groups|·64 registers. Engine-portable construction: register
    * index = first md5 byte mod 64; rho = leading-zero bits of the
    * next 13 hex digits (counted via regexp + a 16-way nibble CASE —
    * pure string/integer ops, no log2 float boundary); registers
    * merge with MAX (associative ⇒ partial aggregation works); the
    * estimate is the raw-HLL formula evaluated ENTIRELY in integer
    * space: S = Σ 2^(40−M_j) over all 64 registers (empty ⇒ 2^40),
    * est = (709·4096·2^40) DIV (1000·S) — exact BIGINTs end to end,
    * so the oracle hash-matches the sketch, not just the trend.
    * Exact distinct rides along per group to show the error
    * (±~13% at m=64 by theory; see spec). */
  val q42_hll_distinct: QFn = (s, d) => {
    val (j, rho) = HllRegisters.register(col("user_id"))
    val regs = t(s, d, "events")
      .select(col("event_type"), col("user_id"), j.as("j"), rho.as("rho"))
    val sums = HllRegisters.sparseSums("m") :+
      sum("nd").cast("long").as("n_exact")
    regs.groupBy("event_type", "j")
      .agg(max("rho").as("m"), countDistinct("user_id").as("nd"))
      .groupBy("event_type")
      .agg(sums.head, sums.tail: _*)
      .select(col("event_type"), col("s_scaled"), col("v_empty"),
        HllRegisters.estimate.as("n_approx"), col("n_exact"))
  }

  val q42_sql: String =
    """WITH h AS (SELECT event_type, user_id,
      |    md5(user_id::VARCHAR) AS hx FROM events),
      |r AS (SELECT event_type, user_id,
      |    ('0x' || substr(hx, 1, 2))::BIGINT % 64 AS j,
      |    length(regexp_extract(substr(hx, 3, 13), '^(0*)', 1)) AS lz,
      |    substr(hx, 3 + length(regexp_extract(substr(hx, 3, 13),
      |      '^(0*)', 1)), 1) AS nib
      |  FROM h),
      |rho AS (SELECT event_type, user_id, j,
      |    least(CASE WHEN lz = 13 THEN 53
      |      ELSE lz * 4 + (4 - (CASE WHEN nib = '1' THEN 1
      |        WHEN nib IN ('2', '3') THEN 2
      |        WHEN nib IN ('4', '5', '6', '7') THEN 3
      |        ELSE 4 END)) + 1 END, 40) AS rho
      |  FROM r),
      |regs AS (SELECT event_type, j, max(rho) AS m,
      |    count(DISTINCT user_id) AS nd
      |  FROM rho GROUP BY 1, 2),
      |sk AS (SELECT event_type,
      |    CAST(sum(1::BIGINT << (40 - m)) +
      |      (64 - count(*)) * (1::BIGINT << 40) AS BIGINT) AS s_scaled,
      |    CAST(64 - count(*) AS BIGINT) AS v_empty,
      |    CAST(sum(nd) AS BIGINT) AS n_exact
      |  FROM regs GROUP BY event_type),
      |est AS (SELECT *,
      |    (709 * 4096 * 1099511627776) // (1000 * s_scaled) AS raw
      |  FROM sk)
      |SELECT event_type, s_scaled, v_empty,
      |  CASE WHEN v_empty > 0 AND raw < 160
      |    THEN CAST(floor(64 * ln(64.0 / v_empty)) AS BIGINT)
      |    ELSE raw END AS n_approx,
      |  n_exact
      |FROM est""".stripMargin

  /** Distributed Pearson correlation (value vs hour-of-day per event
    * type) from EXACT INTEGER moments: x is cents, y is the hour, and
    * n/Σx/Σy/Σxy/Σx²/Σy² are all exact BIGINTs — so both engines
    * derive corr from IDENTICAL integers through an identical formula
    * and the 6-dp round sees the same double (built-in `corr`
    * implementations differ in pass structure and summation order,
    * which is exactly the cross-engine drift the integer-moment form
    * eliminates; the quotient has an irrational denominator, so no
    * decimal-tie boundary exists). One partial-aggregated shuffle. */
  val q45_corr: QFn = (s, d) => {
    val e = t(s, d, "events").select(col("event_type"),
      round(col("value") * 100, 0).cast("long").as("x"),
      hour(col("ts")).cast("long").as("y"))
    val m = e.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(col("event_type"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")) *
         sqrt((col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double"))), 6).as("corr_vh"))
  }

  val q45_sql: String =
    """WITH e AS (SELECT event_type,
      |    CAST(round(value * 100, 0) AS BIGINT) AS x,
      |    CAST(hour(ts) AS BIGINT) AS y
      |  FROM events),
      |m AS (SELECT event_type, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr_vh
      |FROM m""".stripMargin

  /** TIME-SERIES GAP FILL + LOCF — the grid-completion operator every
    * metrics pipeline needs before ML featurization: per user,
    * materialize EVERY hour between their first and last activity
    * (sequence + explode — map-side, bounded by the time span), left
    * join the real hourly aggregates, and carry the last observation
    * forward over the gaps with last(…, ignoreNulls) on a per-user
    * running frame. One aggregate + one per-user window; at 100 TB
    * the grid explode stays proportional to users × span, never to
    * events. Gaps are flagged so downstream can tell imputed from
    * observed. */
  val e11_gap_fill: QFn = (s, d) => {
    val base = t(s, d, "events")
      .filter(col("user_id") < 50)
      .select(col("user_id"),
        expr("unix_millis(ts) DIV 3600000").as("h"), col("value"))
      .groupBy("user_id", "h")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("hsum"))
    val grid = base.groupBy("user_id")
      .agg(min("h").as("mnh"), max("h").as("mxh"))
      .select(col("user_id"),
        explode(sequence(col("mnh"), col("mxh"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(base, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        when(col("n").isNull, 1L).otherwise(0L).as("is_gap"),
        last("hsum", ignoreNulls = true).over(w).as("locf_sum"))
  }

  val e11_sql: String =
    """WITH b AS (SELECT user_id, epoch_ms(ts) // 3600000 AS h,
      |    count(*) AS n, round(sum(value), 4) AS hsum
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |sp AS (SELECT user_id, min(h) AS mnh, max(h) AS mxh
      |  FROM b GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(mnh, mxh)) AS h
      |  FROM sp),
      |j AS (SELECT g.user_id, g.h, b.n, b.hsum
      |  FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.h = b.h)
      |SELECT user_id, h, CAST(coalesce(n, 0) AS BIGINT) AS n_events,
      |  CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
      |  last_value(hsum IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS locf_sum
      |FROM j""".stripMargin

  /** Support-≥2 co-purchase edges (parts sharing ≥ 2 orders) — the
    * graph behind g02/g03/g05. Pair generation by IN-ROW sorted-array
    * combinations (the q17 lesson): ONE shuffle groups each order's
    * distinct parts (collect_list is bounded — an order has ≤ 7
    * lines by construction; an unbounded container would need q17's
    * fanout cap first), the ordered pairs explode map-side and flow
    * straight into the support aggregate's partial combine. The
    * self-join form shuffled the distinct'd lineitem TWICE more and
    * the joined pair stream besides. */
  private[graft] def coPurchasePairs(s: SparkSession, d: String): DataFrame = {
    val byOrder = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok")
      .agg(sort_array(array_distinct(collect_list(col("pk"))))
        .as("ps"))
    byOrder
      .select(posexplode(col("ps")).as(Seq("i", "id1")), col("ps"))
      .select(col("id1"),
        explode(slice(col("ps"), col("i") + 2,
          size(col("ps")) - col("i") - 1)).as("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select("id1", "id2")
  }

  /** Triangle count over the part co-purchase graph (parts sharing an
    * order) via DEGREE-ORDERED ORIENTATION ([[graft.graph.Triangles]]):
    * edges point low-(deg,id) → high, so wedge generation is quadratic
    * in the O(√E)-bounded out-degree, never in hub degree — the
    * difference between a triangle count that finishes at 100 TB and
    * one that explodes on the first celebrity node. Edges are
    * support-thresholded (co-occur in ≥ 2 orders) — the standard
    * co-purchase cut that keeps the graph at its MEANINGFUL edges
    * (unthresholded, this corpus yields avg degree ~120 and 41M
    * wedges at sf0.1: the wedge stream, not the algorithm, is then
    * the honest cost). Pure counting — exact integers, fully
    * oracle-mirrored. */
  val g02_triangles: QFn = (s, d) => {
    val pairs = coPurchasePairs(s, d)
    graft.graph.Triangles.count(pairs)
  }

  /** Shared oracle fragment for the graph queries: the support-≥2
    * part co-purchase edge list, per-node degrees, and the
    * degree-ordered orientation — mirrors [[graft.graph.Triangles]]'s
    * orient() step (packed deg·1e9+id order key). */
  private val gGraphCtesSql: String =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e0 AS (SELECT x.pk AS a, y.pk AS b
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
      |  GROUP BY node),
      |k AS (SELECT node, deg * 1000000000 + node AS okey FROM deg),
      |o AS (SELECT CASE WHEN ka.okey < kb.okey THEN e0.a ELSE e0.b END
      |      AS src,
      |    CASE WHEN ka.okey < kb.okey THEN e0.b ELSE e0.a END AS dst,
      |    CASE WHEN ka.okey < kb.okey THEN kb.okey ELSE ka.okey END
      |      AS dstk
      |  FROM e0 JOIN k ka ON ka.node = e0.a
      |    JOIN k kb ON kb.node = e0.b)""".stripMargin

  val g02_sql: String =
    s"""WITH $gGraphCtesSql,
      |w AS (SELECT x.dst AS v, y.dst AS w
      |  FROM o x JOIN o y ON x.src = y.src AND x.dstk < y.dstk)
      |SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM o) AS n_edges,
      |  (SELECT count(*) FROM w) AS n_wedges,
      |  (SELECT count(*) FROM w JOIN o
      |    ON w.v = o.src AND w.w = o.dst) AS n_triangles""".stripMargin

  /** Per-node triangle counts + LOCAL CLUSTERING COEFFICIENT over the
    * same support-≥2 co-purchase graph as g02
    * ([[graft.graph.Triangles.perNode]]): each triangle found once on
    * the degree-ordered wedge stream, attributed to its three corners
    * by an in-stage array explode (|corners| = 3·|triangles| rows into
    * ONE node-keyed partial agg — no second wedge pass). The
    * coefficient 2T/(deg·(deg−1)) is emitted as exact integer ppm,
    * HALF_UP in integer space (CLAUDE.md rounding-tie rule: deg·(deg−1)
    * has systematic power-of-2 factors, so a float round ties at the
    * cut digit). Reference analog: clustering structure over the
    * related-collections graph (precompute_related.py). */
  val g03_local_cc: QFn = (s, d) => {
    val pairs = coPurchasePairs(s, d)
    graft.graph.Triangles.perNode(pairs)
  }

  val g03_sql: String =
    s"""WITH $gGraphCtesSql,
      |wd AS (SELECT x.src AS u, x.dst AS v, y.dst AS ww
      |  FROM o x JOIN o y ON x.src = y.src AND x.dstk < y.dstk),
      |tr AS (SELECT u, v, ww
      |  FROM wd JOIN o ON wd.v = o.src AND wd.ww = o.dst),
      |corners AS (SELECT unnest([u, v, ww]) AS node FROM tr),
      |tc AS (SELECT node, count(*) AS tri FROM corners GROUP BY node)
      |SELECT d.node, d.deg,
      |  CAST(coalesce(tc.tri, 0) AS BIGINT) AS tri,
      |  (4 * coalesce(tc.tri, 0) * 1000000 + d.deg * (d.deg - 1))
      |    // (2 * d.deg * (d.deg - 1)) AS cc_ppm
      |FROM deg d LEFT JOIN tc ON d.node = tc.node
      |WHERE d.deg >= 2""".stripMargin

  /** k-core of the co-purchase graph ([[graft.graph.KCore]]): peel
    * nodes with induced degree < 2 for five FIXED rounds — iterative
    * subgraph refinement with a full hash oracle (the round count is
    * the defined semantics, unrolled verbatim by the oracle's CTEs;
    * convergence measured per SF: sf0.001 fixpoint at round 1, sf0.01
    * at 3, sf0.1 exactly at 5 — the spec pins the fixpoint). Per
    * round: two endpoint semi-joins + one degree aggregate; survivor
    * set localCheckpoint'ed (it feeds BOTH semi-joins — the CLAUDE.md
    * plan-doubling rule). */
  val g05_kcore: QFn = (s, d) => {
    val pairs = coPurchasePairs(s, d)
    graft.graph.KCore.kcore(pairs, k = 2, rounds = 5)
  }

  val g05_sql: String = {
    // every a_i is consumed TWICE by round i+1 (both endpoint joins):
    // without AS MATERIALIZED, DuckDB's CTE inlining doubles the
    // expression tree per round — the exact SQL analog of the Spark
    // loop's localCheckpoint rule (measured: the inlined form never
    // finished at sf0.01; materialized, milliseconds)
    def round(i: Int) =
      s"""e$i AS (SELECT e0.a, e0.b FROM e0
         |  JOIN a${i - 1} x ON e0.a = x.node
         |  JOIN a${i - 1} y ON e0.b = y.node),
         |d$i AS (SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e$i UNION ALL SELECT b AS node
         |    FROM e$i) u GROUP BY node),
         |a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 2)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e0 AS MATERIALIZED (SELECT x.pk AS a, y.pk AS b
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |d1 AS (SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
       |  u GROUP BY node),
       |a1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 2),
       |${(2 to 5).map(round).mkString(",\n")},
       |ef AS (SELECT e0.a, e0.b FROM e0
       |  JOIN a5 x ON e0.a = x.node JOIN a5 y ON e0.b = y.node)
       |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS node FROM ef UNION ALL SELECT b AS node FROM ef) u
       |GROUP BY node""".stripMargin
  }

  /** CUBE over (status, priority): all four grouping-set levels in
    * one pass — Spark expands the cube into a single hash aggregate
    * (rows replicated per grouping set at the map side, partial aggs
    * combine before the one shuffle). Grouping columns are never null
    * in this data, so 'ALL' markers disambiguate subtotal rows
    * portably (no engine-specific GROUPING_ID bit order). */
  val q41_cube: QFn = (s, d) =>
    t(s, d, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))

  val q41_sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** Z-ORDER (Morton) clustering key — the lakehouse data-layout
    * operator (Delta/Iceberg OPTIMIZE ZORDER BY): interleave the bits
    * of two dimensions so one sort key preserves locality in BOTH,
    * letting min/max file statistics prune 2-D predicates at 100 TB.
    * The query writes nothing; it PROVES the locality property the
    * layout buys: per coarse z-cell (top bits of the interleave),
    * the part-key and supp-key ranges it spans are tight rectangles —
    * min/max spans per cell are the file-skipping statistics a
    * z-sorted write would produce. Pure integer bit arithmetic
    * (32 shift/mask terms, engine-portable), one aggregate. */
  val q46_zorder: QFn = (s, d) => {
    val x = pmod(col("l_partkey").cast("long"), lit(65536L))
    val y = pmod(col("l_suppkey").cast("long"), lit(65536L))
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        shiftright(z, 16).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
        min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
      .select(col("cell"), col("n"),
        (col("max_pk") - col("min_pk")).cast("long").as("span_pk"),
        (col("max_sk") - col("min_sk")).cast("long").as("span_sk"),
        col("min_pk").cast("long").as("min_pk"),
        col("min_sk").cast("long").as("min_sk"))
  }

  val q46_sql: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    s"""WITH b AS (SELECT l_partkey, l_suppkey,
       |    l_partkey % 65536 AS x, l_suppkey % 65536 AS y
       |  FROM lineitem),
       |z AS (SELECT l_partkey, l_suppkey, ($terms) >> 16 AS cell FROM b)
       |SELECT cell, count(*) AS n,
       |  CAST(max(l_partkey) - min(l_partkey) AS BIGINT) AS span_pk,
       |  CAST(max(l_suppkey) - min(l_suppkey) AS BIGINT) AS span_sk,
       |  CAST(min(l_partkey) AS BIGINT) AS min_pk,
       |  CAST(min(l_suppkey) AS BIGINT) AS min_sk
       |FROM z GROUP BY cell""".stripMargin
  }

  /** HISTOGRAM-SKETCH quantiles — the at-scale companion to q25's
    * exact percentiles: two aggregate passes (per-group min/max/n,
    * then 128 equi-width bucket counts), a |groups|×128-row cumsum,
    * and rank-threshold picks. The shuffle carries at most
    * |groups|·128 rows REGARDLESS of data size — vs sorting every
    * value. Entirely in integer cents (bucket index, thresholds and
    * bucket-boundary estimates are exact BIGINT arithmetic), so both
    * engines agree bit-for-bit and the known error bound is the
    * bucket width. */
  val q47_hist_quantile: QFn = (s, d) => {
    val o = t(s, d, "orders").select(col("o_orderpriority").as("grp"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("v"))
    val mm = o.groupBy("grp").agg(min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).as("n"))
    val buckets = o.join(broadcast(mm), "grp")
      .select(col("grp"), col("mn"), col("mx"), col("n"),
        expr("(v - mn) * 128 DIV (mx - mn + 1)").as("b"))
      .groupBy("grp", "mn", "mx", "n", "b").agg(count(lit(1)).as("c"))
    val cum = buckets.withColumn("cum",
      sum("c").over(Window.partitionBy("grp").orderBy("b")))
    def pick(q: Int): Column =
      min(when(col("cum") >= expr(s"(n * $q + 99) DIV 100"), col("b")))
    cum.groupBy("grp", "mn", "mx", "n")
      .agg(pick(50).as("b50"), pick(90).as("b90"), pick(99).as("b99"))
      .select(col("grp"), col("n"),
        expr("mn + ((b50 * (mx - mn + 1)) DIV 128)").as("p50_est"),
        expr("mn + ((b90 * (mx - mn + 1)) DIV 128)").as("p90_est"),
        expr("mn + ((b99 * (mx - mn + 1)) DIV 128)").as("p99_est"))
  }

  val q47_sql: String =
    """WITH o AS (SELECT o_orderpriority AS grp,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders),
      |mm AS (SELECT grp, min(v) AS mn, max(v) AS mx, count(*) AS n
      |  FROM o GROUP BY grp),
      |bk AS (SELECT o.grp, mm.mn, mm.mx, mm.n,
      |    (o.v - mm.mn) * 128 // (mm.mx - mm.mn + 1) AS b,
      |    count(*) AS c
      |  FROM o JOIN mm USING (grp) GROUP BY 1, 2, 3, 4, 5),
      |cm AS (SELECT *, sum(c) OVER (PARTITION BY grp ORDER BY b) AS cum
      |  FROM bk),
      |pk AS (SELECT grp, mn, mx, n,
      |    min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN b END) AS b50,
      |    min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN b END) AS b90,
      |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN b END) AS b99
      |  FROM cm GROUP BY 1, 2, 3, 4)
      |SELECT grp, CAST(n AS BIGINT) AS n,
      |  CAST(mn + ((b50 * (mx - mn + 1)) // 128) AS BIGINT) AS p50_est,
      |  CAST(mn + ((b90 * (mx - mn + 1)) // 128) AS BIGINT) AS p90_est,
      |  CAST(mn + ((b99 * (mx - mn + 1)) // 128) AS BIGINT) AS p99_est
      |FROM pk""".stripMargin

  /** EWMA (α = 1/2) decayed engagement score over each user's last
    * 10 events — ENTIRELY in integer space: cents × binary weights
    * 2⁹…2⁰ (newest → oldest), summed exactly, presented in
    * milli-units via one integral division. A float-recursive EWMA
    * could never hash-match cross-engine (error compounds per row);
    * binary weights + a bounded frame make the decayed score as
    * deterministic as a sum. One per-user window pass, 10 unrolled
    * lag() terms sharing a single Exchange+Sort. */
  val q48_ewma: QFn = (s, d) => {
    val e = t(s, d, "events").filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val scaled = (col("cents") * lit(512L)) +: (1 to 9).map(k =>
      coalesce(lag(col("cents"), k).over(w), lit(0L)) *
        lit(1L << (9 - k)))
    e.select(col("user_id"), col("event_id"),
        scaled.reduce(_ + _).as("scaled"))
      .select(col("user_id"), col("event_id"),
        expr("(scaled * 1000) DIV 1024").as("ewma_milli"))
  }

  val q48_sql: String = {
    val terms = ("cents * 512" +: (1 to 9).map(k =>
      s"coalesce(lag(cents, $k) OVER w, 0) * ${1L << (9 - k)}"))
      .mkString(" + ")
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE user_id < 20),
      |s AS (SELECT user_id, event_id, TERMS AS scaled
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
      |SELECT user_id, event_id,
      |  CAST((scaled * 1000) // 1024 AS BIGINT) AS ewma_milli
      |FROM s""".stripMargin.replace("TERMS", terms)
  }

  /** Subtype-reachability member validation — the ParentFinder /
    * validate_members analog (create_collections.py:548-638): a
    * member is valid iff any of its (redirect-resolved) seed types
    * reaches an allowed target type walking up the subclass_of DAG,
    * with one-hop same_as fallback for nodes without entries
    * (create_collections.py:571-577). Distributed shape: reverse BFS
    * from the targets over the TYPE graph once (Reachability), then
    * ONE broadcast semi-join validates the corpus-scale member side.
    *
    * The type hierarchy is synthesized deterministically so DuckDB
    * can mirror it: 64 type ids, binary-tree subclass edges
    * (tid → tid DIV 2) plus div-3 cross edges (a DAG, not a tree),
    * redirect-only nodes every 11th id borrowing their predecessor's
    * edges, and members seeded with two custkey-derived types
    * (members ≡ 5 mod 13 are entry-less and resolve through their
    * successor customer). Oracle: the BFS unrolled as 8 MATERIALIZED
    * CTE rounds — ≥ the DAG's ~5-hop depth, so both sides sit at the
    * same fixpoint (the g05 lesson: twice-referenced round CTEs must
    * materialize or the oracle's expression tree doubles per round).
    */
  val q49_reachability: QFn = (s, d) => {
    import graft.graph.Reachability
    val tids = s.range(64).select(col("id").as("tid"))
    val typed = col("tid") % 11 =!= 7
    val subclass = tids.filter(col("tid") >= 2 && typed)
      .select(col("tid").as("child"), expr("tid DIV 2").as("parent"))
      .union(tids.filter(col("tid") >= 3 && col("tid") % 7 === 0 && typed)
        .select(col("tid").as("child"), expr("tid DIV 3").as("parent")))
    val sameAs = tids.filter(col("tid") % 11 === 7)
      .select(col("tid").as("from"), (col("tid") - 1).as("to"))
    val targets = s.range(1)
      .select(explode(array(lit(3L), lit(10L))).as("node"))
    val reach = Reachability.reachingSet(
      Reachability.effectiveEdges(subclass, sameAs), targets)
    val cust = t(s, d, "customer")
      .select(col("c_custkey").cast("long").as("m"))
    val typedM = cust.filter(col("m") % 13 =!= 5)
    val redirM = cust.filter(col("m") % 13 === 5)
      .select(col("m").as("member"), (col("m") + 1).as("p"))
      .join(cust.select(col("m").as("p")), Seq("p"))
    def seeds(df: DataFrame, member: Column, key: Column): DataFrame =
      df.select(member.as("member"), (key % 64).as("tid"))
        .union(df.select(member.as("member"),
          ((key * 7 + 3) % 64).as("tid")))
    val memberTypes = seeds(typedM, col("m"), col("m"))
      .union(seeds(redirM, col("member"), col("p")))
    val valid = Reachability.validMembers(memberTypes, reach)
      .withColumn("ok", lit(1L))
    cust.select(col("m").as("member"),
        (col("m") % 13 === 5).cast("long").as("via_redirect"))
      .join(valid, Seq("member"), "left")
      .select(col("member"), col("via_redirect"),
        coalesce(col("ok"), lit(0L)).as("is_valid"))
  }

  val q49_sql: String = {
    val rounds = (1 to 8).map { k =>
      s"""r$k AS MATERIALIZED (SELECT node FROM r${k - 1} UNION
         |  SELECT e.child FROM e_eff e JOIN r${k - 1} r
         |  ON e.parent = r.node)""".stripMargin
    }.mkString(",\n")
    """WITH tids AS (SELECT range AS tid FROM range(64)),
      |e_base AS (
      |  SELECT tid AS child, tid // 2 AS parent FROM tids
      |  WHERE tid >= 2 AND tid % 11 <> 7
      |  UNION ALL
      |  SELECT tid, tid // 3 FROM tids
      |  WHERE tid >= 3 AND tid % 7 = 0 AND tid % 11 <> 7),
      |same_as AS (SELECT tid AS f, tid - 1 AS t FROM tids
      |  WHERE tid % 11 = 7),
      |e_eff AS (
      |  SELECT DISTINCT child, parent FROM (
      |    SELECT child, parent FROM e_base
      |    UNION ALL
      |    SELECT s.f, b.parent FROM same_as s
      |    LEFT JOIN (SELECT DISTINCT child FROM e_base) hs
      |      ON s.f = hs.child
      |    JOIN e_base b ON s.t = b.child
      |    WHERE hs.child IS NULL)),
      |r0 AS MATERIALIZED (SELECT 3::BIGINT AS node UNION SELECT 10),
      |ROUNDS,
      |mt AS (
      |  SELECT c_custkey AS member, c_custkey % 64 AS tid
      |  FROM customer WHERE c_custkey % 13 <> 5
      |  UNION ALL
      |  SELECT c_custkey, (c_custkey * 7 + 3) % 64
      |  FROM customer WHERE c_custkey % 13 <> 5
      |  UNION ALL
      |  SELECT c.c_custkey, p.c_custkey % 64
      |  FROM customer c JOIN customer p ON p.c_custkey = c.c_custkey + 1
      |  WHERE c.c_custkey % 13 = 5
      |  UNION ALL
      |  SELECT c.c_custkey, (p.c_custkey * 7 + 3) % 64
      |  FROM customer c JOIN customer p ON p.c_custkey = c.c_custkey + 1
      |  WHERE c.c_custkey % 13 = 5),
      |v AS (SELECT DISTINCT member FROM mt JOIN r8 ON mt.tid = r8.node)
      |SELECT CAST(c.c_custkey AS BIGINT) AS member,
      |  CAST(CASE WHEN c.c_custkey % 13 = 5 THEN 1 ELSE 0 END AS BIGINT)
      |    AS via_redirect,
      |  CAST(CASE WHEN v.member IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_valid
      |FROM customer c LEFT JOIN v ON c.c_custkey = v.member"""
      .stripMargin.replace("ROUNDS,", rounds + ",")
  }

  /** Spearman rank correlation between two member orderings — the
    * reference compares sortings with scipy.stats.spearmanr
    * (research/sort_members/sort.py:16-21). Both orderings are made
    * TOTAL (value + unique tiebreak → row_number), so ranks are exact
    * integer permutations and ρ = 1 − 6Σd²/(n(n²−1)) computes
    * ENTIRELY in integer space — emitted as sign-aware HALF_UP ppm
    * (a float ρ is rational here and can tie at any rounding digit;
    * the integer form can't). The two windows share one p_brand
    * Exchange; n is bounded by the compared-list length (the ppm
    * scaling overflows past n ≈ 16k — list evals, not corpora). */
  val q50_spearman: QFn = (s, d) =>
    RankingMetrics.spearmanPpm(t(s, d, "part"), "p_brand",
      orderA = Seq(col("p_retailprice").asc, col("p_partkey").asc),
      orderB = Seq(col("p_size").asc, col("p_partkey").asc))

  val q50_sql: String =
    """WITH r AS (SELECT p_brand,
      |    row_number() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice, p_partkey) AS ra,
      |    row_number() OVER (PARTITION BY p_brand
      |      ORDER BY p_size, p_partkey) AS rb
      |  FROM part),
      |a AS (SELECT p_brand, count(*) AS n,
      |    CAST(sum((ra-rb)*(ra-rb)) AS BIGINT) AS sd2
      |  FROM r GROUP BY p_brand HAVING count(*) >= 2)
      |SELECT p_brand, CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN n*(n*n-1) - 6*sd2 >= 0
      |    THEN (2*1000000*(n*(n*n-1) - 6*sd2) + n*(n*n-1))
      |      // (2*n*(n*n-1))
      |    ELSE -((2*1000000*(6*sd2 - n*(n*n-1)) + n*(n*n-1))
      |      // (2*n*(n*n-1))) END AS BIGINT) AS spearman_ppm
      |FROM a""".stripMargin

  /** The reference eval suite's full metric row — graded NDCG@5,
    * binary NDCG@5 and Recall@5 per customer, with
    * evaluate_endpoints.py's exact quirks (ideal-side max(score,
    * default) clamp, short-group default padding, strict-> recall
    * over a fixed k denominator). Relevance grades order priority
    * onto the reference's 0-5 annotation scale. See
    * [[RankingMetrics.evalAtK]]. */
  val q51_rank_eval: QFn = (s, d) => {
    val rel = when(col("o_orderpriority") === "1-URGENT", 5.0)
      .when(col("o_orderpriority") === "2-HIGH", 4.0)
      .when(col("o_orderpriority") === "3-MEDIUM", 2.0)
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", 1.0)
      .otherwise(0.0)
    RankingMetrics.evalAtK(
      t(s, d, "orders"), "o_custkey", rel,
      predictedOrder = Seq(col("o_totalprice").desc,
        col("o_orderkey").asc),
      tiebreak = Seq(col("o_orderkey").asc), k = 5)
  }

  val q51_sql: String = {
    val ws = RankingMetrics.discountWeights(5)
    val cum = RankingMetrics.cumWeights(5)
    def wCase(rn: String): String =
      (1 to 5).map(i => s"WHEN $rn = $i THEN ${ws(i - 1)}")
        .mkString("CASE ", " ", " ELSE 0.0 END")
    // default-score padding for groups shorter than k:
    // 2·(W(5) − W(n)), exact decimal literals
    val pad = (1 to 4).map(n =>
      s"WHEN n = $n THEN ${(BigDecimal(2) *
        (BigDecimal(cum(5)) - BigDecimal(cum(n)))).toDouble}")
      .mkString("CASE ", " ", " ELSE 0.0 END")
    s"""WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
       |    CASE o_orderpriority WHEN '1-URGENT' THEN 5.0
       |      WHEN '2-HIGH' THEN 4.0 WHEN '3-MEDIUM' THEN 2.0
       |      WHEN '4-NOT SPECIFIED' THEN 1.0 ELSE 0.0 END AS rel
       |  FROM orders),
       |r AS (SELECT o_custkey, rel,
       |    CASE WHEN rel >= 4.0 THEN 1.0 ELSE 0.0 END AS bin,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_totalprice DESC, o_orderkey) AS rn_pred,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY rel DESC, o_orderkey) AS rn_ideal
       |  FROM o),
       |w AS (SELECT o_custkey, rel, bin, rn_pred,
       |    ${wCase("rn_pred")} AS w_pred,
       |    ${wCase("rn_ideal")} AS w_ideal
       |  FROM r),
       |a AS (SELECT o_custkey, count(*) AS n,
       |    round(sum(rel * w_pred), 6) AS dcg,
       |    round(sum(greatest(rel, 2.0) * w_ideal), 6) AS idcg_real,
       |    round(sum(bin * w_pred), 6) AS bdcg,
       |    round(sum(bin * w_ideal), 6) AS bidcg,
       |    CAST(sum(CASE WHEN rn_pred <= 5 AND rel > 4.0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM w GROUP BY o_custkey),
       |b AS (SELECT *, round(idcg_real + ($pad), 6) AS idcg FROM a)
       |SELECT o_custkey, CAST(n AS BIGINT) AS n,
       |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 4)
       |    ELSE 0.0 END AS ndcg,
       |  CASE WHEN bidcg > 0 THEN round(bdcg / bidcg, 4)
       |    ELSE 0.0 END AS binary_ndcg,
       |  round(CAST(hits AS DOUBLE) / 5, 4) AS recall_at_k
       |FROM b""".stripMargin
  }

  /** Collection-level member statistics — the reference's PUBLIC
    * scoring surface (create_merged.py:966-977: members_rank_mean /
    * _median, members_system_interesting_score_mean / _median, the
    * MIN_VALUE = 1e-8 positivity clamps, nonavailable_members_ratio;
    * :871's max(rank, 1) rank_feature clamp). The per-label
    * interesting score itself comes from an external model library —
    * what IS public, and what this mirrors exactly, is how member
    * scores aggregate into collection features.
    *
    * Hash-exact re-expression of np.mean / np.median: means as
    * HALF_UP micro-units (integer space), medians as rank-picked
    * value SUMS — the lower+upper middle values picked by row_number
    * (even n interpolates to a half, so lo+hi IS the exact median
    * in half-units; odd n picks the same row twice). Positivity
    * clamps become `greatest(x, 1)` in the emitted integer unit —
    * the smallest representable positive value, preserving
    * MIN_VALUE's rank-feature-must-be-positive intent. One window +
    * one aggregate sharing the custkey Exchange. */
  val q52_collection_stats: QFn = (s, d) => {
    val grade = when(col("o_orderpriority") === "1-URGENT", 5L)
      .when(col("o_orderpriority") === "2-HIGH", 4L)
      .when(col("o_orderpriority") === "3-MEDIUM", 2L)
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", 1L)
      .otherwise(0L)
    val o = t(s, d, "orders").select(col("o_custkey"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
      grade.as("score"),
      (col("o_orderstatus") =!= "O").cast("long").as("nonavail"))
    val wR = Window.partitionBy("o_custkey").orderBy("cents")
    val wS = Window.partitionBy("o_custkey").orderBy("score")
    val ranked = o
      .withColumn("rr", row_number().over(wR).cast("long"))
      .withColumn("rs", row_number().over(wS).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("o_custkey")))
    def pick2(v: String, rn: String): Column =
      sum(when(col(rn) === expr("(n + 1) DIV 2"), col(v)).otherwise(0L)) +
        sum(when(col(rn) === expr("n DIV 2 + 1"), col(v)).otherwise(0L))
    ranked.groupBy("o_custkey").agg(
        count(lit(1)).as("n_members"),
        sum("cents").as("sc"), sum("score").as("ss"),
        sum("nonavail").as("sn"),
        pick2("cents", "rr").as("rank_median_half"),
        pick2("score", "rs").as("score_median_half"),
        max("cents").as("mx"))
      .select(col("o_custkey"), col("n_members"),
        // mean(dollars) in micro-units: 1e6·(sc/100)/n = 1e4·sc/n
        greatest(expr("(2 * 10000 * sc + n_members) DIV (2 * n_members)"),
          lit(1L)).as("rank_mean_micro"),
        greatest(col("rank_median_half"), lit(1L))
          .as("rank_median_half"),
        greatest(expr("(2 * 1000000 * ss + n_members) DIV (2 * n_members)"),
          lit(1L)).as("score_mean_micro"),
        greatest(col("score_median_half"), lit(1L))
          .as("score_median_half"),
        greatest(expr("(2 * 1000000 * sn + n_members) DIV (2 * n_members)"),
          lit(1L)).as("nonavail_ppm"),
        greatest(col("mx"), lit(1L)).as("collection_rank"))
  }

  val q52_sql: String =
    """WITH o AS (SELECT o_custkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |    CAST(CASE o_orderpriority WHEN '1-URGENT' THEN 5
      |      WHEN '2-HIGH' THEN 4 WHEN '3-MEDIUM' THEN 2
      |      WHEN '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS BIGINT) AS score,
      |    CAST(CASE WHEN o_orderstatus <> 'O' THEN 1 ELSE 0 END
      |      AS BIGINT) AS nonavail
      |  FROM orders),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY cents)
      |      AS rr,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY score)
      |      AS rs,
      |    count(*) OVER (PARTITION BY o_custkey) AS n
      |  FROM o),
      |a AS (SELECT o_custkey, count(*) AS n_members,
      |    CAST(sum(cents) AS BIGINT) AS sc,
      |    CAST(sum(score) AS BIGINT) AS ss,
      |    CAST(sum(nonavail) AS BIGINT) AS sn,
      |    CAST(sum(CASE WHEN rr = (n + 1) // 2 THEN cents ELSE 0 END)
      |      + sum(CASE WHEN rr = n // 2 + 1 THEN cents ELSE 0 END)
      |      AS BIGINT) AS rank_median_half,
      |    CAST(sum(CASE WHEN rs = (n + 1) // 2 THEN score ELSE 0 END)
      |      + sum(CASE WHEN rs = n // 2 + 1 THEN score ELSE 0 END)
      |      AS BIGINT) AS score_median_half,
      |    max(cents) AS mx
      |  FROM r GROUP BY o_custkey)
      |SELECT o_custkey, CAST(n_members AS BIGINT) AS n_members,
      |  greatest((2 * 10000 * sc + n_members) // (2 * n_members), 1)
      |    AS rank_mean_micro,
      |  greatest(rank_median_half, 1) AS rank_median_half,
      |  greatest((2 * 1000000 * ss + n_members) // (2 * n_members), 1)
      |    AS score_mean_micro,
      |  greatest(score_median_half, 1) AS score_median_half,
      |  greatest((2 * 1000000 * sn + n_members) // (2 * n_members), 1)
      |    AS nonavail_ppm,
      |  greatest(mx, 1) AS collection_rank
      |FROM a""".stripMargin

  /** Per-cohort related-node rankings: BLOCK-personalized PageRank —
    * three supplier cohorts' proximity rankings computed through ONE
    * shared exact-integer loop (sparse (cohort, node, rank) state,
    * zero rows pruned losslessly), then top-10 per cohort. The
    * "related to THIS collection" product shape
    * (precompute_related.py) at fleet scale: one edge-list scan per
    * round serves every cohort. See
    * [[graft.graph.PageRank.blockPersonalized]]. */
  val g06_ppr_topk: QFn = (s, d) => {
    val e0 = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = t(s, d, "supplier")
      .filter(col("s_suppkey") % 5 === 0)
      .select((col("s_nationkey") % 3).as("cohort"),
        (col("s_suppkey") * 2 + 1).as("node"))
    val ranks = graft.graph.PageRank.blockPersonalized(
      edges, seeds, iters = 5)
    val w = Window.partitionBy("cohort")
      .orderBy(col("rank_u").desc, col("node").asc)
    ranks.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
  }

  val g06_sql: String = {
    def round(i: Int) =
      s"""r$i AS MATERIALIZED (SELECT cohort, node, r FROM (
         |  SELECT coalesce(b.cohort, c.cohort) AS cohort,
         |    coalesce(b.node, c.node) AS node,
         |    coalesce(b.base, 0) + coalesce(c.s, 0) AS r
         |  FROM nb b FULL JOIN (
         |    SELECT r.cohort, ed.dst AS node,
         |      CAST(sum((r.r * 17) // (ed.deg * 20)) AS BIGINT) AS s
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.node
         |    GROUP BY r.cohort, ed.dst) c
         |  ON b.cohort = c.cohort AND b.node = c.node)
         |  WHERE r > 0)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |sv AS (SELECT DISTINCT s_nationkey % 3 AS cohort,
       |    s_suppkey * 2 + 1 AS node
       |  FROM supplier WHERE s_suppkey % 5 = 0),
       |sn AS (SELECT sv.cohort, sv.node FROM sv
       |  JOIN nodes USING (node)),
       |cn AS (SELECT cohort, count(*) AS ns FROM sn GROUP BY cohort),
       |nb AS MATERIALIZED (SELECT sn.cohort, sn.node,
       |    CAST(150000000000 // ns AS BIGINT) AS base,
       |    CAST(1000000000000 // ns AS BIGINT) AS r0
       |  FROM sn JOIN cn USING (cohort)),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ed AS MATERIALIZED (SELECT edges.src, edges.dst, deg.deg
       |  FROM edges JOIN deg USING (src)),
       |r0 AS MATERIALIZED (SELECT cohort, node, r0 AS r FROM nb),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT cohort, node, rank_u, rn FROM (
       |  SELECT cohort, node, r AS rank_u, row_number() OVER (
       |    PARTITION BY cohort ORDER BY r DESC, node) AS rn
       |  FROM r5) WHERE rn <= 10""".stripMargin
  }

  /** Diversified related-retrieval: top-5 orders per customer with at
    * most 2 per priority type — the reference's related-collections
    * API contract (`max_per_type = 2`, "so that first 3 will not be
    * of the same type"). See [[Relational.diversifiedTopK]]. */
  val q53_diverse_topk: QFn = (s, d) =>
    Relational.diversifiedTopK(
      t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice")),
      k = 5, quota = 2, groupBy = Seq(col("o_custkey")),
      typeCol = col("o_orderpriority"),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc))

  val q53_sql: String =
    """WITH tq AS (SELECT o_custkey, o_orderkey, o_orderpriority,
      |    o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey, o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS tr
      |  FROM orders),
      |sv AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM tq WHERE tr <= 2)
      |SELECT o_custkey, o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(tr AS BIGINT) AS tr, CAST(rn AS BIGINT) AS rn
      |FROM sv WHERE rn <= 5""".stripMargin

  /** TEMPERATURE-flattened mixture sampling (T = 2) — the data-mixing
    * step q39's fixed per-language rates don't express: keep rates
    * are DERIVED from the corpus so the sampled mixture's expected
    * proportions follow n^(1/T) (rare languages upsampled relative
    * to their share, dominant ones flattened), with a total budget of
    * half the corpus. Hash-exact construction: weights are integer
    * sqrt (floor(sqrt(n)) — IEEE sqrt is correctly rounded, so both
    * engines get the identical integer), the weight sum is an
    * order-independent BIGINT sum, and each rate is one HALF_UP
    * integer division to ppm; rows are then kept by the q39 md5
    * bucket against rate_ppm. Scale shape: one map-side count
    * aggregate over the corpus, a |languages|-row broadcast rate dim,
    * and a pure map-side filter — a scan whose selectivity is the
    * blended rate. (The ppm numerator bounds the in-query arithmetic
    * at ~2^63/(2e6·w) docs; a true 100 TB run computes the
    * |languages|-row rate table driver-side in BigDecimal — the
    * corpus-side plan is unchanged.) */
  val q54_temp_mixture: QFn = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
    val stats = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("w",
        expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
    val tot = stats.agg(sum("n").as("total"), sum("w").as("wsum"))
    val rates = stats.crossJoin(broadcast(tot))
      .withColumn("rate_ppm", expr(
        """least(1000000, (2 * 1000000 * (total DIV 2) * w + n * wsum)
          | DIV (2 * n * wsum))""".stripMargin.replace("\n", "")))
      .select("lang", "rate_ppm")
    docs.join(broadcast(rates), "lang")
      .withColumn("bucket",
        md5Bucket(concat(lit("mix:"), col("doc_id").cast("string")))
          % 1000000)
      .filter(col("bucket") < col("rate_ppm"))
      .select(col("doc_id"), col("lang"), col("rate_ppm"))
  }

  val q54_sql: String =
    """WITH s AS (SELECT lang, count(*) AS n FROM documents
      |  GROUP BY lang),
      |w AS (SELECT lang, CAST(n AS BIGINT) AS n,
      |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM s),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
      |    CAST(sum(w) AS BIGINT) AS wsum FROM w),
      |r AS (SELECT lang,
      |    least(1000000, (2 * 1000000 * (total // 2) * w + n * wsum)
      |      // (2 * n * wsum)) AS rate_ppm
      |  FROM w, t)
      |SELECT d.doc_id, d.lang, CAST(r.rate_ppm AS BIGINT) AS rate_ppm
      |FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 8))
      |    ::BIGINT % 1000000 < r.rate_ppm""".stripMargin

  /** The end-to-end CORPUS-CLEANING pipeline — what q19 is for
    * collections, for training data: quality gate (t02's score) →
    * exact-dup removal (d01's fingerprint, keep lowest id) →
    * benchmark decontamination (d07's 5-gram eval semi-join, integer
    * ppm, drop > 20% contaminated) → deterministic 80% sample (q39's
    * md5 bucket), as ONE declarative job. Each stage's semantics are
    * the already-verified component's; the composite proves they
    * CHAIN — the oracle re-derives the entire pipeline. Shuffles:
    * the dedup window, the shingle postings' doc keying, and the
    * totals/hits aggregates; the quality gate and the sample are
    * map-side. */
  val t13_clean_pipeline: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val scored = docs.select(col("doc_id"), col("text"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatio(col("text")).as("stop_ratio"))
      .withColumn("quality",
        round(least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          (lit(1.0) - least(col("punct_ratio") * 5, lit(1.0))) * 0.25 +
          least(col("stop_ratio") * 4, lit(1.0)) * 0.25, 4))
    // ≥ 5 tokens also guarantees every survivor owns ≥ 1 5-gram, so
    // the decontamination totals cover every remaining doc
    val q = scored.filter(col("quality") >= 0.5 && col("n_tokens") >= 5)
    val keep = q
      .withColumn("fp",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withColumn("keep_id",
        min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keep_id"))
    // train side: eval docs leave the corpus AND define the eval set
    val surv = keep.filter(col("doc_id") % 50 =!= 0)
      .select("doc_id", "text", "n_tokens", "quality")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    surv.count() // feeds the postings AND the final join
    val post = TextFunctions.shinglePostings(
        surv.select("doc_id", "text"), "doc_id", "text", 5,
        distinct = true)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    post.count() // totals + hits branch off
    val evalSet = TextFunctions.shinglePostings(
        docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text"),
        "doc_id", "text", 5, distinct = true)
      .select(xxhash64(col("shingle")).as("h")).distinct()
    val totals = post.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = post.join(evalSet, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val contam = totals.join(hits, Seq("doc_id"), "left")
      .withColumn("frac_ppm", expr(
        "(2 * 1000000 * coalesce(n_hits, 0) + n_shingles)" +
          " DIV (2 * n_shingles)"))
      .filter(col("frac_ppm") <= 200000)
      .select("doc_id", "frac_ppm")
    surv.join(contam, "doc_id")
      .withColumn("bucket",
        md5Bucket(concat(lit("clean:"), col("doc_id").cast("string")))
          % 100)
      .filter(col("bucket") < 80)
      .select("doc_id", "n_tokens", "quality", "frac_ppm")
  }

  val t13_sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> len(x) > 0))::BIGINT AS n_tokens,
       |    round((len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))
       |      / greatest(len(text), 1), 4) AS punct_ratio,
       |    round(len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |        x -> len(x) > 0),
       |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
       |      / greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |        x -> len(x) > 0)), 1), 4) AS stop_ratio
       |  FROM documents),
       |q AS (SELECT doc_id, text, n_tokens,
       |    round(least(n_tokens / 100.0, 1.0) * 0.5 +
       |      (1.0 - least(punct_ratio * 5, 1.0)) * 0.25 +
       |      least(stop_ratio * 4, 1.0) * 0.25, 4) AS quality
       |  FROM base),
       |qk AS (SELECT * FROM q WHERE quality >= 0.5 AND n_tokens >= 5),
       |fp AS (SELECT *,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM qk),
       |keep AS (SELECT doc_id, text, n_tokens, quality FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id
       |    FROM fp) WHERE doc_id = keep_id),
       |surv AS (SELECT * FROM keep WHERE doc_id % 50 <> 0),
       |toks AS (SELECT doc_id, $shingleToksSql AS t FROM surv),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 3, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       |      t[i+3] || ' ' || t[i+4])) AS shingles
       |  FROM toks WHERE len(t) >= 5),
       |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |etoks AS (SELECT doc_id, $shingleToksSql AS t FROM documents
       |  WHERE doc_id % 50 = 0),
       |esh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 3, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       |      t[i+3] || ' ' || t[i+4])) AS shingles
       |  FROM etoks WHERE len(t) >= 5),
       |ev AS (SELECT DISTINCT unnest(shingles) AS shingle FROM esh),
       |totals AS (SELECT doc_id, count(*) AS n_shingles
       |  FROM post GROUP BY doc_id),
       |hits AS (SELECT doc_id, count(*) AS n_hits FROM post
       |  WHERE shingle IN (SELECT shingle FROM ev) GROUP BY doc_id),
       |contam AS (SELECT t.doc_id,
       |    (2 * 1000000 * coalesce(h.n_hits, 0) + t.n_shingles)
       |      // (2 * t.n_shingles) AS frac_ppm
       |  FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id)
       |SELECT s.doc_id, s.n_tokens, s.quality,
       |  CAST(c.frac_ppm AS BIGINT) AS frac_ppm
       |FROM surv s JOIN contam c USING (doc_id)
       |WHERE c.frac_ppm <= 200000
       |  AND ('0x' || substr(md5('clean:' || s.doc_id::VARCHAR), 1, 8))
       |    ::BIGINT % 100 < 80""".stripMargin

  // ---------------------------------------------------------------
  // Round-7 surface (link prediction, asymmetric dedup, robust stats)
  // ---------------------------------------------------------------

  /** Link prediction over the co-purchase graph
    * ([[graft.graph.LinkPrediction]]): top-50 NON-adjacent part pairs
    * by neighborhood-Jaccard ppm — the one-hop-beyond completion of
    * precompute_related.py's direct co-membership signal. Wedge
    * generation is hub-capped (maxCenterDegree, mirrored by the
    * oracle — part of the declared semantics, so parity holds at any
    * SF), everything downstream is one (p, q) aggregate, an edge
    * anti-join, two degree attaches and a TakeOrderedAndProject. */
  val g07_jaccard_link: QFn = (s, d) => {
    val pairs = coPurchasePairs(s, d)
    graft.graph.LinkPrediction.jaccardCandidates(pairs, topK = 50,
      maxCenterDegree = 10000L)
  }

  val g07_sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e0 AS MATERIALIZED (SELECT x.pk AS a, y.pk AS b
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT a AS u, b AS v FROM e0
      |  UNION ALL SELECT b AS u, a AS v FROM e0),
      |deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM adj
      |  GROUP BY u),
      |ctr AS (SELECT adj.u, adj.v FROM adj
      |  JOIN deg ON adj.u = deg.u AND deg.deg <= 10000),
      |w AS (SELECT x.v AS p, y.v AS q
      |  FROM ctr x JOIN ctr y ON x.u = y.u AND x.v < y.v),
      |cn AS (SELECT p, q, count(*) AS cn FROM w GROUP BY p, q),
      |na AS (SELECT * FROM cn WHERE NOT EXISTS (
      |  SELECT 1 FROM e0 WHERE e0.a = cn.p AND e0.b = cn.q))
      |SELECT p AS id1, q AS id2, CAST(cn AS BIGINT) AS common,
      |  CAST(dp.deg AS BIGINT) AS deg1, CAST(dq.deg AS BIGINT) AS deg2,
      |  CAST((2 * 1000000 * cn + (dp.deg + dq.deg - cn))
      |    // (2 * (dp.deg + dq.deg - cn)) AS BIGINT) AS jaccard_ppm
      |FROM na JOIN deg dp ON na.p = dp.u JOIN deg dq ON na.q = dq.u
      |ORDER BY jaccard_ppm DESC, id1, id2 LIMIT 50""".stripMargin

  /** Asymmetric containment near-dup pairs
    * ([[Dedup.containmentPairs]]): partial-duplicate detection — a
    * doc quoted inside another has containment ≈ 1 while Jaccard is
    * tiny. Pruned-universe semantics, exact-rational 7/10 threshold
    * by integer cross-multiplication, prefix-filter candidates. */
  val d14_containment: QFn = (s, d) =>
    Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
      shingleSize = 3, tauNum = 7, tauDen = 10, maxDf = 200)

  val d14_sql: String =
    s"""WITH toks AS (SELECT doc_id, $shingleToksSql AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |keep AS (SELECT shingle FROM posting GROUP BY shingle
       |  HAVING count(*) <= 200),
       |p AS (SELECT posting.doc_id, posting.shingle FROM posting
       |  JOIN keep USING (shingle)),
       |np AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
       |iv AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
       |  FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, CAST(s1.n AS BIGINT) AS n1,
       |  CAST(s2.n AS BIGINT) AS n2, CAST(inter AS BIGINT) AS inter,
       |  CAST((2 * 1000000 * inter + s1.n) // (2 * s1.n) AS BIGINT)
       |    AS cont1_ppm,
       |  CAST((2 * 1000000 * inter + s2.n) // (2 * s2.n) AS BIGINT)
       |    AS cont2_ppm
       |FROM iv JOIN np s1 ON id1 = s1.doc_id
       |JOIN np s2 ON id2 = s2.doc_id
       |WHERE inter * 10 >= s1.n * 7 OR inter * 10 >= s2.n * 7""".stripMargin

  /** Robust dispersion stats: per-returnflag median + median absolute
    * deviation (MAD) + |x − med| > 3·MAD outlier counts — SKETCHED,
    * not sorted. The earlier exact form rank-picked both medians
    * through `row_number` windows partitioned on the THREE-value
    * returnflag key: at 100 TB each pass funnels ~a third of lineitem
    * through one task's sort. This form derives both medians from
    * q47's histogram machinery instead — per-group min/max/n, 128
    * equi-width BIGINT bucket counts (map-side combined), a
    * |groups|·128-row cumsum, rank-threshold pick — so every shuffle
    * is bounded by |groups|·128 rows regardless of data size and no
    * window ever touches a data-sized input. The 3·MAD outlier count
    * stays an EXACT integer comparison (dv > 3·mad_est, both BIGINT
    * cents) against the sketched cut; estimates are bucket lower
    * bounds (exact BIGINT arithmetic), so both engines agree
    * bit-for-bit and the error bound is one bucket width, audited by
    * spec against the exact medians. */
  val q55_mad: QFn = (s, d) => {
    // li feeds five aggregate passes but is a pushed-down 2-column
    // parquet scan — rereading beats a persist+count round trip here
    // (CLAUDE.md persist rule's "non-trivial subtree" qualifier)
    val li = t(s, d, "lineitem").select(col("l_returnflag").as("flag"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
    // q47's histogram pick: min/max/n, 128 buckets, cumsum on the
    // tiny bucket table, first bucket whose cumcount reaches rank
    // ceil(n/2); estimate = bucket lower bound. All BIGINT.
    def sketchMedian(v: DataFrame, vc: String): DataFrame = {
      val mm = v.groupBy("flag").agg(min(vc).as("mn"), max(vc).as("mx"),
        count(lit(1)).as("n"))
      val buckets = v.join(broadcast(mm), "flag")
        .select(col("flag"), col("mn"), col("mx"), col("n"),
          expr(s"($vc - mn) * 128 DIV (mx - mn + 1)").as("b"))
        .groupBy("flag", "mn", "mx", "n", "b")
        .agg(count(lit(1)).as("cnt"))
      buckets
        .withColumn("cum",
          sum("cnt").over(Window.partitionBy("flag").orderBy("b")))
        .groupBy("flag", "mn", "mx", "n")
        .agg(min(when(col("cum") >= expr("(n + 1) DIV 2"), col("b")))
          .as("bm"))
        .select(col("flag"), col("n"),
          expr("mn + ((bm * (mx - mn + 1)) DIV 128)").as("est"))
    }
    val med = sketchMedian(li, "c")
      .select(col("flag"), col("n"), col("est").as("median_est"))
    val dev = li.join(broadcast(med.select("flag", "median_est")), "flag")
      .select(col("flag"), abs(col("c") - col("median_est")).as("dv"))
    val mad = sketchMedian(dev, "dv")
      .select(col("flag"), col("est").as("mad_est"))
    val outliers = dev.join(broadcast(mad), "flag")
      .groupBy("flag")
      .agg(sum((col("dv") > col("mad_est") * 3).cast("long"))
        .as("n_outliers"))
    // the final assembly joins three |groups|-row tables — broadcast
    // explicitly (the planner picked an SMJ for one side: PlanAudit)
    med.join(broadcast(mad), "flag").join(broadcast(outliers), "flag")
      .select(col("flag"), col("n").cast("long").as("n"),
        col("median_est"), col("mad_est"), col("n_outliers"))
  }

  val q55_sql: String =
    """WITH li AS (SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem),
      |mm1 AS (SELECT flag, min(c) AS mn, max(c) AS mx, count(*) AS n
      |  FROM li GROUP BY flag),
      |bk1 AS (SELECT li.flag, mm1.mn, mm1.mx, mm1.n,
      |    (li.c - mm1.mn) * 128 // (mm1.mx - mm1.mn + 1) AS b,
      |    count(*) AS cnt
      |  FROM li JOIN mm1 USING (flag) GROUP BY 1, 2, 3, 4, 5),
      |cm1 AS (SELECT *, sum(cnt) OVER (PARTITION BY flag ORDER BY b)
      |    AS cum FROM bk1),
      |med AS (SELECT flag, n,
      |    mn + ((min(CASE WHEN cum >= (n + 1) // 2 THEN b END)
      |      * (mx - mn + 1)) // 128) AS median_est
      |  FROM cm1 GROUP BY flag, mn, mx, n),
      |dev AS (SELECT li.flag, abs(li.c - med.median_est) AS dv
      |  FROM li JOIN med USING (flag)),
      |mm2 AS (SELECT flag, min(dv) AS mn, max(dv) AS mx, count(*) AS n
      |  FROM dev GROUP BY flag),
      |bk2 AS (SELECT dev.flag, mm2.mn, mm2.mx, mm2.n,
      |    (dev.dv - mm2.mn) * 128 // (mm2.mx - mm2.mn + 1) AS b,
      |    count(*) AS cnt
      |  FROM dev JOIN mm2 USING (flag) GROUP BY 1, 2, 3, 4, 5),
      |cm2 AS (SELECT *, sum(cnt) OVER (PARTITION BY flag ORDER BY b)
      |    AS cum FROM bk2),
      |mad AS (SELECT flag,
      |    mn + ((min(CASE WHEN cum >= (n + 1) // 2 THEN b END)
      |      * (mx - mn + 1)) // 128) AS mad_est
      |  FROM cm2 GROUP BY flag, mn, mx, n),
      |outl AS (SELECT dev.flag,
      |    CAST(sum(CASE WHEN dev.dv > mad.mad_est * 3 THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_outliers
      |  FROM dev JOIN mad USING (flag) GROUP BY dev.flag)
      |SELECT flag, CAST(n AS BIGINT) AS n,
      |  CAST(median_est AS BIGINT) AS median_est,
      |  CAST(mad_est AS BIGINT) AS mad_est, n_outliers
      |FROM med JOIN mad USING (flag) JOIN outl USING (flag)""".stripMargin

  /** Degree assortativity of the co-purchase graph — "do high-degree
    * parts co-occur with high-degree parts?" —
    * [[graft.graph.GraphStats.assortativityPpm]]: the symmetrized
    * marginals make Pearson's sqrt denominator collapse, so unlike
    * q45's general float corr this never leaves integer space
    * (sign-aware HALF_UP ppm, q50's idiom). */
  val g08_assortativity: QFn = (s, d) =>
    graft.graph.GraphStats.assortativityPpm(coPurchasePairs(s, d))

  val g08_sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e0 AS (SELECT x.pk AS a, y.pk AS b
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT a AS u, b AS v FROM e0
      |  UNION ALL SELECT b AS u, a AS v FROM e0),
      |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
      |xy AS (SELECT da.deg AS dx, db.deg AS dy FROM adj
      |  JOIN deg da ON adj.u = da.u JOIN deg db ON adj.v = db.u),
      |m AS (SELECT count(*) AS n, CAST(sum(dx) AS BIGINT) AS sx,
      |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
      |    CAST(sum(dx * dx) AS BIGINT) AS sxx
      |  FROM xy)
      |SELECT n, sx, sxy, sxx,
      |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
      |    WHEN n * sxy - sx * sx >= 0
      |    THEN (2 * 1000000 * (n * sxy - sx * sx) + (n * sxx - sx * sx))
      |      // (2 * (n * sxx - sx * sx))
      |    ELSE -((2 * 1000000 * (sx * sx - n * sxy) + (n * sxx - sx * sx))
      |      // (2 * (n * sxx - sx * sx))) END AS BIGINT)
      |    AS assortativity_ppm
      |FROM m""".stripMargin

  /** Multi-source BFS hop distances over g01's part↔supplier graph
    * ([[graft.graph.Bfs]]): every node within 4 hops of a
    * deterministic 1-in-7 supplier cohort, with its exact minimum
    * hop count — the "related within k hops of this seed set"
    * traversal underneath precompute_related.py's neighbourhood
    * precompute, as a first-class operator. Frontier-delta expansion
    * (each round joins only the new layer against the persisted
    * edges; a node is expanded once); the oracle mirrors it as 4
    * unrolled min-propagation CTEs — hop counts are exact integers,
    * so the layers hash-match round for round. */
  val g09_bfs_hops: QFn = (s, d) => {
    val e0 = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = t(s, d, "supplier")
      .filter(col("s_suppkey") % 7 === 0)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    graft.graph.Bfs.hopDistances(edges, seeds, maxHops = 4)
  }

  val g09_sql: String = {
    def layer(i: Int) =
      s"""d$i AS (SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM edges e JOIN d${i - 1} d ON e.src = d.node) u
         |  GROUP BY node)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node
       |  FROM supplier WHERE s_suppkey % 7 = 0
       |    AND s_suppkey * 2 + 1 IN (SELECT node FROM nodes)),
       |d0 AS (SELECT node, 0 AS dist FROM seeds),
       |${(1 to 4).map(layer).mkString(",\n")}
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin
  }

  /** HyperBall neighbourhood function over g01's part↔supplier graph
    * ([[graft.graph.HyperBall]]): per node, the HLL-estimated count
    * of distinct nodes within 2 hops — the effective-diameter
    * statistic WITHOUT materializing the balls (ball-2 here is
    * already ~|V|² pairs; the per-node 64-register sketch and its
    * max-merge round are the published scale path). Full sketch
    * parity: the oracle unrolls the register max-merge rounds and
    * the integer-space estimate digit for digit (q42's HLL idiom). */
  val g10_hyperball: QFn = (s, d) => {
    val e0 = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    graft.graph.HyperBall.neighborhood(edges, rounds = 2)
  }

  val g10_sql: String = {
    def round(i: Int) =
      s"""s$i AS (SELECT node, j, max(rho) AS rho FROM (
         |    SELECT node, j, rho FROM s${i - 1}
         |    UNION ALL SELECT e.dst AS node, s.j, s.rho
         |    FROM edges e JOIN s${i - 1} s ON e.src = s.node) u
         |  GROUP BY node, j)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |h AS (SELECT node, md5(node::VARCHAR) AS hx FROM nodes),
       |hz AS (SELECT node, ('0x' || substr(hx, 1, 2))::BIGINT % 64
       |    AS j,
       |    length(regexp_extract(substr(hx, 3, 13), '^(0*)', 1))
       |      AS lz,
       |    substr(hx, 3 + length(regexp_extract(substr(hx, 3, 13),
       |      '^(0*)', 1)), 1) AS nib
       |  FROM h),
       |s0 AS (SELECT node, j,
       |    least(CASE WHEN lz = 13 THEN 53
       |      ELSE lz * 4 + (4 - (CASE WHEN nib = '1' THEN 1
       |        WHEN nib IN ('2', '3') THEN 2
       |        WHEN nib IN ('4', '5', '6', '7') THEN 3
       |        ELSE 4 END)) + 1 END, 40) AS rho
       |  FROM hz),
       |${(1 to 2).map(round).mkString(",\n")},
       |sk AS (SELECT node,
       |    CAST(sum(1::BIGINT << (40 - rho)) +
       |      (64 - count(*)) * (1::BIGINT << 40) AS BIGINT)
       |      AS s_scaled,
       |    CAST(64 - count(*) AS BIGINT) AS v_empty
       |  FROM s2 GROUP BY node),
       |est AS (SELECT *,
       |    (709 * 4096 * 1099511627776) // (1000 * s_scaled) AS raw
       |  FROM sk)
       |SELECT node, s_scaled, v_empty,
       |  CASE WHEN v_empty > 0 AND raw < 160
       |    THEN CAST(floor(64 * ln(64.0 / v_empty)) AS BIGINT)
       |    ELSE raw END AS ball_est
       |FROM est""".stripMargin
  }

  /** Harmonic centrality via HyperBall — the paper's own application
    * ([[graft.graph.HyperBall.harmonicCentrality]]): H(u) ≈
    * Σ_k (|ball_k| − |ball_{k−1}|)/k from the per-radius HLL
    * estimates, radius 2 on g01's graph. No per-pair distance is
    * ever computed — the centrality of every node costs exactly the
    * g10 sketch loop plus one join of two estimate projections.
    * Layer deltas clamp at 0 (the linear-counting↔raw boundary can
    * step an estimate down; oracle mirrors the clamp); 1/k weights
    * are exact integer DIVs in milli units. */
  val g11_harmonic: QFn = (s, d) => {
    val e0 = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    graft.graph.HyperBall.harmonicCentrality(edges, rounds = 2)
  }

  val g11_sql: String = {
    def round(i: Int) =
      s"""s$i AS (SELECT node, j, max(rho) AS rho FROM (
         |    SELECT node, j, rho FROM s${i - 1}
         |    UNION ALL SELECT e.dst AS node, s.j, s.rho
         |    FROM edges e JOIN s${i - 1} s ON e.src = s.node) u
         |  GROUP BY node, j)""".stripMargin
    def estOf(i: Int) =
      s"""sk$i AS (SELECT node,
         |    CAST(sum(1::BIGINT << (40 - rho)) +
         |      (64 - count(*)) * (1::BIGINT << 40) AS BIGINT)
         |      AS s_scaled,
         |    CAST(64 - count(*) AS BIGINT) AS v_empty
         |  FROM s$i GROUP BY node),
         |e$i AS (SELECT node,
         |    CASE WHEN v_empty > 0 AND raw < 160
         |      THEN CAST(floor(64 * ln(64.0 / v_empty)) AS BIGINT)
         |      ELSE raw END AS est
         |  FROM (SELECT *, (709 * 4096 * 1099511627776) //
         |      (1000 * s_scaled) AS raw FROM sk$i) x)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |h AS (SELECT node, md5(node::VARCHAR) AS hx FROM nodes),
       |hz AS (SELECT node, ('0x' || substr(hx, 1, 2))::BIGINT % 64
       |    AS j,
       |    length(regexp_extract(substr(hx, 3, 13), '^(0*)', 1))
       |      AS lz,
       |    substr(hx, 3 + length(regexp_extract(substr(hx, 3, 13),
       |      '^(0*)', 1)), 1) AS nib
       |  FROM h),
       |s0 AS (SELECT node, j,
       |    least(CASE WHEN lz = 13 THEN 53
       |      ELSE lz * 4 + (4 - (CASE WHEN nib = '1' THEN 1
       |        WHEN nib IN ('2', '3') THEN 2
       |        WHEN nib IN ('4', '5', '6', '7') THEN 3
       |        ELSE 4 END)) + 1 END, 40) AS rho
       |  FROM hz),
       |${round(1)},
       |${round(2)},
       |${estOf(1)},
       |${estOf(2)}
       |SELECT e1.node, e1.est AS est1, e2.est AS est2,
       |  greatest(e1.est - 1, 0) * 1000 +
       |    (greatest(e2.est - e1.est, 0) * 1000) // 2
       |    AS harmonic_milli
       |FROM e1 JOIN e2 ON e1.node = e2.node""".stripMargin
  }

  /** Skew-resistant fact⋈dim revenue rollup through
    * [[Relational.saltedJoin]] — the hot-key machinery in the
    * ORACLE-VERIFIED surface (salting is result-invariant, so the
    * oracle is the plain join): the fact side salts each key over 8
    * deterministic buckets (xxhash64 of row content — stable under
    * retries), the dim side replicates 8×, the join shuffle spreads
    * any hot supplier over 8 reducers instead of pinning one
    * executor. Use over AQE skew-split when the skew source is an
    * upstream aggregate AQE can't re-split. */
  val q56_skew_join: QFn = (s, d) => {
    val li = t(s, d, "lineitem").select(col("l_suppkey").as("suppkey"),
      col("l_extendedprice"), col("l_discount"))
    val sup = t(s, d, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    Relational.saltedJoin(li, sup, "suppkey", 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))
  }

  val q56_sql: String =
    """SELECT s_nationkey, count(*) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey""".stripMargin

  /** HyperLogLog SET OPERATIONS — the property that makes sketches
    * the 100 TB answer: q42's 64-register scheme built once per
    * customer segment ('O' vs 'F' orders), then the union cardinality
    * comes from MAX-MERGING the two register sets (64 rows each — no
    * re-scan of the data) and the intersection from inclusion-
    * exclusion over the three estimates (signed — IE can go negative
    * on small sketches, and the exact column shows it). Exact
    * distincts per set ride along from one custkey-flag aggregate, so
    * the sketch error is itself part of the verified output (the
    * q42/t11/q47/d12 sketch-parity theme). Tall 4-row result keeps
    * the small-range-correction logic single. Register math is
    * identical to q42 (integer-scaled harmonic sum, floor-of-
    * irrational linear counting) — hash-exact cross-engine. */
  val q57_hll_setops: QFn = (s, d) => {
    val (j, rho) = HllRegisters.register(col("o_custkey"))
    val base = t(s, d, "orders")
      .filter(col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderstatus").as("seg"), col("o_custkey"),
        j.as("j"), rho.as("rho"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // feeds the register build AND the exact-flag agg
    val segRegs = base.groupBy("seg", "j").agg(max("rho").as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    segRegs.count() // feeds per-seg sketches AND the union merge
    val Seq(sScaled, vEmpty) = HllRegisters.sparseSums("m")
    val segSk = segRegs.groupBy("seg").agg(sScaled, vEmpty)
      .select(col("seg").as("set_name"), col("s_scaled"),
        col("v_empty"))
    val uniSk = segRegs.groupBy("j").agg(max("m").as("m"))
      .agg(sScaled, vEmpty)
      .select(lit("union").as("set_name"), col("s_scaled"),
        col("v_empty"))
    val est = segSk.unionByName(uniSk)
      .select(col("set_name"), col("s_scaled"), col("v_empty"),
        HllRegisters.estimate.as("n_approx"))
    val inter = est.agg(
        sum(when(col("set_name") === "O", col("n_approx"))).as("eo"),
        sum(when(col("set_name") === "F", col("n_approx"))).as("ef"),
        sum(when(col("set_name") === "union", col("n_approx"))).as("eu"))
      .select(lit("intersect").as("set_name"), lit(0L).as("s_scaled"),
        lit(0L).as("v_empty"),
        (col("eo") + col("ef") - col("eu")).cast("long").as("n_approx"))
    val exact = base.groupBy("o_custkey")
      .agg(max((col("seg") === "O").cast("long")).as("ho"),
        max((col("seg") === "F").cast("long")).as("hf"))
      .agg(sum("ho").as("no"), sum("hf").as("nf"),
        count(lit(1)).as("nu"), sum(col("ho") * col("hf")).as("ni"))
      .selectExpr("stack(4, 'O', no, 'F', nf, 'union', nu, " +
        "'intersect', ni) AS (set_name, n_exact)")
    est.unionByName(inter).join(exact, "set_name")
  }

  val q57_sql: String =
    """WITH base AS (SELECT o_orderstatus AS seg, o_custkey,
      |    md5(o_custkey::VARCHAR) AS hx
      |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
      |r AS (SELECT seg, o_custkey,
      |    ('0x' || substr(hx, 1, 2))::BIGINT % 64 AS j,
      |    length(regexp_extract(substr(hx, 3, 13), '^(0*)', 1)) AS lz,
      |    substr(hx, 3 + length(regexp_extract(substr(hx, 3, 13),
      |      '^(0*)', 1)), 1) AS nib
      |  FROM base),
      |rho AS (SELECT seg, o_custkey, j,
      |    least(CASE WHEN lz = 13 THEN 53
      |      ELSE lz * 4 + (4 - (CASE WHEN nib = '1' THEN 1
      |        WHEN nib IN ('2', '3') THEN 2
      |        WHEN nib IN ('4', '5', '6', '7') THEN 3
      |        ELSE 4 END)) + 1 END, 40) AS rho
      |  FROM r),
      |segregs AS (SELECT seg, j, max(rho) AS m FROM rho GROUP BY 1, 2),
      |uregs AS (SELECT j, max(m) AS m FROM segregs GROUP BY j),
      |sks AS (SELECT seg AS set_name,
      |    CAST(sum(1::BIGINT << (40 - m)) +
      |      (64 - count(*)) * (1::BIGINT << 40) AS BIGINT) AS s_scaled,
      |    CAST(64 - count(*) AS BIGINT) AS v_empty
      |  FROM segregs GROUP BY seg
      |  UNION ALL
      |  SELECT 'union',
      |    CAST(sum(1::BIGINT << (40 - m)) +
      |      (64 - count(*)) * (1::BIGINT << 40) AS BIGINT),
      |    CAST(64 - count(*) AS BIGINT)
      |  FROM uregs),
      |est AS (SELECT *,
      |    (709 * 4096 * 1099511627776) // (1000 * s_scaled) AS raw
      |  FROM sks),
      |estc AS (SELECT set_name, s_scaled, v_empty,
      |    CASE WHEN v_empty > 0 AND raw < 160
      |      THEN CAST(floor(64 * ln(64.0 / v_empty)) AS BIGINT)
      |      ELSE raw END AS n_approx
      |  FROM est),
      |ia AS (SELECT 'intersect' AS set_name, 0::BIGINT AS s_scaled,
      |    0::BIGINT AS v_empty,
      |    CAST((SELECT n_approx FROM estc WHERE set_name = 'O') +
      |      (SELECT n_approx FROM estc WHERE set_name = 'F') -
      |      (SELECT n_approx FROM estc WHERE set_name = 'union')
      |      AS BIGINT) AS n_approx),
      |allsets AS (SELECT * FROM estc UNION ALL SELECT * FROM ia),
      |flags AS (SELECT o_custkey,
      |    max(CASE WHEN seg = 'O' THEN 1 ELSE 0 END) AS ho,
      |    max(CASE WHEN seg = 'F' THEN 1 ELSE 0 END) AS hf
      |  FROM base GROUP BY o_custkey),
      |ex AS (SELECT CAST(sum(ho) AS BIGINT) AS no,
      |    CAST(sum(hf) AS BIGINT) AS nf,
      |    CAST(count(*) AS BIGINT) AS nu,
      |    CAST(sum(ho * hf) AS BIGINT) AS ni FROM flags),
      |ext AS (SELECT 'O' AS set_name, no AS n_exact FROM ex
      |  UNION ALL SELECT 'F', nf FROM ex
      |  UNION ALL SELECT 'union', nu FROM ex
      |  UNION ALL SELECT 'intersect', ni FROM ex)
      |SELECT a.set_name, a.s_scaled, a.v_empty, a.n_approx, e.n_exact
      |FROM allsets a JOIN ext e USING (set_name)""".stripMargin

  /** Per-user 3σ anomaly detection over the event stream with the
    * z-score cut computed ENTIRELY in integer space: |x − μ| > 3σ
    * ⇔ (c·n − s)² > 9·(n·q − s²) where (n, s, q) are the user's
    * exact BIGINT count/sum/sum-of-squares of value cents — both
    * engines compare identical integers, where a float z-score's
    * division/sqrt would drift at the boundary (the q45 exact-moments
    * discipline applied to outlier FLAGGING). One user-keyed window
    * pass; users with < 20 events are skipped (no stable baseline).
    * Magnitude audit: |c| ≤ ~6e4 at sf0.1 ⇒ (c·n − s)² ≤ ~1.4e13 —
    * five orders below BIGINT overflow even at 100× the per-user
    * event count. */
  val e12_outliers: QFn = (s, d) => {
    val wU = Window.partitionBy("user_id")
    t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("n", count(lit(1)).over(wU))
      .withColumn("sc", sum(col("cents")).over(wU))
      .withColumn("q", sum(col("cents") * col("cents")).over(wU))
      .filter(col("n") >= 20 &&
        (col("cents") * col("n") - col("sc")) *
          (col("cents") * col("n") - col("sc")) >
          (col("n") * col("q") - col("sc") * col("sc")) * 9)
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n").cast("long").as("n_user"),
        expr("CAST((2 * 1000 * sc + n) DIV (2 * n) AS BIGINT)")
          .as("mean_millicents"))
  }

  val e12_sql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |w AS (SELECT user_id, event_id, cents,
      |    count(*) OVER (PARTITION BY user_id) AS n,
      |    sum(cents) OVER (PARTITION BY user_id) AS s,
      |    sum(cents * cents) OVER (PARTITION BY user_id) AS q
      |  FROM e)
      |SELECT user_id, event_id, cents, CAST(n AS BIGINT) AS n_user,
      |  CAST((2 * 1000 * s + n) // (2 * n) AS BIGINT) AS mean_millicents
      |FROM w WHERE n >= 20 AND
      |  (cents * n - s) * (cents * n - s) > (n * q - s * s) * 9""".stripMargin

  /** SEASONAL-baseline anomaly profile — e12's exact integer z-cut
    * judged against the right reference class: each event compares to
    * its (event_type, hour-of-day) cohort, not its user's global
    * stream (the 3 a.m. spend that is normal at 3 p.m.). Two-level
    * shape a 100 TB monitor wants: one map-side-combining moment
    * aggregate to a |types|·24-row profile, broadcast back onto a
    * second scan for the flag count — no window ever touches the
    * event stream, both aggregates collapse map-side, and the output
    * is profile-sized. The 3σ cut is the exact BIGINT
    * cross-multiplication (x·n − s)² > 9·(n·q − s²); the profile
    * mean is millicents via the integer HALF_UP idiom. */
  val e15_seasonal_profile: QFn = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val prof = ev.groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"),
        sum(col("cents") * col("cents")).as("q"))
    ev.join(broadcast(prof), Seq("event_type", "hr"))
      .groupBy("event_type", "hr")
      .agg(min("n").as("n"),
        min(expr("CAST((2 * 1000 * sc + n) DIV (2 * n) AS BIGINT)"))
          .as("mean_millicents"),
        sum(when((col("cents") * col("n") - col("sc")) *
          (col("cents") * col("n") - col("sc")) >
          (col("n") * col("q") - col("sc") * col("sc")) * 9, 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  val e15_sql: String =
    """WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |p AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS sc,
      |    CAST(sum(cents * cents) AS BIGINT) AS q
      |  FROM e GROUP BY 1, 2)
      |SELECT e.event_type, e.hr, min(n) AS n,
      |  CAST(min((2 * 1000 * sc + n) // (2 * n)) AS BIGINT)
      |    AS mean_millicents,
      |  CAST(sum(CASE WHEN (cents * n - sc) * (cents * n - sc) >
      |    (n * q - sc * sc) * 9 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM e JOIN p ON e.event_type = p.event_type AND e.hr = p.hr
      |GROUP BY 1, 2""".stripMargin

  /** First-order Markov transition matrix over user event streams —
    * the behavioral-pathing aggregate (which action follows which):
    * per-user lag over the (ms, event_id) total order gives
    * transition pairs, one hash aggregate counts them, and row
    * probabilities are HALF_UP integer ppm against a broadcast
    * |types|-row marginal. Scale shape: ONE user-keyed Exchange+Sort
    * (the lag window) feeding a |types|²-bounded aggregate — the
    * shuffle after the window carries at most |types|² rows per
    * partition thanks to partial aggregation. */
  val q58_markov: QFn = (s, d) => {
    val wU = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val trans = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(wU))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val tot = trans.groupBy("prev").agg(sum("n").as("tot"))
    trans.join(broadcast(tot), "prev")
      .select(col("prev"), col("next"), col("n"),
        expr("CAST((2 * 1000000 * n + tot) DIV (2 * tot) AS BIGINT)")
          .as("p_ppm"))
  }

  val q58_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    event_type FROM events),
      |l AS (SELECT event_type AS next, lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ms, event_id) AS prev
      |  FROM e),
      |tr AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS n
      |  FROM l WHERE prev IS NOT NULL GROUP BY prev, next),
      |tot AS MATERIALIZED (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM tr
      |  GROUP BY prev)
      |SELECT tr.prev, tr.next, tr.n,
      |  CAST((2 * 1000000 * tr.n + tot.tot) // (2 * tot.tot) AS BIGINT)
      |    AS p_ppm
      |FROM tr JOIN tot ON tr.prev = tot.prev""".stripMargin

  /** Sorting-strategy comparison matrix — the reference's member-
    * ordering research (research/sort_members/sort.py) as one
    * distributed query, covering ALL of sort.py's active candidate
    * orderings per group: rank desc ('R'); interest-score desc
    * ('I'); score·log(rank+1) desc ('I*log(R)', sort.py:52-53);
    * length-then-rank ('len,rank'); the two-segment rank-threshold
    * split ('4' — sort.py cuts at rank 100000, here 91000 cents so
    * the cut straddles the fixture price range at every SF);
    * log(rank+1)/len desc and log(rank+1)/max(len,8|10) desc
    * (sort.py:91-103). Each is scored by Spearman ρ against BOTH
    * baselines (R and len,rank) plus sort.py's harmonic-mean
    * combination harmonic(ρ_a+1, ρ_b+1) − 1.
    *
    * Determinism: the pure orderings use exact integer keys (price
    * cents, size, name length) with a unique tiebreak. The log-
    * family keys are base-INVARIANT orderings (a log base only
    * scales every key by 1/ln(base) — sort.py's base=1e10 for
    * I*log(R), base=2 for the len family — so ln gives the same
    * permutation); each rounds to an integer NANO-unit BIGINT (the
    * q60 discipline: ln of a rational never terminates in decimal,
    * so the nano round cannot hit the exact-tie trap) before the
    * rank window, so every rank is still an integer permutation and
    * every ρ an exact rational → sign-aware HALF_UP ppm, hash-exact
    * cross-engine (sort.py's float spearmanr can tie at any
    * rounding digit). Scale shape: the eight row_number windows
    * share ONE group Exchange (eight sorts, zero extra shuffles),
    * the Σd² aggregate collapses map-side, and the 8-row-per-group
    * unpivot runs on |groups| rows.
    *
    * BOTH metrics are reported: full-group ρ (columns rho_*_ppm —
    * the permutation metric) AND sort.py's ACTUAL `spear_sorting`
    * prefix metric (sort.py:19-20; columns rho30_*_ppm): scipy's
    * spearmanr over the [:30] NAME-LIST prefixes of the two
    * orderings, i.e. pair position i of ordering A with position i
    * of B, rank each prefix's names LEXICOGRAPHICALLY (scipy
    * rankdata over strings; ties → average ranks, carried exactly
    * as 2·avgrank = 2·rank() + count(=) − 1), Pearson over the
    * paired rank vectors. With ties the value is num/√(dx·dy) — not
    * rational in general, but EXACTLY rational in the common no-tie
    * case (where dx = dy) — so the ppm rounding is done in integer
    * space: a double gives the candidate c ≈ ⌊10⁶·|num|/√D⌋, exact
    * 128-bit-decimal comparisons (c²D ≤ N², HALF_UP test
    * 4N² ≥ (2c+1)²D) pin it — no float ever reaches the hash.
    * combined30_ppm is sort.py's printed harmonic_mean(a+1,b+1)−1
    * over the PREFIX ρs (its actual ranking number). Zero-variance
    * prefixes (all names equal) → NULL, matching scipy's nan.
    * Scale shape: the prefix table is ≤ 8·30 rows per group
    * regardless of group size; `ranked` feeds the full-group AND
    * prefix branches, so it is persisted + counted (house rule). */
  val q59_sort_compare: QFn = (s, d) => {
    val g = col("p_brand")
    def w(cols: Column*) =
      Window.partitionBy(g).orderBy(cols: _*)
    val p = t(s, d, "part").select(
        g, col("p_partkey"), col("p_name"),
        round(col("p_retailprice") * 100, 0).cast("long").as("rank_c"),
        col("p_size").cast("long").as("score"),
        length(col("p_name")).cast("long").as("len"))
      .withColumn("k_ilogr",
        expr("CAST(round(score * ln(rank_c + 1) * 1e9) AS BIGINT)"))
      .withColumn("k_loglen",
        expr("CAST(round(ln(rank_c + 1) / len * 1e9) AS BIGINT)"))
      .withColumn("k_logm8", expr(
        "CAST(round(ln(rank_c + 1) / greatest(len, 8) * 1e9)" +
          " AS BIGINT)"))
      .withColumn("k_logm10", expr(
        "CAST(round(ln(rank_c + 1) / greatest(len, 10) * 1e9)" +
          " AS BIGINT)"))
    val lessFlag = when(col("rank_c") < 91000L, 1L).otherwise(0L)
    val splitKey = when(lessFlag === 0L, -col("score"))
      .otherwise(-col("rank_c"))
    val ranked0 = p.select(g, col("p_name"),
      row_number().over(w(col("rank_c").desc, col("p_partkey")))
        .cast("long").as("r_rank"),
      row_number().over(w(col("len"), col("rank_c").desc,
        col("p_partkey"))).cast("long").as("r_lenrank"),
      row_number().over(w(col("score").desc, col("p_partkey")))
        .cast("long").as("r_score"),
      row_number().over(w(lessFlag, splitKey, col("p_partkey")))
        .cast("long").as("r_split"),
      row_number().over(w(col("k_ilogr").desc, col("p_partkey")))
        .cast("long").as("r_ilogr"),
      row_number().over(w(col("k_loglen").desc, col("p_partkey")))
        .cast("long").as("r_loglen"),
      row_number().over(w(col("k_logm8").desc, col("p_partkey")))
        .cast("long").as("r_logm8"),
      row_number().over(w(col("k_logm10").desc, col("p_partkey")))
        .cast("long").as("r_logm10"))
    // feeds the full-group Σd² branch AND the [:30] prefix branch —
    // persist + count before the fan-out (house rule)
    val ranked = ranked0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked.count()
    def d2(a: String, b: String): Column =
      sum((col(a) - col(b)) * (col(a) - col(b)))
    val agg = ranked.groupBy(g).agg(
      count(lit(1)).as("n"),
      d2("r_score", "r_rank").as("d_i_r"),
      d2("r_score", "r_lenrank").as("d_i_lr"),
      d2("r_lenrank", "r_rank").as("d_lr_r"),
      d2("r_split", "r_rank").as("d_s_r"),
      d2("r_split", "r_lenrank").as("d_s_lr"),
      d2("r_ilogr", "r_rank").as("d_il_r"),
      d2("r_ilogr", "r_lenrank").as("d_il_lr"),
      d2("r_loglen", "r_rank").as("d_ll_r"),
      d2("r_loglen", "r_lenrank").as("d_ll_lr"),
      d2("r_logm8", "r_rank").as("d_m8_r"),
      d2("r_logm8", "r_lenrank").as("d_m8_lr"),
      d2("r_logm10", "r_rank").as("d_m10_r"),
      d2("r_logm10", "r_lenrank").as("d_m10_lr"))
      .filter(col("n") >= 2)
    val rows = agg.select(g, col("n"), expr(
      """stack(8,
        |  'R',        CAST(0 AS BIGINT), d_lr_r,
        |  'I',        d_i_r,  d_i_lr,
        |  'I_logR',   d_il_r, d_il_lr,
        |  'len_rank', d_lr_r, CAST(0 AS BIGINT),
        |  'split',    d_s_r,  d_s_lr,
        |  'logR_len', d_ll_r, d_ll_lr,
        |  'logR_maxlen8',  d_m8_r,  d_m8_lr,
        |  'logR_maxlen10', d_m10_r, d_m10_lr)
        |  AS (sorting, d2a, d2b)""".stripMargin))
    def rho(dc: String): String =
      s"""CASE WHEN n*(n*n-1) - 6*$dc >= 0
         |  THEN (2*1000000*(n*(n*n-1) - 6*$dc) + n*(n*n-1))
         |    DIV (2*n*(n*n-1))
         |  ELSE -((2*1000000*(6*$dc - n*(n*n-1)) + n*(n*n-1))
         |    DIV (2*n*(n*n-1))) END""".stripMargin
    val full = rows
      .withColumn("rho_rank_ppm", expr(rho("d2a")))
      .withColumn("rho_lenrank_ppm", expr(rho("d2b")))
      .select(g, col("sorting"), col("n"),
        col("rho_rank_ppm"), col("rho_lenrank_ppm"),
        expr("""CASE WHEN rho_rank_ppm + rho_lenrank_ppm
          |    + 2000000 > 0
          |  THEN (2*(2*(rho_rank_ppm + 1000000)
          |      *(rho_lenrank_ppm + 1000000))
          |      + (rho_rank_ppm + rho_lenrank_ppm + 2000000))
          |    DIV (2*(rho_rank_ppm + rho_lenrank_ppm + 2000000))
          |    - 1000000
          |  ELSE -1000000 END""".stripMargin).as("combined_ppm"))
    // --- sort.py's spear_sorting [:30] prefix metric -------------
    // long-form prefix table: position i of each ordering's first 30.
    // Pre-filter on least(all eight ranks) so the 8-way stack fans
    // out over prefix member rows only (≤ 8·30 per group), never the
    // whole table — the row-local cut that keeps this branch O(|groups|)
    // at any corpus size
    val inAnyPrefix = least(col("r_rank"), col("r_score"),
      col("r_ilogr"), col("r_lenrank"), col("r_split"),
      col("r_loglen"), col("r_logm8"), col("r_logm10")) <= 30
    val prefix = ranked.filter(inAnyPrefix)
      .select(g, col("p_name"), expr(
      """stack(8,
        |  'R',             r_rank,
        |  'I',             r_score,
        |  'I_logR',        r_ilogr,
        |  'len_rank',      r_lenrank,
        |  'split',         r_split,
        |  'logR_len',      r_loglen,
        |  'logR_maxlen8',  r_logm8,
        |  'logR_maxlen10', r_logm10) AS (sorting, pos)"""
        .stripMargin))
      .filter(col("pos") <= 30)
    // scipy rankdata over the prefix's NAMES: lexicographic, ties →
    // average rank, carried exactly as 2·avgrank = 2·rank + cnt − 1
    val wLex = Window.partitionBy(g, col("sorting"))
      .orderBy(col("p_name"))
    val wEq = Window.partitionBy(g, col("sorting"), col("p_name"))
    val withX = prefix.withColumn("x2",
      (lit(2L) * rank().over(wLex) + count(lit(1)).over(wEq) - 1L)
        .cast("long"))
    val base30 = withX
      .filter(col("sorting").isin("R", "len_rank"))
      .select(g, col("sorting").as("baseline"), col("pos"),
        col("x2").as("y2"))
    val mom = withX.join(base30, Seq("p_brand", "pos"))
      .groupBy(g, col("sorting"), col("baseline"))
      .agg(count(lit(1)).as("m"),
        sum(col("x2") * col("y2")).as("sxy"),
        sum(col("x2") * col("x2")).as("sxx"),
        sum(col("y2") * col("y2")).as("syy"),
        sum(col("x2")).as("sx"), sum(col("y2")).as("sy"))
      .withColumn("num",
        col("m") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("m") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("m") * col("syy") - col("sy") * col("sy"))
    // ppm of num/√(dx·dy), HALF_UP, EXACT: double proposes
    // c ≈ ⌊10⁶·|num|/√D⌋, 128-bit-decimal comparisons pin floor and
    // the half-point (c²D ≤ N² picks floor; 4N² ≥ (2c+1)²D rounds up)
    val rho30 = expr(
      """CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(NULL AS BIGINT)
        |ELSE CAST(sign(num) AS BIGINT) * (
        |  CASE WHEN 4 * CAST(1000000 * abs(num) AS DECIMAL(14,0))
        |           * CAST(1000000 * abs(num) AS DECIMAL(14,0))
        |      >= CAST(2 * c30 + 1 AS DECIMAL(8,0))
        |       * CAST(2 * c30 + 1 AS DECIMAL(8,0))
        |       * CAST(dx * dy AS DECIMAL(14,0))
        |    THEN c30 + 1 ELSE c30 END) END""".stripMargin)
    val c30 = expr(
      """c0
        |+ (CASE WHEN CAST(c0 + 1 AS DECIMAL(8,0))
        |       * CAST(c0 + 1 AS DECIMAL(8,0))
        |       * CAST(dx * dy AS DECIMAL(14,0))
        |    <= CAST(1000000 * abs(num) AS DECIMAL(14,0))
        |     * CAST(1000000 * abs(num) AS DECIMAL(14,0))
        |  THEN 1 ELSE 0 END)
        |- (CASE WHEN CAST(c0 AS DECIMAL(8,0))
        |       * CAST(c0 AS DECIMAL(8,0))
        |       * CAST(dx * dy AS DECIMAL(14,0))
        |    > CAST(1000000 * abs(num) AS DECIMAL(14,0))
        |     * CAST(1000000 * abs(num) AS DECIMAL(14,0))
        |  THEN 1 ELSE 0 END)""".stripMargin)
    val rhoP = mom
      .withColumn("c0", expr(
        """CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor((1000000.0 * abs(num))
          |  / sqrt(CAST(dx * dy AS DOUBLE))) AS BIGINT) END"""
          .stripMargin))
      .withColumn("c30", c30)
      .withColumn("rho30", rho30)
    val pivot30 = rhoP.groupBy(g, col("sorting"))
      .agg(min("m").as("prefix_m"),
        min(when(col("baseline") === "R", col("rho30")))
          .as("rho30_rank_ppm"),
        min(when(col("baseline") === "len_rank", col("rho30")))
          .as("rho30_lenrank_ppm"))
    full.join(pivot30, Seq("p_brand", "sorting"))
      .withColumn("combined30_ppm",
        expr("""CASE
          |  WHEN rho30_rank_ppm IS NULL
          |    OR rho30_lenrank_ppm IS NULL THEN CAST(NULL AS BIGINT)
          |  WHEN rho30_rank_ppm + rho30_lenrank_ppm + 2000000 > 0
          |  THEN (2*(2*(rho30_rank_ppm + 1000000)
          |      *(rho30_lenrank_ppm + 1000000))
          |      + (rho30_rank_ppm + rho30_lenrank_ppm + 2000000))
          |    DIV (2*(rho30_rank_ppm + rho30_lenrank_ppm + 2000000))
          |    - 1000000
          |  ELSE -1000000 END""".stripMargin))
  }

  val q59_sql: String = {
    def rho(dc: String): String =
      s"""CASE WHEN n*(n*n-1) - 6*$dc >= 0
         | THEN (2*1000000*(n*(n*n-1) - 6*$dc) + n*(n*n-1))
         |   // (2*n*(n*n-1))
         | ELSE -((2*1000000*(6*$dc - n*(n*n-1)) + n*(n*n-1))
         |   // (2*n*(n*n-1))) END""".stripMargin
    s"""WITH p0 AS (SELECT p_brand, p_partkey, p_name,
       |    CAST(round(p_retailprice * 100, 0) AS BIGINT) AS rank_c,
       |    CAST(p_size AS BIGINT) AS score,
       |    CAST(length(p_name) AS BIGINT) AS len
       |  FROM part),
       |p AS (SELECT *,
       |    CAST(round(score * ln(rank_c + 1) * 1e9) AS BIGINT)
       |      AS k_ilogr,
       |    CAST(round(ln(rank_c + 1) / len * 1e9) AS BIGINT)
       |      AS k_loglen,
       |    CAST(round(ln(rank_c + 1) / greatest(len, 8) * 1e9)
       |      AS BIGINT) AS k_logm8,
       |    CAST(round(ln(rank_c + 1) / greatest(len, 10) * 1e9)
       |      AS BIGINT) AS k_logm10
       |  FROM p0),
       |r AS (SELECT p_brand, p_name,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY rank_c DESC, p_partkey) AS BIGINT) AS r_rank,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY len, rank_c DESC, p_partkey) AS BIGINT)
       |      AS r_lenrank,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY score DESC, p_partkey) AS BIGINT) AS r_score,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY CASE WHEN rank_c < 91000 THEN 1 ELSE 0 END,
       |        CASE WHEN rank_c < 91000 THEN -rank_c
       |          ELSE -score END, p_partkey) AS BIGINT) AS r_split,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY k_ilogr DESC, p_partkey) AS BIGINT) AS r_ilogr,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY k_loglen DESC, p_partkey) AS BIGINT)
       |      AS r_loglen,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY k_logm8 DESC, p_partkey) AS BIGINT) AS r_logm8,
       |    CAST(row_number() OVER (PARTITION BY p_brand
       |      ORDER BY k_logm10 DESC, p_partkey) AS BIGINT)
       |      AS r_logm10
       |  FROM p),
       |a AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum((r_score-r_rank)*(r_score-r_rank)) AS BIGINT)
       |      AS d_i_r,
       |    CAST(sum((r_score-r_lenrank)*(r_score-r_lenrank))
       |      AS BIGINT) AS d_i_lr,
       |    CAST(sum((r_lenrank-r_rank)*(r_lenrank-r_rank))
       |      AS BIGINT) AS d_lr_r,
       |    CAST(sum((r_split-r_rank)*(r_split-r_rank)) AS BIGINT)
       |      AS d_s_r,
       |    CAST(sum((r_split-r_lenrank)*(r_split-r_lenrank))
       |      AS BIGINT) AS d_s_lr,
       |    CAST(sum((r_ilogr-r_rank)*(r_ilogr-r_rank)) AS BIGINT)
       |      AS d_il_r,
       |    CAST(sum((r_ilogr-r_lenrank)*(r_ilogr-r_lenrank))
       |      AS BIGINT) AS d_il_lr,
       |    CAST(sum((r_loglen-r_rank)*(r_loglen-r_rank)) AS BIGINT)
       |      AS d_ll_r,
       |    CAST(sum((r_loglen-r_lenrank)*(r_loglen-r_lenrank))
       |      AS BIGINT) AS d_ll_lr,
       |    CAST(sum((r_logm8-r_rank)*(r_logm8-r_rank)) AS BIGINT)
       |      AS d_m8_r,
       |    CAST(sum((r_logm8-r_lenrank)*(r_logm8-r_lenrank))
       |      AS BIGINT) AS d_m8_lr,
       |    CAST(sum((r_logm10-r_rank)*(r_logm10-r_rank)) AS BIGINT)
       |      AS d_m10_r,
       |    CAST(sum((r_logm10-r_lenrank)*(r_logm10-r_lenrank))
       |      AS BIGINT) AS d_m10_lr
       |  FROM r GROUP BY p_brand HAVING count(*) >= 2),
       |u AS (
       |  SELECT p_brand, n, 'R' AS sorting,
       |    CAST(0 AS BIGINT) AS d2a, d_lr_r AS d2b FROM a
       |  UNION ALL SELECT p_brand, n, 'I', d_i_r, d_i_lr FROM a
       |  UNION ALL SELECT p_brand, n, 'I_logR', d_il_r, d_il_lr
       |    FROM a
       |  UNION ALL SELECT p_brand, n, 'len_rank', d_lr_r,
       |    CAST(0 AS BIGINT) FROM a
       |  UNION ALL SELECT p_brand, n, 'split', d_s_r, d_s_lr
       |    FROM a
       |  UNION ALL SELECT p_brand, n, 'logR_len', d_ll_r, d_ll_lr
       |    FROM a
       |  UNION ALL SELECT p_brand, n, 'logR_maxlen8', d_m8_r,
       |    d_m8_lr FROM a
       |  UNION ALL SELECT p_brand, n, 'logR_maxlen10', d_m10_r,
       |    d_m10_lr FROM a),
       |rr AS (SELECT p_brand, sorting, n,
       |    CAST(${rho("d2a")} AS BIGINT) AS rho_rank_ppm,
       |    CAST(${rho("d2b")} AS BIGINT) AS rho_lenrank_ppm
       |  FROM u),
       |pf AS (
       |  SELECT p_brand, p_name, 'R' AS sorting, r_rank AS pos
       |    FROM r WHERE r_rank <= 30
       |  UNION ALL SELECT p_brand, p_name, 'I', r_score
       |    FROM r WHERE r_score <= 30
       |  UNION ALL SELECT p_brand, p_name, 'I_logR', r_ilogr
       |    FROM r WHERE r_ilogr <= 30
       |  UNION ALL SELECT p_brand, p_name, 'len_rank', r_lenrank
       |    FROM r WHERE r_lenrank <= 30
       |  UNION ALL SELECT p_brand, p_name, 'split', r_split
       |    FROM r WHERE r_split <= 30
       |  UNION ALL SELECT p_brand, p_name, 'logR_len', r_loglen
       |    FROM r WHERE r_loglen <= 30
       |  UNION ALL SELECT p_brand, p_name, 'logR_maxlen8', r_logm8
       |    FROM r WHERE r_logm8 <= 30
       |  UNION ALL SELECT p_brand, p_name, 'logR_maxlen10',
       |    r_logm10 FROM r WHERE r_logm10 <= 30),
       |px AS (SELECT p_brand, sorting, pos,
       |    CAST(2 * rank() OVER (PARTITION BY p_brand, sorting
       |        ORDER BY p_name)
       |      + count(*) OVER (PARTITION BY p_brand, sorting, p_name)
       |      - 1 AS BIGINT) AS x2
       |  FROM pf),
       |pb AS (SELECT p_brand, sorting AS baseline, pos, x2 AS y2
       |  FROM px WHERE sorting IN ('R', 'len_rank')),
       |pm AS (SELECT px.p_brand, px.sorting, pb.baseline,
       |    CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(px.x2 * pb.y2) AS BIGINT) AS sxy,
       |    CAST(sum(px.x2 * px.x2) AS BIGINT) AS sxx,
       |    CAST(sum(pb.y2 * pb.y2) AS BIGINT) AS syy,
       |    CAST(sum(px.x2) AS BIGINT) AS sx,
       |    CAST(sum(pb.y2) AS BIGINT) AS sy
       |  FROM px JOIN pb ON px.p_brand = pb.p_brand
       |    AND px.pos = pb.pos
       |  GROUP BY 1, 2, 3),
       |pn AS (SELECT *, m * sxy - sx * sy AS num,
       |    m * sxx - sx * sx AS dx, m * syy - sy * sy AS dy
       |  FROM pm),
       |pc0 AS (SELECT *, CASE WHEN dx <= 0 OR dy <= 0 THEN 0
       |    ELSE CAST(floor((1000000.0 * abs(num))
       |      / sqrt(CAST(dx * dy AS DOUBLE))) AS BIGINT) END AS c0
       |  FROM pn),
       |pcc AS (SELECT *, c0
       |    + (CASE WHEN CAST(c0 + 1 AS HUGEINT) * (c0 + 1)
       |          * (dx * dy)
       |        <= CAST(1000000 * abs(num) AS HUGEINT)
       |          * (1000000 * abs(num))
       |      THEN 1 ELSE 0 END)
       |    - (CASE WHEN CAST(c0 AS HUGEINT) * c0 * (dx * dy)
       |        > CAST(1000000 * abs(num) AS HUGEINT)
       |          * (1000000 * abs(num))
       |      THEN 1 ELSE 0 END) AS c
       |  FROM pc0),
       |prho AS (SELECT p_brand, sorting, baseline, m,
       |    CASE WHEN dx <= 0 OR dy <= 0 THEN NULL
       |      ELSE CAST(sign(num) AS BIGINT) * (
       |        CASE WHEN 4 * CAST(1000000 * abs(num) AS HUGEINT)
       |                * (1000000 * abs(num))
       |            >= CAST(2 * c + 1 AS HUGEINT) * (2 * c + 1)
       |              * (dx * dy)
       |          THEN c + 1 ELSE c END) END AS rho30
       |  FROM pcc),
       |p30 AS (SELECT p_brand, sorting,
       |    CAST(min(m) AS BIGINT) AS prefix_m,
       |    CAST(min(CASE WHEN baseline = 'R' THEN rho30 END)
       |      AS BIGINT) AS rho30_rank_ppm,
       |    CAST(min(CASE WHEN baseline = 'len_rank' THEN rho30 END)
       |      AS BIGINT) AS rho30_lenrank_ppm
       |  FROM prho GROUP BY 1, 2)
       |SELECT rr.p_brand, rr.sorting, n, rho_rank_ppm,
       |  rho_lenrank_ppm,
       |  CAST(CASE WHEN rho_rank_ppm + rho_lenrank_ppm
       |      + 2000000 > 0
       |    THEN (2*(2*(rho_rank_ppm + 1000000)
       |        *(rho_lenrank_ppm + 1000000))
       |        + (rho_rank_ppm + rho_lenrank_ppm + 2000000))
       |      // (2*(rho_rank_ppm + rho_lenrank_ppm + 2000000))
       |      - 1000000
       |    ELSE -1000000 END AS BIGINT) AS combined_ppm,
       |  prefix_m, rho30_rank_ppm, rho30_lenrank_ppm,
       |  CAST(CASE
       |    WHEN rho30_rank_ppm IS NULL
       |      OR rho30_lenrank_ppm IS NULL THEN NULL
       |    WHEN rho30_rank_ppm + rho30_lenrank_ppm + 2000000 > 0
       |    THEN (2*(2*(rho30_rank_ppm + 1000000)
       |        *(rho30_lenrank_ppm + 1000000))
       |        + (rho30_rank_ppm + rho30_lenrank_ppm + 2000000))
       |      // (2*(rho30_rank_ppm + rho30_lenrank_ppm + 2000000))
       |      - 1000000
       |    ELSE -1000000 END AS BIGINT) AS combined30_ppm
       |FROM rr JOIN p30 ON rr.p_brand = p30.p_brand
       |  AND rr.sorting = p30.sorting""".stripMargin
  }

  /** Per-user lag-1 autocorrelation of spend — the behavioral-
    * persistence metric (does a big event predict the next one):
    * adjacent-event value pairs over the (ms, event_id) total order,
    * then Pearson via EXACT BIGINT moments (the q45 discipline —
    * count/sums/cross-moments are order-independent integers, the
    * one float step is the final sqrt quotient, deterministic
    * cross-engine from identical integer inputs; zero-variance
    * groups are filtered on the exact integer moments, not a float
    * epsilon). Users below 20 pairs drop. Scale shape: ONE
    * user-keyed Exchange+Sort (the lag window) feeding a per-user
    * aggregate that collapses map-side — six numbers per user
    * regardless of event count. */
  val e13_autocorr: QFn = (s, d) => {
    val wU = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val pairs = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .withColumn("prev", lag("c", 1).over(wU))
      .filter(col("prev").isNotNull)
    val m = pairs.groupBy("user_id").agg(count(lit(1)).as("n"),
      sum("prev").as("sx"), sum("c").as("sy"),
      sum(col("prev") * col("c")).as("sxy"),
      sum(col("prev") * col("prev")).as("sxx"),
      sum(col("c") * col("c")).as("syy"))
      .filter(col("n") >= 20 &&
        col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
    m.select(col("user_id"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")) *
         sqrt((col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double"))), 6).as("autocorr"))
  }

  val e13_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(round(value * 100, 0) AS BIGINT) AS c
      |  FROM events),
      |l AS (SELECT user_id, c, lag(c) OVER (PARTITION BY user_id
      |    ORDER BY ms, event_id) AS prev FROM e),
      |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(prev) AS BIGINT) AS sx,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(prev * c) AS BIGINT) AS sxy,
      |    CAST(sum(prev * prev) AS BIGINT) AS sxx,
      |    CAST(sum(c * c) AS BIGINT) AS syy
      |  FROM l WHERE prev IS NOT NULL GROUP BY user_id
      |  HAVING count(*) >= 20)
      |SELECT user_id, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS autocorr
      |FROM m
      |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"""
      .stripMargin

  /** Offline changepoint detection (AMOC / offline-CUSUM, public
    * method): per user, find the split point k that maximizes the
    * CUSUM deviation |n·S_k − k·S_n| over the spend sequence — the
    * classic "where did this series change level" statistic a
    * pipeline monitor runs over per-source quality or volume series.
    * Everything stays in EXACT integers: values are cents, the CUSUM
    * score is a BIGINT (so the argmax is engine-identical, tie → the
    * earliest k), and the reported mean shift rounds 4-dp via the
    * sign-aware integer HALF_UP idiom (e03). Scale shape: one
    * user-keyed Exchange+Sort serves the ordered prefix sums AND the
    * per-user totals; the argmax is a second Sort on the SAME
    * partitioning (no new Exchange); output is |users| rows. */
  val e14_changepoint: QFn = (s, d) => {
    val wOrd = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val wAll = Window.partitionBy("user_id")
    val rows = t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("sk", sum("c").over(wOrd.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sn", sum("c").over(wAll))
      .filter(col("n") >= 20 && col("k") < col("n"))
      .withColumn("a", abs(col("n") * col("sk") - col("k") * col("sn")))
    val wPick = Window.partitionBy("user_id")
      .orderBy(col("a").desc, col("k").asc)
    val num = (col("sn") - col("sk")) * col("k") -
      col("sk") * (col("n") - col("k"))
    val den = col("k") * (col("n") - col("k"))
    rows.withColumn("r", row_number().over(wPick))
      .filter(col("r") === 1)
      .select(col("user_id"), col("n"), col("k").as("best_k"),
        col("a").as("cusum_abs"),
        (when(num >= 0,
          floor((num * 200 + den) / (den.cast("double") * 2)))
          .otherwise(-floor(((-num) * 200 + den) /
            (den.cast("double") * 2))) / 10000.0).as("shift"))
  }

  val e14_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
      |w AS (SELECT user_id, event_id, c,
      |    CAST(row_number() OVER wo AS BIGINT) AS k,
      |    CAST(sum(c) OVER wo AS BIGINT) AS sk,
      |    CAST(count(*) OVER wa AS BIGINT) AS n,
      |    CAST(sum(c) OVER wa AS BIGINT) AS sn
      |  FROM e WINDOW wo AS (PARTITION BY user_id ORDER BY ms,
      |    event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wa AS (PARTITION BY user_id)),
      |f AS (SELECT *, abs(n * sk - k * sn) AS a FROM w
      |  WHERE n >= 20 AND k < n),
      |p AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY a DESC, k ASC) AS r FROM f),
      |x AS (SELECT user_id, n, k, a,
      |    (sn - sk) * k - sk * (n - k) AS num, k * (n - k) AS den
      |  FROM p WHERE r = 1)
      |SELECT user_id, n, k AS best_k, a AS cusum_abs,
      |  CASE WHEN num >= 0
      |    THEN floor((num * 200 + den) / (den * 2.0))
      |    ELSE -floor((-(num) * 200 + den) / (den * 2.0))
      |  END / 10000.0 AS shift
      |FROM x""".stripMargin

  /** Zipf-fit corpus health check: ln-ln regression of frequency on
    * rank over the top-100 vocabulary — the one-row "does this corpus
    * look like natural language" statistic (a healthy corpus fits
    * slope ≈ −1; synthetic or template-heavy corpora flatten). The
    * bounded top-k flows through TakeOrderedAndProject and a 100-row
    * window on a NON-FOLDABLE constant key (t10's idiom); per-row
    * ln's round to milli-nat BIGINTs (never a tie — ln of an
    * integer ≥ 2 is irrational, rank 1 and freq 1 give exactly 0),
    * so the moment sums and the regression numerator/denominator are
    * exact integers and the slope is a sign-aware integer-HALF_UP
    * milli unit. Milli (not micro) keeps every product inside
    * BIGINT; the signal needs 2-3 significant digits. */
  val t17_zipf_fit: QFn = (s, d) => {
    val freq = TextFunctions.shinglePostings(t(s, d, "documents"),
      "doc_id", "text", 1, distinct = false)
      .groupBy(col("shingle").as("term"))
      .agg(count(lit(1)).as("freq"))
    val top = freq.orderBy(col("freq").desc, col("term").asc)
      .limit(100)
    val w = Window.partitionBy(substring(col("term"), 1, 0))
      .orderBy(col("freq").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xy = top
      .withColumn("r", count(lit(1)).over(w).cast("long"))
      .select(round(log(col("r")) * 1e3, 0).cast("long").as("x"),
        round(log(col("freq")) * 1e3, 0).cast("long").as("y"))
    val m = xy.agg(count(lit(1)).as("n_terms"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val num = col("n_terms") * col("sxy") - col("sx") * col("sy")
    val den = col("n_terms") * col("sxx") - col("sx") * col("sx")
    m.select(col("n_terms"), col("sx"), col("sy"), col("sxy"),
      col("sxx"),
      when(den === 0, 0L)
        .when(num >= 0,
          floor((num * 2000 + den) / (den.cast("double") * 2)))
        .otherwise(-floor(((-num) * 2000 + den) /
          (den.cast("double") * 2)))
        .cast("long").as("slope_milli"))
  }

  val t17_sql: String =
    """WITH toks AS (SELECT list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS t FROM documents),
      |f AS (SELECT term, count(*) AS freq FROM (
      |    SELECT unnest(t) AS term FROM toks) GROUP BY term),
      |top AS (SELECT term, freq FROM f
      |  ORDER BY freq DESC, term LIMIT 100),
      |rk AS (SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC,
      |    term) AS BIGINT) AS r FROM top),
      |xy AS (SELECT CAST(round(ln(r) * 1000, 0) AS BIGINT) AS x,
      |    CAST(round(ln(freq) * 1000, 0) AS BIGINT) AS y FROM rk),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
      |SELECT n_terms, sx, sy, sxy, sxx,
      |  CAST(CASE WHEN n_terms * sxx - sx * sx = 0 THEN 0
      |    WHEN n_terms * sxy - sx * sy >= 0
      |    THEN floor(((n_terms * sxy - sx * sy) * 2000 +
      |      (n_terms * sxx - sx * sx)) /
      |      ((n_terms * sxx - sx * sx) * 2.0))
      |    ELSE -floor((-(n_terms * sxy - sx * sy) * 2000 +
      |      (n_terms * sxx - sx * sx)) /
      |      ((n_terms * sxx - sx * sx) * 2.0))
      |  END AS BIGINT) AS slope_milli
      |FROM m""".stripMargin

  /** Multi-field weighted search scoring — the reference's actual
    * serving semantics (the ES LTR_QUERY, compare_window_sizes.py:
    * 22-31: `most_fields` BM25 over SIX boosted text fields plus
    * additive `rank_feature` saturation boosts) re-expressed as a
    * Spark batch ranker, field-for-field:
    *
    *   - `name`  (collection_name^3): first 8 lowercase tokens
    *   - `exact` (collection_name.exact^3): first 8 RAW tokens —
    *     the stricter no-lowercase analyzer of an `.exact`
    *     subfield; a doc token matches only case-identically
    *   - `desc`  (collection_description): all lowercase tokens
    *   - `kw`    (collection_keywords^2): the doc's keyword set =
    *     terms with in-doc tf ≥ 3; ES keyword fields carry
    *     `norms: false`, so BM25 degenerates to boost·idf
    *     (tf = 1, no length normalization) — modeled exactly
    *   - `norm`  (names.normalized_name): tokens with
    *     non-alphanumerics stripped (the normalizing analyzer)
    *   - `tok`   (names.tokenized_name): tokens re-split on
    *     non-alphanumeric boundaries (the sub-token analyzer)
    *   - `ph2`   (^2): adjacent-token 2-gram shingles — the
    *     standard ES phrase/shingle subfield, so multi-word
    *     queries reward adjacency (round-9 phrase matching)
    *
    * `most_fields` = the per-field BM25 scores SUM (Lucene BM25:
    * k1=1.2, b=0.75, idf = ln(1+(N−df+0.5)/(df+0.5)) — public
    * formula, Lucene docs); rank feature = n_chars saturation
    * boost·x/(x+pivot) (the collection_rank analog).
    *
    * Hash-stability: every PER-(field,term) contribution is rounded
    * to integer NANO-units before the per-(query,doc) sum, so the
    * score is an order-independent BIGINT sum; ln of the rational
    * idf ratio never terminates in decimal, so the nano round
    * cannot hit the exact-tie trap; ranking and top-10 use
    * (score_nano, doc_id) — a total order. Avg field lengths are
    * exact integer sums ÷ count so both engines derive identical
    * doubles.
    *
    * Scale shape: ONE analyzer pass per document emits the FINAL
    * per-doc postings — (field id, term id, tf) int structs,
    * kw included — so the per-(doc,field,term) aggregation happens
    * inside the expression against a ~100-slot counter array and no
    * token-level row ever reaches an Exchange (at 100 TB the
    * postings for 8 queries are bounded by |docs|×|vocab|, and only
    * vocabulary hits are emitted at all); df stats via a bounded
    * (fid,tid) aggregate broadcast back (≤ |fields|×|vocab| rows —
    * no window sort over the postings); corpus totals ride a scalar
    * broadcast cross join; all keys integer end-to-end (the string
    * (field, term) keys measurably dominated the shuffle/hash cost:
    * the synthetic vocabulary overlap makes ~60% of tokens query
    * hits); top-10 through the bounded-heap TopKBy aggregate
    * (|queries|×10 rows, no qid-window sort). */
  val q60_search_score: QFn = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graft.{ColumnBridge, SearchAnalyzeExpr}
    // The ENTIRE seven-field analysis is ONE codegen'd expression
    // (SearchAnalyzeExpr): a single tokenization of the document
    // yields every field length and the COMPLETE per-doc postings
    // as (fid, tid, tf) int structs — tokenization spec-pinned to
    // the declarative five-scan composition in Round13OpsSpec, and
    // this query's oracle/replay are unchanged. The query
    // vocabulary is a PLAN LITERAL (the query set is fixed at build
    // time). Field lengths are taken before the vocabulary filter,
    // so BM25 length norms are unchanged. The slim projection (five
    // lens + the postings array, a few dozen ints per doc) persists
    // because the corpus totals, the df table, and the scored
    // postings all read it — one analyzer pass total (CLAUDE.md:
    // persist + count before the fan-out). kw (desc tf >= 3,
    // norms-off) is emitted by the expression itself, so no second
    // branch re-reads the postings subtree (the pushed-filter
    // asymmetry that used to recompute the whole explode+aggregate
    // once per branch).
    val qWords = searchQueryWords
    val qBigrams = searchQueryBigrams
    val slim = t(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        ColumnBridge.column(SearchAnalyzeExpr(
          ColumnBridge.expression(col("text")),
          qWords, qBigrams)).as("z"))
      .select(col("doc_id"), col("n_chars"),
        col("z.name_len"), col("z.desc_len"), col("z.norm_len"),
        col("z.tok_len"), col("z.ph_len"), col("z.posts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    slim.count()
    val tots = slim.agg(count(lit(1)).as("nd"),
      sum("name_len").as("s_name"), sum("desc_len").as("s_desc"),
      sum("norm_len").as("s_norm"), sum("tok_len").as("s_tok"),
      sum("ph_len").as("s_ph"))
    // postings are FINAL rows off the cache: explode, attach the
    // per-doc field length (kw is norms-off => len 1)
    val post = slim
      .select(col("doc_id"), col("n_chars"), col("name_len"),
        col("desc_len"), col("norm_len"), col("tok_len"),
        col("ph_len"), explode(col("posts")).as("p"))
      .select(col("doc_id"), col("n_chars"),
        col("p.fid").as("fid"), col("p.tid").as("tid"),
        col("p.tf").cast("long").as("tf"),
        expr("CASE p.fid WHEN 0 THEN name_len WHEN 1 THEN name_len" +
          " WHEN 2 THEN desc_len WHEN 3 THEN CAST(1 AS BIGINT)" +
          " WHEN 4 THEN norm_len WHEN 5 THEN tok_len" +
          " ELSE ph_len END").as("len"))
    // df per (fid, tid): a bounded aggregate (<= |fields|x|vocab|
    // rows) broadcast back — replaces a window sort over all
    // postings with one map-side-collapsing count
    val dfTab = post.groupBy("fid", "tid")
      .agg(count(lit(1)).as("df"))
    val scored = post
      .join(broadcast(dfTab), Seq("fid", "tid"))
      .crossJoin(broadcast(tots))
      .withColumn("contrib", expr(q60Contrib))
    // the (qid, fid, tid) vocabulary is driver-computed from the
    // literal query set — a LocalRelation, no cluster job per
    // broadcast site
    val qterms = searchQueryTerms.toDF("qid", "fid", "tid")
    val perq = scored.join(broadcast(qterms), Seq("fid", "tid"))
      .groupBy("qid", "doc_id")
      .agg(sum("contrib").as("bm25_nano"),
        max("n_chars").as("n_chars"))
      .withColumn("score_nano", col("bm25_nano") +
        expr("CAST(round(2 * (n_chars / (n_chars + 300.0)) * 1e9)" +
          " AS BIGINT)"))
    // top-10 per query through the bounded-heap TopKBy aggregate: a
    // qid window would funnel EVERY candidate of a query into one of
    // 8 partitions and sort it; the aggregate keeps k rows of state
    // per partition, combines map-side, and shuffles |queries|x10
    // rows total. nano scores are < 2^53, so the double round-trip
    // is exact and (score desc, id asc) matches the oracle ordering.
    perq.groupBy("qid")
      .agg(org.apache.spark.sql.graft.TopKBy.topKBy(
        col("score_nano").cast("double"), col("doc_id"), 10).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"),
        col("t.score").cast("long").as("score_nano"))
  }

  /** q60's query vocabulary, exposed for the analyzer-equivalence
    * spec: distinct single terms and adjacent bigrams of the fixed
    * query set. */
  private[graft] lazy val searchQueryWords: Seq[String] =
    searchQueries.flatMap(_._2.split(" ")).distinct
  private[graft] lazy val searchQueryBigrams: Seq[String] =
    searchQueries.flatMap(
      _._2.split(" ").toSeq.sliding(2).map(_.mkString(" "))).distinct

  /** The full (qid, fid, tid) match vocabulary, driver-computed
    * from the literal query set (single terms on the six word
    * fields, adjacent bigrams on ph2; fid/tid codes are
    * [[org.apache.spark.sql.graft.SearchAnalyzeUtil]]'s) so q60
    * ships it as a LocalRelation instead of running a
    * union/explode/distinct cluster job per broadcast site. */
  private[graft] lazy val searchQueryTerms: Seq[(Long, Int, Int)] = {
    val words = for {
      (qid, q) <- searchQueries
      f <- 0 to 5 // name, exact, desc, kw, norm, tok
      t <- q.split(" ").toSeq
    } yield (qid, f, searchQueryWords.indexOf(t))
    val bigrams = for {
      (qid, q) <- searchQueries
      t <- q.split(" ").toSeq.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    } yield (qid, 6, searchQueryBigrams.indexOf(t))
    (words ++ bigrams).distinct
  }

  /** The fixed annotated-query set (the eval suite's analog). */
  private val searchQueries: Seq[(Long, String)] = Seq(
    (1L, "spark window"), (2L, "hash join stream"),
    (3L, "customer order"), (4L, "fast merge"),
    (5L, "slow query filter"), (6L, "vector scan"),
    (7L, "table batch"), (8L, "key value column"))

  // BM25 factors — IDENTICAL text on both engines (IEEE ops are
  // deterministic given the same expression shape). Boost per the
  // LTR_QUERY field list; kw is a norms-off keyword field (tf = 1,
  // no length normalization -> the tf factor is exactly 1).
  // fid codes per SearchAnalyzeUtil: 0 name, 1 exact, 2 desc, 3 kw,
  // 4 norm, 5 tok, 6 ph2 — integer compares in the hot contrib
  // expression (the value tree is double-identical to the string
  // CASE it replaces, so committed score hashes are unchanged).
  private val q60Boost: String =
    "CASE fid WHEN 0 THEN 3.0 WHEN 1 THEN 3.0" +
      " WHEN 3 THEN 2.0 WHEN 6 THEN 2.0 ELSE 1.0 END"
  private val q60AvgLen: String =
    "(CASE fid WHEN 0 THEN CAST(s_name AS DOUBLE)" +
      " WHEN 1 THEN CAST(s_name AS DOUBLE)" +
      " WHEN 2 THEN CAST(s_desc AS DOUBLE)" +
      " WHEN 4 THEN CAST(s_norm AS DOUBLE)" +
      " WHEN 5 THEN CAST(s_tok AS DOUBLE)" +
      " ELSE CAST(s_ph AS DOUBLE) END / nd)"
  private val q60Contrib: String =
    s"CAST(round(($q60Boost)" +
      " * ln(1 + (nd - df + 0.5) / (df + 0.5))" +
      " * (CASE WHEN fid = 3 THEN 1.0 ELSE (tf * 2.2)" +
      s" / (tf + 1.2 * (1 - 0.75 + 0.75 * len / $q60AvgLen)) END)" +
      " * 1e9) AS BIGINT)"

  val q60_sql: String = {
    val values = searchQueries
      .map { case (i, q) => s"($i, '$q')" }.mkString(", ")
    s"""WITH d0 AS (SELECT doc_id, n_chars,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> len(x) > 0) AS raw
       |  FROM documents),
       |d1 AS (SELECT doc_id, n_chars, raw,
       |    list_transform(raw, x -> lower(x)) AS toks FROM d0),
       |d2 AS (SELECT doc_id, n_chars, raw, toks,
       |    list_filter(list_transform(toks,
       |      x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
       |      x -> len(x) > 0) AS nrm,
       |    list_filter(flatten(list_transform(toks,
       |      x -> regexp_split_to_array(x, '[^a-z0-9]+'))),
       |      x -> len(x) > 0) AS sub,
       |    list_transform(range(1, greatest(len(toks), 1)),
       |      i -> toks[i] || ' ' || toks[i + 1]) AS big
       |  FROM d1),
       |d3 AS (SELECT doc_id, n_chars, raw, toks, nrm, sub, big,
       |    CAST(least(len(toks), 8) AS BIGINT) AS name_len,
       |    CAST(len(toks) AS BIGINT) AS desc_len,
       |    CAST(len(nrm) AS BIGINT) AS norm_len,
       |    CAST(len(sub) AS BIGINT) AS tok_len,
       |    CAST(len(big) AS BIGINT) AS ph_len
       |  FROM d2),
       |tot AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(name_len) AS BIGINT) AS s_name,
       |    CAST(sum(desc_len) AS BIGINT) AS s_desc,
       |    CAST(sum(norm_len) AS BIGINT) AS s_norm,
       |    CAST(sum(tok_len) AS BIGINT) AS s_tok,
       |    CAST(sum(ph_len) AS BIGINT) AS s_ph FROM d3),
       |tall AS (
       |  SELECT doc_id, n_chars, 0 AS fid,
       |      unnest(toks[1:8]) AS term, name_len AS len FROM d3
       |  UNION ALL SELECT doc_id, n_chars, 1,
       |      unnest(raw[1:8]), name_len FROM d3
       |  UNION ALL SELECT doc_id, n_chars, 2,
       |      unnest(toks), desc_len FROM d3
       |  UNION ALL SELECT doc_id, n_chars, 4,
       |      unnest(nrm), norm_len FROM d3
       |  UNION ALL SELECT doc_id, n_chars, 5,
       |      unnest(sub), tok_len FROM d3
       |  UNION ALL SELECT doc_id, n_chars, 6,
       |      unnest(big), ph_len FROM d3),
       |qv AS (SELECT CAST(qid AS BIGINT) AS qid,
       |    string_split(qtext, ' ') AS qt
       |  FROM (VALUES $values) AS v(qid, qtext)),
       |qe AS (SELECT qid, unnest(qt) AS term FROM qv),
       |qb AS (SELECT qid, unnest(
       |    list_transform(range(1, greatest(len(qt), 1)),
       |      i -> qt[i] || ' ' || qt[i + 1])) AS term FROM qv),
       |q AS (SELECT DISTINCT qid, f.fid, qe.term
       |  FROM qe CROSS JOIN (SELECT unnest(
       |      [0, 1, 2, 3, 4, 5]) AS fid) f
       |  UNION
       |  SELECT DISTINCT qid, 6 AS fid, term FROM qb),
       |qf AS (SELECT DISTINCT fid, term FROM q),
       |p0 AS (SELECT tall.doc_id, tall.fid, tall.term,
       |    max(n_chars) AS n_chars, max(len) AS len,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tall JOIN qf USING (fid, term)
       |  GROUP BY 1, 2, 3),
       |post AS (SELECT * FROM p0
       |  UNION ALL
       |  SELECT doc_id, 3 AS fid, term, n_chars,
       |      CAST(1 AS BIGINT) AS len, CAST(1 AS BIGINT) AS tf
       |    FROM p0 WHERE fid = 2 AND tf >= 3),
       |stat AS (SELECT *, CAST(count(*) OVER
       |    (PARTITION BY fid, term) AS BIGINT) AS df FROM post),
       |c AS (SELECT doc_id, n_chars, fid, term,
       |    $q60Contrib AS contrib
       |  FROM stat CROSS JOIN tot),
       |pq AS (SELECT qid, doc_id,
       |    CAST(sum(contrib) AS BIGINT) AS bm25_nano,
       |    max(n_chars) AS n_chars
       |  FROM c JOIN q USING (fid, term) GROUP BY qid, doc_id),
       |fin AS (SELECT qid, doc_id, bm25_nano
       |    + CAST(round(2 * (n_chars / (n_chars + 300.0)) * 1e9)
       |        AS BIGINT) AS score_nano
       |  FROM pq),
       |r AS (SELECT qid, doc_id, score_nano,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY score_nano DESC, doc_id) AS BIGINT) AS rank
       |  FROM fin)
       |SELECT qid, rank, doc_id, score_nano FROM r
       |WHERE rank <= 10""".stripMargin
  }

  /** DSIR-style importance resampling for training-data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" — public method): estimate target vs
    * raw distributions over HASHED n-gram buckets (unigrams +
    * bigrams → 4096 md5 buckets, add-1 smoothing), weight every
    * document by its summed log-likelihood ratio, and draw the
    * top-100 by Gumbel-top-k (key = importance + Gumbel noise —
    * sampling ∝ exp(importance), the published trick, with the
    * Gumbel uniform derived from an md5 hash so selection is
    * deterministic and cross-engine). Target distribution here:
    * source = 'src0' (5% of the corpus).
    *
    * Hash-stability: per-BUCKET log-ratios round to integer
    * nano-nats once (4096 values), so each doc's importance is an
    * order-independent BIGINT sum (the q60 discipline); ln of
    * smoothed count ratios never terminates in decimal; top-k
    * carries the (key, doc_id) total order.
    *
    * Scale shape: gram work is the codegen'd WordShinglesExpr; the
    * bucket table is PLAN-BOUNDED (≤ 4096 rows) so its stats
    * collapse map-side and it broadcasts to the per-doc pass; the
    * global top-100 runs through the bounded-heap TopKBy aggregate
    * (|partitions|×100 partial rows, no global sort); per-doc
    * results persist once for the TopKBy + re-attach fan-out. At
    * 100 TB nothing here scales with the corpus except two linear
    * passes over the grams. */
  val q61_importance_resample: QFn = (s, d) => {
    import org.apache.spark.sql.graft.{ColumnBridge, TopKBy, WordShinglesExpr}
    def grams(n: Int) = ColumnBridge.column(
      WordShinglesExpr(ColumnBridge.expression(col("text")), n))
    val feats = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        explode(concat(grams(1), grams(2))).as("gram"))
      .withColumn("bucket",
        conv(substring(md5(col("gram")), 1, 8), 16, 10)
          .cast("long") % 4096)
      .select("doc_id", "source", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    feats.count() // feeds the bucket stats AND the per-doc pass
    val btab = feats.groupBy("bucket").agg(
      count(lit(1)).as("rc"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tc"))
    val bw = btab
      .crossJoin(broadcast(btab.agg(sum("rc").as("r_tot"),
        sum("tc").as("t_tot"))))
      .withColumn("contrib",
        expr(s"CAST(round(($dsirLogRatio) * 1e9) AS BIGINT)"))
      .select("bucket", "contrib")
    val perdoc = feats.join(broadcast(bw), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("contrib").as("imp_nano"))
      .withColumn("u",
        (conv(substring(md5(concat(lit("g:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") + lit(0.5)) / lit(4294967296.0))
      .withColumn("gumbel_nano",
        expr("CAST(round(-ln(-ln(u)) * 1e9) AS BIGINT)"))
      .withColumn("key_nano", col("imp_nano") + col("gumbel_nano"))
      .select("doc_id", "n_grams", "imp_nano", "gumbel_nano",
        "key_nano")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    perdoc.count() // feeds the top-k AND the re-attach join
    val selected = perdoc.groupBy()
      .agg(TopKBy.topKBy(col("key_nano").cast("double"),
        col("doc_id"), 100).as("tk"))
      .select(posexplode(col("tk")).as(Seq("i", "t")))
      .select((col("i") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"))
    perdoc.join(broadcast(selected), "doc_id")
      .select(col("rank"), col("doc_id"), col("n_grams"),
        col("imp_nano"), col("gumbel_nano"), col("key_nano"))
  }

  /** Gopher quality rules (Rae et al. 2021, Appendix A — public
    * rule set): the classic rule-based pretraining filter battery,
    * emitted as per-rule flags plus the conjunction so the filter is
    * auditable (which rule rejected a doc matters operationally).
    * Rules here: word count in [50, 100000]; mean word length in
    * [3, 10]; symbol-to-word ratio (# / …) ≤ 0.1; ≥ 80% of words
    * contain an alphabetic char; ≥ 2 distinct stop words. Two
    * declared adaptations: the line-level rules (bullet/ellipsis
    * line starts) are omitted (this corpus is single-line), and the
    * stop-word LIST is the corpus's established one (t02's —
    * Gopher's own list shares only 'the' with this synthetic vocab,
    * which would make the presence rule constant-false; the RULE,
    * ≥ 2 distinct, is Gopher's).
    * EVERY rule evaluates by integer cross-multiplication (3·n ≤
    * Σchars ≤ 10·n, 10·sym ≤ n, 5·alpha ≥ 4·n) — no float ratio, no
    * rounding boundary, hash-exact by construction. Pure per-row
    * map work in whole-stage codegen; zero shuffles. */
  val t15_gopher_rules: QFn = (s, d) => {
    val toks = TextFunctions.tokens(lower(trim(col("text"))))
    val stops = array(Seq("the", "a", "an", "and", "or", "of", "to",
      "in", "is", "it").map(lit): _*)
    val base = t(s, d, "documents").select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
        .cast("long").as("sum_chars"),
      size(filter(toks, x => x.rlike("[a-z]"))).cast("long")
        .as("n_alpha"),
      size(filter(toks, x =>
        instr(x, "#") > 0 || instr(x, "...") > 0)).cast("long")
        .as("n_sym"),
      size(array_intersect(array_distinct(toks), stops)).cast("long")
        .as("n_stop"))
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    base
      .withColumn("r_count",
        flag(col("n_words") >= 50 && col("n_words") <= 100000))
      .withColumn("r_wordlen",
        flag(lit(3) * col("n_words") <= col("sum_chars") &&
          col("sum_chars") <= lit(10) * col("n_words")))
      .withColumn("r_symbol",
        flag(lit(10) * col("n_sym") <= col("n_words")))
      .withColumn("r_alpha",
        flag(lit(5) * col("n_alpha") >= lit(4) * col("n_words")))
      .withColumn("r_stop", flag(col("n_stop") >= 2))
      .withColumn("passes",
        col("r_count") * col("r_wordlen") * col("r_symbol") *
          col("r_alpha") * col("r_stop"))
  }

  val t15_sql: String =
    """WITH b AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0) AS t,
      |    CAST(len(regexp_replace(lower(trim(text)), '\s+', '', 'g'))
      |      AS BIGINT) AS sum_chars
      |  FROM documents),
      |c AS (SELECT doc_id, sum_chars,
      |    CAST(len(t) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
      |      AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(t, x -> contains(x, '#')
      |      OR contains(x, '...'))) AS BIGINT) AS n_sym,
      |    CAST(len(list_filter(list_distinct(t),
      |      x -> list_contains(['the','a','an','and','or','of','to',
      |        'in','is','it'], x))) AS BIGINT) AS n_stop
      |  FROM b),
      |f AS (SELECT doc_id, n_words, sum_chars, n_alpha, n_sym, n_stop,
      |    CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1
      |      ELSE 0 END AS BIGINT) AS r_count,
      |    CAST(CASE WHEN 3 * n_words <= sum_chars
      |      AND sum_chars <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
      |      AS r_wordlen,
      |    CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END
      |      AS BIGINT) AS r_symbol,
      |    CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END
      |      AS BIGINT) AS r_alpha,
      |    CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT)
      |      AS r_stop
      |  FROM c)
      |SELECT doc_id, n_words, sum_chars, n_alpha, n_sym, n_stop,
      |  r_count, r_wordlen, r_symbol, r_alpha, r_stop,
      |  r_count * r_wordlen * r_symbol * r_alpha * r_stop AS passes
      |FROM f""".stripMargin

  /** PMI collocation mining — the phrase/merge-candidate table a
    * tokenizer-training or boilerplate-analysis pass starts from:
    * pointwise mutual information ln(p(xy)/(p(x)p(y))) for every
    * adjacent word pair with support ≥ 5, in t09's integer
    * micro-nat discipline (per-row ln of a rational is irrational —
    * never a rounding tie; the double ratio is assembled in one
    * fixed multiplication order so both engines round identically).
    * Scale shape: both count tables collapse map-side into
    * vocabulary-bounded aggregates (the corpus-sized token stream is
    * never shuffled raw); the unigram side joins back twice and is
    * persisted+materialized before the fan-out (CLAUDE.md rule);
    * totals ride as scalar cross joins. Tokenization is the shared
    * codegen'd WordShinglesExpr (n=1 unigrams, n=2 bigrams — same
    * lowercasing as every other shingle consumer). */
  val t16_pmi_collocations: QFn = (s, d) => {
    val docs = t(s, d, "documents")
    val uc = TextFunctions.shinglePostings(docs, "doc_id", "text",
      1, distinct = false)
      .groupBy("shingle").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    uc.count() // feeds c1-attach, c2-attach AND the scalar total
    val nu = uc.agg(sum("c").as("n_uni"))
    val bc = TextFunctions.shinglePostings(docs, "doc_id", "text",
      2, distinct = false)
      .groupBy(col("shingle").as("sh"))
      .agg(count(lit(1)).as("c_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bc.count() // feeds the scalar total AND the support filter
    val nb = bc.agg(sum("c_pair").as("n_bi"))
    bc.filter(col("c_pair") >= 5)
      .withColumn("w1", split(col("sh"), " ").getItem(0))
      .withColumn("w2", split(col("sh"), " ").getItem(1))
      .join(uc.select(col("shingle").as("w1"), col("c").as("c1")),
        Seq("w1"))
      .join(uc.select(col("shingle").as("w2"), col("c").as("c2")),
        Seq("w2"))
      .crossJoin(nu).crossJoin(nb)
      .select(col("w1"), col("w2"), col("c_pair"), col("c1"),
        col("c2"),
        round(log((col("c_pair").cast("double") * col("n_uni") *
          col("n_uni")) /
          (col("n_bi").cast("double") * col("c1") * col("c2"))) * 1e6,
          0).cast("long").as("pmi_micro"))
  }

  val t16_sql: String =
    """WITH toks AS (SELECT list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS t FROM documents),
      |uc AS (SELECT w, count(*) AS c FROM (
      |    SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
      |bc AS (SELECT sh, count(*) AS c_pair FROM (
      |    SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
      |      i -> t[i] || ' ' || t[i+1])) AS sh
      |    FROM toks) GROUP BY sh),
      |nb AS (SELECT CAST(sum(c_pair) AS BIGINT) AS n_bi FROM bc)
      |SELECT split_part(sh, ' ', 1) AS w1,
      |  split_part(sh, ' ', 2) AS w2, c_pair, u1.c AS c1,
      |  u2.c AS c2,
      |  CAST(round(ln((c_pair::DOUBLE * n_uni * n_uni) /
      |    (n_bi::DOUBLE * u1.c * u2.c)) * 1e6, 0) AS BIGINT)
      |    AS pmi_micro
      |FROM bc CROSS JOIN nu CROSS JOIN nb
      |JOIN uc u1 ON split_part(sh, ' ', 1) = u1.w
      |JOIN uc u2 ON split_part(sh, ' ', 2) = u2.w
      |WHERE c_pair >= 5""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, public
    * method): per LANGUAGE, split the corpus into head/middle/tail
    * thirds by language-model fit — the published pretraining-data
    * quality triage. The LM score is t09's char-trigram avg log-prob
    * (4-dp integer micro-units, already hash-exact); bucketing is by
    * VALUE THRESHOLDS, not global ranks: per-language (value, count)
    * rollup (bounded by the 4-dp value grid, collapses map-side),
    * running cumulative over the value stream, tercile cut values
    * t1/t2 = max value whose cumulative count reaches ⌈n/3⌉ / ⌈2n/3⌉,
    * then one broadcast join labels every doc — CCNet itself cuts on
    * sampled percentile thresholds for exactly this reason; a
    * per-language global rank would sort the corpus. Ties at a
    * threshold share the better bucket (declared). Docs too short to
    * score (len < 3) carry no bucket. The threshold table is one row
    * per language — bounded by the language domain, broadcast-safe. */
  val t14_ccnet_buckets: QFn = (s, d) => {
    val scored = t09_charlm(s, d)
      .select(col("doc_id"),
        expr("CAST(round(avg_logp * 10000) AS BIGINT)").as("v"))
    val dv = scored
      .join(t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dv.count() // feeds the value rollup, the counts AND the labeling
    val counts = dv.groupBy("lang", "v").agg(count(lit(1)).as("c"))
    val cum = counts.withColumn("cum",
      sum("c").over(Window.partitionBy("lang")
        .orderBy(col("v").desc)))
    val nl = dv.groupBy("lang").agg(count(lit(1)).as("n"))
    val th = cum.join(nl, "lang").groupBy("lang")
      .agg(max(when(col("cum") >= expr("(n + 2) DIV 3"), col("v")))
        .as("t1"),
        max(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("v")))
          .as("t2"))
    dv.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("v").as("avg_micro"),
        when(col("v") >= col("t1"), "head")
          .when(col("v") >= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  val t14_sql: String =
    s"""WITH t09 AS ($t09_sql),
       |dv AS (SELECT t09.doc_id, documents.lang,
       |    CAST(round(avg_logp * 10000) AS BIGINT) AS v
       |  FROM t09 JOIN documents USING (doc_id)),
       |counts AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS c
       |  FROM dv GROUP BY 1, 2),
       |cum AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang
       |    ORDER BY v DESC) AS cum FROM counts),
       |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM dv
       |  GROUP BY lang),
       |th AS (SELECT cum.lang,
       |    max(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS t1,
       |    max(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS t2
       |  FROM cum JOIN nl USING (lang) GROUP BY cum.lang)
       |SELECT doc_id, dv.lang, v AS avg_micro,
       |  CASE WHEN v >= t1 THEN 'head' WHEN v >= t2 THEN 'middle'
       |    ELSE 'tail' END AS bucket
       |FROM dv JOIN th ON dv.lang = th.lang""".stripMargin

  /** SemDeDup over the embeddings table ([[Dedup.semDedup]]): 16
    * clusters (one Lloyd round, low-id seeds — the s04 machinery),
    * within-cluster cosine > 0.4 against a lower id drops the
    * vector. Output = kept vectors with their cluster. The pairwise
    * quadratic is bounded by cluster size by construction — the
    * published reason semantic dedup works at corpus scale. */
  val d15_semdedup: QFn = (s, d) =>
    Dedup.semDedup(embD(s, d), nLists = 16, tau = 0.4)

  val d15_sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 16),
       |s1 AS (SELECT e.vec_id, e.v, c0.cent_id, $centCos AS cs
       |  FROM e, c0),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT vec_id, v, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS r
       |    FROM s1) WHERE r = 1),
       |u1 AS (SELECT cent_id, i, round(avg(v[i]), 6) AS m
       |  FROM a1, range(1, 65) t(i) GROUP BY 1, 2),
       |cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM u1
       |  GROUP BY cent_id),
       |asg AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, cents.cent_id, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY $centCos DESC, cent_id)
       |      AS r
       |    FROM e, cents) WHERE r = 1),
       |drops AS (SELECT DISTINCT a.vec_id AS did
       |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id
       |    AND a.vec_id > b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) *
       |     sqrt(list_dot_product(b.v, b.v))), 6) > 0.4)
       |SELECT vec_id, CAST(cent_id AS BIGINT) AS cluster FROM asg
       |WHERE vec_id NOT IN (SELECT did FROM drops)""".stripMargin

  // add-1 smoothed log-likelihood ratio per bucket — IDENTICAL text
  // on both engines (contrib is exactly 0 when the ratios tie, so
  // the nano round has no decimal-terminating tie to hit).
  private val dsirLogRatio: String =
    "ln((tc + 1.0) / (t_tot + 4096)) - ln((rc + 1.0) / (r_tot + 4096))"

  val q61_sql: String =
    s"""WITH base AS (SELECT doc_id, source, $shingleToksSql AS t
       |  FROM documents),
       |g1 AS (SELECT doc_id, source, unnest(t) AS gram FROM base),
       |g2 AS (SELECT doc_id, source,
       |    unnest(list_transform(range(1, greatest(len(t), 1)),
       |      i -> t[i] || ' ' || t[i+1])) AS gram FROM base),
       |feats AS (SELECT doc_id, source,
       |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bucket
       |  FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
       |btab AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc,
       |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tc
       |  FROM feats GROUP BY bucket),
       |tot AS MATERIALIZED (SELECT CAST(sum(rc) AS BIGINT) AS r_tot,
       |    CAST(sum(tc) AS BIGINT) AS t_tot FROM btab),
       |bw AS (SELECT bucket,
       |    CAST(round(($dsirLogRatio) * 1e9) AS BIGINT) AS contrib
       |  FROM btab CROSS JOIN tot),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(contrib) AS BIGINT) AS imp_nano
       |  FROM feats JOIN bw USING (bucket) GROUP BY doc_id),
       |gd AS (SELECT *,
       |    (('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)),
       |      1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
       |  FROM perdoc),
       |kd AS (SELECT doc_id, n_grams, imp_nano,
       |    CAST(round(-ln(-ln(u)) * 1e9) AS BIGINT) AS gumbel_nano,
       |    imp_nano + CAST(round(-ln(-ln(u)) * 1e9) AS BIGINT)
       |      AS key_nano
       |  FROM gd),
       |r AS (SELECT *, CAST(row_number() OVER (ORDER BY key_nano
       |    DESC, doc_id) AS BIGINT) AS rank FROM kd)
       |SELECT rank, doc_id, n_grams, imp_nano, gumbel_nano, key_nano
       |FROM r WHERE rank <= 100""".stripMargin

  // ---------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------

  /** Registration-time AUDIT-ROLE declaration (r14 verdict #1: the
    * fence gate was scoped by NAME pattern, so an audit row named
    * outside `*_recall`/`*_est`/`*_impact` shipped ungated). Every
    * key here must declare a truth-side fence in
    * [[graft.tools.AuditFence.declared]] and route through
    * `fenced()`; PlanAuditSpec asserts (a) this set equals the
    * declared-fence registry, (b) every suffix-pattern key is in
    * this set — so neither a misnamed audit nor a stale registry
    * entry can ship silently. */
  val auditRoleKeys: Set[String] = Set(
    "d16_lsh_recall", "d12_minhash_est", "d13_simhash_est",
    "s09_ann_recall", "m09_dhash_recall", "d17_dedup_impact",
    "s10_cluster_quality", "t18_langid_confusion")

  /** Every registered query once: (name, builder, DuckDB oracle SQL).
    * [[all]] and [[oracles]] are derived from it, so a query cannot
    * register without an oracle, and a duplicate name fails at
    * initialization instead of silently shadowing another query. */
  private val registry: Seq[(String, QFn, String)] = Seq(
    ("q01_filter_project", q01_filter_project, q01_sql),
    ("q02_agg_group", q02_agg_group, q02_sql),
    ("q03_join_agg", q03_join_agg, q03_sql),
    ("q04_broadcast_dim", q04_broadcast_dim, q04_sql),
    ("q05_sort_topk", q05_sort_topk, q05_sql),
    ("q06_window_rank", q06_window_rank, q06_sql),
    ("q07_distinct", q07_distinct, q07_sql),
    ("q08_union_merge", q08_union_merge, q08_sql),
    ("q09_semi_join", q09_semi_join, q09_sql),
    ("q10_anti_join", q10_anti_join, q10_sql),
    ("q11_regex_filter", q11_regex_filter, q11_sql),
    ("q12_tokenize_explode", q12_tokenize_explode, q12_sql),
    ("q13_collect_members", q13_collect_members, q13_sql),
    ("q14_snapshot_diff", q14_snapshot_diff, q14_sql),
    ("q15_scoring", q15_scoring, q15_sql),
    ("q16_hash_id", q16_hash_id, q16_sql),
    ("q17_related_overlap", q17_related_overlap, q17_sql),
    ("q18_json_extract", q18_json_extract, q18_sql),
    ("q19_collection_pipeline", q19_collection_pipeline, q19_sql),
    ("q20_normalize_names", q20_normalize_names, q20_sql),
    ("q21_ndcg", q21_ndcg, q21_sql),
    ("q22_avatar_assign", q22_avatar_assign, q22_sql),
    ("q23_affix_freq", q23_affix_freq, q23_sql),
    ("q24_word_segmentation", q24_word_segmentation, q24_sql),
    ("q25_quantiles", q25_quantiles, q25_sql),
    ("q26_rollup", q26_rollup, q26_sql),
    ("q27_pivot", q27_pivot, q27_sql),
    ("q28_hash_split", q28_hash_split, q28_sql),
    ("t01_token_count", t01_token_count, t01_sql),
    ("t02_quality_score", t02_quality_score, t02_sql),
    ("t03_langid", t03_langid, t03_sql),
    ("t04_fingerprint", t04_fingerprint, t04_sql),
    ("t05_ngram_freq", t05_ngram_freq, t05_sql),
    ("t06_pii_scrub", t06_pii_scrub, t06_sql),
    ("t07_repetition", t07_repetition, t07_sql),
    ("d01_exact_dedup", d01_exact_dedup, d01_sql),
    ("d02_ngram_jaccard", d02_ngram_jaccard, d02_sql),
    ("d03_minhash_lsh", d03_minhash_lsh, d03_sql),
    ("d04_simhash", d04_simhash, d04_sql),
    ("d05_embedding_dedup", d05_embedding_dedup, d05_sql),
    ("d06_dup_clusters", d06_dup_clusters, d06_sql),
    ("d07_decontaminate", d07_decontaminate, d07_sql),
    ("d08_cluster_canonical", d08_cluster_canonical, d08_sql),
    ("d09_span_dedup", d09_span_dedup, d09_sql),
    ("d10_bloom_decontaminate", d10_bloom_decontaminate, d10_sql),
    ("d11_cdc_chunks", d11_cdc_chunks, d11_sql),
    ("d12_minhash_est", d12_minhash_est, d12_sql),
    ("d13_simhash_est", d13_simhash_est, d13_sql),
    ("t08_tfidf", t08_tfidf, t08_sql),
    ("t09_charlm", t09_charlm, t09_sql),
    ("t11_countmin", t11_countmin, t11_sql),
    ("e05_asof_join", e05_asof_join, e05_sql),
    ("e06_funnel", e06_funnel, e06_sql),
    ("s01_cosine_topk", s01_cosine_topk, s01_sql),
    ("s02_knn_join", s02_knn_join, s02_sql),
    ("s03_ann_lsh", s03_ann_lsh, s03_sql),
    ("s04_ann_ivf", s04_ann_ivf, s04_sql),
    ("s05_quantize", s05_quantize, s05_sql),
    ("s06_pq", s06_pq, s06_sql),
    ("s07_multiprobe", s07_multiprobe, s07_sql),
    ("m01_binary_meta", m01_binary_meta, m01_sql),
    ("m02_feature_stub", m02_feature_stub, m02_sql),
    ("m03_tile_dedup", m03_tile_dedup, m03_sql),
    ("m04_frame_energy", m04_frame_energy, m04_sql),
    ("m05_header_probe", m05_header_probe, m05_sql),
    ("m06_frame_sample", m06_frame_sample, m06_sql),
    ("m07_mjpeg_frames", m07_mjpeg_frames, m07_sql),
    ("m08_dhash_neardup", m08_dhash_neardup, m08_sql),
    ("m09_dhash_recall", m09_dhash_recall, m09_sql),
    ("q67_apply_ops", q67_apply_ops, q67_sql),
    ("q68_compact_ops", q68_compact_ops, q68_sql),
    ("t21_c4_rules", t21_c4_rules, t21_sql),
    ("t22_source_report", t22_source_report, t22_sql),
    ("t23_bpe_encode", t23_bpe_encode, t23_sql),
    ("t24_nb_train", t24_nb_train, t24_sql),
    ("t25_nb_eval", t25_nb_eval, t25_sql),
    ("t26_source_drift", t26_source_drift, t26_sql),
    ("t27_target_lm", t27_target_lm, t27_sql),
    ("t28_url_normalize", t28_url_normalize, t28_sql),
    ("t29_unigram_train", t29_unigram_train, t29_sql),
    ("t30_unigram_encode", t30_unigram_encode, t30_sql),
    ("s13_hard_negatives", s13_hard_negatives, s13_sql),
    ("e01_window_agg", e01_window_agg, e01_sql),
    ("e02_sessionize", e02_sessionize, e02_sql),
    ("e03_user_stats", e03_user_stats, e03_sql),
    ("e04_moving_avg", e04_moving_avg, e04_sql),
    ("e07_session_window", e07_session_window, e07_sql),
    ("e08_retention", e08_retention, e08_sql),
    ("q29_ntile", q29_ntile, q29_sql),
    ("q30_nested_json", q30_nested_json, q30_sql),
    ("q31_skeleton_normalize", q31_skeleton_normalize, q31_sql),
    ("q32_field_merge", q32_field_merge, q32_sql),
    ("q33_sql_dump_parse", q33_sql_dump_parse, q33_sql),
    ("q34_entity_triples", q34_entity_triples, q34_sql),
    ("q35_type_filter", q35_type_filter, q35_sql),
    ("q36_by_filter", q36_by_filter, q36_sql),
    ("q37_nt_entity", q37_nt_entity, q37_sql),
    ("q38_pack_sequences", q38_pack_sequences, q38_sql),
    ("q39_stratified_sample", q39_stratified_sample, q39_sql),
    ("e09_interval_join", e09_interval_join, e09_sql),
    ("q40_scd2", q40_scd2, q40_sql),
    ("t10_vocab_coverage", t10_vocab_coverage, t10_sql),
    ("q41_cube", q41_cube, q41_sql),
    ("q42_hll_distinct", q42_hll_distinct, q42_sql),
    ("q43_grouping_sets", q43_grouping_sets, q43_sql),
    ("q44_uniform_sample", q44_uniform_sample, q44_sql),
    ("q45_corr", q45_corr, q45_sql),
    ("q46_zorder", q46_zorder, q46_sql),
    ("q47_hist_quantile", q47_hist_quantile, q47_sql),
    ("q48_ewma", q48_ewma, q48_sql),
    ("e10_sliding_window", e10_sliding_window, e10_sql),
    ("e11_gap_fill", e11_gap_fill, e11_sql),
    ("g01_pagerank", g01_pagerank, g01_sql),
    ("g02_triangles", g02_triangles, g02_sql),
    ("g03_local_cc", g03_local_cc, g03_sql),
    ("g04_ppr", g04_ppr, g04_sql),
    ("g05_kcore", g05_kcore, g05_sql),
    ("q49_reachability", q49_reachability, q49_sql),
    ("q16b_namehash", q16b_namehash, q16b_sql),
    ("q50_spearman", q50_spearman, q50_sql),
    ("q51_rank_eval", q51_rank_eval, q51_sql),
    ("t12_countmin_pure", t12_countmin_pure, t12_sql),
    ("q52_collection_stats", q52_collection_stats, q52_sql),
    ("s08_ivfpq", s08_ivfpq, s08_sql),
    ("q62_alpha_merge", q62_alpha_merge, q62_sql),
    ("q63_bpe_merges", q63_bpe_merges, q63_sql),
    ("q64_token_count_map", q64_token_count_map, q64_sql),
    ("s09_ann_recall", s09_ann_recall, s09_sql),
    ("s10_cluster_quality", s10_cluster_quality, s10_sql),
    ("g06_ppr_topk", g06_ppr_topk, g06_sql),
    ("q53_diverse_topk", q53_diverse_topk, q53_sql),
    ("q54_temp_mixture", q54_temp_mixture, q54_sql),
    ("t13_clean_pipeline", t13_clean_pipeline, t13_sql),
    ("g07_jaccard_link", g07_jaccard_link, g07_sql),
    ("g08_assortativity", g08_assortativity, g08_sql),
    ("g09_bfs_hops", g09_bfs_hops, g09_sql),
    ("g10_hyperball", g10_hyperball, g10_sql),
    ("g11_harmonic", g11_harmonic, g11_sql),
    ("q56_skew_join", q56_skew_join, q56_sql),
    ("q57_hll_setops", q57_hll_setops, q57_sql),
    ("q58_markov", q58_markov, q58_sql),
    ("q59_sort_compare", q59_sort_compare, q59_sql),
    ("e13_autocorr", e13_autocorr, e13_sql),
    ("e14_changepoint", e14_changepoint, e14_sql),
    ("e15_seasonal_profile", e15_seasonal_profile, e15_sql),
    ("q60_search_score", q60_search_score, q60_sql),
    ("q61_importance_resample", q61_importance_resample, q61_sql),
    ("d15_semdedup", d15_semdedup, d15_sql),
    ("d16_lsh_recall", d16_lsh_recall, d16_sql),
    ("d17_dedup_impact", d17_dedup_impact, d17_sql),
    ("d18_source_overlap", d18_source_overlap, d18_sql),
    ("t14_ccnet_buckets", t14_ccnet_buckets, t14_sql),
    ("t15_gopher_rules", t15_gopher_rules, t15_sql),
    ("t16_pmi_collocations", t16_pmi_collocations, t16_sql),
    ("t17_zipf_fit", t17_zipf_fit, t17_sql),
    ("t18_langid_confusion", t18_langid_confusion, t18_sql),
    ("d14_containment", d14_containment, d14_sql),
    ("q55_mad", q55_mad, q55_sql),
    ("q65_member_type_stats", q65_member_type_stats, q65_sql),
    ("t19_readability", t19_readability, t19_sql),
    ("t20_boilerplate", t20_boilerplate, t20_sql),
    ("e16_debounce", e16_debounce, e16_sql),
    ("g12_label_prop", g12_label_prop, g12_sql),
    ("g13_modularity", g13_modularity, g13_sql),
    ("g14_refine_communities", g14_refine_communities, g14_sql),
    ("d19_edit_pairs", d19_edit_pairs, d19_sql),
    ("d20_span_removal", d20_span_removal, d20_sql),
    ("d21_substr_removal", d21_substr_removal, d21_sql),
    ("d22_fuzzy_decontaminate", d22_fuzzy_decontaminate, d22_sql),
    ("q66_profile", q66_profile, q66_sql),
    ("e17_ohlc", e17_ohlc, e17_sql),
    ("e18_bar_rollup", e18_bar_rollup, e18_sql),
    ("e19_lateness_profile", e19_lateness_profile, e19_sql),
    ("s11_gram", s11_gram, s11_sql),
    ("s12_power_iter", s12_power_iter, s12_sql),
    ("s14_opq_rotate", s14_opq_rotate, s14_sql),
    ("e12_outliers", e12_outliers, e12_sql))
  require(registry.map(_._1).distinct.size == registry.size,
    "duplicate query names: " +
      registry.map(_._1).diff(registry.map(_._1).distinct).mkString(", "))

  val all: Map[String, QFn] =
    registry.map { case (name, fn, _) => name -> fn }.toMap

  val oracles: Map[String, String] =
    registry.map { case (name, _, sql) => name -> sql }.toMap
}
