"""Relational operators from SURVEY.md §2.2-2.7, each as a Catalyst
DataFrame plan with a DuckDB oracle.

Conventions for oracle parity:
  * every computed column aliased identically on both sides;
  * double-precision SUMs go through DECIMAL(18,4) so both engines
    compute the exact same value regardless of summation order, then
    back to DOUBLE;
  * every LIMIT is preceded by a total order (unique tiebreak column);
  * timestamps are projected as ISO date strings (UTC both sides).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load


def _dsum(col):
    """Order-insensitive exact sum of a double column (via decimal)."""
    return F.round(F.sum(F.col(col).cast("decimal(18,4)")), 2).cast("double")


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "pk_lookup",  # P1: api/routes/chunks.py:23-27
    # key values chosen to EXIST in the testdata (a hit, not a vacuous
    # empty-equals-empty check)
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag "
    "FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 3",
)
def pk_lookup(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 3)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@query(
    "fk_filter_order",  # P2: chunks-of-document ordered by index (api/routes/chunks.py:55-59)
    oracle="SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem WHERE l_orderkey <= 40",
)
def fk_filter_order(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 40)
        .orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


@query(
    "in_list_filter",  # P3: services/rag_service.py:72-76
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer "
    "WHERE c_custkey IN (1, 5, 7, 11, 42)",
)
def in_list_filter(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey").isin(1, 5, 7, 11, 42)).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "conjunctive_filters",  # P4: services/rag_service.py:78-81
    oracle="SELECT event_id, event_type, value FROM events "
    "WHERE event_type IN ('click','view') AND value > 100.0",
)
def conjunctive_filters(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("event_type").isin("click", "view") & (F.col("value") > 100.0)).select(
        "event_id", "event_type", "value"
    )


@query(
    "bool_predicate",  # P5: core/jobs.py:22-24 pending-work scan
    oracle="SELECT o_orderpriority, COUNT(*) AS n FROM orders "
    "WHERE o_orderstatus = 'O' GROUP BY o_orderpriority",
)
def bool_predicate(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O").groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    )


@query(
    "json_extract",  # F8: JSON-in-TEXT decode (core/models.py:133-139)
    oracle="SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events WHERE event_id < 100",
)
def json_extract(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("event_id") < 100).select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "join_fact_dim",  # J1: chunk ⋈ document; small side broadcast (services/rag_service.py:72-76)
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def join_fact_dim(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "join_three_dims",  # J3/J4: doc ⋈ collection ⋈ tag star pattern
    oracle="""
        SELECT r.r_name, COUNT(*) AS n_customers,
               CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def join_three_dims(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"), _dsum("c_acctbal").alias("total_bal"))
    )


@query(
    "anti_join_add_if_absent",  # P8/J5: api/routes/collections.py:154-163
    # right side filtered to urgent orders so the testdata yields a
    # non-empty result (every customer has SOME order — the unfiltered
    # version is a vacuous empty-equals-empty check)
    oracle="SELECT c_custkey FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderpriority = '1-URGENT')",
)
def anti_join_add_if_absent(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query(
    "semi_join_exists",  # IN-list as semi join (services/rag_service.py:72-76)
    oracle="SELECT o_orderkey, o_totalprice FROM orders o WHERE EXISTS "
    "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)",
)
def semi_join_exists(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "history_stats",  # A1: services/history_service.py:51-67 (conditional counts + rate)
    oracle="""
        SELECT COUNT(*) AS total,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_size,
               ROUND(100.0 * SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) / COUNT(*), 1) AS success_rate
        FROM orders
    """,
)
def history_stats(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    n_success = F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
    return o.agg(
        F.count("*").alias("total"),
        n_success.alias("n_success"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        _dsum("o_totalprice").alias("total_size"),
        F.round(100.0 * n_success / F.count("*"), 1).alias("success_rate"),
    )


@query(
    "per_group_counts",  # A2/A3: replaces reference's N+1 loops with one hash agg
    oracle="""
        SELECT l_suppkey, COUNT(*) AS n_items,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_suppkey
    """,
)
def per_group_counts(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"), _dsum("l_quantity").alias("total_qty")
    )


@query(
    "tpch_q1_style",  # A1-family headline agg (pricing summary)
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_style(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            )
            .cast("double")
            .alias("sum_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "topk_global",  # T1/T2: ORDER BY score LIMIT k → TakeOrderedAndProject
    oracle="SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 10",
)
def topk_global(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.orderBy(F.desc("value"), "event_id").select("event_id", "value").limit(10)


@query(
    "topk_per_group",  # T7-family: deterministic per-group orderings
    oracle="""
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) t WHERE rn <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "pagination",  # T6: ORDER BY created_at DESC LIMIT l OFFSET o (history_service.py:45-47)
    oracle="""
        SELECT o_orderkey, CAST(o_orderdate AS DATE)::VARCHAR AS odate
        FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 20 OFFSET 10
    """,
)
def pagination(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), "o_orderkey")
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"))
        .offset(10)
        .limit(20)
    )


@query(
    "overfetch_rescore_trim",  # T5/F4: fetch 2k, blend-rescore, trim k (api/routes/search.py:137-144)
    oracle="""
        SELECT event_id, ROUND(0.7 * value + 0.3 * (user_id % 10), 4) AS final_score FROM (
            SELECT event_id, value, user_id FROM events
            ORDER BY value DESC, event_id LIMIT 20
        ) t ORDER BY final_score DESC, event_id LIMIT 10
    """,
)
def overfetch_rescore_trim(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    fetched = e.orderBy(F.desc("value"), "event_id").select("event_id", "value", "user_id").limit(20)
    rescored = fetched.select(
        "event_id",
        F.round(0.7 * F.col("value") + 0.3 * (F.col("user_id") % 10), 4).alias("final_score"),
    )
    return rescored.orderBy(F.desc("final_score"), "event_id").limit(10)


# ---------------------------------------------------------------------------
# §2.6 set ops + §2.7 scalar functions
# ---------------------------------------------------------------------------


@query(
    "set_except",  # U3: orphan cleanup via EXCEPT (core/jobs.py:62-64)
    oracle="SELECT o_orderkey FROM orders EXCEPT SELECT l_orderkey AS o_orderkey FROM lineitem",
)
def set_except(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return o.exceptAll(li).distinct()


@query(
    "rrf_fusion",  # A8/J7/U1: reciprocal-rank fusion of two rankings (advanced_rag.py:221-234)
    oracle="""
        WITH r1 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
                    FROM documents),
             r2 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY lang, doc_id) AS rnk
                    FROM documents),
             u AS (SELECT doc_id, rnk FROM r1 UNION ALL SELECT doc_id, rnk FROM r2)
        SELECT doc_id, ROUND(SUM(1.0 / (60 + rnk + 1)), 6) AS rrf_score
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id LIMIT 25
    """,
)
def rrf_fusion(spark, sf_dir):
    from docling_api_spark.operators.rank import global_rank

    d = load(spark, sf_dir, "documents")
    # scale-safe exact global ranks (operators/rank.py) — the corpus
    # never serializes through a single-task window
    r1 = global_rank(
        d.select("doc_id", "n_chars"), [F.desc("n_chars"), "doc_id"]
    ).select("doc_id", "rnk")
    r2 = global_rank(d.select("doc_id", "lang"), ["lang", "doc_id"]).select(
        "doc_id", "rnk"
    )
    u = r1.unionByName(r2)
    return (
        u.groupBy("doc_id")
        .agg(F.round(F.sum(1.0 / (60 + F.col("rnk") + 1)), 6).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(25)
    )


@query(
    "lexical_overlap_rerank",  # F3/U2: |q∩c|/|q| token overlap (advanced_rag.py:92-104)
    oracle="""
        SELECT doc_id,
               ROUND(len(list_intersect(list_distinct(string_split(text, ' ')),
                                        ['spark', 'join', 'filter', 'window'])) / 4.0, 4) AS overlap
        FROM documents WHERE doc_id < 200
    """,
)
def lexical_overlap_rerank(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    q_terms = F.array(F.lit("spark"), F.lit("join"), F.lit("filter"), F.lit("window"))
    return d.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.round(
            F.size(F.array_intersect(F.array_distinct(F.split("text", " ")), q_terms)) / 4.0, 4
        ).alias("overlap"),
    )


@query(
    "file_extension",  # F5: rsplit('.',1)[-1].lower() (history_service.py:70-75)
    oracle="""
        SELECT lower(CASE WHEN source LIKE '%.%'
                          THEN regexp_extract(source, '\\.([^.]*)$', 1)
                          ELSE 'unknown' END) AS ext,
               COUNT(*) AS n
        FROM (SELECT source || CASE WHEN doc_id % 3 = 0 THEN '.PDF'
                                    WHEN doc_id % 3 = 1 THEN '.docx' ELSE '' END AS source
              FROM documents) t
        GROUP BY 1
    """,
)
def file_extension(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fname = F.concat(
        F.col("source"),
        F.when(F.col("doc_id") % 3 == 0, ".PDF").when(F.col("doc_id") % 3 == 1, ".docx").otherwise(""),
    )
    ext = F.lower(
        F.when(fname.contains("."), F.regexp_extract(fname, r"\.([^.]*)$", 1)).otherwise("unknown")
    )
    return d.select(ext.alias("ext")).groupBy("ext").agg(F.count("*").alias("n"))


@query(
    "score_from_distance",  # F1: score = 1/(1+distance) (rag_service.py:89)
    oracle="SELECT event_id, ROUND(1.0 / (1.0 + value), 6) AS score FROM events WHERE value >= 0 AND event_id < 200",
)
def score_from_distance(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.filter((F.col("value") >= 0) & (F.col("event_id") < 200)).select(
        "event_id", F.round(1.0 / (1.0 + F.col("value")), 6).alias("score")
    )


# ---------------------------------------------------------------------------
# Sketches (approximate aggregates for the 100 TB tier). Exact values
# differ per engine by design, so the oracle contract is a tolerance
# check computed Spark-side against the exact answer in the SAME plan:
# the oracle just asserts the tolerance held (all-ones column).
# ---------------------------------------------------------------------------


@query(
    "sketch_distinct_users",  # HLL++ distinct count within 5% of exact
    oracle="""
        SELECT event_type, 1 AS within_tol FROM events GROUP BY event_type
    """,
)
def sketch_distinct_users(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    )
    return agg.select(
        "event_type",
        F.when(
            F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05, 1
        ).otherwise(0).alias("within_tol"),
    )


@query(
    "sketch_value_quantiles",  # approx percentiles within 2% of exact
    oracle="SELECT 1 AS q50_ok, 1 AS q99_ok",
)
def sketch_value_quantiles(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    agg = e.agg(
        F.percentile_approx("value", [0.5, 0.99], 10000).alias("approx"),
        F.expr("percentile(value, array(0.5, 0.99))").alias("exact"),
    )
    tol = lambda i: F.when(  # noqa: E731
        F.abs(F.element_at("approx", i) - F.element_at("exact", i))
        / F.abs(F.element_at("exact", i))
        <= 0.02,
        1,
    ).otherwise(0)
    return agg.select(tol(1).alias("q50_ok"), tol(2).alias("q99_ok"))


@query(
    "salted_skew_join",  # §2.3 extension: hot-key-robust join ≡ plain join
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def salted_skew_join(spark, sf_dir):
    """Salted repartition join (skew defusal): the small side is
    replicated across salt buckets, the big side salted by row hash —
    a hot l_orderkey spreads over 8 reducers instead of pinning one.
    Output is row-identical to the plain join (that's the oracle)."""
    from docling_api_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), _dsum("l_quantity").alias("qty")
    )


@query(
    "min_cost_supplier",  # TPC-H Q2-style correlated-min decorrelated via window
    oracle="""
        WITH priced AS (
            SELECT l_partkey, l_suppkey,
                   ROUND(CAST(l_extendedprice / l_quantity AS DOUBLE), 4) AS unit_price
            FROM lineitem WHERE l_quantity > 0
        ),
        ranked AS (
            SELECT l_partkey, l_suppkey, unit_price,
                   ROW_NUMBER() OVER (PARTITION BY l_partkey
                                      ORDER BY unit_price, l_suppkey) AS rn
            FROM priced
        )
        SELECT r.l_partkey AS partkey, p.p_brand, s.s_name, r.unit_price
        FROM ranked r
        JOIN part p ON p.p_partkey = r.l_partkey
        JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.rn = 1 AND r.l_partkey <= 500
    """,
)
def min_cost_supplier(spark, sf_dir):
    """Per-part cheapest supplier: the reference-free relational
    pattern TPC-H Q2 exercises (correlated MIN subquery), decorrelated
    the Catalyst-friendly way — one window rank over the fact, then
    broadcast dim joins. No repeated subquery scans."""
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    priced = li.select(
        "l_partkey",
        "l_suppkey",
        F.round((F.col("l_extendedprice") / F.col("l_quantity")).cast("double"), 4).alias(
            "unit_price"
        ),
    )
    w = W.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = priced.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("l_partkey") <= 500)
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("partkey"), "p_brand", "s_name", "unit_price"
        )
    )


@query(
    "rollup_status_priority",  # hierarchical totals (engine extension:
    # the reference computes its stats flat, A1; a 100 TB metrics layer
    # wants subtotal/grand-total in one pass)
    oracle="""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dsum("o_totalprice").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@query(
    "windowed_event_counts",  # event-time tumbling windows, batch form
    # (streaming twin with watermark: streaming/pipeline.py
    # stream_windowed_metrics, tested in tests/test_streaming.py)
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1, 2
    """,
)
def windowed_event_counts(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    # window() on the NTZ column directly: wall-clock truncation,
    # independent of the (driver-controlled) session timezone — an
    # NTZ→TZ cast here shifts hour boundaries in half-hour-offset zones
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), _dsum("value").alias("value_sum"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


@query(
    "cube_status_priority",
    # grouping-sets breadth beyond ROLLUP: full CUBE with grouping-id
    # disambiguation (engine extension; same A-family shape as
    # rollup_status_priority)
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus, o_orderpriority) AS gid,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        _dsum("o_totalprice").alias("total"),
    )


@query(
    "event_timestamp_parts",
    # F12 timestamp handling (reference stamps created_at/updated_at on
    # every row, core/models.py): ISO formatting + calendar parts, all
    # wall-clock on the NTZ column so the (driver-controlled) session
    # timezone cannot shift values
    oracle="""
        SELECT event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_ts,
               strftime(ts, '%Y-%m-%d') AS day,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
               CAST(dayofweek(ts) AS INT) AS dow
        FROM events WHERE event_id < 500
    """,
)
def event_timestamp_parts(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("event_id") < 500).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("iso_ts"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").alias("hr"),
        (F.dayofweek("ts") - 1).alias("dow"),
    )


@query(
    "median_price_by_status",
    # exact interpolated median per group (sort-based percentile — the
    # exact twin of sketch_value_quantiles' approximate path)
    oracle="""
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus
    """,
)
def median_price_by_status(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("median_price"),
        F.count("*").alias("n"),
    )


@query(
    "set_intersect",
    # U-family completion: INTERSECT (customers in both segments'
    # top-balance lists)
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    a = c.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0)).select(
        "c_custkey"
    )
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)
