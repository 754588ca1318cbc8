"""Additional delegated-SQL-surface coverage beyond the SURVEY §2 minimum
— the reference's transform hook exposes all of Spark SQL, so breadth
here is capability parity: pivot, HAVING, more window/aggregate/date
families, subquery variants, map access, word-frequency explode."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_tables
from .operators.dedup import scatter
from .queries import dsum, query


def _t(spark, sf_dir, *names):
    return load_tables(spark, sf_dir, list(names), register=False)


@query(
    "set_union_all",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
    """,
)
def set_union_all(spark, sf_dir):
    """B15: UNION ALL (bag semantics, no dedup shuffle)."""
    t = _t(spark, sf_dir, "customer", "orders")
    a = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = t["orders"].filter(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionAll(b)


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark, sf_dir):
    """B9: GROUP BY ... HAVING (post-aggregation filter)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "agg_minmax",
    oracle="""
    SELECT l_returnflag,
           MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
           MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_minmax(spark, sf_dir):
    """B9: min/max over doubles and timestamps (exact, order-free)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "pivot_status",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status(spark, sf_dir):
    """B11-adjacent: pivot (wide aggregation over a fixed value list)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


@query(
    "win_ntile",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile,
           CAST(PERCENT_RANK() OVER (ORDER BY c_acctbal DESC, c_custkey) AS DOUBLE)
             AS pct_rank
    FROM customer
    """,
)
def win_ntile(spark, sf_dir):
    """B12: ntile + percent_rank over a global order — computed
    two-phase (operators/global_windows.py): range-partitioned local
    ranks + broadcast cumulative offsets, so no single-partition window
    exists in the plan (pinned by test_plans)."""
    from .operators.global_windows import (
        global_row_number,
        ntile_expr,
        percent_rank_expr,
    )

    c = _t(spark, sf_dir, "customer")["customer"]
    ranked, n_total = global_row_number(
        c, [F.col("c_acctbal").desc(), F.col("c_custkey")]
    )
    return ranked.select(
        "c_custkey",
        ntile_expr(F.col("rn"), n_total, 4).alias("quartile"),
        percent_rank_expr(F.col("rn"), n_total).alias("pct_rank"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id,
           FIRST_VALUE(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS first_type,
           LEAD(event_id) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
    FROM events
    """,
)
def win_first_last(spark, sf_dir):
    """B13: first_value / lead analytic functions."""
    e = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.lead("event_id").over(w).alias("next_event"),
    )


@query(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subquery_scalar(spark, sf_dir):
    """B24: scalar subquery (avg computed once, broadcast as literal)."""
    load_tables(spark, sf_dir, ["orders"], register=True)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@query(
    "subquery_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey
                  AND l_quantity > 49)
    """,
)
def subquery_exists(spark, sf_dir):
    """B24/B6: correlated EXISTS (decorrelated to a semi join)."""
    load_tables(spark, sf_dir, ["supplier", "lineitem"], register=True)
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey
                      AND l_quantity > 49)
        """
    )


@query(
    "map_access",
    oracle="SELECT event_id, event_type AS mapped_type FROM events",
)
def map_access(spark, sf_dir):
    """B22: map construction + key lookup (projected away by Catalyst;
    the oracle is the equivalent identity projection)."""
    e = _t(spark, sf_dir, "events")["events"]
    m = F.create_map(F.lit("type"), F.col("event_type"))
    return e.select("event_id", m.getItem("type").alias("mapped_type"))


@query(
    "date_arith",
    oracle="""
    SELECT o_orderkey,
           DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
           LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus3m
    FROM orders
    """,
)
def date_arith(spark, sf_dir):
    """B17: datediff / last_day / add_months."""
    o = _t(spark, sf_dir, "orders")["orders"]
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).cast("timestamp").alias("plus3m"),
    )


@query(
    "word_freq",
    oracle=r"""
    SELECT word, COUNT(*) AS n FROM (
      SELECT UNNEST(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents
    ) GROUP BY word HAVING COUNT(*) >= 10
    """,
)
def word_freq(spark, sf_dir):
    """B21 + text: split → explode → count (the canonical corpus
    word-frequency pipeline; map-side partial agg bounds the shuffle)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return (
        d.select(F.explode(F.split(F.trim("text"), "\\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
    )


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def distinct_rows(spark, sf_dir):
    """B10: row-level DISTINCT."""
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.select("c_nationkey", "c_mktsegment").distinct()


@query(
    "order_nulls",
    oracle="""
    SELECT event_id, NULLIF(value, 0) AS v FROM events
    ORDER BY NULLIF(value, 0) DESC NULLS LAST, event_id LIMIT 20
    """,
)
def order_nulls(spark, sf_dir):
    """B14: explicit null ordering in sort."""
    e = _t(spark, sf_dir, "events")["events"]
    v = F.nullif(F.col("value"), F.lit(0.0))
    return (
        e.select("event_id", v.alias("v"))
        .orderBy(F.col("v").desc_nulls_last(), "event_id")
        .limit(20)
    )


@query(
    "agg_decimal_total",
    oracle="""
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM orders
    """,
)
def agg_decimal_total(spark, sf_dir):
    """B19/B20: global exact-decimal aggregate (no group keys — single
    reduce). The sum itself is exact decimal arithmetic; the *output*
    column is emitted as DOUBLE because Spark widens the sum to
    DECIMAL(28,2) while DuckDB widens to DECIMAL(38,2) — a raw DECIMAL
    output column hash-mismatches across engines even when values agree
    (the same skew class that failed cast_types in round 1)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        F.count("*").alias("n"),
    )


@query(
    "agg_salted",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def agg_salted(spark, sf_dir):
    """Skew-safe two-phase salted aggregation — semantically identical to
    a plain GROUP BY (the oracle), but hot keys split across 16 salt
    lanes before the merge (operators/skew.py)."""
    from .operators.skew import salted_agg

    e = _t(spark, sf_dir, "events")["events"]
    e = e.withColumn("vdec", F.col("value").cast("decimal(18,2)"))
    return salted_agg(
        e,
        ["event_type"],
        {
            "n": (F.count("*"), F.sum("n")),
            "total": (F.sum("vdec"), F.sum("total").cast("double")),
        },
        n_salts=16,
    ).select("event_type", "n", "total")


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """B11: explicit GROUPING SETS (beyond rollup/cube)."""
    load_tables(spark, sf_dir, ["lineitem"], register=True)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "win_range_between",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             ORDER BY o_orderkey RANGE BETWEEN 100 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS nearby_total
    FROM orders
    """,
)
def win_range_between(spark, sf_dir):
    """B13: RANGE-framed window (value-based frame bounds, vs the
    row-count frame of win_running_sum) — expressed as the bounded
    block join of operators/global_windows.range_frame_sum, so the
    global-ordered frame never funnels through one task.

    Exactness: prices are summed as integer cents (decimal(18,2)*100 →
    LONG — a ~3× cheaper aggregate than DECIMAL over the block-join
    intermediate); the final LONG/100.0 is IEEE correctly rounded, i.e.
    the same double the oracle's CAST(DECIMAL AS DOUBLE) produces, since
    cent sums stay far below 2^53."""
    from .operators.global_windows import range_frame_sum

    o = _t(spark, sf_dir, "orders")["orders"]
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    out = range_frame_sum(
        o,
        "o_orderkey",
        cents,
        preceding=100,
        out_col="nearby_total",
        keys_unique=True,  # o_orderkey is the orders primary key
    )
    return out.select(
        "o_orderkey",
        (F.col("nearby_total") / F.lit(100.0)).alias("nearby_total"),
    )


@query(
    "win_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS DOUBLE)
             AS cd,
           CAST(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice, o_orderkey) AS DOUBLE)
             AS pr
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
)
def win_cume_dist(spark, sf_dir):
    """B12 partitioned distribution functions: cume_dist + percent_rank
    per priority class. Partitioned windows shuffle once on the
    partition key — no global-order hazard (the global variants live in
    win_ntile via the two-phase operator). The (o_totalprice,
    o_orderkey) order is a total order, so ranks are deterministic;
    both functions are single divisions of exact integer ranks."""
    o = _t(spark, sf_dir, "orders")["orders"].filter(
        F.col("o_orderkey") % 100 == 0
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


@query(
    "agg_stats_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(l_quantity) AS DOUBLE) AS sx,
             CAST(SUM(l_quantity * l_quantity) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_linenumber AS DOUBLE)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_linenumber AS DOUBLE)
                      * CAST(l_linenumber AS DOUBLE)) AS DOUBLE) AS syy,
             CAST(SUM(l_quantity * CAST(l_linenumber AS DOUBLE)) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_qty_line
    FROM m
    """,
)
def agg_stats_moments(spark, sf_dir):
    """B19 statistical aggregates with cross-engine exactness: native
    stddev/corr accumulate floats in partition order (Welford variants —
    last-bit nondeterministic across engines AND across partitionings),
    so this derives them from exact moment sums instead. l_quantity and
    l_linenumber are integer-valued, so SUM/SUM-of-squares/cross-sum are
    exact in any accumulation order; stddev and Pearson r are then each
    one fixed double expression. Same single map-side-combined aggregate
    shape as native stddev — determinism costs nothing."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    x = F.col("l_quantity")
    y = F.col("l_linenumber").cast("double")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("stddev_qty"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_line"),
    )


@query(
    "profile_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(o_custkey) AS custkey_nonnull,
           COUNT(DISTINCT o_custkey) AS custkey_distinct,
           COUNT(o_orderstatus) AS status_nonnull,
           COUNT(DISTINCT o_orderstatus) AS status_distinct,
           COUNT(o_orderpriority) AS prio_nonnull,
           COUNT(DISTINCT o_orderpriority) AS prio_distinct
    FROM orders
    """,
)
def profile_orders(spark, sf_dir):
    """Data-profiling summary: per-column non-null + exact distinct
    counts in ONE aggregate. Spark plans the multi-column distinct via
    Expand (each row fans out once per distinct column) — one shuffle
    total, linear in columns, instead of one aggregation pass per
    column. The profiling report every ingestion pipeline runs first."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.count("o_orderstatus").alias("status_nonnull"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.count("o_orderpriority").alias("prio_nonnull"),
        F.countDistinct("o_orderpriority").alias("prio_distinct"),
    )


@query(
    "agg_collect_csv",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations_csv,
           COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect_csv(spark, sf_dir):
    """List aggregation with a deterministic contract: collect_set is
    unordered by definition (partition arrival order), so the registry
    output sorts the set and renders CSV — same trick every
    deterministic pipeline needs when materializing grouped lists."""
    n = _t(spark, sf_dir, "nation")["nation"]
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("n_name"))).alias(
            "nations_csv"
        ),
        F.count(F.lit(1)).alias("n_nations"),
    )


@query(
    "date_spine_fill",
    oracle="""
    WITH span AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1,
             COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(d1 - d0 AS BIGINT) + 1 AS span_days,
           active_days,
           CAST(d1 - d0 AS BIGINT) + 1 - active_days AS gap_days
    FROM span
    """,
)
def date_spine_fill(spark, sf_dir):
    """Date-spine gap analysis: per user, the calendar span between
    first and last event vs the days actually active — the
    sequence-generation + distinct-date pattern behind time-series gap
    filling (the spine itself is F.sequence(d0, d1); the checkable
    contract is its arithmetic: span = gaps + active). One user-keyed
    aggregate, integer-exact."""
    e = _t(spark, sf_dir, "events")["events"]
    d = F.col("ts").cast("date")
    span = e.groupBy("user_id").agg(
        F.min(d).alias("d0"),
        F.max(d).alias("d1"),
        F.countDistinct(d).alias("active_days"),
    )
    span_days = F.datediff(F.col("d1"), F.col("d0")).cast("long") + 1
    return span.select(
        "user_id",
        span_days.alias("span_days"),
        "active_days",
        (span_days - F.col("active_days")).alias("gap_days"),
    )


@query(
    "agg_conditional_family",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_tax > 0.07) AS any_high_tax,
           MIN(l_linestatus) AS any_status
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional_family(spark, sf_dir):
    """B9/B19 conditional-aggregate family: count_if (FILTER clause),
    bool_and/bool_or quantifiers, and a deterministic any_value stand-in
    (MIN — native any_value is arrival-order-dependent, useless under a
    hash compare). All partial-aggregable — one map-side-combined
    shuffle."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.min("l_linestatus").alias("any_status"),
    )


@query(
    "win_lead",
    oracle="""
    SELECT event_id, user_id, value,
           LEAD(value) OVER w AS next_value,
           LEAD(value, 2, -1.0) OVER w AS next2_value,
           LAG(value, 3, 0.0) OVER w AS prev3_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lead(spark, sf_dir):
    """B13 analytic-window completion: LEAD (win_lag's mirror) plus
    offset/default variants of both directions over one shared window —
    a single user-key shuffle serves all three expressions (one Window
    node, no per-expression exchange)."""
    e = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lead("value").over(w).alias("next_value"),
        F.lead("value", 2, -1.0).over(w).alias("next2_value"),
        F.lag("value", 3, 0.0).over(w).alias("prev3_value"),
    )


@query(
    "array_hof",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0.0)) AS n_positive,
           array_to_string(list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)), ',')
             AS milli_csv,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000)
                                                   AS BIGINT))),
               (acc, x) -> acc + x) AS milli_sum
    FROM embeddings
    """,
)
def array_hof(spark, sf_dir):
    """B21 higher-order functions: filter / transform / aggregate
    lambdas over the embedding arrays — the JVM-side array programs the
    LLM-pipeline ops are built from (similarity.dot is this aggregate
    shape). Values are quantized to exact milli-unit longs BEFORE the
    fold so the checked sum is association-free (float folds would be
    engine-order-dependent); per-element transform stays whole-stage
    codegen, zero Python. The array itself rides out as CSV — the
    driver comparator can't hash raw array cells."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    milli = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0.0)).alias("n_positive"),
        F.concat_ws(",", milli).alias("milli_csv"),
        F.aggregate(milli, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "milli_sum"
        ),
    )


@query(
    "join_nullsafe",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS status_nn
      FROM orders
    ), d AS (
      SELECT NULLIF(s, 'O') AS status_nn, label FROM (
        VALUES ('O', 'open'), ('F', 'filled'), ('P', 'partial')
      ) v(s, label)
    )
    SELECT o.o_orderkey, d.label
    FROM o JOIN d ON o.status_nn IS NOT DISTINCT FROM d.status_nn
    """,
)
def join_nullsafe(spark, sf_dir):
    """B4 completion: null-safe equi-join (`<=>` / IS NOT DISTINCT
    FROM) — NULL keys match NULL keys instead of dropping, the contract
    CDC/dim pipelines need for nullable business keys. Planned as a
    normal hash join on the null-safe key (NULLs hash to one bucket), so
    the dim side still broadcasts; no fallback to cartesian."""
    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", F.nullif("o_orderstatus", F.lit("O")).alias("status_nn")
    )
    d = spark.createDataFrame(
        [("O", "open"), ("F", "filled"), ("P", "partial")], "s string, label string"
    ).select(F.nullif("s", F.lit("O")).alias("d_status_nn"), "label")
    return (
        o.join(F.broadcast(d), F.col("status_nn").eqNullSafe(F.col("d_status_nn")))
        .select("o_orderkey", "label")
    )


@query(
    "excel_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def excel_scan(spark, sf_dir):
    """A3 driver-visible smoke: the Excel source end to end — the nation
    table is round-tripped through a REAL xlsx workbook (SpreadsheetML
    zip written by sources/xlsx_writer, inline strings) and read back by
    sources/excel.read_excel with header + schema inference, exactly the
    reference's spark-excel read path (HoodieExcelImporter.scala:94-98,
    header/inferSchema option table). The oracle is the lake table
    itself, so any parse/inference defect flips the hash.

    Scale note: this smoke reads one workbook; the reader distributes
    one task per workbook on multi-file globs (excel.py read_excel)."""
    import os
    import tempfile

    from .sources.excel import read_excel
    from .sources.xlsx_writer import write_xlsx

    n = _t(spark, sf_dir, "nation")["nation"]
    rows = [
        (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        for r in n.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()  # nation is a 25-row dimension — driver-side is fine
    ]
    path = os.path.join(
        tempfile.mkdtemp(prefix="excel_scan_"), "nation.xlsx"
    )
    write_xlsx(path, ["n_nationkey", "n_name", "n_regionkey"], rows)
    df = read_excel(
        spark, path, {"header": "true", "inferSchema": "true"}
    )
    return df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@query(
    "jdbc_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def jdbc_scan(spark, sf_dir):
    """A4/A6 driver-visible smoke: the JDBC source end to end against a
    REAL JDBC engine — the nation table is loaded into an in-memory
    Derby database (Spark's bundled JVM driver), then read back through
    sources.registry.read_jdbc with the reference's dialect whitelist and
    query-as-source path (HoodieJDBCImporter.scala:102-106,140-152). The
    oracle is the lake table itself. Derby uppercases identifiers, so the
    projection re-aliases to the lake's lowercase names.

    Scale note: this smoke is single-partition by design; the
    partitioned-parallel read path (numPartitions/partitionColumn/bounds,
    A5) forwards through the same reader and is pytest-pinned."""
    import uuid

    n = _t(spark, sf_dir, "nation")["nation"]
    rows = [
        (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        for r in n.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()  # 25-row dimension — driver-side is fine
    ]
    db = f"jdbc_scan_{uuid.uuid4().hex[:8]}"
    url = f"jdbc:derby:memory:{db}"
    jvm = spark._jvm
    try:
        conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
        try:
            st = conn.createStatement()
            st.execute(
                "CREATE TABLE nation (n_nationkey INT PRIMARY KEY, "
                "n_name VARCHAR(64), n_regionkey INT)"
            )
            ps = conn.prepareStatement("INSERT INTO nation VALUES (?, ?, ?)")
            for k, name, rk in rows:
                ps.setInt(1, int(k))
                ps.setString(2, str(name))
                ps.setInt(3, int(rk))
                ps.executeUpdate()
        finally:
            conn.close()
        from .sources.registry import read_jdbc

        df = read_jdbc(
            spark,
            {
                "url": url,
                "query": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
            },
        ).select(
            F.col("N_NATIONKEY").cast("int").alias("n_nationkey"),
            F.col("N_NAME").alias("n_name"),
            F.col("N_REGIONKEY").cast("int").alias("n_regionkey"),
        )
        # materialize BEFORE dropping the database (the read is lazy;
        # 25 rows — driver-side is fine), then hand back a local frame
        out = spark.createDataFrame(df.collect(), df.schema)
    finally:
        # in-memory Derby dbs live in JVM heap for the session lifetime
        # unless dropped; Derby signals a successful drop by THROWING
        # SQLNonTransientConnectionException (state 08006)
        try:
            jvm.java.sql.DriverManager.getConnection(url + ";drop=true")
        except Exception:
            pass
    return out


@query(
    "csv_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_scan(spark, sf_dir):
    """A14-adjacent driver smoke: the declarative source ROUTER end to
    end — nation written as CSV, read back through
    sources.registry.read_source("csv", options) with header+inferSchema
    option forwarding (the same entry point the importer CLIs resolve
    connectors through, pipelines/importer.py). Oracle is the lake
    table; proves the router + file-reader option path, not just the
    direct reader call."""
    import os
    import tempfile

    from .sources.registry import read_source

    n = _t(spark, sf_dir, "nation")["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="csv_scan_"), "nation_csv")
    n.coalesce(1).write.option("header", "true").csv(out)
    df = read_source(
        spark, "csv", {"path": out, "header": "true", "inferSchema": "true"}
    )
    return df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@query(
    "mongo_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def mongo_scan(spark, sf_dir):
    """A7/A8 driver-visible smoke: the Mongo read path executes END TO
    END through ``spark.read.format("mongodb")`` — a Python Data Source
    stand-in (sources/standin.py) registered under the connector's
    format name serves nation rows staged as JSON lines, and
    sources.registry.read_mongo splices the username/password into the
    URI before forwarding (HoodieMongoBatch.scala:101-120). The network
    hop is the only simulated part; format resolution, option
    forwarding, schema declaration, and the distributed read are the
    real Spark path. Oracle is the lake table itself."""
    import json
    import os
    import tempfile

    from .sources.registry import read_mongo
    from .sources.standin import register_standin_sources

    register_standin_sources(spark)
    n = _t(spark, sf_dir, "nation")["nation"]
    rows = (
        n.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()  # 25-row dimension — driver-side staging is fine
    )
    path = os.path.join(tempfile.mkdtemp(prefix="mongo_scan_"), "coll.jsonl")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r.asDict()) + "\n")
    df = read_mongo(
        spark,
        {
            "uri": "mongodb://localhost:27017/lake.nation",
            "username": "reader",
            "password": "secret",
            "database": "lake",
            "collection": "nation",
            "standin.path": path,
            "standin.schema": (
                "n_nationkey INT, n_name STRING, n_regionkey INT"
            ),
        },
    )
    return df.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "es_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def es_scan(spark, sf_dir):
    """A9/A10 driver-visible smoke: the ES read path executes END TO END
    through ``spark.read.format("es")`` — the elasticsearch-hadoop short
    name, served by the Python Data Source stand-in — with the es.*
    option family (resource, query DSL pushdown) forwarded by
    sources.registry.read_es (HoodieEsBatch.scala:102-109), which also
    applies the case-collision guard from the reference's documented
    failure mode. Oracle is the lake table itself."""
    import json
    import os
    import tempfile

    from .sources.registry import read_es
    from .sources.standin import register_standin_sources

    register_standin_sources(spark)
    n = _t(spark, sf_dir, "nation")["nation"]
    rows = (
        n.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()  # 25-row dimension — driver-side staging is fine
    )
    path = os.path.join(tempfile.mkdtemp(prefix="es_scan_"), "idx.jsonl")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r.asDict()) + "\n")
    df = read_es(
        spark,
        {
            "es.resource": "nation/_doc",
            "es.query": '{"query": {"match_all": {}}}',
            "es.read.field.exclude": "unused",
            "standin.path": path,
            "standin.schema": (
                "n_nationkey INT, n_name STRING, n_regionkey INT"
            ),
        },
    )
    return df.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "orc_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def orc_scan(spark, sf_dir):
    """Source-router coverage: ORC round trip through
    sources.registry.read_source("orc", ...) — Spark-native columnar
    format with the same predicate-pushdown/column-pruning machinery as
    parquet; proves the router's file-reader path for the third
    columnar format (csv/parquet ids already exist)."""
    import os
    import tempfile

    from .sources.registry import read_source

    n = _t(spark, sf_dir, "nation")["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="orc_scan_"), "nation_orc")
    n.write.orc(out)
    return read_source(spark, "orc", {"path": out})


@query(
    "json_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def json_scan(spark, sf_dir):
    """Source-router coverage: JSON-lines round trip through
    sources.registry.read_source("json", ...) with an EXPLICIT schema
    (the production form — schema inference is a full extra pass at
    100 TB, so the reader takes the declared one)."""
    import os
    import tempfile

    from .sources.registry import read_source

    n = _t(spark, sf_dir, "nation")["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="json_scan_"), "nation_json")
    n.write.json(out)
    return read_source(
        spark,
        "json",
        {
            "path": out,
            "schema": "n_nationkey INT, n_name STRING, n_regionkey INT",
        },
    )


@query(
    "join_interval_bucketed",
    oracle="""
    WITH t0 AS (
      SELECT CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS d0 FROM events
    ), w AS (
      SELECT n_nationkey AS window_id,
             d0 + n_nationkey * INTERVAL 2 DAY AS w_start,
             d0 + n_nationkey * INTERVAL 2 DAY + INTERVAL 3 DAY AS w_end
      FROM nation CROSS JOIN t0
    )
    SELECT window_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY window_id
    """,
)
def join_interval_bucketed(spark, sf_dir):
    """TRUE interval join with NO shared equi-key — points (events)
    against overlapping time windows — made scale-safe by the time-grid
    trick: each window explodes into the day buckets it covers (bounded
    fan-out = window length / grid step), each point maps to its one day
    bucket, and the join becomes a plain hash equi-join on the bucket
    with an exact containment filter behind it. Without this a
    no-equi-key interval join plans as a nested-loop product — the
    100 TB killer; with it the fact side shuffles once on the bucket.
    A point meets each window in at most one bucket, so no dedup stage
    is needed. Windows derive from the nation table (25 overlapping
    3-day windows stepped 2 days from the corpus start).

    Oracle: the brute-force containment join, exactly aggregated."""
    t = _t(spark, sf_dir, "events", "nation")
    e, n = t["events"], t["nation"]
    d0 = e.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    w = (
        n.crossJoin(F.broadcast(d0))
        .select(
            F.col("n_nationkey").alias("window_id"),
            (
                F.col("d0")
                + F.col("n_nationkey") * F.expr("INTERVAL 2 DAY")
            ).alias("w_start"),
        )
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 3 DAY"))
    )
    w_days = w.select(
        "window_id",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("w_start")),
                F.date_trunc("day", F.col("w_end")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("bucket"),
    )
    pts = e.select(
        "value", F.col("ts"), F.date_trunc("day", F.col("ts")).alias("bucket")
    )
    from .queries import dsum

    return (
        pts.join(F.broadcast(w_days), "bucket")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "winsorize_cap",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), r AS (
      SELECT o_orderpriority, cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c
    ), cuts AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                      THEN cents END) AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                      THEN cents END) AS hi
      FROM r GROUP BY o_orderpriority
    )
    SELECT c.o_orderpriority, cuts.lo, cuts.hi,
           CAST(SUM(CASE WHEN c.cents < cuts.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
           CAST(SUM(CASE WHEN c.cents > cuts.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above,
           CAST(SUM(LEAST(GREATEST(c.cents, cuts.lo), cuts.hi))
                AS BIGINT) AS winsorized_cents
    FROM c JOIN cuts USING (o_orderpriority)
    GROUP BY c.o_orderpriority, cuts.lo, cuts.hi
    """,
)
def winsorize_cap(spark, sf_dir):
    """Winsorization — the data-cleaning step that CLAMPS outliers to
    per-group [p05, p95] instead of dropping them — with the percentile
    cut defined DISCRETELY (the ceil(p*n)-th smallest value) in integer
    cents, so the clamp boundary is a value that exists in the data and
    every count/sum is bit-identical cross-engine (interpolated
    quantiles differ in last-bit association between engines; discrete
    ranks cannot).

    Scale: one keyed window pass ranks within each group (the same
    shuffle a grouped agg needs), the 5-row cuts table broadcasts back,
    and the clamp+aggregate pipelines into the scan. At extreme
    per-group cardinalities swap the exact rank for approx_percentile —
    the plan shape is unchanged."""
    o = _t(spark, sf_dir, "orders")["orders"]
    c = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * F.lit(100)).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("cents")
    wn = Window.partitionBy("o_orderpriority")
    r = c.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    cuts = r.groupBy("o_orderpriority").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.05) * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    j = c.join(F.broadcast(cuts), "o_orderpriority")
    return j.groupBy("o_orderpriority", "lo", "hi").agg(
        F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0)).alias(
            "n_below"
        ),
        F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0)).alias(
            "n_above"
        ),
        F.sum(
            F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
        ).alias("winsorized_cents"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_distinct_custs
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap aggregation — the scalable
    alternative to COUNT(DISTINCT) for dense integer keys: each key maps
    to (bucket, bit position), per-(group, bucket) bitmaps OR-merge
    associatively in the partial-aggregate phase (a 4 KB page per 32768
    keys instead of a shuffle row per distinct value), and the final
    count sums bitmap_count per group. Unlike approx_count_distinct this
    is exact, and unlike expand-based COUNT(DISTINCT) the shuffle volume
    is bounded by key range, not row count. The oracle is plain
    COUNT(DISTINCT) — any bit lost in the merge flips it."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_custs"))
    )


@query(
    "downsample_ohlc",
    oracle="""
    WITH h AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             ts, event_id, value
      FROM events
    ), r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY hr ORDER BY ts, event_id) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY hr
                           ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM h
    )
    SELECT hr,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_ticks
    FROM r GROUP BY hr
    """,
)
def downsample_ohlc(spark, sf_dir):
    """Time-series downsampling to OHLC bars — the hypertable-rollup /
    continuous-aggregate shape: raw ticks collapse to per-hour
    open/high/low/close + count, with open/close defined DETERMINISTICALLY
    as the first/last tick by (ts, event_id) so same-timestamp ticks
    can't flip the bar between engines or partition layouts. Values
    pass through untouched (no float arithmetic), so the contract is
    repr-exact.

    Scale: one keyed window pass (hour-partitioned rank — same shuffle
    the bar aggregate needs anyway) feeding a partial+final hash
    aggregate; at production tick volumes swap the rank for max_by/
    min_by over the (ts, event_id) struct to fuse into a single agg —
    the shuffle shape is identical."""
    e = _t(spark, sf_dir, "events")["events"]
    h = e.select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("hr").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wd = Window.partitionBy("hr").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = h.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("hr").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


@query(
    "hudi_partitioned_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             strftime(o_orderdate, '%Y-%m') AS dt
      FROM orders
    ), u AS (
      SELECT o_orderkey, o_totalprice * 2 AS p,
             o_orderdate + INTERVAL 1 DAY AS d
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT b.o_orderkey,
           COALESCE(u.p, b.o_totalprice) AS o_totalprice,
           COALESCE(u.d, b.o_orderdate) AS o_orderdate,
           b.dt
    FROM base b LEFT JOIN u USING (o_orderkey)
    """,
)
def hudi_partitioned_upsert(spark, sf_dir):
    """§1.2 PARTITIONED upsert end to end against real storage: orders
    partitioned by ingest month (``dt``, derived once at ingest — a
    stable partition label, deliberately NOT re-derived from the updated
    o_orderdate, the Hudi partition-path contract that keeps a record
    in its original partition without a global index), bulk_insert, then
    an upsert of every %10 key. The COW merge rewrites ONLY the
    partitions the incoming batch touches (dynamic partition overwrite —
    rewrite cost tracks touched partitions, not the table; the scoped
    read is pinned in test_plans partition-pruning); the read-back
    returns the partition column alongside the data, so a row landed in
    the wrong partition flips the oracle."""
    import tempfile

    from .lake import HudiTable

    o = (
        _t(spark, sf_dir, "orders")["orders"]
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn("dt", F.date_format("o_orderdate", "yyyy-MM"))
    )
    t = HudiTable(
        path=tempfile.mkdtemp(prefix="part_q_") + "/t",
        record_key="o_orderkey",
        precombine="o_orderdate",
        partition_field="dt",
    )
    t.bulk_insert(o)
    t.upsert(
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ),
        spark,
    )
    return t.read(spark).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "dt"
    )


@query(
    "graph_triangle_count",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3
                  THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
                  ELSE list_distinct([
                    array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
                    FOR i IN range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1)
                  ])
             END AS sh
      FROM documents
    ), e AS (
      SELECT a.doc_id AS x, b.doc_id AS y
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
            FROM e ab JOIN e bc ON ab.y = bc.x
                      JOIN e ac ON ac.x = ab.x AND ac.y = bc.y) AS n_triangles
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Graph analytics over the near-dup relation: TRIANGLE COUNT on the
    exact Jaccard>=0.8 edge set (duplicate clusters appear as cliques;
    the triangle count is their density signature — a cluster of k
    near-identical docs contributes C(k,3)). The distributed shape is
    the canonical vertex-ordered edge-edge join: every edge stored
    (lo, hi), wedges built by joining on the shared middle vertex, each
    wedge closed by an equi-join back to the edge set — three keyed hash
    joins, no nested loop, triangle counted exactly once. The oracle
    recomputes the identical edge set brute-force and closes it in SQL.

    Scale: wedge count is sum-of-degrees-squared — the vertex-ordering
    trick (only lo->hi edges) bounds it; all joins are equi-keyed."""
    from .operators import dedup as D
    from .operators.dedup import scatter

    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    e = (
        D.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)
        .select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    )
    ab = e.select(F.col("x").alias("a"), F.col("y").alias("b"))
    bc = e.select(F.col("x").alias("b"), F.col("y").alias("c"))
    wedges = ab.join(bc, "b")
    ac = e.select(F.col("x").alias("a"), F.col("y").alias("c"), F.lit(1).alias("closed"))
    tri = wedges.join(ac, ["a", "c"])
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


@query(
    "hudi_cdc_read",
    oracle="""
    SELECT o_orderkey AS rec_key, 'd' AS op,
           o_totalprice AS before_price,
           CAST(NULL AS DOUBLE) AS after_price
    FROM orders WHERE o_orderkey % 20 = 0
    UNION ALL
    SELECT o_orderkey, 'u', o_totalprice, o_totalprice * 2
    FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0
    UNION ALL
    SELECT o_orderkey + 1000000, 'i', CAST(NULL AS DOUBLE), o_totalprice
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def hudi_cdc_read(spark, sf_dir):
    """§1.2 Hudi CDC incremental query
    (``hoodie.datasource.query.incremental.format=cdc``) end to end: the
    change FEED between a cursor and head — op + full before/after
    images — where plain incremental pull only returns current rows and
    silently loses deletions. Write sequence after the cursor: update
    every %10 key (price x2), DELETE every %20 key (the delete beats the
    %20∩%10 updates — later commit), insert brand-new keys (+1e6, every
    %100). The feed must emit 'u' rows with both images, 'd' rows with
    only the before image (including keys updated then deleted inside
    the window — before = the CURSOR state, not the intermediate), 'i'
    rows with only the after image, and nothing for untouched keys."""
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    t = HudiTable(
        path=tempfile.mkdtemp(prefix="cdcq_") + "/t",
        record_key="o_orderkey",
        precombine="o_orderdate",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(o)
    cursor = t.savepoint(spark)
    t.upsert(
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ),
        spark,
    )
    t.delete(o.filter(F.col("o_orderkey") % 20 == 0).select("o_orderkey"), spark)
    t.upsert(
        o.filter(F.col("o_orderkey") % 100 == 0).select(
            (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
            "o_totalprice",
            "o_orderdate",
        ),
        spark,
    )
    return t.read_cdc(spark, since_seq=cursor).select(
        F.col("o_orderkey").alias("rec_key"),
        "op",
        F.col("before_o_totalprice").alias("before_price"),
        F.col("after_o_totalprice").alias("after_price"),
    )


@query(
    "xml_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def xml_scan(spark, sf_dir):
    """Source-router coverage: XML round trip through
    sources.registry.read_source("xml", ...) — Spark 4's built-in XML
    data source (rowTag-delimited records), read back with a DECLARED
    schema so no inference pass is needed. Completes the router's file-
    format family (csv/json/parquet/orc/excel/xml)."""
    import os
    import tempfile

    from .sources.registry import read_source

    n = _t(spark, sf_dir, "nation")["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="xml_scan_"), "nation_xml")
    n.write.format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(out)
    return read_source(
        spark,
        "xml",
        {
            "path": out,
            "rowTag": "nation",
            "schema": "n_nationkey INT, n_name STRING, n_regionkey INT",
        },
    )


@query(
    "variant_json_query",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(DISTINCT CAST(props ->> '$.k' AS BIGINT)) AS n_distinct_k
    FROM events GROUP BY event_type
    """,
)
def variant_json_query(spark, sf_dir):
    """Spark 4 VARIANT semi-structured handling: the JSON props column
    parsed ONCE into the binary variant encoding (parse_json), fields
    then extracted with typed variant_get paths — the engine-native
    answer to schemaless columns that, at 100 TB, beats per-expression
    get_json_object re-parsing (each string re-tokenizes the JSON; the
    variant parse is paid once and every extraction is a binary-offset
    lookup). Aggregated per event_type so the oracle checks the typed
    extraction end to end."""
    e = _t(spark, sf_dir, "events")["events"]
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.countDistinct("k").alias("n_distinct_k"),
    )


@query(
    "hudi_insert_overwrite",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             strftime(o_orderdate, '%Y-%m') AS dt
      FROM orders
    ), target AS (SELECT MIN(dt) AS tdt FROM base)
    SELECT b.o_orderkey, b.o_totalprice, b.o_orderdate, b.dt
    FROM base b, target t WHERE b.dt <> t.tdt
    UNION ALL
    SELECT b.o_orderkey, b.o_totalprice * 3, b.o_orderdate, b.dt
    FROM base b, target t WHERE b.dt = t.tdt AND b.o_orderkey % 2 = 0
    """,
)
def hudi_insert_overwrite(spark, sf_dir):
    """§1.2 ``insert_overwrite`` operation end to end: REPLACE one
    partition's contents with the incoming batch — the earliest month's
    partition is overwritten by a half-sized replacement batch (every
    even key, price x3), so the read-back must show that partition
    holding ONLY the replacement rows (odd keys gone — an upsert would
    have kept them, which is exactly the semantic difference under
    test) while every other partition is byte-identical and never
    opened during the write."""
    import tempfile

    from .lake import HudiTable

    o = (
        _t(spark, sf_dir, "orders")["orders"]
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn("dt", F.date_format("o_orderdate", "yyyy-MM"))
    )
    t = HudiTable(
        path=tempfile.mkdtemp(prefix="iow_q_") + "/t",
        record_key="o_orderkey",
        precombine="o_orderdate",
        partition_field="dt",
    )
    t.bulk_insert(o)
    tdt = o.agg(F.min("dt")).collect()[0][0]  # partition label: metadata
    repl = (
        o.filter((F.col("dt") == tdt) & (F.col("o_orderkey") % 2 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
    )
    t.write(repl, operation="insert_overwrite")
    return t.read(spark).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "dt"
    )


@query(
    "collation_group",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN c_custkey % 2 = 1 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg,
             c_acctbal
      FROM customer
    )
    SELECT MIN(seg) AS seg_label, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM m GROUP BY lower(seg)
    """,
)
def collation_group(spark, sf_dir):
    """Spark 4 COLLATIONS: grouping under the UTF8_LCASE collation —
    the engine-native way to make comparisons/grouping case-insensitive
    WITHOUT rewriting every expression through lower() (collation
    applies to joins, ORDER BY, and DISTINCT the same way; for plain
    ASCII case folds the two are equivalent, which is what makes the
    lower()-based oracle exact). The fixture mixes case per row (odd
    keys lowercased), the group key is collated, and the emitted label
    is MIN over the raw strings so the output is deterministic even
    though the collated group's representative isn't."""
    c = _t(spark, sf_dir, "customer")["customer"]
    m = c.select(
        F.when(
            F.col("c_custkey") % 2 == 1, F.lower(F.col("c_mktsegment"))
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        "c_acctbal",
    )
    return (
        m.groupBy(F.collate(F.col("seg"), "UTF8_LCASE").alias("segc"))
        .agg(
            F.min("seg").alias("seg_label"),
            F.count(F.lit(1)).alias("n"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .drop("segc")
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem WHERE l_quantity < 25
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark, sf_dir):
    """Spark 4 SQL PIPE syntax (`|>`): the same logical plan as the
    equivalent SELECT, declared as a linear pipeline — proof the SQL
    front end's newest surface routes through the identical Catalyst
    path (filter pushdown, partial aggregation) as the classic form the
    oracle uses."""
    t = _t(spark, sf_dir, "lineitem")
    t["lineitem"].createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_quantity < 25
        |> AGGREGATE COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty
           GROUP BY l_returnflag
        """
    ).select("l_returnflag", "n", "total_qty")


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_totalprice > 200000
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark, sf_dir):
    """Parameterized SQL (named parameter markers, `spark.sql(query,
    args=...)`): values bind as true literals in the analyzed plan — no
    string interpolation, no injection surface, and Catalyst constant-
    folds them like any literal (the binding is visible to filter
    pushdown, unlike a late-bound UDF argument)."""
    t = _t(spark, sf_dir, "orders")
    t["orders"].createOrReplaceTempView("param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM param_orders
        WHERE o_totalprice > :minp
        GROUP BY o_orderpriority
        """,
        args={"minp": 200000},
    )


@query(
    "log_parse_extract",
    oracle="""
    SELECT o_orderkey AS rec_key,
           strftime(o_orderdate, '%Y-%m-%d') AS dt,
           o_orderpriority AS pri,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    """,
)
def log_parse_extract(spark, sf_dir):
    """Log-line ETL round trip, the classic ingest shape: rows are
    FORMATTED into a delimited log line (format_string), then parsed
    back out with regexp_extract (anchored groups) and str_to_map (the
    k=v attribute tail) — the oracle is the original fields, so any
    formatting/parsing asymmetry (greedy match, wrong group, delimiter
    in data) flips the hash. Floats never enter the text: the price
    travels as integer cents, sidestepping printf rounding divergence
    between engines.

    Scale: map-only Column program — format, extract, and map lookup
    all pipeline into the scan; no UDF, no shuffle."""
    o = _t(spark, sf_dir, "orders")["orders"]
    line = F.format_string(
        "%d [%s] attrs pri=%s;cents=%d",
        F.col("o_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
        F.floor(F.col("o_totalprice") * 100).cast("long"),
    )
    logs = o.select(line.alias("line"))
    attrs = F.expr(
        r"str_to_map(regexp_extract(line, 'attrs (.*)$', 1), ';', '=')"
    )
    return logs.select(
        F.regexp_extract("line", r"^(\d+) ", 1).cast("long").alias("rec_key"),
        F.regexp_extract("line", r"\[([0-9-]+)\]", 1).alias("dt"),
        attrs.getItem("pri").alias("pri"),
        attrs.getItem("cents").cast("long").alias("cents"),
    )


@query(
    "hudi_manifest_commit",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, o_totalprice * 2 AS p,
             o_orderdate + INTERVAL 1 DAY AS d
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o.o_orderkey,
           COALESCE(u.p, o.o_totalprice) AS o_totalprice,
           COALESCE(u.d, o.o_orderdate) AS o_orderdate
    FROM orders o LEFT JOIN u USING (o_orderkey)
    """,
)
def hudi_manifest_commit(spark, sf_dir):
    """§1.2 OBJECT-STORE-SAFE commit protocol end to end
    (``hoodie.commit.mode=manifest`` — the Iceberg/Delta-style answer to
    'directory rename is not atomic on S3/GCS'): every commit writes
    immutable data files then atomically publishes a MANIFEST naming the
    live set; readers load exactly the listed files. After bulk_insert +
    upsert, a CRASHED WRITER is simulated by planting orphan data files
    with junk rows and no manifest — the read must return the merged
    state with the debris invisible (the previous manifest stays
    authoritative), which is precisely the guarantee rename-based
    commits cannot give on an object store."""
    import os
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="manif_q_") + "/t"
    t = HudiTable(
        path=path,
        record_key="o_orderkey",
        precombine="o_orderdate",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(o)
    t.upsert(
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ),
        spark,
    )
    # crashed writer: data files on disk, manifest never published
    o.limit(7).withColumn("o_totalprice", F.lit(-1.0)).write.parquet(
        os.path.join(path, "data", "commit-crashed")
    )
    return t.read(spark)


@query(
    "pivot_dynamic",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS "view"
    FROM events GROUP BY user_id
    """,
)
def pivot_dynamic(spark, sf_dir):
    """Dynamic pivot — no values list supplied: Spark runs the two-pass
    plan (distinct-values collect, bounded by
    spark.sql.pivotMaxValues=10000, then the pivot aggregate) and
    derives the output columns from the DATA. The oracle enumerates the
    five event types explicitly, so a missed or phantom pivot column is
    a schema mismatch, not just a value diff. pivot_status covers the
    static-values form; this pins the discovery pass.

    Scale: the distinct pass is a metadata-sized collect (pivot column
    cardinality, not rows); the aggregate is one keyed shuffle with
    map-side partials per (group, pivot-value)."""
    e = _t(spark, sf_dir, "events")["events"]
    return (
        e.groupBy("user_id")
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "ansi_try_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 100 = 0 THEN NULL
                ELSE o_orderkey // (o_orderkey % 100) END AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'not-a-number'
                         ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
             AS safe_cast,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_orderkey + 1 END AS safe_add
    FROM orders
    """,
)
def ansi_try_funcs(spark, sf_dir):
    """ANSI-mode-safe ETL math (Spark 4 runs ANSI ON, where bad casts /
    division by zero / overflow THROW and kill the job): the try_*
    family returns NULL instead — try_divide on a denominator that hits
    zero every 100th key, try_cast on a string column that is garbage
    every 3rd key, try_add behind a planted null. At 100 TB one dirty
    row must never abort a 6-hour job; try_* is the row-level quarantine
    that keeps ANSI's strictness everywhere else."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.floor(
            F.try_divide(F.col("o_orderkey"), F.col("o_orderkey") % 100)
        ).cast("long").alias("safe_div"),
        F.try_to_number(
            F.when(F.col("o_orderkey") % 3 == 0, "not-a-number").otherwise(
                F.col("o_orderkey").cast("string")
            ),
            F.lit("999999999999"),
        ).cast("bigint").alias("safe_cast"),
        F.try_add(
            F.col("o_orderkey"),
            F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(1),
        ).alias("safe_add"),
    )


@query(
    "win_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def win_forward_fill(spark, sf_dir):
    """FORWARD FILL (gap fill) — the time-series imputation pattern:
    every event carries the most recent purchase value its user has
    produced so far, via LAST_VALUE ... IGNORE NULLS over a running
    frame (rows before the user's first purchase stay NULL). This is
    how sparse sensor/price ticks become dense series without a
    self-join; IGNORE NULLS is the analytic-function feature the
    registry didn't yet pin.

    Scale: one keyed window — same user_id shuffle as any per-user
    analytic; the frame is running, so state per row is O(1)."""
    e = _t(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w).alias("last_purchase_value"),
    )


@query(
    "subquery_not_in_nulls",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                               WHERE c_acctbal > 9000)) AS not_in_clean,
      (SELECT COUNT(*) FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                               WHERE c_acctbal > 9000
                               UNION ALL SELECT NULL))
        AS not_in_with_null,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey
                           AND c.c_acctbal > 9000)) AS not_exists
    """,
)
def subquery_not_in_nulls(spark, sf_dir):
    """The NOT IN + NULL trap, pinned as a semantic contract: NOT IN
    against a set containing a NULL matches NOTHING (three-valued
    logic — x <> NULL is unknown), while NOT EXISTS keeps its rows.
    Engines (and hand-rolled anti-join rewrites) get this wrong
    constantly; the id proves this engine implements ANSI semantics for
    both forms — the clean NOT IN equals NOT EXISTS, a structurally NULL-polluted
    NOT IN collapses to zero.

    Scale: the planner rewrites NOT IN with nullable keys to a
    null-aware anti join (one extra null check per probe), NOT EXISTS
    to a plain left-anti — both single keyed shuffles."""
    t = _t(spark, sf_dir, "orders", "customer")
    t["orders"].createOrReplaceTempView("nin_orders")
    t["customer"].createOrReplaceTempView("nin_customer")
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM nin_orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM nin_customer
                                   WHERE c_acctbal > 9000)) AS not_in_clean,
          (SELECT COUNT(*) FROM nin_orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM nin_customer
                                   WHERE c_acctbal > 9000
                                   UNION ALL SELECT NULL))
            AS not_in_with_null,
          (SELECT COUNT(*) FROM nin_orders o
           WHERE NOT EXISTS (SELECT 1 FROM nin_customer c
                             WHERE c.c_custkey = o.o_custkey
                               AND c.c_acctbal > 9000)) AS not_exists
        """
    )


@query(
    "hudi_rectify_sizes",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_totalprice * 2 AS p,
             o_orderdate + INTERVAL 1 DAY AS d
      FROM orders WHERE o_orderkey % 4 = 1
    ), b AS (
      SELECT o_orderkey, o_totalprice + 5 AS p,
             o_orderdate + INTERVAL 2 DAY AS d
      FROM orders WHERE o_orderkey % 4 = 2
    )
    SELECT o.o_orderkey,
           COALESCE(b.p, a.p, o.o_totalprice) AS o_totalprice,
           COALESCE(b.d, a.d, o.o_orderdate) AS o_orderdate
    FROM orders o
    LEFT JOIN a USING (o_orderkey)
    LEFT JOIN b USING (o_orderkey)
    """,
)
def hudi_rectify_sizes(spark, sf_dir):
    """§1.2 lake MAINTENANCE on the MOR + manifest COMBINED table type
    (VERDICT r10 ask: the one path previously exercised only by unit
    tests): genesis bulk_insert, two small delta-log upserts (the
    streaming steady state that fragments layouts), then the two
    maintenance passes — ``cluster`` (Z-order; folds the pending log
    first, publishes the clustered layout as a new manifest version)
    and ``rectify_file_sizes`` (small-file compaction, Hudi's
    ``hoodie.parquet.small.file.limit`` posture: the clustered 8-file
    layout is far under the byte target, so it must collapse to ONE
    right-sized file — the 100 TB operational pain point where a table
    written by 10k micro-batches reads 10k× slower than its bytes
    justify).

    The physical outcome is load-bearing, not just the content hash:
    the query RAISES unless rectify reports a rewrite AND the live
    manifest lists exactly that many files (object-store-safe commits —
    debris from superseded versions stays on disk until clean(), so a
    directory listing can't verify this; only the manifest can). The
    oracle pins the content — maintenance must move bytes, never data."""
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    t = HudiTable(
        path=tempfile.mkdtemp(prefix="rectify_q_") + "/t",
        record_key="o_orderkey",
        precombine="o_orderdate",
        table_type="MERGE_ON_READ",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(o)
    t.upsert(
        o.filter(F.col("o_orderkey") % 4 == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ),
        spark,
    )
    t.upsert(
        o.filter(F.col("o_orderkey") % 4 == 2)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")
        ),
        spark,
    )
    t.cluster(spark, ["o_orderdate", "o_totalprice"], target_files=8)
    n = t.rectify_file_sizes(spark, target_file_bytes=512 * 1024 * 1024)
    if n == 0:
        raise AssertionError(
            "rectify_file_sizes skipped the rewrite — the clustered "
            "8-file layout should be fragmented relative to a 512 MiB "
            "target at any test SF"
        )
    live = t._manifest().files
    if len(live) != n:
        raise AssertionError(
            f"live manifest lists {len(live)} files, rectify reported {n}"
        )
    return t.read(spark)


@query(
    "hudi_clean_reclaim",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_totalprice * 2 AS p,
             o_orderdate + INTERVAL 1 DAY AS d
      FROM orders WHERE o_orderkey % 5 = 0
    ), b AS (
      SELECT o_orderkey, o_totalprice + 7 AS p,
             o_orderdate + INTERVAL 2 DAY AS d
      FROM orders WHERE o_orderkey % 9 = 0
    )
    SELECT o.o_orderkey,
           COALESCE(b.p, a.p, o.o_totalprice) AS o_totalprice,
           COALESCE(b.d, a.d, o.o_orderdate) AS o_orderdate
    FROM orders o
    LEFT JOIN a USING (o_orderkey)
    LEFT JOIN b USING (o_orderkey)
    """,
)
def hudi_clean_reclaim(spark, sf_dir):
    """§1.2 the CLEANER service end to end (Hudi's
    ``hoodie.clean.automatic`` posture on the manifest commit protocol)
    — the reclamation half of the object-store-safe commit story:
    manifest commits leave every superseded version's files on disk, so
    at 100 TB an uncleaned table's storage grows with write count, not
    data size. Three manifest versions (genesis + two upserts) plus
    planted crashed-writer debris (data files that never made any
    manifest); ``clean(keep_last=1)`` must remove exactly the two old
    manifests, delete every unreferenced data file debris included,
    leave the disk file set IDENTICAL to the live manifest's list, and
    make the cleaned version unreadable — while the surviving snapshot
    (the oracle's 3-way merge) is bit-for-bit untouched. All physical
    outcomes are load-bearing: the query RAISES on any divergence."""
    import os
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="clean_q_") + "/t"
    t = HudiTable(
        path=path,
        record_key="o_orderkey",
        precombine="o_orderdate",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(o)
    t.upsert(
        o.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ),
        spark,
    )
    t.upsert(
        o.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 7)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")
        ),
        spark,
    )
    versions = t._manifest_versions()
    if len(versions) != 3:
        raise AssertionError(f"expected 3 manifest versions, got {versions}")
    # crashed writer: data files on disk, manifest never published
    o.limit(5).withColumn("o_totalprice", F.lit(-1.0)).write.parquet(
        os.path.join(path, "data", "commit-crashed")
    )
    stats = t.clean(keep_last=1)
    if stats["manifests_removed"] != 2:
        raise AssertionError(f"clean removed {stats} — expected 2 manifests")
    if stats["files_removed"] < 1:
        raise AssertionError(f"clean reclaimed no files: {stats}")
    live = set(t._manifest().files)
    on_disk = {
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(os.path.join(path, "data"))
        for f in files
        if f.endswith(".parquet")
    }
    if on_disk != live:
        raise AssertionError(
            f"disk/manifest divergence after clean: {len(on_disk)} on disk "
            f"vs {len(live)} live"
        )
    try:
        t.read_manifest_version(spark, versions[0])
    except ValueError:
        pass  # cleaned history must be unreadable, loudly
    else:
        raise AssertionError("cleaned manifest version still readable")
    return t.read(spark)


@query(
    "hudi_filegroup_prune",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey = 1 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey = 1 THEN o_orderdate + INTERVAL 1 DAY
                ELSE o_orderdate END AS o_orderdate
    FROM orders WHERE o_orderkey <> 7
    """,
)
def hudi_filegroup_prune(spark, sf_dir):
    """§1.2 file-group-pruned partial-rewrite upsert/delete on the
    manifest commit protocol (the lightweight analog of Hudi's
    bloom-index write path): every manifest commit records a per-file
    record-key [min, max, has_null] envelope, and a mutation only
    opens/rewrites files whose envelope may hold a batch key — the rest
    of the table is carried into the new manifest version BY REFERENCE.
    At 100 TB this is the difference between write cost tracking the
    TOUCHED FILE GROUPS vs the whole table: after a range-clustered
    layout, a point-key upsert rewrites one file, not ten thousand.
    The physical outcomes are load-bearing — the query RAISES unless a
    single-key upsert and a single-key delete each classify exactly one
    file as touched and carry every other file byte-identical (same
    path, same mtime) — while the final state must match the oracle's
    merge exactly."""
    import os
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="fgprune_q_") + "/t"
    t = HudiTable(
        path=path,
        record_key="o_orderkey",
        precombine="o_orderdate",
        options={"hoodie.commit.mode": "manifest"},
    )
    # range-clustered genesis: disjoint per-file key envelopes, the
    # layout cluster() would produce — pruning is exact, not heuristic
    t.bulk_insert(o.repartitionByRange(8, "o_orderkey"))
    m = t._manifest()
    ranges, files = m.ranges, m.files
    if len(files) < 2 or set(ranges) != set(files):
        raise AssertionError(
            f"expected >=2 enveloped files, got {len(files)} files / "
            f"{len(ranges)} envelopes"
        )
    batch = (
        o.filter(F.col("o_orderkey") == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        )
    )
    touched, untouched = t._manifest_split_touched(batch, spark, m)
    if len(touched) != 1 or len(untouched) != len(files) - 1:
        raise AssertionError(
            f"point-key split touched {len(touched)} of {len(files)} "
            "range-disjoint files — expected exactly 1"
        )
    mtimes = {f: os.path.getmtime(f) for f in untouched}
    t.upsert(batch, spark)
    live = set(t._manifest().files)
    if not set(untouched) <= live or {
        f: os.path.getmtime(f) for f in untouched
    } != mtimes:
        raise AssertionError(
            "upsert rewrote files the envelope proved untouched"
        )
    if touched[0] in live:
        raise AssertionError("touched file survived the partial rewrite")
    # delete probes the NEW layout (the rewritten file now holds key 7)
    del_keys = spark.range(7, 8).select(
        F.col("id").cast("bigint").alias("o_orderkey")
    )
    touched2, untouched2 = t._manifest_split_touched(
        del_keys, spark, t._manifest()
    )
    if len(touched2) != 1 or len(untouched2) != len(live) - 1:
        raise AssertionError(
            f"delete split touched {len(touched2)} of {len(live)} files "
            "— expected exactly 1"
        )
    mtimes2 = {f: os.path.getmtime(f) for f in untouched2}
    t.delete(del_keys, spark)
    if {f: os.path.getmtime(f) for f in untouched2} != mtimes2:
        raise AssertionError(
            "delete rewrote files the envelope proved untouched"
        )
    return t.read(spark)


@query(
    "hudi_partition_overwrite",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderstatus = 'F' THEN o_orderdate + INTERVAL 1 DAY
                ELSE o_orderdate END AS o_orderdate
    FROM orders
    """,
)
def hudi_partition_overwrite(spark, sf_dir):
    """§1.2 DYNAMIC PARTITION OVERWRITE on a partitioned MANIFEST table
    (Hudi's ``insert_overwrite`` → replacecommit), the r11-earmarked
    driver row for ``_manifest_overwrite_partitions``: live files are
    classified against the batch's touched partitions via their
    partition-value envelopes — DISJOINT files are carried into the new
    manifest BY REFERENCE (never opened), PURE-TOUCHED files are
    dropped from the manifest (staying on disk for time travel until
    clean()), and MIXED files are rewritten retaining only their
    untouched-partition rows. At 100 TB this is why replacing one
    partition of a 10k-partition table costs the touched partition
    plus any mixed stragglers, not the table.

    The physical outcomes are load-bearing — the query RAISES unless:
    the two pure-O files are carried byte-identical (same path, same
    mtime), the two pure-F files leave the manifest but stay on disk
    with the pre-overwrite state still readable at the old manifest
    version, the mixed F+P file leaves the manifest, and its rewrite
    retains EXACTLY the P rows (no overwritten-partition row survives,
    no untouched row is lost) — while the final table must match the
    oracle's view of all three partitions."""
    import os
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="powq_") + "/t"
    t = HudiTable(
        path=path,
        record_key="o_orderkey",
        precombine="o_orderdate",
        partition_field="o_orderstatus",
        options={"hoodie.commit.mode": "manifest"},
    )
    st = F.col("o_orderstatus")
    # three append commits build a known classification surface:
    # two pure-O files, two pure-F files, one MIXED file (all P rows
    # plus the o_orderkey%10==0 slice of F)
    t.bulk_insert(
        o.filter(st == "O").repartitionByRange(2, "o_orderkey")
    )
    t.bulk_insert(
        o.filter((st == "F") & (F.col("o_orderkey") % 10 != 0))
        .repartitionByRange(2, "o_orderkey")
    )
    t.bulk_insert(
        o.filter(
            (st == "P") | ((st == "F") & (F.col("o_orderkey") % 10 == 0))
        ).coalesce(1)
    )
    pr = t._manifest().pranges
    by_cls = {"O": [], "F": [], "MIX": []}
    for f, (pmin, pmax, pnull) in pr.items():
        by_cls["MIX" if pmin != pmax else pmin].append(f)
    if sorted(len(by_cls[k]) for k in ("O", "F", "MIX")) != [1, 2, 2] or len(
        by_cls["MIX"]
    ) != 1:
        raise AssertionError(f"unexpected genesis layout: {by_cls}")
    carried_mtimes = {f: os.path.getmtime(f) for f in by_cls["O"]}
    v_before = t._manifest_versions()[-1]
    f_count_before = t.read(spark, partitions=["F"]).count()
    p_keys = {
        r["o_orderkey"]
        for r in spark.read.parquet(*by_cls["MIX"])
        .filter(st == "P")
        .select("o_orderkey")
        .collect()
    }
    batch = (
        o.filter(st == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        )
    )
    t.insert_overwrite(batch, spark)
    live = set(t._manifest().files)
    # CARRY: pure-O files by reference — same paths, same mtimes
    if not set(by_cls["O"]) <= live or {
        f: os.path.getmtime(f) for f in by_cls["O"]
    } != carried_mtimes:
        raise AssertionError("overwrite touched partition-disjoint files")
    # DROP: pure-F files leave the manifest but stay on disk, and the
    # old manifest version still serves the pre-overwrite state
    for f in by_cls["F"] + by_cls["MIX"]:
        if f in live:
            raise AssertionError(f"touched-partition file survived: {f}")
    if not all(os.path.exists(f) for f in by_cls["F"]):
        raise AssertionError("dropped file deleted (breaks time travel)")
    if (
        t.read_manifest_version(spark, v_before)
        .filter(st == "F")
        .count()
        != f_count_before
    ):
        raise AssertionError("pre-overwrite state lost at old version")
    # REWRITE: the mixed file's survivors are exactly the P rows
    new_pr = t._manifest().pranges
    survivors = [
        f
        for f in live - set(by_cls["O"])
        if new_pr.get(f, (None,))[0] == "P" and new_pr[f][1] == "P"
    ]
    if not survivors:
        raise AssertionError("no rewritten survivor file for partition P")
    got_p = {
        r["o_orderkey"]
        for r in spark.read.parquet(*survivors)
        .select("o_orderkey")
        .collect()
    }
    if got_p != p_keys:
        raise AssertionError(
            "mixed-file rewrite lost or leaked rows: "
            f"{len(got_p)} survivors vs {len(p_keys)} P rows"
        )
    return t.read(spark)


@query(
    "hudi_point_read",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey = 1
                THEN o_totalprice + 5 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey = 1
                THEN o_orderdate + INTERVAL 1 DAY
                ELSE o_orderdate END AS o_orderdate
    FROM orders
    WHERE o_orderkey IN (1, (SELECT max(o_orderkey) FROM orders))
    """,
)
def hudi_point_read(spark, sf_dir):
    """§1.2 envelope-pruned POINT READ on MERGE_ON_READ + manifest —
    the read-side dual of hudi_filegroup_prune's write-side pruning:
    ``read(keys=...)`` file-prunes the BASE scan against the per-file
    record-key envelopes AND still merges the delta log, so a point
    lookup on a range-clustered 100 TB table opens the one-or-two base
    files that can hold the probed keys, not the table. The physical
    outcome is load-bearing — the query RAISES unless the read's
    inputFiles() hit EXACTLY the base files whose envelope covers a
    probed key (a third, absent-everywhere probe key must prune to
    nothing) — while the returned frame must match the oracle's view of
    the two live keys, one of them served from the delta log (newer
    than its base row)."""
    import tempfile

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="pointread_q_") + "/t"
    t = HudiTable(
        path=path,
        record_key="o_orderkey",
        precombine="o_orderdate",
        table_type="MERGE_ON_READ",
        options={"hoodie.commit.mode": "manifest"},
    )
    # range-clustered genesis: disjoint per-file key envelopes (the
    # layout cluster() would produce) so the prune expectation is exact
    t.bulk_insert(o.repartitionByRange(8, "o_orderkey"))
    m = t._manifest()
    ranges, base_files = m.ranges, set(m.files)
    if len(base_files) < 2 or set(ranges) != base_files:
        raise AssertionError(
            f"expected >=2 enveloped base files, got {len(base_files)} "
            f"files / {len(ranges)} envelopes"
        )
    # one metadata-scale collect: the highest live key (1 row)
    maxk = o.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
    # MOR upsert of key 1 lands in the DELTA LOG — the read must merge
    # it over the pruned base scan (newest precombine wins)
    t.upsert(
        o.filter(F.col("o_orderkey") == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        )
    )
    probe = spark.createDataFrame(
        [(1,), (int(maxk),), (10**12,)], "o_orderkey bigint"
    )
    df = t.read(spark, keys=probe)
    expected = {
        f
        for f, r in ranges.items()
        if any(r[0] <= k <= r[1] for k in (1, int(maxk)))
    }
    if len(expected) != 2:
        raise AssertionError(
            f"min/max keys should map to 2 disjoint files, got {expected}"
        )
    scanned = {
        f.replace("file://", "").replace("file:", "") for f in df.inputFiles()
    }
    if scanned & base_files != expected:
        raise AssertionError(
            f"point read scanned {len(scanned & base_files)} base files — "
            f"expected exactly the {len(expected)} envelope-matched ones"
        )
    return df


@query(
    "hudi_clean_grace",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_totalprice * 2 AS p,
             o_orderdate + INTERVAL 1 DAY AS d
      FROM orders WHERE o_orderkey % 5 = 0
    ), b AS (
      SELECT o_orderkey, o_totalprice + 7 AS p,
             o_orderdate + INTERVAL 2 DAY AS d
      FROM orders WHERE o_orderkey % 9 = 0
    ), merged AS (
      SELECT o.o_orderkey,
             COALESCE(b.p, a.p, o.o_totalprice) AS o_totalprice,
             COALESCE(b.d, a.d, o.o_orderdate) AS o_orderdate
      FROM orders o
      LEFT JOIN a USING (o_orderkey)
      LEFT JOIN b USING (o_orderkey)
    ), extra AS (
      SELECT -o_orderkey AS o_orderkey,
             2.0 AS o_totalprice,
             TIMESTAMP '1990-01-02' AS o_orderdate
      FROM (SELECT o_orderkey FROM orders WHERE o_orderkey > 0
            ORDER BY o_orderkey LIMIT 10)
    )
    SELECT * FROM merged UNION ALL SELECT * FROM extra
    """,
)
def hudi_clean_grace(spark, sf_dir):
    """§1.2 the cleaner's CONCURRENT-WRITER grace path (Hudi's
    modification-age retention guard, the posture Iceberg's
    remove-orphan-files shares): an in-flight commit writes its data
    files BEFORE publishing its manifest, so to a concurrent cleaner
    those files are indistinguishable from crashed-writer debris —
    except by age. ``clean(grace_seconds=g)`` must reclaim aged
    debris (a crashed writer's orphan AND superseded versions' files)
    while files younger than the grace age SURVIVE untouched and can
    still publish afterward.

    Scenario (validated in the r13 /tmp prototype, lifted verbatim):
    three published versions + an AGED crashed-writer orphan + a YOUNG
    in-flight commit (files written through the real commit path,
    manifest unpublished). First clean(keep_last=1, grace_seconds=3600)
    reclaims exactly the aged debris; physical assertions pin the
    reclaimed-set membership, the survivor files' mtimes, and
    byte-identical reads across the clean. The in-flight commit then
    publishes (merge-head conditional put, +10 disjoint keys) and is
    later superseded, aged, and reclaimed by a second clean with reads
    exact throughout. The query RAISES on any divergence; the returned
    frame is the final snapshot the oracle recomputes."""
    import os
    import tempfile
    import time as _time

    from .lake import HudiTable

    o = _t(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="clean_grace_q_") + "/t"
    t = HudiTable(
        path=path,
        record_key="o_orderkey",
        precombine="o_orderdate",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(o)
    t.upsert(
        o.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ),
        spark,
    )
    t.upsert(
        o.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 7)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")
        ),
        spark,
    )
    if len(t._manifest_versions()) != 3:
        raise AssertionError(f"expected 3 versions, got {t._manifest_versions()}")
    head_state = t.read(spark).persist()
    head_rows = head_state.count()
    # aged crashed-writer orphan: files on disk, no manifest, mtime old
    orphan_dir = os.path.join(path, "data", "commit-crashed")
    o.limit(5).withColumn("o_totalprice", F.lit(-1.0)).write.parquet(orphan_dir)
    # young in-flight commit through the REAL commit path: files
    # written, manifest not yet published — 10 brand-new disjoint keys
    # o_orderkey > 0: key 0 would negate to itself and collide with the
    # genesis row (whose newer precombine would then win, desyncing the
    # oracle's blind union)
    inflight_rows = (
        o.filter(F.col("o_orderkey") > 0)
        .orderBy("o_orderkey")
        .limit(10)
        .select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            F.lit(1.0).alias("o_totalprice"),
            F.lit("1990-01-01").cast("timestamp").alias("o_orderdate"),
        )
    )
    in_files, in_ranges, in_pranges = t._manifest_write_batch(inflight_rows)
    live_head = set(t._manifest().files)
    aged = _time.time() - 7200  # older than the 3600 s grace
    for dirpath, _, files in os.walk(os.path.join(path, "data")):
        for f in files:
            fp = os.path.join(dirpath, f)
            if fp not in live_head and fp not in set(in_files):
                os.utime(fp, (aged, aged))
    survivor_mtimes = {p: os.path.getmtime(p) for p in in_files}
    stats = t.clean(keep_last=1, grace_seconds=3600)
    if stats["manifests_removed"] != 2:
        raise AssertionError(f"grace clean removed {stats} — expected 2 manifests")
    if os.path.isdir(orphan_dir) and any(
        f.endswith(".parquet") for f in os.listdir(orphan_dir)
    ):
        raise AssertionError("aged crashed-writer orphan survived the clean")
    on_disk = {
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(os.path.join(path, "data"))
        for f in files
        if f.endswith(".parquet")
    }
    if on_disk != live_head | set(in_files):
        raise AssertionError(
            "grace clean left wrong file set: "
            f"{len(on_disk)} on disk vs {len(live_head)} live + "
            f"{len(in_files)} in-flight"
        )
    # survivor mtime-pin: the grace guard must not have touched them
    for p_, m in survivor_mtimes.items():
        if not os.path.exists(p_) or os.path.getmtime(p_) != m:
            raise AssertionError(f"in-flight survivor disturbed: {p_}")
    if t.read(spark).subtract(head_state).count() != 0 or head_state.subtract(
        t.read(spark)
    ).count() != 0:
        raise AssertionError("snapshot read changed across the grace clean")
    # the in-flight commit now PUBLISHES (merge-head conditional put)
    t._publish_manifest(
        in_files, merge_head=True, ranges=in_ranges, pranges=in_pranges
    )
    if t.read(spark).count() != head_rows + 10:
        raise AssertionError("published in-flight commit rows missing")
    # supersede the in-flight file (rewrite its keys), age it, clean
    # again: now it is legitimately reclaimable — reads stay exact
    t.upsert(
        inflight_rows.withColumn("o_totalprice", F.lit(2.0)).withColumn(
            "o_orderdate", F.lit("1990-01-02").cast("timestamp")
        ),
        spark,
    )
    for p_ in in_files:
        if os.path.exists(p_):
            os.utime(p_, (aged, aged))
    live_final = set(t._manifest().files)
    t.clean(keep_last=1, grace_seconds=3600)
    leftover = [p_ for p_ in in_files if os.path.exists(p_) and p_ not in live_final]
    if leftover:
        raise AssertionError(f"superseded in-flight files survived: {leftover}")
    head_state.unpersist()
    return t.read(spark)


@query(
    "mongo_match_pushdown",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_regionkey >= 3 OR n_name IN ('CANADA', 'BRAZIL')
    """,
)
def mongo_match_pushdown(spark, sf_dir):
    """A8 driver-visible proof: the Mongo ``pipeline`` $match option is
    APPLIED server-side by the stand-in (sources/standin.py
    ``_compile_mongo_pipeline`` — $or / $gte / $in here), not just
    recorded. The frame below carries NO Spark-side filter — the only
    place the predicate can run is inside the reader, the same boundary
    the reference's connector pushes it to (docs/document/01.MongoDB
    Ingestion.md:186-205). Oracle mirrors the $match in SQL over the
    lake table the rows were staged from."""
    import json
    import os
    import tempfile

    from .sources.registry import read_mongo
    from .sources.standin import register_standin_sources

    register_standin_sources(spark)
    n = _t(spark, sf_dir, "nation")["nation"]
    rows = (
        n.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()  # 25-row dimension — driver-side staging is fine
    )
    path = os.path.join(tempfile.mkdtemp(prefix="mongo_match_"), "coll.jsonl")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r.asDict()) + "\n")
    df = read_mongo(
        spark,
        {
            "uri": "mongodb://localhost:27017/lake.nation",
            "username": "reader",
            "password": "secret",
            "pipeline": (
                '[{"$match": {"$or": ['
                '{"n_regionkey": {"$gte": 3}}, '
                '{"n_name": {"$in": ["CANADA", "BRAZIL"]}}]}}]'
            ),
            "standin.path": path,
            "standin.schema": (
                "n_nationkey INT, n_name STRING, n_regionkey INT"
            ),
        },
    )
    return df.select("n_nationkey", "n_name", "n_regionkey")
