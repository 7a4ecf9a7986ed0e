"""Projections, filters, predicates, distinct (SURVEY.md §2.B-2).

The reference's only projection is the tab-parse (App.scala:151-152) and it
has no filters at all; these are the first-class relational generalization.
All predicates here are expressed declaratively so Catalyst pushes them into
the Parquet scan (PushedFilters) and prunes unread columns (ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views, table
from ..registry import register


@register(
    "project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(12,2)))
                * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS charged
    FROM lineitem
    """,
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic/alias projection (generalized R2).

    Parity: the inputs are 2-decimal monetary values, so casting to
    decimal(12,2) and multiplying is EXACT (scale-4/6 decimals, no rounding
    step at all) — `round(double, 4)` would diverge between engines on
    half-boundary doubles (observed at sf0.01).
    """
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    tax = F.col("l_tax").cast("decimal(12,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (price * (F.lit(1) - disc)).cast("double").alias("revenue"),
        (price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("charged"),
    )


@register(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
      AND l_returnflag IN ('A', 'R')
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: range, BETWEEN, <, IN — all pushed to the scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_quantity") < 24)
        & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "filter_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE '%ring%' OR regexp_matches(p_brand, 'Brand#1[0-9]$')
    """,
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern predicates: LIKE and regex."""
    p = table(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").like("%ring%") | F.col("p_brand").rlike("Brand#1[0-9]$")
    ).select("p_partkey", "p_name", "p_brand")


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate elimination (hash aggregate under the hood)."""
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "sub_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated SCALAR subquery in a predicate: Catalyst rewrites it to a
    one-row broadcast (the fact scan streams once; the threshold is computed
    in a separate tiny job) — the declarative form of a driver-side
    aggregate-then-filter, without any collect in user code. Authored via
    spark.sql because scalar subqueries are a SQL-surface construct."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "sub_correlated",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    )
    """,
)
def sub_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery: Catalyst DECORRELATES it into a left-semi
    join on the correlation key (SURVEY §4.2 "subquery decorrelation" —
    demonstrated here rather than just claimed; the plan contains no
    per-row subquery execution, which at 100 TB would be a quadratic
    disaster)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
        )
        """
    )


@register(
    "sub_quantified",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > ALL (
        SELECT avg(o_totalprice) FROM orders GROUP BY o_orderstatus
    )
    OR o_totalprice < ANY (
        SELECT min(o_totalprice) * 1.001 FROM orders GROUP BY o_orderstatus
    )
    """,
)
def sub_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons (`> ALL` / `< ANY`) via their decorrelated
    scalar rewrite: `x > ALL (S) ≡ x > max(S)` and `x < ANY (S) ≡
    x < min(S)` over a non-empty, NULL-free subquery.

    Spark's parser has no ALL/ANY comparison, so the engine exposes the
    rewrite the optimizer would produce anyway — each quantifier folds to
    ONE scalar aggregate broadcast into the filter (no per-row subquery
    execution at any scale). The DuckDB oracle runs the true ANSI
    quantified form, proving the rewrite's semantics.
    """
    o = table(spark, sf_dir, "orders")
    all_max = o.groupBy("o_orderstatus").agg(
        F.avg("o_totalprice").alias("g")
    ).agg(F.max("g").alias("m"))
    any_bound = o.groupBy("o_orderstatus").agg(
        (F.min("o_totalprice") * 1.001).alias("g")
    ).agg(F.max("g").alias("m"))
    return (
        o.join(F.broadcast(all_max.select(F.col("m").alias("all_m"))))
        .join(F.broadcast(any_bound.select(F.col("m").alias("any_m"))))
        .where(
            (F.col("o_totalprice") > F.col("all_m"))
            | (F.col("o_totalprice") < F.col("any_m"))
        )
        .select("o_orderkey", "o_totalprice")
    )


# --- CIDR blocklist screening (round 15) -----------------------------------
# The standard crawl-ingest blocklist: private/reserved IPv4 space plus a
# CGNAT band. Parsed ONCE in Python (stdlib ipaddress) into inclusive
# [lo, hi] uint32 ranges embedded as literals in both engines.
import ipaddress as _ipaddress

CIDR_BLOCKLIST = [
    ("bogon-0", "0.0.0.0/8"),
    ("private-10", "10.0.0.0/8"),
    ("cgnat-100.64", "100.64.0.0/10"),
    ("loopback-127", "127.0.0.0/8"),
    ("linklocal-169.254", "169.254.0.0/16"),
    ("private-172.16", "172.16.0.0/12"),
    ("private-192.168", "192.168.0.0/16"),
    ("multicast-224", "224.0.0.0/4"),
]
_CIDR_RANGES = [
    (
        name,
        int(_ipaddress.ip_network(cidr)[0]),
        int(_ipaddress.ip_network(cidr)[-1]),
    )
    for name, cidr in CIDR_BLOCKLIST
]


def _ip_blocklist_oracle() -> str:
    from ..xhash import XH_P, xh1_sql, xh2_sql

    key = "user_id || '|ip'"
    vals = ", ".join(
        f"('{n}', {lo}::BIGINT, {hi}::BIGINT)" for n, lo, hi in _CIDR_RANGES
    )
    return f"""
    WITH ips AS (
        SELECT user_id,
               ({xh1_sql(key)} * {XH_P} + {xh2_sql(key)}) % 4294967296
                   AS ip
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    ranges AS (SELECT * FROM (VALUES {vals}) AS t(block, lo, hi)),
    tagged AS (
        SELECT e.user_id, coalesce(r.block, 'allowed') AS block
        FROM events e
        JOIN ips USING (user_id)
        LEFT JOIN ranges r ON ips.ip BETWEEN r.lo AND r.hi
    )
    SELECT block, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM tagged GROUP BY block
    """


@register("filter_ip_blocklist", oracle=_ip_blocklist_oracle())
def filter_ip_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR blocklist screening — the crawl-ingest gate that drops or
    quarantines traffic from reserved/private IPv4 space before any
    content processing. Client IPs are SYNTHESIZED deterministically from
    user_id (the fixture carries no IP column — the `dedup_url_canonical`
    synthesis pattern: two independent xhash folds packed and folded onto
    the full 2³² address space, identical integers in both engines), then
    screened against a Python-literal blocklist of [lo, hi] uint32 ranges.

    Scale shape: the blocklist is 8 rows BROADCAST into a range join —
    a BroadcastNestedLoopJoin whose build side is constant-sized, i.e. a
    map-side interval probe, NOT a corpus×corpus cartesian (the ranges
    are disjoint, so the left join emits exactly one row per input and
    the probe could equally compile to a bsearch; at 8 ranges the linear
    probe is already cheaper than the shuffle a repartition-range join
    would pay). Per-user fold computed once on the users-sized distinct
    relation, joined back user-keyed. Output bounded by |blocklist| + 1."""
    from ..xhash import XH_P, xh1, xh2

    ev = table(spark, sf_dir, "events")
    key = "concat(CAST(user_id AS STRING), '|ip')"
    ips = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            ((xh1(key) * F.lit(XH_P) + xh2(key)) % F.lit(2**32)).alias(
                "ip"
            ),
        )
    )
    ranges = spark.createDataFrame(
        _CIDR_RANGES, "block string, lo long, hi long"
    )
    tagged = (
        ev.select("user_id")
        .join(ips, "user_id")
        .join(
            F.broadcast(ranges),
            (F.col("ip") >= F.col("lo")) & (F.col("ip") <= F.col("hi")),
            "left",
        )
        .select(
            "user_id", F.coalesce("block", F.lit("allowed")).alias("block")
        )
    )
    return tagged.groupBy("block").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
