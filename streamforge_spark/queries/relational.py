"""Deep relational surplus, part 2 — the remaining classic TPC-H query
shapes expressible on this schema (no partsupp table, no
commit/receipt dates; constants adapted to the synthetic data).

These widen the capability surplus of SURVEY §2.8's "absent" row:
correlated MIN subqueries (q2), ratio-of-sums market share with a
two-level aggregate (q8), LIKE-filtered profit rollup (q9), scalar
subquery in HAVING (q11), left-outer distribution histogram (q13),
OR-of-ANDs multi-predicate join (q19), and a grouped-HAVING semi-join
(q20). All monetary aggregates use exact integer-scaled sums
(queries.common) so value hashes match DuckDB bit-for-bit; MIN/MAX of
raw doubles are exact without scaling.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from streamforge_spark.queries.common import prep, sql_scaled_sum
from streamforge_spark.registry import query

_SQL_VOLUME = ("CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
               "CAST(ROUND((1 - l_discount) * 100) AS BIGINT)")


def _volume():
    """Per-row discounted price in 1e-4 dollar units (exact BIGINT)."""
    return (F.round(F.col("l_extendedprice") * 100).cast("long")
            * F.round((1 - F.col("l_discount")) * 100).cast("long"))


@query(
    "q2_min_price_part",
    oracle="""
SELECT p.p_partkey AS p_partkey, p.p_name AS p_name, s.s_name AS s_name,
       n.n_name AS n_name, l.l_extendedprice AS min_price
FROM part p, lineitem l, supplier s, nation n, region r
WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE' AND p.p_size = 15
  AND l.l_extendedprice = (
    SELECT MIN(l2.l_extendedprice)
    FROM lineitem l2, supplier s2, nation n2, region r2
    WHERE l2.l_partkey = p.p_partkey AND l2.l_suppkey = s2.s_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
""",
)
def q2_min_price_part(spark, sf_dir):
    """TPC-H Q2-style correlated MIN subquery: cheapest European offer
    per size-15 part. Spark plan: the correlated subquery is decorrelated
    by hand into a window MIN over one shared Europe-side join (computed
    once, not twice as the SQL literally says); dims broadcast, one
    shuffle on l_partkey for the window. MIN of a raw double is exact —
    no scaling needed."""
    part, lineitem, supplier, nation, region = prep(
        spark, sf_dir, "part", "lineitem", "supplier", "nation", "region")
    euro = (
        lineitem
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        euro.withColumn("_min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("_min_price"))
        .join(F.broadcast(part.filter(F.col("p_size") == 15)),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "s_name", "n_name",
                F.col("l_extendedprice").alias("min_price"))
    )


@query(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         {_SQL_VOLUME} AS volume,
         n2.n_name AS nation
  FROM part p, lineitem l, orders o, customer c, supplier s,
       nation n1, nation n2, region r
  WHERE p.p_partkey = l.l_partkey AND l.l_orderkey = o.o_orderkey
    AND o.o_custkey = c.c_custkey AND c.c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
    AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n2.n_nationkey
    AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) GROUP BY o_year
""",
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8-style national market share: ratio-of-exact-sums per
    year; the nation table joins twice (customer side filters the
    market, supplier side tags the share) — both broadcast."""
    part, lineitem, orders, customer, supplier, nation, region = prep(
        spark, sf_dir, "part", "lineitem", "orders", "customer",
        "supplier", "nation", "region")
    n1 = nation.alias("n1")
    n2 = nation.select(F.col("n_nationkey").alias("n2_nationkey"),
                       F.col("n_name").alias("nation"))
    return (
        lineitem
        .join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.filter(F.col("o_orderdate").between("1996-01-01", "1997-12-31")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
              F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_nationkey"))
        .select(F.year("o_orderdate").alias("o_year"), _volume().alias("volume"),
                F.col("nation"))
        .groupBy("o_year")
        .agg((F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0))).cast("double")
              / F.sum("volume").cast("double")).alias("mkt_share"))
    )


@query(
    "q9_nation_profit",
    oracle=f"""
SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
       CAST(SUM({_SQL_VOLUME}) AS DOUBLE) / 10000.0 AS profit
FROM part p, lineitem l, orders o, supplier s, nation n
WHERE p.p_partkey = l.l_partkey AND l.l_orderkey = o.o_orderkey
  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
  AND p.p_name LIKE '%red%'
GROUP BY nation, o_year
""",
)
def q9_nation_profit(spark, sf_dir):
    """TPC-H Q9-style profit rollup by supplier nation and order year
    for '%red%' parts (no partsupp in this schema, so profit = revenue).
    The LIKE filter prunes the part broadcast before the fact join."""
    part, lineitem, orders, supplier, nation = prep(
        spark, sf_dir, "part", "lineitem", "orders", "supplier", "nation")
    return (
        lineitem
        .join(F.broadcast(part.filter(F.col("p_name").like("%red%"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(_volume()).cast("double") / 10000.0).alias("profit"))
    )


@query(
    "q11_part_value_concentration",
    oracle=f"""
SELECT l.l_partkey AS l_partkey,
       {sql_scaled_sum('l.l_extendedprice')} AS part_value
FROM lineitem l, supplier s, nation n, region r
WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
GROUP BY l.l_partkey
HAVING SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) >
  (SELECT SUM(CAST(ROUND(l2.l_extendedprice * 100) AS BIGINT)) * 0.001
   FROM lineitem l2, supplier s2, nation n2, region r2
   WHERE l2.l_suppkey = s2.s_suppkey AND s2.s_nationkey = n2.n_nationkey
     AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
""",
)
def q11_part_value_concentration(spark, sf_dir):
    """TPC-H Q11-style value concentration: parts whose Asian-supplied
    value exceeds 0.1% of the total (scalar subquery in HAVING). Spark:
    the Asia join is computed once; the global total is a 1-row
    aggregate cross-joined (broadcast) into the HAVING filter — the
    fact side is scanned twice but the plan reuses the shuffle
    exchange. Exact BIGINT cents on both sides of the comparison."""
    lineitem, supplier, nation, region = prep(
        spark, sf_dir, "lineitem", "supplier", "nation", "region")
    asia = (
        lineitem
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_partkey",
                F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    )
    per_part = asia.groupBy("l_partkey").agg(F.sum("cents").alias("cents_sum"))
    total = asia.agg((F.sum("cents") * 0.001).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("cents_sum") > F.col("threshold"))
        .select("l_partkey",
                (F.col("cents_sum").cast("double") / 100.0).alias("part_value"))
    )


@query(
    "q13_order_distribution",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13-style customer order-count histogram: left outer join
    with a residual predicate on the right side (kept out of the WHERE
    so customers with zero qualifying orders count as c_count=0), then
    a two-level aggregation."""
    customer, orders = prep(spark, sf_dir, "customer", "orders")
    return (
        customer.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q19_bracket_revenue",
    oracle=f"""
SELECT CAST(SUM({_SQL_VOLUME}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey
  AND ((p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
        AND l.l_quantity BETWEEN 1 AND 11)
    OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 25
        AND l.l_quantity BETWEEN 10 AND 20)
    OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35
        AND l.l_quantity BETWEEN 20 AND 30))
""",
)
def q19_bracket_revenue(spark, sf_dir):
    """TPC-H Q19-style OR-of-ANDs bracket join: three disjunctive
    brand/size/quantity brackets. The part side is pre-filtered to the
    union of brackets (broadcast); the residual disjunction evaluates
    post-join — Catalyst pushes the brand IN-list and size <= 35 to
    both scans via constraint propagation."""
    lineitem, part = prep(spark, sf_dir, "lineitem", "part")
    brackets = (
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    part_side = part.filter(
        F.col("p_brand").isin("Brand#2", "Brand#13", "Brand#23")
        & F.col("p_size").between(1, 35))
    return (
        lineitem.join(F.broadcast(part_side),
                      F.col("p_partkey") == F.col("l_partkey"))
        .filter(brackets)
        .agg((F.sum(_volume()).cast("double") / 10000.0).alias("revenue"))
    )


@query(
    "q20_heavy_suppliers",
    oracle=f"""
SELECT s.s_name AS s_name, n.n_name AS n_name
FROM supplier s, nation n
WHERE s.s_nationkey = n.n_nationkey
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey AND p.p_name LIKE 'small%'
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_suppkey
    HAVING SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) > 10000
  )
""",
)
def q20_heavy_suppliers(spark, sf_dir):
    """TPC-H Q20-style: suppliers that shipped >100 units of 'small%'
    parts in 1997 — grouped-HAVING subquery consumed as a left-semi
    join (no row duplication, the semi side stays an aggregate)."""
    supplier, nation, lineitem, part = prep(
        spark, sf_dir, "supplier", "nation", "lineitem", "part")
    heavy = (
        lineitem.filter((F.col("l_shipdate") >= "1997-01-01")
                        & (F.col("l_shipdate") < "1998-01-01"))
        .join(F.broadcast(part.filter(F.col("p_name").like("small%"))),
              F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"))
        .filter(F.col("q") > 10000)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        supplier.join(heavy, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
SELECT s.s_name AS s_name, n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s, lineitem l1, orders o, nation n
WHERE s.s_suppkey = l1.l_suppkey
  AND o.o_orderkey = l1.l_orderkey
  AND o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND s.s_nationkey = n.n_nationkey
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name, n.n_name
""",
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21-style "suppliers who kept orders waiting": late
    lineitems (shipped >60 days after the order date, adapted — this
    schema has no commit/receipt dates) on finalized multi-supplier
    orders where this supplier was the ONLY late one.

    Spark plan: the EXISTS + NOT EXISTS pair is decorrelated into ONE
    scan of lineitem and ONE l_orderkey exchange — two whole-partition
    windows (distinct suppliers per order, distinct LATE suppliers per
    order) share that exchange, and when orders is too big to
    broadcast the equi-join on l_orderkey shares it too. The literal
    plan is three lineitem scans + two self-join shuffles. Orders
    prunes to status 'F' before the join; supplier/nation broadcast;
    guardrail: tests/test_plans.py::test_q21_single_lineitem_scan."""
    supplier, lineitem, orders, nation = prep(
        spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    # plain (non-broadcast) join on l_orderkey: at 100 TB orders is not
    # broadcastable, and the resulting hashpartitioning(l_orderkey)
    # exchange is reused by the (l_orderkey, l_suppkey) groupBy AND the
    # per-order window below — one lineitem shuffle total (AQE still
    # converts to broadcast at small SF).
    li = lineitem.join(
        orders.filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    flagged = li.select("l_orderkey", "l_suppkey", late.alias("is_late"))
    # both per-order facts come from whole-partition windows over
    # l_orderkey — distinct-supplier sets per order are tiny (a handful
    # of suppliers), so collect_set stays O(order size) per row
    w = Window.partitionBy("l_orderkey")
    waiting = (
        flagged
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn("n_late", F.size(F.collect_set(
            F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)))
        .filter(F.col("is_late")
                & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        waiting.join(F.broadcast(supplier),
                     F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# -- entity resolution --------------------------------------------------

ER_MAX_DIST = 1


@query(
    "customer_entity_match",
    oracle=f"""
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_DIST}
""",
)
def customer_entity_match(spark, sf_dir):
    """Entity resolution with symmetric-delete (SymSpell) candidate
    generation: ``lev(a, b) <= 1`` implies a and b share a string in
    ``{s} ∪ del1(s)`` (drop one character), so candidates come from an
    EQUI-join on exploded variants — never a quadratic within-block
    pair scan. Verification is exact Levenshtein on the candidates
    (an integer algorithm, so the oracle — written as the naive
    blocked pair join — is bit-exact against this rewrite).

    Scale shape: each row explodes into len+1 variants (one shuffle of
    O(n·len) small keys, hashed to 8 bytes), the self-join is an
    equi-join on (block, variant-hash), and the pair set is deduped
    before scoring. The naive block join this replaces measured 12.3s
    at sf0.1 vs 1.3s for this form (4.5M scored pairs vs ~50k
    candidates) and grows quadratically per block; this grows linearly
    in corpus size.
    Nation remains a coarse demo block — any deterministic key
    composes the same way.
    """
    (cust,) = prep(spark, sf_dir, "customer")
    # {name} ∪ del1(name), hashed: variant i drops char i (1-indexed);
    # i = 0 is the name itself
    e = cust.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.length("c_name")),
            lambda i: F.xxhash64(F.when(
                i == 0, F.col("c_name")
            ).otherwise(F.concat(
                F.col("c_name").substr(F.lit(1), i - 1),
                F.col("c_name").substr(i + 1, F.length("c_name"))))))
        ).alias("vh"))
    a = e.select(F.col("id").alias("id1"), F.col("name").alias("name1"),
                 "nk", "vh")
    b = e.select(F.col("id").alias("id2"), F.col("name").alias("name2"),
                 "nk", "vh")
    cand = (a.join(b, ["nk", "vh"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2", "name1", "name2")
            .dropDuplicates(["id1", "id2"]))
    return (cand
            .withColumn("dist", F.levenshtein("name1", "name2").cast("long"))
            .filter(F.col("dist") <= ER_MAX_DIST)
            .select("id1", "id2", "dist"))


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority")

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders""" for c in _PROFILE_COLS)


@query("data_profile", oracle=_PROFILE_ORACLE)
def data_profile(spark, sf_dir):
    """Data-profiling report: per-column row/null/exact-distinct
    counts over a table — the "what did I just ingest" primitive
    behind schema drift alarms and join-key sanity checks.

    Scale shape: ONE table scan for all columns (the oracle scans per
    column; Spark computes every profile in a single aggregate).
    Multiple exact COUNT(DISTINCT)s in one aggregate plan via
    Catalyst's Expand — one shuffle carrying (column-tag, value)
    pairs, i.e. O(ncols·rows) exchange but a single pass and no
    driver involvement. At 100 TB swap exact distinct for HLL
    (approx_count_distinct) column-by-column without changing the
    output schema.
    The wide 1-row aggregate is reshaped to long form with a
    zero-cost 6-element explode.
    """
    (orders,) = prep(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    wide = orders.agg(*aggs)
    return (wide.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col("n_rows"),
                 F.col(f"nn_{c}").alias("n_nulls"),
                 F.col(f"nd_{c}").alias("n_distinct"))
        for c in _PROFILE_COLS])).alias("p"))
        .select("p.*"))


SKEW_TOP_K = 20

_SKEW_ORACLE = f"""
WITH c AS (SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM lineitem GROUP BY l_suppkey),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem)
SELECT key, n_rows, (n_rows * 1000000) // t.total AS share_ppm
FROM c CROSS JOIN t
ORDER BY n_rows DESC, key
LIMIT {SKEW_TOP_K}
"""


@query("key_skew_report", oracle=_SKEW_ORACLE)
def key_skew_report(spark, sf_dir):
    """Join-key skew diagnostics: the top-{K} heaviest values of a
    prospective join/partition key with exact row counts and
    parts-per-million share — the report you run BEFORE a 100 TB
    join to decide between plain hash, broadcast, AQE skew-join, or
    explicit salting (operators/skew.py::salted_aggregate consumes
    exactly this signal). Integer ppm (BIGINT multiply + floor
    divide), no float share.

    Scale shape: one map-side-combinable count per key (the combine
    means a hot key costs one partial per task, not a shuffled row
    per input row — the report itself is immune to the skew it
    measures), a 1-row total broadcast cross, and a
    TakeOrderedAndProject heap for the top-k — no global sort.
    """
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    c = (lineitem.groupBy(F.col("l_suppkey").alias("key"))
         .agg(F.count(F.lit(1)).alias("n_rows")))
    t = lineitem.agg(F.count(F.lit(1)).alias("total"))
    return (c.crossJoin(F.broadcast(t))
            .select("key", "n_rows",
                    F.expr("(n_rows * 1000000) div total").alias("share_ppm"))
            .orderBy(F.col("n_rows").desc(), "key")
            .limit(SKEW_TOP_K))


INC_CUTOFF = "2024-01-21"

_INC_ORACLE = f"""
WITH base AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts
  FROM events WHERE ts < TIMESTAMP '{INC_CUTOFF}' GROUP BY user_id),
delta AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts
  FROM events WHERE ts >= TIMESTAMP '{INC_CUTOFF}' GROUP BY user_id),
u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
SELECT user_id, CAST(SUM(n) AS BIGINT) AS n,
       SUM(cents) AS cents, MIN(first_ts) AS first_ts, MAX(last_ts) AS last_ts
FROM u GROUP BY user_id
"""


@query("incremental_agg_merge", oracle=_INC_ORACLE)
def incremental_agg_merge(spark, sf_dir):
    """Incremental materialized-aggregate maintenance: merge a
    pre-aggregated BASE state (everything before the cutoff) with a
    DELTA batch's partial aggregates — without ever rescanning the
    base's raw rows. Every statistic is algebraically mergeable
    (count/sum add, min/max combine), which is precisely the property
    that makes an aggregate maintainable for O(delta) per refresh;
    the oracle replays the same two-partials-then-combine plan, and
    the repo's parity harness pins it equal to the direct full
    aggregate (test_incremental_agg_merge_equals_full).

    Scale shape: at 100 TB the base partial is a stored table read
    back (|users| rows), so a refresh costs one delta scan + one
    |users|-sized merge groupBy — the fact table is scanned once
    EVER per row, not once per refresh. Here both partials derive
    from the same scan with disjoint pushed-down time filters.
    """
    (events,) = prep(spark, sf_dir, "events")

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))

    cutoff = F.lit(INC_CUTOFF).cast("timestamp")
    base = partial(events.filter(F.col("ts") < cutoff))
    delta = partial(events.filter(F.col("ts") >= cutoff))
    return (base.unionByName(delta)
            .groupBy("user_id")
            .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"),
                 F.min("first_ts").alias("first_ts"),
                 F.max("last_ts").alias("last_ts")))


# -- Z-order layout key (multi-dimensional data skipping) ---------------

def _zorder_oracle() -> str:
    terms = []
    for b in range(16):
        terms.append(f"((user_id & {1 << b}) << {b})")
        terms.append(f"((c & {1 << b}) << {b + 1})")
    return f"""
WITH t AS (
  SELECT event_id, LEAST(user_id, 65535) AS user_id,
         LEAST(GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0), 65535) AS c
  FROM events)
SELECT event_id, {' | '.join(terms)} AS zkey FROM t
"""


@query("zorder_layout_key", oracle=_zorder_oracle())
def zorder_layout_key(spark, sf_dir):
    """Morton (Z-order) interleave of (user_id, value-cents) per event —
    the sort key that makes ONE physical layout serve range predicates
    on BOTH dimensions via parquet min/max skipping
    (io.py::zorder_key). Pure bit algebra on the
    scan: no shuffle, no UDF, whole-stage codegen; the oracle replays
    the 32-term interleave exactly."""
    from streamforge_spark.io import zorder_key
    (events,) = prep(spark, sf_dir, "events")
    # BOTH coordinates clamped into the 16-bit domain zorder_key
    # documents — an unclamped id would be bit-masked silently,
    # aliasing distant keys into the same curve position (at real
    # id ranges, rank or bucket the dimension instead of clamping)
    uid = F.least(F.col("user_id"), F.lit(65535))
    cents = F.least(
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(0)),
        F.lit(65535))
    return events.select(
        "event_id", zorder_key(uid, cents).alias("zkey"))


# -- A/B experiment analysis with CUPED variance reduction --------------

AB_SALT = "ab-v1"
AB_SPLIT_DAY = 15   # pre-period: day < 15; post-period: day >= 15


def _ab_oracle() -> str:
    from streamforge_spark.functions.simdedup import hash60_sql
    h = hash60_sql("CAST(user_id AS VARCHAR)", f"'{AB_SALT}'")
    return f"""
WITH u AS (
  SELECT user_id,
         SUM(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < {AB_SPLIT_DAY}
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= {AB_SPLIT_DAY}
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id),
arms AS (SELECT user_id, x, y, {h} % 2 AS arm FROM u),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM arms),
a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a, SUM(x) AS sx_a, SUM(y) AS sy_a
      FROM arms GROUP BY arm)
SELECT a.arm, a.n_a, a.sx_a, a.sy_a,
       g.n * g.sxy - g.sx * g.sy AS theta_num,
       g.n * g.sxx - g.sx * g.sx AS theta_den,
       CAST(ROUND((CASE WHEN g.n * g.sxx - g.sx * g.sx = 0
         THEN CAST(a.sy_a AS DOUBLE) / CAST(a.n_a AS DOUBLE)
         ELSE CAST(a.sy_a AS DOUBLE) / CAST(a.n_a AS DOUBLE)
         - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
            / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE))
           * (CAST(a.sx_a AS DOUBLE) / CAST(a.n_a AS DOUBLE)
              - CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE)) END) * 1000) AS BIGINT)
         AS adj_mean_millicents
FROM a CROSS JOIN g
"""


@query("ab_test_cuped", oracle=_ab_oracle())
def ab_test_cuped(spark, sf_dir):
    """A/B experiment readout with CUPED variance reduction (Deng et
    al. 2013): users split into two arms by a salted hash (the
    deterministic randomization unit — reruns and engines agree on
    every assignment), pre-period spend X as the covariate, post-period
    spend Y as the metric, adjusted arm mean
    ŷ_a = mean(Y_a) − θ·(mean(X_a) − mean(X)) with θ = Cov(X,Y)/Var(X)
    pooled. All moments (n, ΣX, ΣY, ΣXY, ΣX²) are exact int64, θ stays
    a ratio of exact integers, and the adjustment is a short identical
    IEEE sequence rounded to milli-cents — so an experimentation
    readout, normally a float soup, carries an exact-match oracle.

    Scale shape: ONE map-side-combined per-user rollup (conditional
    sums split pre/post in the same pass), then a 2-row arm aggregate
    and a 1-row pooled-moment aggregate broadcast-crossed back — after
    the user rollup nothing scales with data. The assignment hash is
    the same reproducible-coin machinery as the samplers
    (stratified_sample, corpus_mix_sample)."""
    from streamforge_spark.functions.simdedup import oracle_hash60
    (events,) = prep(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
    cents = F.round(F.col("value") * 100).cast("long")
    u = (events.select("user_id",
                       F.when(day < AB_SPLIT_DAY, cents).otherwise(F.lit(0)).alias("xc"),
                       F.when(day >= AB_SPLIT_DAY, cents).otherwise(F.lit(0)).alias("yc"))
         .groupBy("user_id")
         .agg(F.sum("xc").alias("x"), F.sum("yc").alias("y")))
    arms = u.select(
        "user_id", "x", "y",
        (oracle_hash60(F.col("user_id").cast("string"), salt=AB_SALT) % 2).alias("arm"))
    g = arms.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
                 F.sum("y").alias("sy"),
                 F.sum(F.col("x") * F.col("y")).alias("sxy"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"))
    a = arms.groupBy("arm").agg(F.count(F.lit(1)).alias("n_a"),
                                F.sum("x").alias("sx_a"),
                                F.sum("y").alias("sy_a"))
    tn = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    td = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # zero-variance covariate (e.g. no pre-period history yet):
    # degrade to the unadjusted arm mean instead of an ANSI-mode
    # DIVIDE_BY_ZERO killing the readout
    raw_mean = F.col("sy_a").cast("double") / F.col("n_a").cast("double")
    adj = F.when(td == 0, raw_mean).otherwise(
        raw_mean
        - (tn.cast("double") / td.cast("double"))
        * (F.col("sx_a").cast("double") / F.col("n_a").cast("double")
           - F.col("sx").cast("double") / F.col("n").cast("double")))
    return (a.crossJoin(F.broadcast(g))
            .select("arm", "n_a", "sx_a", "sy_a",
                    tn.alias("theta_num"), td.alias("theta_den"),
                    F.round(adj * 1000).cast("long").alias("adj_mean_millicents")))


# -- Pareto concentration (Lorenz-curve deciles) ------------------------

PARETO_BUCKETS = 10

_PARETO_ORACLE = f"""
WITH u AS (
  SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY user_id),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, SUM(cents) AS total FROM u),
ranked AS (
  SELECT cents,
         ntile({PARETO_BUCKETS}) OVER (ORDER BY cents DESC, user_id) AS decile
  FROM u),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, SUM(cents) AS c
  FROM ranked GROUP BY decile),
cum AS (
  SELECT decile, n, c,
         SUM(n) OVER (ORDER BY decile) AS cum_users,
         SUM(c) OVER (ORDER BY decile) AS cum_cents
  FROM per)
SELECT CAST(decile AS BIGINT) AS decile, n AS n_users, c AS cents,
       cum_users, cum_cents,
       cum_cents * 1000000 // t.total AS cum_share_ppm
FROM cum CROSS JOIN tot t
"""


@query("pareto_concentration", oracle=_PARETO_ORACLE)
def pareto_concentration(spark, sf_dir):
    """Lorenz-curve concentration report: users ranked by total value
    into deciles, with cumulative user and value shares — the
    "top 10% of accounts drive X% of revenue" readout, and the same
    machinery that sizes heavy-hitter mitigations (key_skew_report's
    business-facing sibling). Shares are exact integer parts-per-
    million (floor division of exact sums), so the whole report
    oracle-matches bit-for-bit.

    Scale shape: one map-side-combined per-user rollup, then every
    window (decile ntile, cumulative sums) runs over the |users|-row
    aggregate — a single-partition window is FINE there because the
    ranked table is aggregate-sized, not fact-sized; the fact table
    contributes exactly one exchange. The 1-row total broadcast-
    crosses back (scalar-subquery pattern)."""
    (events,) = prep(spark, sf_dir, "events")
    u = (events.groupBy("user_id")
         .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")))
    tot = u.agg(F.count(F.lit(1)).alias("n_users_t"), F.sum("cents").alias("total"))
    ranked = u.select(
        "cents",
        F.ntile(PARETO_BUCKETS).over(
            Window.orderBy(F.col("cents").desc(), "user_id")).alias("decile"))
    per = (ranked.groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_users"), F.sum("cents").alias("cents")))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = (per.withColumn("cum_users", F.sum("n_users").over(wc))
           .withColumn("cum_cents", F.sum("cents").over(wc)))
    return (cum.crossJoin(F.broadcast(tot))
            .select(F.col("decile").cast("long").alias("decile"),
                    "n_users", "cents", "cum_users", "cum_cents",
                    # integer div, not `/`: long / long routes through
                    # double, whose nearest-rounding can land one above
                    # the exact floor that DuckDB's // computes
                    F.expr("(cum_cents * 1000000) div total")
                    .alias("cum_share_ppm")))


# -- data-expectations report (aggregated contract checks) --------------

_EXPECT_ORACLE = """
WITH t AS (SELECT COUNT(*) AS n,
    SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS ts_null,
    SUM(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END) AS bad_user,
    SUM(CASE WHEN event_type NOT IN ('click','view','purchase','error','signup') THEN 1 ELSE 0 END) AS bad_type,
    SUM(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END) AS bad_value,
    SUM(CASE WHEN props IS NULL THEN 1
             WHEN json_valid(props) = false THEN 1
             WHEN json_type(props::JSON) <> 'OBJECT' THEN 1
             ELSE 0 END) AS bad_props
  FROM events)
SELECT rule, n_violations, n_rows, n_violations = 0 AS passed FROM (
  SELECT 'ts_not_null' AS rule, CAST(ts_null AS BIGINT) AS n_violations, CAST(n AS BIGINT) AS n_rows FROM t
  UNION ALL SELECT 'user_id_non_negative', CAST(bad_user AS BIGINT), CAST(n AS BIGINT) FROM t
  UNION ALL SELECT 'event_type_in_domain', CAST(bad_type AS BIGINT), CAST(n AS BIGINT) FROM t
  UNION ALL SELECT 'value_non_negative', CAST(bad_value AS BIGINT), CAST(n AS BIGINT) FROM t
  UNION ALL SELECT 'props_json_object', CAST(bad_props AS BIGINT), CAST(n AS BIGINT) FROM t)
"""

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")


@query("expectations_report", oracle=_EXPECT_ORACLE)
def expectations_report(spark, sf_dir):
    """Table-level data-contract report (the dbt-test / expectations
    surface, the aggregate sibling of the row-level
    constraint_enforcer): every expectation is a conditional count
    folded into ONE map-side-combined pass over the scan — five rules
    cost one aggregation, not five scans — then unpivoted to one row
    per rule with its violation count and verdict.

    At 100 TB this is the nightly contract gate: a single scan,
    no shuffle beyond the 1-row aggregate, and adding a rule is one
    more conditional-count column. Row-level quarantine (which rows
    failed) is constraint_enforcer's job; this is the fleet-health
    readout."""
    (events,) = prep(spark, sf_dir, "events")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    t = events.agg(
        F.count(F.lit(1)).alias("n"),
        cnt(F.col("ts").isNull()).alias("ts_not_null"),
        cnt(F.col("user_id").isNull() | (F.col("user_id") < 0)).alias("user_id_non_negative"),
        cnt(~F.col("event_type").isin(*EVENT_TYPES)).alias("event_type_in_domain"),
        cnt(F.col("value").isNull() | (F.col("value") < 0)).alias("value_non_negative"),
        # the rule is "props parses as a JSON OBJECT": from_json to a
        # map is NULL for both malformed JSON and valid non-object
        # payloads ('123', 'null') — the same predicate the oracle
        # states as json_valid AND json_type = OBJECT
        cnt(F.col("props").isNull()
            | F.from_json("props", "map<string,string>").isNull())
        .alias("props_json_object"))
    rules = ["ts_not_null", "user_id_non_negative", "event_type_in_domain",
             "value_non_negative", "props_json_object"]
    stacked = t.select(F.col("n"), F.explode(F.array(*[
        F.struct(F.lit(r).alias("rule"), F.col(r).alias("n_violations"))
        for r in rules])).alias("x"))
    return stacked.select(
        F.col("x.rule").alias("rule"),
        F.col("x.n_violations").alias("n_violations"),
        F.col("n").alias("n_rows"),
        (F.col("x.n_violations") == 0).alias("passed"))


# -- proportional allocation (largest-remainder apportionment) ----------

ALLOC_BUDGET = 10000

_ALLOC_ORACLE = f"""
WITH w AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type),
tot AS (SELECT SUM(n) AS t, CAST(COUNT(*) AS BIGINT) AS g FROM w),
q AS (
  SELECT w.event_type, w.n,
         (w.n * {ALLOC_BUDGET}) // tot.t AS base,
         (w.n * {ALLOC_BUDGET}) % tot.t AS rem,
         tot.t AS t
  FROM w CROSS JOIN tot),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, event_type) AS rk,
         SUM(base) OVER () AS base_sum
  FROM q)
SELECT event_type, n, base,
       CAST(base + CASE WHEN rk <= {ALLOC_BUDGET} - base_sum THEN 1 ELSE 0 END AS BIGINT)
         AS allocation
FROM r
"""


@query("proportional_allocation", oracle=_ALLOC_ORACLE)
def proportional_allocation(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment: split a fixed
    integer budget across groups proportionally to their weights so
    the allocations sum EXACTLY to the budget — the primitive behind
    sampling quotas, shard counts, and capacity splits, where naive
    rounding of shares drifts off-budget. base = floor(n·B / total);
    the leftover units go to the largest remainders (ties by group
    name). Pure integer arithmetic — floor-div, mod, rank — so the
    allocation is bit-portable and provably sums to B.

    Scale shape: the weight table is a map-side-combined rollup;
    everything after runs on |groups| rows (the windows are
    aggregate-sized). The same skeleton allocates per-cluster
    sampling quotas (cluster_balanced_sample's fixed quota becomes
    budget-exact) or per-source token budgets."""
    (events,) = prep(spark, sf_dir, "events")
    w = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = w.agg(F.sum("n").alias("t"))
    q = (w.crossJoin(F.broadcast(tot))
         .select("event_type", "n",
                 F.expr(f"(n * {ALLOC_BUDGET}) div t").alias("base"),
                 F.expr(f"(n * {ALLOC_BUDGET}) % t").alias("rem")))
    from pyspark.sql import Window
    wr = Window.orderBy(F.col("rem").desc(), "event_type")
    r = (q.withColumn("rk", F.row_number().over(wr))
         .withColumn("base_sum", F.sum("base").over(
             Window.partitionBy())))
    extra = F.when(F.col("rk") <= ALLOC_BUDGET - F.col("base_sum"), 1).otherwise(0)
    return r.select("event_type", "n", "base",
                    (F.col("base") + extra).cast("long").alias("allocation"))


CMS_D = 4    # sketch rows (independent hash functions)
CMS_W = 32   # counters per row


def _cms_h_sql(d: int, key: str) -> str:
    from streamforge_spark.functions.simdedup import hash60_sql
    return f"({hash60_sql(key, salt_expr=chr(39) + f'cms{d}' + chr(39))} % {CMS_W})"


def _cms_oracle() -> str:
    hs = [_cms_h_sql(d, "CAST(user_id AS VARCHAR)") for d in range(CMS_D)]
    cell_rows = ", ".join(f"({d}, {hs[d]})" for d in range(CMS_D))
    return f"""
WITH cells AS (
  SELECT t.d, t.h, CAST(count(*) AS BIGINT) AS cnt
  FROM events, LATERAL (VALUES {cell_rows}) t(d, h)
  GROUP BY t.d, t.h),
exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM events GROUP BY user_id),
est AS (
  SELECT e.user_id, MIN(c.cnt) AS cms_est
  FROM exact e, LATERAL (VALUES {cell_rows}) t(d, h)
  JOIN cells c ON c.d = t.d AND c.h = t.h
  GROUP BY e.user_id)
SELECT e.user_id, e.exact_cnt, s.cms_est,
       s.cms_est - e.exact_cnt AS overcount
FROM exact e JOIN est s USING (user_id)
"""


@query("cms_user_counts", oracle=_cms_oracle())
def cms_user_counts(spark, sf_dir):
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan
    2005): per-key event counts from a fixed ``CMS_D x CMS_W`` counter
    grid instead of a per-key table. The sketch is an AGGREGATION —
    cell counts merge associatively across partitions/streams/days —
    and with fixed salted hash functions it is fully deterministic, so
    estimates (and their guaranteed-nonnegative overcount vs exact)
    are oracle-checked exactly.

    Plan (100 TB): building the sketch is one map-side-combined
    aggregation onto D*W = {D}x{W} cells — constant-size state no
    matter the corpus (THE mergeable-sketch story: per-day sketches
    union by cell-wise +). Estimation broadcasts the tiny cell table
    back onto the key list. The exact side here exists only to verify
    the error bound; production reads the sketch alone.""".format(
        D=CMS_D, W=CMS_W)
    from streamforge_spark.functions.simdedup import oracle_hash60
    (events,) = prep(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    cells_in = events.select(F.posexplode(F.array(*[
        (oracle_hash60(key, salt=f"cms{d}") % CMS_W).alias("h")
        for d in range(CMS_D)])).alias("d", "h"))
    cells = cells_in.groupBy("d", "h").agg(F.count(F.lit(1)).alias("cnt"))
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.select(
        "user_id", "exact_cnt",
        F.posexplode(F.array(*[
            (oracle_hash60(F.col("user_id").cast("string"), salt=f"cms{d}")
             % CMS_W).alias("h")
            for d in range(CMS_D)])).alias("d", "h"))
    est = (probes.join(F.broadcast(cells), ["d", "h"])
           .groupBy("user_id", "exact_cnt")
           .agg(F.min("cnt").alias("cms_est")))
    return est.select(
        "user_id", "exact_cnt", "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"))


_RI_ORACLE = """
SELECT 'orders.o_custkey->customer' AS fk,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
         AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
"""


@query("referential_integrity_report", oracle=_RI_ORACLE)
def referential_integrity_report(spark, sf_dir):
    """Foreign-key orphan audit across the schema's four load-bearing
    relationships — the ingest-gate check that catches a partial load
    or out-of-order CDC apply before queries silently drop rows in
    joins.

    Plan (100 TB): each check is ONE left-anti join where the
    parent side ships only its key column (broadcast for dims;
    shuffle-hash for orders, with the fact side never replicated) plus
    a count — no windows, no full-row movement. The four checks are
    independent jobs unioned into a 4-row report."""
    orders, customer, lineitem, supplier, nation = prep(
        spark, sf_dir, "orders", "customer", "lineitem", "supplier", "nation")

    def check(name, child, key, parent, pkey):
        orphans = child.select(key).join(
            parent.select(pkey), child[key] == parent[pkey], "left_anti")
        return (child.select(F.count(F.lit(1)).alias("n_rows"))
                .crossJoin(orphans.select(
                    F.count(F.lit(1)).alias("n_orphans")))
                .select(F.lit(name).alias("fk"), "n_rows", "n_orphans"))

    out = check("orders.o_custkey->customer",
                orders, "o_custkey", customer, "c_custkey")
    for args in [("lineitem.l_orderkey->orders",
                  lineitem, "l_orderkey", orders, "o_orderkey"),
                 ("lineitem.l_suppkey->supplier",
                  lineitem, "l_suppkey", supplier, "s_suppkey"),
                 ("customer.c_nationkey->nation",
                  customer, "c_nationkey", nation, "n_nationkey")]:
        out = out.unionByName(check(*args))
    return out


_DAILY_VOLUME_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
w AS (
  SELECT day, n,
         CAST(sum(n) OVER (ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS trail_sum,
         CAST(count(*) OVER (ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS trail_n
  FROM daily)
SELECT day, n, trail_sum, trail_n,
       trail_n > 0 AND (n * trail_n * 2 < trail_sum
                        OR n * trail_n > trail_sum * 2) AS is_anomaly
FROM w
"""


@query("daily_volume_anomalies", oracle=_DAILY_VOLUME_ORACLE)
def daily_volume_anomalies(spark, sf_dir):
    """Pipeline-freshness monitoring: daily event volume vs its
    trailing 7-day window — a day under half or over double the
    trailing mean flags (feed died / replay doubled). The comparison
    is cross-multiplied BIGINTs (n * trail_n vs trail_sum), so no
    division and no float drift; the first days (empty trail) never
    flag.

    Plan (100 TB): the raw stream collapses to ONE ROW PER DAY in a
    map-side-combined aggregate before any window — the trailing
    window runs over the tiny day table (single partition of ~365
    rows/year, explicitly acceptable: it is post-aggregation)."""
    from pyspark.sql import Window
    (events,) = prep(spark, sf_dir, "events")
    daily = (events.groupBy(F.date_trunc("day", "ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("day").rowsBetween(-7, -1)
    out = daily.select(
        "day", "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count(F.lit(1)).over(w).alias("trail_n"))
    return out.select(
        "day", "n",
        "trail_sum", "trail_n",
        ((F.col("trail_n") > 0)
         & ((F.col("n") * F.col("trail_n") * 2 < F.col("trail_sum"))
            | (F.col("n") * F.col("trail_n") > F.col("trail_sum") * 2))
         ).alias("is_anomaly"))


_RANK_TEST_ORACLE = """
WITH a AS (SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'click'),
b AS (SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
ca AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_a FROM a GROUP BY 1),
cb AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_b FROM b GROUP BY 1),
pairs AS (
  SELECT a.user_id,
         CAST(sum(CASE WHEN a.cents > b.cents THEN 2
                       WHEN a.cents = b.cents THEN 1 ELSE 0 END) AS BIGINT)
           AS u2
  FROM a JOIN b USING (user_id) GROUP BY a.user_id)
SELECT COALESCE(ca.user_id, cb.user_id) AS user_id,
       COALESCE(ca.n_a, 0) AS n_a,
       COALESCE(cb.n_b, 0) AS n_b,
       COALESCE(p.u2, 0) AS u2
FROM ca FULL OUTER JOIN cb ON ca.user_id = cb.user_id
LEFT JOIN pairs p ON p.user_id = COALESCE(ca.user_id, cb.user_id)
"""


@query("paired_rank_test", oracle=_RANK_TEST_ORACLE)
def paired_rank_test(spark, sf_dir):
    """Per-user Mann-Whitney U (rank-sum) comparing click-event values
    against purchase-event values — the nonparametric are-these-
    distributions-different statistic, in doubled-U integer form
    (2*wins + ties) so it is exact.

    This is the repo's COGROUP operator: the two filtered streams
    co-partition on user_id and meet in ONE Arrow-batched
    applyInPandas per group, where a sort + binary search computes all
    pairwise comparisons in O((n+m) log m) per user — while the SQL
    oracle literally materializes the O(n*m) pair join. At 100 TB the
    cogroup is two co-located shuffles and linearithmic group work;
    the naive pair join it replaces is quadratic in the hottest user.
    """
    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    a = (events.filter(F.col("event_type") == "click")
         .select("user_id", cents.alias("cents")))
    b = (events.filter(F.col("event_type") == "purchase")
         .select("user_id", cents.alias("cents")))

    def fn(key, pa, pb):
        import numpy as np
        import pandas as pd
        av = pa["cents"].to_numpy(dtype="int64")
        bv = np.sort(pb["cents"].to_numpy(dtype="int64"))
        if len(av) and len(bv):
            wins = np.searchsorted(bv, av, side="left").sum()
            le = np.searchsorted(bv, av, side="right").sum()
            u2 = int(2 * wins + (le - wins))
        else:
            u2 = 0
        return pd.DataFrame([{
            "user_id": key[0], "n_a": len(av), "n_b": len(bv), "u2": u2}])

    return (a.groupBy("user_id").cogroup(b.groupBy("user_id"))
            .applyInPandas(fn, "user_id long, n_a long, n_b long, u2 long"))


_EXPLOSION_ORACLE = """
WITH l AS (SELECT user_id AS k, COUNT(*) AS n_left FROM events GROUP BY 1),
r AS (SELECT o_custkey AS k, COUNT(*) AS n_right FROM orders GROUP BY 1)
SELECT k AS key, n_left, n_right, n_left * n_right AS pairs
FROM l JOIN r USING (k)
ORDER BY pairs DESC, key
LIMIT 20
"""


@query("join_explosion_risk", oracle=_EXPLOSION_ORACLE)
def join_explosion_risk(spark, sf_dir):
    """Join-planning audit: before running an M:N join (events x
    orders on customer key), report the 20 keys whose per-side
    multiplicities multiply into the most output rows — the keys that
    blow up a fanout join and the input to a salting / skew-hint
    decision.

    Scale: each side collapses to a per-key count with ONE map-side-
    combined rollup (counts move, rows don't); the rollups join on the
    key, and the top-20 rides a TakeOrderedAndProject — no full sort,
    no data-sized shuffle beyond the two count rollups.
    """
    events, orders = prep(spark, sf_dir, "events", "orders")
    left = (events.groupBy(F.col("user_id").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_left")))
    right = (orders.groupBy(F.col("o_custkey").alias("key"))
             .agg(F.count(F.lit(1)).alias("n_right")))
    return (left.join(right, "key")
            .select("key", "n_left", "n_right",
                    (F.col("n_left") * F.col("n_right")).alias("pairs"))
            .orderBy(F.col("pairs").desc(), "key")
            .limit(20))


_TRIPLES_ORACLE = """
WITH basket AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
triples AS (
  SELECT a.p AS p1, b.p AS p2, c.p AS p3
  FROM basket a
  JOIN basket b ON a.o = b.o AND a.p < b.p
  JOIN basket c ON a.o = c.o AND b.p < c.p)
SELECT p1, p2, p3, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM triples GROUP BY p1, p2, p3
HAVING COUNT(*) >= 2
ORDER BY n_orders DESC, p1, p2, p3
LIMIT 20
"""


@query("basket_triples", oracle=_TRIPLES_ORACLE)
def basket_triples(spark, sf_dir):
    """Frequent 3-itemsets: the 20 part triples most often bought in
    the same order (support ≥ 2) — the order-3 extension of the pair
    lift table (`market_basket_lift`), the shape recommendation
    bundles are mined from.

    Scale: triple generation is combinations WITHIN a basket — cubic
    only in basket size (≤7 lines per order in this schema, and
    bounded by cart-size product limits in any real one), never in
    catalog or order count.  Two self-equi-joins on the order key
    reuse one exchange of the distinct (order, part) rollup; the
    triple rollup is map-side combined and top-20 rides
    TakeOrderedAndProject.
    """
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    basket = (lineitem.select(F.col("l_orderkey").alias("o"),
                              F.col("l_partkey").alias("p"))
              .distinct().localCheckpoint(eager=False))
    a = basket.select("o", F.col("p").alias("p1"))
    b = basket.select(F.col("o").alias("ob"), F.col("p").alias("p2"))
    c = basket.select(F.col("o").alias("oc"), F.col("p").alias("p3"))
    return (a.join(b, (a["o"] == b["ob"]) & (a["p1"] < b["p2"]))
            .join(c, (a["o"] == c["oc"]) & (b["p2"] < c["p3"]))
            .groupBy("p1", "p2", "p3")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .where(F.col("n_orders") >= 2)
            .orderBy(F.col("n_orders").desc(), "p1", "p2", "p3")
            .limit(20))


_TABLE_DIFF_ORACLE = """
WITH old_v AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
new_v AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM old_v WHERE o_orderkey % 17 <> 0)
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'INSERT'
            WHEN n.o_orderkey IS NULL THEN 'DELETE'
            ELSE 'UPDATE' END AS change_type,
       COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       o.cents AS old_cents, n.cents AS new_cents
FROM old_v o FULL JOIN new_v n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.cents IS DISTINCT FROM n.cents
   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
"""


@query("table_version_diff", oracle=_TABLE_DIFF_ORACLE)
def table_version_diff(spark, sf_dir):
    """Version reconciliation demo of `operators/dedup.py::table_diff`:
    the fixture orders table against a deterministically mutated
    rebuild (every 17th key dropped → DELETE, every 10th price bumped
    → UPDATE) — output is exactly the drift, classified.

    One full-outer key join; unchanged rows vanish, so at 100 TB the
    output (and everything after the join) is proportional to the
    CHANGE volume.
    """
    from streamforge_spark.operators.dedup import table_diff
    (orders,) = prep(spark, sf_dir, "orders")
    old = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    new = (old.where(F.col("o_orderkey") % 17 != 0)
           .withColumn("cents",
                       F.when(F.col("o_orderkey") % 10 == 0,
                              F.col("cents") + 100).otherwise(F.col("cents"))))
    d = table_diff(old, new, ["o_orderkey"], ["cents", "o_orderstatus"])
    return d.select("change_type", "o_orderkey",
                    "old_cents", "new_cents")


_DQ_ORACLE = """
SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS pk_dups,
       CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS null_keys,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL) AS orphans
FROM orders
UNION ALL
SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 16 + l_linenumber) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL)
FROM lineitem
UNION ALL
SELECT 'customer', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE c_nationkey IS NULL) AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_nationkey IS NULL)
FROM customer
UNION ALL
SELECT 'events', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT),
       CAST(0 AS BIGINT)
FROM events
"""


@query("dq_scorecard", oracle=_DQ_ORACLE)
def dq_scorecard(spark, sf_dir):
    """One-row-per-table data-quality scorecard: row count, primary-
    key duplicates, null foreign keys, and referential orphans — the
    warehouse health dashboard's top table, unioned across the core
    tables so ONE query feeds the whole panel (the per-table detail
    lives in `data_profile` / `referential_integrity_report`).

    Each table contributes one pass (counts + distinct) plus an
    anti-join against its parent (the parent key sides broadcast at
    dimension scale; lineitem⨝orders is the one fact-fact anti-join
    and shuffles once).
    """
    orders, customer, lineitem, nation, events = prep(
        spark, sf_dir, "orders", "customer", "lineitem", "nation", "events")

    def card(name, df, pk, fk, parent, parent_key):
        stats = df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.countDistinct(pk)).alias("pk_dups"),
            F.count(F.when(F.col(fk).isNull(), 1)).alias("null_keys"))
        if parent is None:
            return stats.withColumn("orphans", F.lit(0).cast("long"))
        orphans = (df.join(parent, df[fk] == parent[parent_key], "left_anti")
                   .agg(F.count(F.lit(1)).alias("orphans")))
        return stats.crossJoin(F.broadcast(orphans))

    line_pk = (F.col("l_orderkey") * 16 + F.col("l_linenumber"))
    return (card("orders", orders, F.col("o_orderkey"), "o_custkey",
                 customer.select("c_custkey"), "c_custkey")
            .unionByName(card("lineitem", lineitem, line_pk, "l_orderkey",
                              orders.select(F.col("o_orderkey").alias("_pk")),
                              "_pk"))
            .unionByName(card("customer", customer, F.col("c_custkey"),
                              "c_nationkey",
                              nation.select("n_nationkey"), "n_nationkey"))
            .unionByName(card("events", events, F.col("event_id"),
                              "user_id", None, None)))


_JOINSIZE_ORACLE = """
WITH l AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS nl
           FROM events GROUP BY 1),
r AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nr
      FROM orders GROUP BY 1),
pred AS (SELECT COALESCE(SUM(l.nl * r.nr), 0) AS predicted
         FROM l JOIN r ON l.k = r.k),
act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual
        FROM events e JOIN orders o ON e.user_id = o.o_custkey)
SELECT predicted, actual, predicted = actual AS exact_match
FROM pred, act
"""


@query("join_size_prediction", oracle=_JOINSIZE_ORACLE)
def join_size_prediction(spark, sf_dir):
    """Join-size prediction, self-verified: the output cardinality of
    events⨝orders computed WITHOUT running the join (sum over keys of
    multiplicity products — the statistic a cost-based optimizer
    wants) next to the actual join count, plus the equality flag —
    which is provably TRUE, because per-key count products aren't an
    estimate, they're the exact closed form.

    Why it matters at 100 TB: the prediction side touches two
    map-side-combined count rollups (KB per key domain), while the
    actual join materializes every output row — this query IS the
    argument for sizing joins from rollups before running them
    (`join_explosion_risk` is the per-key drill-down).
    """
    events, orders = prep(spark, sf_dir, "events", "orders")
    l = events.groupBy(F.col("user_id").alias("k")) \
        .agg(F.count(F.lit(1)).alias("nl"))
    r = orders.groupBy(F.col("o_custkey").alias("k")) \
        .agg(F.count(F.lit(1)).alias("nr"))
    pred = (l.join(r, "k")
            .agg(F.coalesce(F.sum(F.col("nl") * F.col("nr")), F.lit(0))
                 .alias("predicted")))
    act = (events.join(orders, events["user_id"] == orders["o_custkey"])
           .agg(F.count(F.lit(1)).alias("actual")))
    return (pred.crossJoin(act)
            .select("predicted", "actual",
                    (F.col("predicted") == F.col("actual"))
                    .alias("exact_match")))


_BASKETMIX_ORACLE = """
WITH ob AS (
  SELECT l.l_orderkey AS o, p.p_brand AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2),
g AS (
  SELECT b, (SUM(c) * 1000000) // (SELECT SUM(c) FROM ob) AS g_ppm
  FROM ob GROUP BY b),
o_tot AS (SELECT o, SUM(c) AS n FROM ob GROUP BY o),
terms AS (
  SELECT ob.o,
         ABS((ob.c * 1000000) // t.n - g.g_ppm) AS dev_ppm,
         g.g_ppm
  FROM ob JOIN o_tot t ON ob.o = t.o JOIN g ON ob.b = g.b)
SELECT o AS orderkey,
       SUM(dev_ppm) + (1000000 - SUM(g_ppm)) AS tv2_ppm
FROM terms GROUP BY o
ORDER BY tv2_ppm DESC, o
LIMIT 20
"""


@query("basket_mix_outliers", oracle=_BASKETMIX_ORACLE)
def basket_mix_outliers(spark, sf_dir):
    """Basket-composition outliers: the 20 orders whose brand mix is
    FURTHEST from the corpus-wide brand distribution (total-variation
    x2, exact ppm) — reseller/fraud baskets and data glitches look
    like this, normal shoppers don't.

    The absent-brand algebra keeps it one pass: brands missing from
    an order each contribute their full global share, and
    Σ_absent g = 1e6 − Σ_present g — so NO per-order explosion over
    the brand catalog, just |basket| present-brand terms plus one
    closed-form remainder.  Global shares are a KB-scale broadcast;
    top-20 rides TakeOrderedAndProject.
    """
    lineitem, part = prep(spark, sf_dir, "lineitem", "part")
    ob = (lineitem.join(F.broadcast(part.select("p_partkey", "p_brand")),
                        lineitem["l_partkey"] == part["p_partkey"])
          .groupBy(F.col("l_orderkey").alias("o"),
                   F.col("p_brand").alias("b"))
          .agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint(eager=False))
    tot = ob.agg(F.sum("c").alias("t"))
    g = (ob.groupBy("b").agg(F.sum("c").alias("bc"))
         .crossJoin(F.broadcast(tot))
         .select("b", F.expr("(bc * 1000000) div t").alias("g_ppm")))
    w = Window.partitionBy("o")
    terms = (ob.withColumn("n", F.sum("c").over(w))
             .join(F.broadcast(g), "b")
             .select("o",
                     F.abs(F.expr("(c * 1000000) div n") - F.col("g_ppm"))
                     .alias("dev_ppm"),
                     "g_ppm"))
    return (terms.groupBy(F.col("o").alias("orderkey"))
            .agg((F.sum("dev_ppm") + (F.lit(1000000) - F.sum("g_ppm")))
                 .alias("tv2_ppm"))
            .orderBy(F.col("tv2_ppm").desc(), "orderkey")
            .limit(20))
