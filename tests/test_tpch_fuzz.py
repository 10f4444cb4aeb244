"""Parameterized cross-engine equivalence for the TPC-H shapes: hypothesis
draws the query parameters (date windows, quantity cuts, brand triples) and
Spark must agree with DuckDB on every draw — the oracle contract holds over
the parameter space, not just the published constants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.tpch import (  # noqa: E402
    discounted_revenue,
    forecast_revenue,
    priority_waiting,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (  # noqa: E402
    load_table,
)

from .oracle_harness import compare, duck_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


REV = "CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)"


def test_q4_exists_over_random_date_windows(spark, duck):
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        start_year=st.integers(1995, 2000),
        start_month=st.integers(1, 12),
        months=st.integers(1, 9),
    )
    def check(start_year, start_month, months):
        lo = f"{start_year}-{start_month:02d}-01"
        em, ey = start_month + months, start_year
        while em > 12:
            em -= 12
            ey += 1
        hi = f"{ey}-{em:02d}-01"
        df = priority_waiting(
            load_table(spark, SF, "orders"),
            load_table(spark, SF, "lineitem"),
            date_lo=lo,
            date_hi=hi,
        )
        sql = f"""
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{lo}'
              AND o_orderdate < TIMESTAMP '{hi}'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY 1
        """
        compare(df, duck, sql, f"q4[{lo},{hi})")

    check()


def test_q6_filter_agg_over_random_cuts(spark, duck):
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        year=st.integers(1995, 2000),
        dlo=st.integers(0, 8),
        width=st.integers(0, 4),
        qty=st.integers(2, 50),
    )
    def check(year, dlo, width, qty):
        lo, hi = f"{year}-01-01", f"{year + 1}-01-01"
        disc_lo, disc_hi = dlo / 100.0, (dlo + width) / 100.0
        df = forecast_revenue(
            load_table(spark, SF, "lineitem"),
            date_lo=lo,
            date_hi=hi,
            disc_lo=disc_lo,
            disc_hi=disc_hi,
            max_qty=qty,
        )
        sql = f"""
            SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount
                       * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{lo}'
              AND l_shipdate < TIMESTAMP '{hi}'
              AND l_discount >= {disc_lo} AND l_discount <= {disc_hi}
              AND l_quantity < {float(qty)}
        """
        compare(df, duck, sql, f"q6[{year},{disc_lo},{disc_hi},{qty}]")

    check()


def test_q19_disjunction_always_matches_reference_filter(spark, duck):
    """The disjunctive-predicate shape with the published constants must
    equal a row-level reference evaluation of the same three branches in
    DuckDB — guarding against predicate-pushdown miscompiles splitting
    the OR."""
    df = discounted_revenue(
        load_table(spark, SF, "lineitem"), load_table(spark, SF, "part")
    )
    sql = f"""
        SELECT CAST(sum({REV}) AS BIGINT) AS revenue_e4,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1.0 AND 20.0)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10.0 AND 30.0)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20.0 AND 40.0)
    """
    compare(df, duck, sql, "q19")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lens=st.lists(st.integers(min_value=0, max_value=500), min_size=0, max_size=60),
    capacity=st.integers(min_value=1, max_value=400),
    n_bins=st.integers(min_value=1, max_value=9),
)
def test_rank_machinery_matches_python_reference(spark, lens, capacity, n_bins):
    """The two-phase rank/prefix-sum operators agree with a sequential
    Python reference on arbitrary token-length lists — the property the
    plain-window oracles encode, held over the input space."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    rows = [(i, n) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int") if rows else (
        spark.range(0).selectExpr("id as doc_id", "cast(id as int) as n_tokens")
    )

    got_shards = {
        r.shard: (r.n_docs, r.total_tokens, r.min_doc, r.max_doc)
        for r in smp.token_budget_shards(df, capacity=capacity).collect()
    }
    want: dict = {}
    start = 0
    for i, n in rows:
        s = start // capacity
        d = want.setdefault(s, [0, 0, i, i])
        d[0] += 1
        d[1] += n
        d[3] = i
        start += n
    assert got_shards == {s: tuple(v) for s, v in want.items()}

    got_bins = {r.doc_id: r.bin for r in smp.pack_bins(df, n_bins=n_bins).collect()}
    order = sorted(rows, key=lambda t: (-t[1], t[0]))
    want_bins = {}
    for r, (i, _n) in enumerate(order):
        fwd = r % n_bins
        want_bins[i] = fwd if (r // n_bins) % 2 == 0 else n_bins - 1 - fwd
    assert got_bins == want_bins


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),      # user
            st.integers(min_value=0, max_value=4),      # day
            st.sampled_from(["a", "b"]),                # type
            st.integers(min_value=-20, max_value=20),   # value (int-exact)
        ),
        min_size=1,
        max_size=80,
    ),
    k=st.integers(min_value=1, max_value=6),
)
def test_k_anonymity_matches_python_reference(spark, rows, k):
    """The QI audit agrees with a sequential reference on arbitrary event
    sets — group keys, sub-k classification, and suppression accounting."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        k_anonymity_audit,
    )

    data = [
        (i, f"2024-01-0{d + 1} 00:00:00", u, t, float(v))
        for i, (u, d, t, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.event_type: (r.n_rows, r.n_groups, r.n_small_groups, r.rows_at_risk)
        for r in k_anonymity_audit(df, k=k).collect()
    }
    import datetime

    groups: dict = {}
    for i, (u, d, t, v) in enumerate(rows):
        day = datetime.datetime(2024, 1, d + 1, tzinfo=datetime.timezone.utc)
        qi = (t, int(day.timestamp() * 1000), v // 5)
        groups[qi] = groups.get(qi, 0) + 1
    want: dict = {}
    for (t, _day, _vb), c in groups.items():
        n_rows, n_groups, n_small, risk = want.get(t, (0, 0, 0, 0))
        want[t] = (
            n_rows + c,
            n_groups + 1,
            n_small + (1 if c < k else 0),
            risk + (c if c < k else 0),
        )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # user
            st.integers(min_value=0, max_value=8),  # day
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_retention_matches_python_reference(spark, rows):
    """Cohort retention agrees with a sequential reference on arbitrary
    (user, day) activity sets, including the max-offset cut."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        retention_cohorts,
    )

    data = [
        (i, f"2024-01-0{d + 1} 12:00:00", u, "e", 0.0)
        for i, (u, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r.cohort_ms, r.day_offset): (r.n_active, r.n_users)
        for r in retention_cohorts(df, max_offset=7).collect()
    }
    import datetime

    def day_ms(d):
        return int(
            datetime.datetime(
                2024, 1, d + 1, tzinfo=datetime.timezone.utc
            ).timestamp()
            * 1000
        )

    by_user: dict = {}
    for u, d in rows:
        by_user.setdefault(u, set()).add(d)
    cohort = {u: min(ds) for u, ds in by_user.items()}
    sizes: dict = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    want = {}
    for u, ds in by_user.items():
        c = cohort[u]
        for d in ds:
            off = d - c
            if off <= 7:
                key = (day_ms(c), off)
                want[key] = want.get(key, 0) + 1
    want = {
        key: (n, sizes[[cd for cd in sizes if day_ms(cd) == key[0]][0]])
        for key, n in want.items()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=1, max_size=120
    ),
    k=st.integers(min_value=1, max_value=9),
    num_parts=st.one_of(st.none(), st.integers(min_value=1, max_value=11)),
)
def test_global_ntile_matches_python_reference(spark, vals, k, num_parts):
    """ranks.global_ntile reproduces the exact SQL ntile formula over a
    unique total order on arbitrary inputs AND at any drawn range-exchange
    width (the adaptive num_parts default and every explicit override) —
    the property every layout carve and quantile bucketer now rests on."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        global_ntile,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v int")
    got = {
        r.id: r.bucket
        for r in global_ntile(
            df, [F.col("v").asc(), F.col("id").asc()], k, num_parts=num_parts
        ).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    n = len(order)
    size, rem = n // k, n % k
    want = {}
    pos = 0
    for b in range(1, k + 1):
        take = size + (1 if b <= rem else 0)
        for i, _v in order[pos : pos + take]:
            want[i] = b
        pos += take
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1", "g2"]),
            st.integers(min_value=0, max_value=(1 << 20) - 1),
        ),
        min_size=1,
        max_size=300,
    ),
    kth=st.integers(min_value=1, max_value=10),
)
def test_radix_kth_matches_sorted_reference(spark, vals, kth):
    """radix_kth_by_group equals sorted()[k-1] per group for arbitrary
    non-negative ints and ranks — duplicates, zero values, single-element
    groups, and k at both ends — across the multi-level walk."""
    from collections import defaultdict

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        radix_kth_by_group,
    )

    byg = defaultdict(list)
    for g, v in vals:
        byg[g].append(v)
    # clamp requested rank into each group's valid range, mixing ends
    k = {g: min(kth, len(vs)) for g, vs in byg.items()}
    df = spark.createDataFrame(vals, "g string, v long")
    got = radix_kth_by_group(df, "g", F.col("v"), k, 20, step=7)
    want = {g: sorted(vs)[k[g] - 1] for g, vs in byg.items()}
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    walks=st.lists(
        st.lists(
            st.sampled_from(["boot", "a", "b", "c"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_markov_stationary_matches_duck_oracle(spark, walks):
    """markov_stationary equals its unrolled-CTE DuckDB oracle on random
    per-user event walks — including source-only states (no incoming
    edge), dst-only terminal states, and single-event users that yield no
    transitions at all. Pins the INNER-join semantics chosen in round 8."""
    import duckdb
    import pandas as pd

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        duck_markov_stationary_sql,
        markov_stationary,
    )

    rows = []
    eid = 0
    for uid, seq in enumerate(walks):
        for i, et in enumerate(seq):
            rows.append((eid, f"2024-01-01 00:{i:02d}:00", uid, et))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.state: (r.stationary_share, r.empirical_share)
        for r in markov_stationary(ev).collect()
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    con.register("events", pdf)
    want = {
        r[0]: (float(r[1]), float(r[2]))
        for r in con.execute(duck_markov_stationary_sql()).fetchall()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # group
            st.integers(min_value=-(10**12), max_value=10**12),           # value
        ),
        min_size=0,
        max_size=120,
    ),
    num_parts=st.integers(min_value=1, max_value=9),
)
def test_grouped_running_sum_matches_python_reference(spark, vals, num_parts):
    """The two-phase parallel prefix sum equals a sequential Python fold
    for ANY grouping (including NULL groups and empty input), any value
    sign, and any range-partition count — the exact-bigint property the
    window-reference test pins at one seed, held over the input space.
    The order key is the row index, so the total-order contract holds by
    construction while groups interleave arbitrarily across partitions."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        grouped_running_sum,
    )

    rows = [(g, i, v) for i, (g, v) in enumerate(vals)]
    if rows:
        df = spark.createDataFrame(rows, "grp int, o long, c long")
    else:
        df = spark.range(0).selectExpr(
            "cast(id as int) as grp", "id as o", "id as c"
        )
    got = {
        (r.grp, r.o): r["__rsum"]
        for r in grouped_running_sum(
            df, ["grp"], [F.col("o").asc()], "c", num_parts=num_parts
        ).collect()
    }
    want: dict = {}
    acc: dict = {}
    for g, i, v in rows:
        acc[g] = acc.get(g, 0) + v
        want[(g, i)] = acc[g]
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1", "g2"]),
            st.integers(min_value=0, max_value=(1 << 20) - 1),
        ),
        min_size=1,
        max_size=300,
    ),
    kths=st.lists(
        st.integers(min_value=1, max_value=12), min_size=1, max_size=4
    ),
)
def test_radix_kths_multi_target_matches_sorted_reference(spark, vals, kths):
    """radix_kths_by_group returns sorted()[k-1] for EVERY (group, tag)
    target in one shared walk — multiple ranks per group (duplicates
    allowed, both ends), arbitrary non-negative values, multi-level
    descent. Also pins wrapper equivalence: the single-k form must agree
    with the shared-walk result target-for-target."""
    from collections import defaultdict

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        radix_kth_by_group,
        radix_kths_by_group,
    )

    byg = defaultdict(list)
    for g, v in vals:
        byg[g].append(v)
    targets = {
        (g, f"t{i}"): min(kk, len(vs))
        for g, vs in byg.items()
        for i, kk in enumerate(kths)
    }
    df = spark.createDataFrame(vals, "g string, v long")
    got = radix_kths_by_group(df, "g", F.col("v"), targets, 20, step=7)
    want = {
        (g, t): sorted(byg[g])[k - 1] for (g, t), k in targets.items()
    }
    assert got == want
    for i, kk in enumerate(kths):
        single = radix_kth_by_group(
            df,
            "g",
            F.col("v"),
            {g: min(kk, len(vs)) for g, vs in byg.items()},
            20,
            step=7,
        )
        assert single == {
            g: want[(g, f"t{i}")] for g in byg
        }
