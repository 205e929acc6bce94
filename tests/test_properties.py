"""Property-based tests (hypothesis) for driver-side primitives, plus
statistical bound checks for the approximate operators."""

from __future__ import annotations

import re

import pytest

from hypothesis import example, given, settings
from hypothesis import strategies as st

from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cleaning import (
    fix_col_name,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
    coalesce_tier,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
    rewrite_bracket_identifiers,
    to_spark_sql,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
    execution_hash_id,
)


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_fix_col_name_always_catalog_safe(name):
    out = fix_col_name(name)
    # output only ever contains [a-z0-9_] (Athena/Glue-safe, lowercased)
    assert re.fullmatch(r"[a-z0-9_]*", out) is not None


@given(st.text(alphabet=st.characters(blacklist_characters="[]'", max_codepoint=0x2FF), max_size=60))
@settings(max_examples=200, deadline=None)
def test_bracket_rewrite_identity_without_brackets(sql):
    # no brackets, no strings => rewrite is the identity
    assert rewrite_bracket_identifiers(sql) == sql


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_characters="[]'", min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_bracket_rewrite_brackets_to_backticks(idents):
    sql = " ".join(f"[{i}]" for i in idents)
    out = rewrite_bracket_identifiers(sql)
    assert out == " ".join(f"`{i}`" for i in idents)


@given(st.text(max_size=100))
@settings(max_examples=200, deadline=None)
def test_string_literals_never_rewritten(payload):
    inner = payload.replace("'", "''")
    sql = f"SELECT '{inner}' FROM t"
    assert f"'{inner}'" in to_spark_sql(sql)


@given(st.text(min_size=1, max_size=50), st.integers(1, 9), st.text(min_size=1, max_size=200))
@settings(max_examples=200, deadline=None)
def test_execution_hash_id_stable_and_case_insensitive(tbl, part, query):
    a = execution_hash_id(tbl, part, query)
    assert a == execution_hash_id(tbl, part, query)  # deterministic
    assert a == execution_hash_id(tbl, part, query.upper())  # case-folded
    assert a == execution_hash_id(tbl, part, f"  {query}  ")  # stripped
    assert re.fullmatch(r"[0-9a-f]{32}", a)


@given(st.integers(0, 10**12))
@settings(max_examples=300, deadline=None)
def test_coalesce_tier_monotone_bounded(n):
    t = coalesce_tier(n)
    assert t in (8, 16, 24)
    assert coalesce_tier(n) <= coalesce_tier(n + 10**9)


def test_approx_count_distinct_error_bound(spark):
    """approx_count_distinct(rsd=0.02) must land within 3×rsd of exact
    (no cross-engine oracle possible — sketches differ)."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    approx = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(1, 0.06 * ex), (k, approx[k], ex)


def _py_zorder(x: int, y: int, bits: int) -> int:
    v = 0
    for b in range(bits):
        v |= ((x >> b) & 1) << (2 * b)
        v |= ((y >> b) & 1) << (2 * b + 1)
    return v


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@pytest.mark.slow
@settings(max_examples=10, deadline=None)
def test_zorder_key_matches_reference(spark, pairs):
    """The Column bit-interleave agrees with a direct Python Morton
    encode, and is monotone-compatible with the SQL form used by the
    oracle (same function, two renderings)."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        zorder_key,
        zorder_key_sql,
    )

    df = spark.createDataFrame(pairs, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), 16).alias("z")
        ).collect()
    }
    sql_got = {
        (r["x"], r["y"]): r["z"]
        for r in df.selectExpr(
            "x", "y", f"{zorder_key_sql('x', 'y', 16)} AS z"
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_zorder(x, y, 16), (x, y)
        assert sql_got[(x, y)] == z, (x, y)


def test_shared_ngram_spans_matches_bruteforce(spark):
    """shared_ngram_spans agrees with a per-doc brute-force n-gram
    membership check, including docs below the n-gram length (dropped)
    and single-source unique docs (zero shared)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        shared_ngram_spans,
    )

    docs = [
        (1, "a b c d e f"),         # shares the full 4-gram run with doc 2
        (2, "a b c d e f"),
        (3, "a b c d x y"),         # shares only the leading 4-gram
        (4, "q w e r t z"),         # unique
        (5, "too short"),           # < n tokens: dropped
    ]
    n = 4
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_shared"])
        for r in shared_ngram_spans(sdf, "doc_id", "text", n=n).collect()
    }

    grams = {
        d: [" ".join(t.split()[i : i + n]) for i in range(len(t.split()) - n + 1)]
        for d, t in docs
        if len(t.split()) >= n
    }
    for d, gs in grams.items():
        shared = sum(
            1
            for g in gs
            if any(g in og for od, og in grams.items() if od != d)
        )
        assert got[d] == (len(gs), shared), d
    assert 5 not in got


def test_weighted_sample_rate_edges(spark):
    """rate=1.0 keeps every row (floor(256*1)=256 > any bucket),
    rate=0.0 keeps none, and rates are monotone: raising every row's
    rate never drops a previously-kept row."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.chunking import (
        weighted_sample,
    )

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    assert weighted_sample(df, "doc_id", F.lit(1.0)).count() == 500
    assert weighted_sample(df, "doc_id", F.lit(0.0)).count() == 0
    half = {r["doc_id"] for r in weighted_sample(df, "doc_id", F.lit(0.5)).collect()}
    most = {r["doc_id"] for r in weighted_sample(df, "doc_id", F.lit(0.9)).collect()}
    assert half <= most
    assert 0 < len(half) < len(most) < 500


@given(
    big_keys=st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=0, max_size=60),
    small_keys=st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=0, max_size=20),
    num_bits=st.sampled_from([64, 1024, 65536]),
    num_hashes=st.integers(min_value=1, max_value=4),
)
@pytest.mark.slow
@settings(max_examples=12, deadline=None)
def test_bloom_prefilter_join_never_loses_rows(spark, big_keys, small_keys, num_bits, num_hashes):
    """Randomized: for any key multiset, filter size, and hash count,
    bloom_prefilter_join is row-for-row identical to the plain join —
    including tiny filters (64 bits) where false positives are
    common, which must be removed by the final equi-join."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.skew import (
        bloom_prefilter_join,
    )

    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(big_keys)] or [(None, None)], "k long, rowid long"
    )
    small = spark.createDataFrame(
        [(k, -i) for i, k in enumerate(small_keys)] or [(None, None)], "k long, tag long"
    )
    got = bloom_prefilter_join(
        big, small, "k", num_bits=num_bits, num_hashes=num_hashes
    ).collect()
    want = big.join(small, "k").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@given(
    prev_rows=st.lists(
        st.tuples(st.integers(0, 15), st.one_of(st.none(), st.integers(0, 3))),
        max_size=16, unique_by=lambda t: t[0],
    ),
    cur_rows=st.lists(
        st.tuples(st.integers(0, 15), st.one_of(st.none(), st.integers(0, 3))),
        max_size=16, unique_by=lambda t: t[0],
    ),
)
@pytest.mark.slow
@settings(max_examples=10, deadline=None)
def test_snapshot_diff_matches_bruteforce(spark, prev_rows, cur_rows):
    """Randomized: snapshot_diff's status classification and change
    flag equal a dict-based brute force for every key, including
    null-valued cells."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        snapshot_diff,
    )

    prev = spark.createDataFrame(prev_rows or [(99, None)], "k int, v int")
    cur = spark.createDataFrame(cur_rows or [(98, None)], "k int, v int")
    got = {
        r.k: (r.diff_status, r.chg_v)
        for r in snapshot_diff(cur, prev, ["k"], ["v"]).collect()
    }
    pd_, cd = dict(prev_rows or [(99, None)]), dict(cur_rows or [(98, None)])
    for k in set(pd_) | set(cd):
        if k not in pd_:
            exp = ("added", False)
        elif k not in cd:
            exp = ("removed", False)
        elif pd_[k] != cd[k]:
            exp = ("changed", True)
        else:
            exp = ("unchanged", False)
        assert got[k] == exp, (k, got[k], exp)
    assert set(got) == set(pd_) | set(cd)


# ---- r5: composed T-SQL rewrites (VERDICT item 5) -------------------
#
# The targeted per-idiom rewrites each have direct tests; these build
# random COMPOSITIONS (nested CONVERT inside DATEADD inside TOP-n
# statements, bracket idents in join conditions) together with a
# constructively-derived expectation, then assert the pipeline output
# matches, is idempotent, and actually parses/executes in Spark.

_NUM_COLS = ["l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber"]


def _pairs():
    """Strategy of (tsql, spark) numeric expression pairs."""
    def col():
        return st.sampled_from(_NUM_COLS).flatmap(
            lambda c: st.sampled_from([(c, c), (f"[{c}]", f"`{c}`")])
        )

    def num():
        return st.integers(1, 99).map(lambda n: (str(n), str(n)))

    atom = st.one_of(col(), num())

    def compose(children):
        two = st.tuples(children, children)
        return st.one_of(
            # name-only rewrites are nesting-insensitive
            two.map(lambda ab: (
                f"ISNULL({ab[0][0]}, {ab[1][0]})",
                f"coalesce({ab[0][1]}, {ab[1][1]})",
            )),
            two.map(lambda ab: (
                f"STRING({ab[0][0]}, {ab[1][0]})",
                f"concat({ab[0][1]}, {ab[1][1]})",
            )),
            two.map(lambda ab: (
                f"({ab[0][0]} + {ab[1][0]})",
                f"({ab[0][1]} + {ab[1][1]})",
            )),
            # CONVERT's simple-arg form only fires on paren-free args
            atom.map(lambda a: (
                f"CONVERT(double, {a[0]})",
                f"CAST({a[1]} AS double)",
            )),
            st.just(("LEN('it''s')", "length('it''s')")),
            # string literal embedding every idiom — must ride through
            st.just((
                "CHARINDEX('GETDATE() [x]', 'ISNULL(a,b) GETDATE() [x]')",
                "locate('GETDATE() [x]', 'ISNULL(a,b) GETDATE() [x]')",
            )),
        )

    return st.recursive(atom, compose, max_leaves=6)


def _date_pairs():
    """Date-typed (tsql, spark) pairs, including the composed
    DATEADD forms: simple third arg -> interval arithmetic; nested
    (parenthesized) third arg -> DATEADD name survives, inner idioms
    still rewritten (Spark accepts dateadd(unit, n, expr) natively)."""
    simple_d = st.sampled_from(
        [("l_shipdate", "l_shipdate"), ("[l_shipdate]", "`l_shipdate`")]
    )
    n = st.integers(1, 30)
    unit = st.sampled_from(["day", "month"])
    return st.one_of(
        simple_d,
        st.just(("GETDATE()", "current_timestamp()")),
        st.tuples(unit, n, simple_d).map(lambda t: (
            f"DATEADD({t[0]}, {t[1]}, {t[2][0]})",
            f"({t[2][1]} + ({t[1]}) * INTERVAL 1 {t[0]})",
        )),
        # nested CONVERT inside DATEADD: third arg has parens
        st.tuples(unit, n, st.sampled_from(_NUM_COLS)).map(lambda t: (
            f"DATEADD({t[0]}, {t[1]}, CONVERT(date, l_shipdate))",
            f"DATEADD({t[0]}, {t[1]}, CAST(l_shipdate AS date))",
        )),
    )


@given(
    exprs=st.lists(_pairs(), min_size=1, max_size=3),
    dexpr=_date_pairs(),
    top=st.one_of(st.none(), st.integers(1, 50)),
    join=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_tsql_composed_rewrite_matches_construction(exprs, dexpr, top, join):
    sel_t = ", ".join(f"{t} AS c{i}" for i, (t, _) in enumerate(exprs))
    sel_s = ", ".join(f"{s} AS c{i}" for i, (_, s) in enumerate(exprs))
    top_t = f"TOP {top} " if top is not None else ""
    if join:
        frm_t = (
            "FROM iqdemo.dba.lineitem JOIN iqdemo.dba.orders "
            "ON [l_orderkey] = [o_orderkey]"
        )
        frm_s = "FROM lineitem JOIN orders ON `l_orderkey` = `o_orderkey`"
    else:
        frm_t = "FROM iqdemo.dba.lineitem"
        frm_s = "FROM lineitem"
    tsql = (
        f"SELECT {top_t}{sel_t}, {dexpr[0]} AS d0 {frm_t} "
        f"WHERE DATEPART(year, l_shipdate) >= 1992;"
    )
    expected = (
        f"SELECT {sel_s}, {dexpr[1]} AS d0 {frm_s} "
        f"WHERE date_part('year', l_shipdate) >= 1992"
    )
    if top is not None:
        expected = f"{expected} LIMIT {top}"
    out = to_spark_sql(tsql, known_prefixes={("iqdemo", "dba")})
    assert out == expected, (tsql, out, expected)
    # idempotence: the rewritten form is a fixed point
    assert to_spark_sql(out, known_prefixes={("iqdemo", "dba")}) == out


def test_tsql_composed_rewrite_executes(spark):
    """The composed shapes above aren't just string-correct — they run.
    One representative deeply-composed statement end-to-end in Spark."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        register_parquet_views,
    )

    register_parquet_views(
        spark, "/root/testdata/sf0.001", ["lineitem", "orders"]
    )
    tsql = (
        "SELECT TOP 7 [l_orderkey], ISNULL(l_quantity, 0) AS q, "
        "STRING([l_returnflag], '-', l_linestatus) AS tag, "
        "CONVERT(double, [l_extendedprice]) AS p, "
        "DATEADD(day, 3, CONVERT(date, l_shipdate)) AS d1, "
        "DATEADD(month, 1, [l_shipdate]) AS d2, "
        "LEN(STRING(l_returnflag, l_linestatus)) AS ln2 "
        "FROM iqdemo.dba.lineitem JOIN iqdemo.dba.orders "
        "ON [l_orderkey] = [o_orderkey] "
        "WHERE CHARINDEX('A', [l_returnflag]) > 0 "
        "AND l_shipdate < DATEADD(year, 30, CONVERT(date, '1990-01-01')) "
        "ORDER BY [l_orderkey], l_linenumber;"
    )
    out = to_spark_sql(tsql, known_prefixes={("iqdemo", "dba")})
    rows = spark.sql(out).collect()
    assert len(rows) == 7
    assert rows[0]["tag"].endswith("-F") or "-" in rows[0]["tag"]


@given(
    texts=st.lists(
        st.text(alphabet="abc", max_size=10), min_size=2, max_size=14
    ),
    tau=st.sampled_from([2, 3]),
)
@pytest.mark.slow
@settings(max_examples=25, deadline=None)
def test_prefix_edit_pairs_match_bruteforce(spark, texts, tau):
    """Randomized differential for the PassJoin segment index over a
    small alphabet (forces collisions, short/empty prefixes, ties):
    exactly the brute-force (lang, bucket<=1, ed<=tau) pair set."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        prefix_edit_distance_pairs,
    )

    rows = [
        (i, "en" if i % 2 == 0 else "fr", t, len(t) // 4)
        for i, t in enumerate(texts)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, lang string, prefix string, b long"
    )

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
                prev = cur
        return dp[n]

    expect = set()
    for i, (ida, la, pa, ba) in enumerate(rows):
        for idb, lb, pb, bb in rows[i + 1:]:
            if la == lb and abs(ba - bb) <= 1 and lev(pa, pb) <= tau:
                expect.add((ida, idb, lev(pa, pb)))
    got = {
        (r.doc_id_a, r.doc_id_b, r.edit_distance)
        for r in prefix_edit_distance_pairs(d, tau=tau).collect()
    }
    assert got == expect, (sorted(got - expect), sorted(expect - got))


@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(1, 5), st.integers(0, 3)),  # (key, value)
            min_size=1,
            max_size=4,
            unique_by=lambda t: t[0],  # scd2 precondition: one row/key
        ),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow
@settings(max_examples=15, deadline=None)
def test_scd2_apply_invariants(spark, batches):
    """Randomized SCD2 merge sequence upholds the dimension invariants:
    exactly one is_current row per present key, closed rows have
    valid_to set, open rows don't, and the final open value equals the
    last changed value applied for the key."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        scd2_apply,
    )

    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [],
        "k int, v int, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    last_val: dict[int, int] = {}
    for day, rows in enumerate(batches):
        updates = spark.createDataFrame(rows, "k int, v int")
        eff = f"2020-01-{day + 1:02d} 00:00:00"
        dim = scd2_apply(
            dim, updates, keys=["k"], tracked=["v"], effective=eff,
            assert_unique_updates=True,
        ).localCheckpoint()
        for k, v in rows:
            last_val[k] = v

    rows_out = dim.collect()
    open_rows = [r for r in rows_out if r.is_current]
    # exactly one current row per key ever seen
    assert sorted(r.k for r in open_rows) == sorted(last_val)
    for r in rows_out:
        if r.is_current:
            assert r.valid_to is None
            assert r.v == last_val[r.k]
        else:
            assert r.valid_to is not None
    # per-key history: closed intervals ordered and non-overlapping
    from collections import defaultdict

    hist = defaultdict(list)
    for r in rows_out:
        if not r.is_current:
            hist[r.k].append((r.valid_from, r.valid_to))
    for k, spans in hist.items():
        spans.sort()
        for (f1, t1), (f2, _t2) in zip(spans, spans[1:]):
            assert t1 <= f2, (k, spans)


def test_semdedup_split_matches_duckdb_arithmetic():
    """The (k, k1, k2) SemDeDup policy must be BIT-identical between
    the Python side (`_semdedup_split`) and the oracle's scalar SQL
    (`SEMDEDUP_PK_CTE`) — a one-off ceil/rounding divergence at some
    corpus size would hash-mismatch the whole entry.  Sweep sizes from
    the driver SFs to 10^8."""
    import duckdb

    # load the catalog package first (query_catalog_ml has import-time
    # cross-module registration; importing it directly is circular)
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        query_catalog as _qc,  # noqa: F401
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_ml import (
        _semdedup_split,
    )

    sizes = [1, 8, 500, 1024, 1025, 2000, 20_000, 25_600, 200_000,
             1_000_000, 10_000_000, 100_000_000, 123_456_789]
    con = duckdb.connect()
    for n in sizes:
        row = con.execute(
            f"""
            SELECT k, k1, CAST(ceil(CAST(k AS DOUBLE) / k1) AS BIGINT) AS k2
            FROM (SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS k1
                  FROM (SELECT greatest(8, CAST(ceil({n} / 128.0) AS BIGINT)) AS k))
            """
        ).fetchone()
        k1, k2 = _semdedup_split(n)
        assert (row[1], row[2]) == (k1, k2), (n, row, k1, k2)
        assert row[0] <= k1 * k2  # the split always covers k centroids


# ---------------------------------------------------------------------
# UniMax closed-form waterfill == iterative greedy reference
# ---------------------------------------------------------------------


def _waterfill_reference(caps: list[float], budget: float) -> list[float]:
    """The paper's greedy loop: repeatedly give every unsaturated
    language an equal share of the remaining budget, saturating any
    language whose cap is below its share."""
    n = len(caps)
    alloc = [0.0] * n
    active = list(range(n))
    remaining = budget
    while active:
        fair = remaining / len(active)
        sat = [i for i in active if caps[i] <= fair]
        if not sat:
            for i in active:
                alloc[i] = fair
            return alloc
        for i in sat:
            alloc[i] = caps[i]
            remaining -= caps[i]
        active = [i for i in active if i not in sat]
    return alloc


@given(
    st.lists(st.integers(10, 3000), min_size=2, max_size=8),
    st.integers(1, 4),
    st.floats(0.3, 3.0),
)
@settings(max_examples=25, deadline=None)
def test_unimax_closed_form_matches_greedy_reference(ns, cap_epochs, factor):
    """The catalog's closed-form waterfill (ascending caps => the
    saturated set is a prefix => one window pass finds the water
    level) must allocate exactly what the iterative greedy does, for
    any language distribution, epoch cap and budget factor."""
    import duckdb

    caps = [float(n * cap_epochs) for n in ns]
    budget = sum(ns) * factor

    # closed form, same algebra as query_catalog_corpus._unimax_texts
    order = sorted(range(len(ns)), key=lambda i: (caps[i], i))
    L = len(ns)
    cum = 0.0
    j, v = None, None
    for rank, i in enumerate(order, start=1):
        fair = (budget - cum) / (L - rank + 1)
        if caps[i] > fair:
            j, v = rank, fair
            break
        cum += caps[i]
    closed = [0.0] * L
    for rank, i in enumerate(order, start=1):
        closed[i] = caps[i] if (j is None or rank < j) else v

    ref = _waterfill_reference(caps, budget)
    assert all(abs(a - b) < 1e-6 * max(1.0, b) for a, b in zip(closed, ref))
    # invariants: caps respected, budget exhausted unless all saturate
    assert all(a <= c + 1e-6 for a, c in zip(closed, caps))
    total = sum(closed)
    assert abs(total - min(budget, sum(caps))) < 1e-4 * max(1.0, budget)

    # and the SHIPPED SQL text (DuckDB dialect) agrees with the
    # reference on a relational rendering of the same distribution
    con = duckdb.connect()
    rows = ", ".join(f"('l{i}', {n})" for i, n in enumerate(ns))
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT lang, repeat('w ', n - 1) || 'w' AS text "
        f"FROM (VALUES {rows}) v(lang, n)"
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        query_catalog_corpus as qcc,
    )

    # rebuild the duck text with THIS test's cap/budget constants
    saved = (qcc.UNIMAX_EPOCH_CAP, qcc.UNIMAX_BUDGET_FACTOR)
    try:
        qcc.UNIMAX_EPOCH_CAP, qcc.UNIMAX_BUDGET_FACTOR = cap_epochs, factor
        _, duck_text = qcc._unimax_texts()
    finally:
        qcc.UNIMAX_EPOCH_CAP, qcc.UNIMAX_BUDGET_FACTOR = saved
    got = {
        r[0]: r[3]
        for r in con.execute(duck_text).fetchall()
    }
    for i, n in enumerate(ns):
        import math

        assert abs(got[f"l{i}"] - math.floor(ref[i])) <= 1, (
            f"lang l{i}: sql={got[f'l{i}']} ref={ref[i]}"
        )


@given(
    st.lists(
        st.sampled_from(["append", "overwrite"]), min_size=4, max_size=7
    ).filter(lambda ops: ops[0] == "append"),
    st.integers(1, 3),
)
@pytest.mark.slow
@settings(max_examples=5, deadline=None)
def test_expire_snapshots_invariants(spark, tmp_path_factory, ops, retain):
    """Property: for ANY append/overwrite history and ANY retain_last,
    expire_snapshots leaves every at-or-above-horizon snapshot
    bit-identical, raises SnapshotExpiredError strictly below the
    horizon, reports the horizon via earliest_version(), and keeps the
    table writable."""
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        SnapshotExpiredError,
        TransactionLog,
    )

    t = TransactionLog(
        tmp_path_factory.mktemp("expire_prop") / "t", checkpoint_interval=3
    )
    next_id = [0]

    def rows(n):
        out = [(next_id[0] + i, f"r{next_id[0] + i}") for i in range(n)]
        next_id[0] += n
        return spark.createDataFrame(out, ["id", "v"])

    for op in ops:
        if op == "append":
            t.append(rows(2))
        else:
            t.overwrite(rows(3))
    latest = t.latest_version()
    assert latest == len(ops)
    pre = {
        v: sorted(r.id for r in t.snapshot(spark, version=v).collect())
        for v in range(1, latest + 1)
    }
    info = t.expire_snapshots(retain_last=retain)
    horizon = max(1, latest - retain + 1)
    assert info["earliest"] == horizon
    assert t.earliest_version() == horizon
    assert t.latest_version() == latest
    for v in range(horizon, latest + 1):
        got = sorted(r.id for r in t.snapshot(spark, version=v).collect())
        assert got == pre[v], (ops, retain, v)
    for v in range(1, horizon):
        with _pytest.raises(SnapshotExpiredError):
            t.snapshot(spark, version=v)
    t.append(rows(1))
    assert t.latest_version() == latest + 1


_LEDGER_KEYS = [(h, t) for h in ("h0", "h1", "h2") for t in ("ta", "tb")]
_LEDGER_STATUS = st.sampled_from([None, "", "SUCCEEDED", "FAILED", "RUNNING"])
_LEDGER_OPS = st.one_of(
    st.tuples(st.just("put_item"), st.integers(0, 1), st.integers(0, 5), _LEDGER_STATUS),
    st.tuples(st.just("update_item"), st.integers(0, 1), st.integers(0, 5), _LEDGER_STATUS),
    st.tuples(st.just("create_run"), st.integers(0, 1), st.integers(0, 5), _LEDGER_STATUS),
    st.tuples(st.just("claim_run"), st.integers(0, 1), st.integers(0, 5), _LEDGER_STATUS),
    st.tuples(st.just("record_skip"), st.integers(0, 1), st.integers(0, 5), _LEDGER_STATUS),
    st.tuples(st.just("replace"), st.just(0), st.just(0), st.just(None)),
    st.tuples(st.just("truncate"), st.just(0), st.just(0), st.just(None)),
    st.tuples(st.just("mutate"), st.just(0), st.integers(0, 5), st.just(None)),
)


def _reference_fold(events):
    """The whole-log fold, written out independently of ``Ledger``."""
    state = {}
    for ev in events:
        key = (ev.get("ExecutionHashId"), ev.get("SourceTable"))
        op = ev.pop("_op", "put")
        ev.pop("_event_ts", None)
        if op == "put" or key not in state:
            state[key] = ev
        else:
            state[key].update(ev)
    return state


@given(st.lists(_LEDGER_OPS, min_size=1, max_size=40))
# the second writer sleeps through two replacements: the filesystem may
# hand the second replacing file the inode number of the one it last read
@example(
    ops=[
        ("put_item", 0, 0, None),
        ("claim_run", 1, 0, None),
        ("replace", 0, 0, None),
        ("put_item", 0, 0, ""),
        ("replace", 0, 0, None),
        ("claim_run", 1, 0, None),
    ]
)
@settings(max_examples=60, deadline=None)
def test_ledger_incremental_fold_matches_full_fold(tmp_path_factory, ops):
    """Property: for ANY interleaving of writes by two ``Ledger``
    instances on one path, plus file replacement (new inode),
    truncation and mutation of returned items, a long-lived instance's
    ``get``/``current_state`` equal a fresh instance's full fold and an
    independent reference fold of the raw events, after every step;
    the other writer agrees at the end."""
    import os

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.ledger import (
        Ledger,
    )

    path = tmp_path_factory.mktemp("ledger_prop") / "ledger.jsonl"
    writers = [Ledger(path), Ledger(path)]
    long_lived = writers[0]
    for i, (op, w, k, status) in enumerate(ops):
        led = writers[w]
        hash_id, table = _LEDGER_KEYS[k]
        if op == "put_item":
            led.put_item({"ExecutionHashId": hash_id, "SourceTable": table, "GlueJobFinalStatus": status, "N": i})
        elif op == "update_item":
            led.update_item(hash_id, table, GlueJobFinalStatus=status, N=i)
        elif op == "create_run":
            led.create_run({"ExecutionHashId": hash_id, "SourceTable": table, "Query": f"q{i}"})
        elif op == "claim_run":
            led.claim_run({"ExecutionHashId": hash_id, "SourceTable": table, "Query": f"q{i}"})
        elif op == "record_skip":
            led.record_skip(table, hash_id, {"Jobs": [{"Query": f"q{i}"}], "Meta": {"n": i}})
        elif op == "replace" and path.exists():
            # same-or-larger file under a new inode, with a different fold
            lines = path.read_bytes().splitlines(keepends=True)
            tmp = path.with_name("ledger.tmp")
            tmp.write_bytes(b"".join(reversed(lines)) + b"".join(lines[:1]))
            os.replace(tmp, path)
        elif op == "truncate" and path.exists():
            lines = path.read_bytes().splitlines(keepends=True)
            os.truncate(path, sum(len(line) for line in lines[: len(lines) // 2]))
        elif op == "mutate":
            for key in ((hash_id, table), (f"JobHasRunOrIsRunning-{table}-{hash_id}", table)):
                item = long_lived.get(*key)
                if item is not None:
                    item["GlueJobFinalStatus"] = "MUTATED"
                    if "TriedToRunJob" in item:
                        item["TriedToRunJob"]["Jobs"].append({"Query": "mutated"})
                        item["TriedToRunJob"]["Meta"]["n"] = -1
            for v in long_lived.current_state().values():
                v.clear()

        want = _reference_fold(Ledger(path).events())
        assert Ledger(path).current_state() == want
        assert long_lived.current_state() == want
        for key in set(want) | set(_LEDGER_KEYS):
            assert long_lived.get(*key) == want.get(key)
            assert long_lived.final_status(*key) == (want[key].get("GlueJobFinalStatus") if key in want else None)
    assert writers[1].current_state() == want
