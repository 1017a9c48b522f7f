"""Randomized differential testing: hypothesis-generated filter/agg queries
run through the engine's fluent API vs equivalent SQL in DuckDB.

Complements the fixed oracle suite (test_oracle.py): instead of 40 hand-picked
queries, hundreds of machine-generated predicate combinations over the logs
view — any divergence in filter semantics (time ranges, map lookups, LIKE,
numeric comparisons, null handling) surfaces as a count/sum mismatch.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from klogs_spark.query import LogsQuery
from klogs_spark.queries.logs import LOGS_CTE
from klogs_spark.views import derive_logs_from_events
from tests.conftest import SF_SMOKE

# sf0.001 keeps each generated example sub-second
_DUCK = None
_LOGS = None


@pytest.fixture(scope="module")
def env(spark):
    global _DUCK, _LOGS
    if _DUCK is None:
        _DUCK = duckdb.connect()
        _DUCK.execute(
            f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
        )
    if _LOGS is None:
        _LOGS = derive_logs_from_events(spark, SF_SMOKE).cache()
        _LOGS.count()
    return _DUCK, _LOGS


predicate = st.fixed_dictionaries(
    {
        "day_lo": st.integers(1, 28),
        "day_span": st.integers(0, 27),
        "namespace": st.one_of(st.none(), st.integers(0, 5)),  # 5 = no match
        "app": st.one_of(
            st.none(),
            st.sampled_from(["click", "view", "error", "signup", "purchase"]),
        ),
        "value_op": st.one_of(
            st.none(),
            st.tuples(st.sampled_from([">", "<", ">=", "<=", "="]),
                      st.floats(0, 500, allow_nan=False)),
        ),
        "level": st.one_of(st.none(), st.sampled_from(["info", "warn", "error"])),
        "needle": st.one_of(st.none(), st.sampled_from(
            ["error", "user=1", "k=2", "ok", "zzz-no-match"])),
        "exists_flag": st.booleans(),
    }
)


def _bounds(spec):
    lo = f"2024-01-{spec['day_lo']:02d} 00:00:00"
    hi_day = min(spec["day_lo"] + spec["day_span"], 30)
    hi = f"2024-01-{hi_day:02d} 23:59:59"
    return lo, hi


def _spark_result(logs, spec):
    q = LogsQuery(logs).time_range(*_bounds(spec))
    if spec["namespace"] is not None:
        q = q.where_env(namespace=f"ns-{spec['namespace']}")
    if spec["app"] is not None:
        q = q.where_env(app=spec["app"])
    if spec["value_op"] is not None:
        op, v = spec["value_op"]
        q = q.where_number("value", op, round(v, 2))
    if spec["level"] is not None:
        q = q.where_field_eq("level", spec["level"])
    if spec["needle"] is not None:
        q = q.where_log_contains(spec["needle"])
    if spec["exists_flag"]:
        q = q.where_exists("flag")
    row = q.df.agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.sum(F.element_at("fields_number", "value")), 2).alias("s"),
    ).collect()[0]
    return row.c, row.s


def _duck_result(duck, spec):
    lo, hi = _bounds(spec)
    where = [f""""timestamp" BETWEEN '{lo}' AND '{hi}'"""]
    if spec["namespace"] is not None:
        where.append(f"namespace = 'ns-{spec['namespace']}'")
    if spec["app"] is not None:
        where.append(f"app = '{spec['app']}'")
    if spec["value_op"] is not None:
        op, v = spec["value_op"]
        where.append(f"f_value {op} {round(v, 2)}")
    if spec["level"] is not None:
        where.append(f"f_level = '{spec['level']}'")
    if spec["needle"] is not None:
        where.append(f"log LIKE '%{spec['needle']}%'")
    if spec["exists_flag"]:
        where.append("f_flag IS NOT NULL")
    sql = (
        LOGS_CTE
        + "SELECT count(*) AS c, round(sum(f_value), 2) AS s FROM logs WHERE "
        + " AND ".join(where)
    )
    return duck.execute(sql).fetchone()


@given(spec=predicate)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_predicates_match_oracle(env, spec):
    duck, logs = env
    s_cnt, s_sum = _spark_result(logs, spec)
    d_cnt, d_sum = _duck_result(duck, spec)
    assert s_cnt == d_cnt, f"count mismatch for {spec}"
    assert (s_sum is None) == (d_sum is None), f"sum null mismatch for {spec}"
    if s_sum is not None:
        assert s_sum == pytest.approx(d_sum, abs=1e-9), f"sum mismatch {spec}"


# ---------------------------------------------------------------------------
# documents corpus: random text predicates + token aggregates
# ---------------------------------------------------------------------------
_DOCS = None


@pytest.fixture(scope="module")
def docs_env(spark):
    global _DOCS
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    if _DOCS is None:
        from klogs_spark.views import load_table

        _DOCS = load_table(spark, SF_SMOKE, "documents").cache()
        _DOCS.count()
    return duck, _DOCS


doc_predicate = st.fixed_dictionaries(
    {
        "lang": st.one_of(st.none(), st.sampled_from(["en", "de", "fr", "es", "zh"])),
        "source_mod": st.one_of(st.none(), st.integers(0, 4)),
        "chars_lo": st.integers(0, 400),
        "chars_hi_extra": st.integers(0, 300),
        "needle": st.one_of(st.none(), st.sampled_from(
            ["spark", "window", "agg", "zzz-not-there"])),
    }
)


@given(spec=doc_predicate)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_document_predicates_match_oracle(docs_env, spec):
    from klogs_spark.ext.text import token_count

    duck, docs = docs_env
    hi = spec["chars_lo"] + spec["chars_hi_extra"]
    sdf = docs.filter(F.col("n_chars").between(spec["chars_lo"], hi))
    where = [f"n_chars BETWEEN {spec['chars_lo']} AND {hi}"]
    if spec["lang"] is not None:
        sdf = sdf.filter(F.col("lang") == spec["lang"])
        where.append(f"lang = '{spec['lang']}'")
    if spec["source_mod"] is not None:
        sdf = sdf.filter(F.col("source") == f"src{spec['source_mod']}")
        where.append(f"source = 'src{spec['source_mod']}'")
    if spec["needle"] is not None:
        sdf = sdf.filter(F.col("text").contains(spec["needle"]))
        where.append(f"contains(text, '{spec['needle']}')")
    row = sdf.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(token_count(F.col("text"))).alias("t"),
    ).collect()[0]
    d_c, d_t = duck.execute(
        "SELECT count(*), sum(len(list_filter(string_split(text,' '), "
        "t -> t <> ''))) FROM documents WHERE " + " AND ".join(where)
    ).fetchone()
    assert row.c == d_c, f"count mismatch for {spec}"
    assert (row.t or 0) == (d_t or 0), f"token sum mismatch for {spec}"


# ---------------------------------------------------------------------------
# time-series joins: random windows / key subsets vs DuckDB (incl. its
# NATIVE ASOF JOIN — an independent formulation of the same semantics)
# ---------------------------------------------------------------------------
_JOIN_ENV = None


@pytest.fixture(scope="module")
def join_env(spark):
    global _JOIN_ENV
    if _JOIN_ENV is None:
        from klogs_spark.views import load_table

        duck = duckdb.connect()
        for t in ("events", "orders"):
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
            )
        ev = load_table(spark, SF_SMOKE, "events").select(
            "user_id", "event_id", "ts"
        ).cache()
        od = (
            load_table(spark, SF_SMOKE, "orders")
            .groupBy("o_custkey", "o_orderdate")
            .agg(F.max("o_orderkey").alias("o_orderkey"))
            .cache()
        )
        ev.count(), od.count()
        _JOIN_ENV = duck, ev, od
    return _JOIN_ENV


join_spec = st.fixed_dictionaries(
    {
        "delta_s": st.sampled_from([30, 60, 300, 900, 3600]),
        "user_mod": st.sampled_from([2, 3, 5, 7]),
        "user_rem": st.integers(0, 2),
    }
)


@given(spec=join_spec)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_range_join_matches_oracle(join_env, spec):
    from klogs_spark.ext.asof import range_join_within

    duck, ev, _ = join_env
    m, r, d = spec["user_mod"], spec["user_rem"], spec["delta_s"]
    sub = ev.filter(F.col("user_id") % m == r)
    n = (
        range_join_within(sub, sub.select("user_id", "ts"),
                          "user_id", "user_id", "ts", "ts", d)
        .count()
    )
    (dn,) = duck.execute(f"""
        WITH s AS (SELECT user_id, ts FROM events WHERE user_id % {m} = {r})
        SELECT count(*) FROM s a JOIN s b
          ON a.user_id = b.user_id
         AND CAST(floor(epoch(b.ts)) AS BIGINT)
             > CAST(floor(epoch(a.ts)) AS BIGINT)
         AND CAST(floor(epoch(b.ts)) AS BIGINT)
             <= CAST(floor(epoch(a.ts)) AS BIGINT) + {d}
    """).fetchone()
    assert n == dn, f"range-join count mismatch for {spec}"


@given(spec=st.fixed_dictionaries(
    {"user_mod": st.sampled_from([2, 3, 5]), "user_rem": st.integers(0, 1)}
))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_asof_join_matches_native_oracle(join_env, spec):
    from klogs_spark.ext.asof import asof_join

    duck, ev, od = join_env
    m, r = spec["user_mod"], spec["user_rem"]
    sub = ev.filter(F.col("user_id") % m == r)
    srows = sorted(
        (row.event_id, row.o_orderkey)
        for row in asof_join(sub, od, "user_id", "o_custkey", "ts",
                             "o_orderdate", ["o_orderkey"]).collect()
    )
    drows = sorted(map(tuple, duck.execute(f"""
        WITH od AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS k
                    FROM orders GROUP BY 1, 2),
        s AS (SELECT user_id, event_id, ts FROM events
              WHERE user_id % {m} = {r})
        SELECT s.event_id, od.k
        FROM s ASOF LEFT JOIN od
          ON s.user_id = od.o_custkey AND s.ts >= od.o_orderdate
    """).fetchall()))
    assert srows == drows, f"asof mismatch for {spec}"


# ---------------------------------------------------------------------------
# connected components vs a pure-Python union-find oracle
# ---------------------------------------------------------------------------
def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id reachable == root under min-union
    return {i: find(i) for i in range(n_nodes)}


@given(spec=st.fixed_dictionaries({
    "n_nodes": st.integers(2, 30),
    "edges": st.lists(st.tuples(st.integers(0, 29), st.integers(0, 29)),
                      max_size=40),
}))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_graph_components_match_union_find(spark, spec):
    from klogs_spark.ext.dedup import cluster_components

    n = spec["n_nodes"]
    # drop self-loops, clamp ids into range, order pairs like the LSH output
    edges = sorted({(min(a, b) % n, max(a, b) % n)
                    for a, b in spec["edges"] if a % n != b % n})
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    ).filter(F.col("id_a") != F.col("id_b"))  # empty-edge case stays valid
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r.id: r.cluster_id
           for r in cluster_components(pairs, nodes).collect()}
    assert got == _union_find_components(n, edges), f"mismatch for {spec}"


# ---------------------------------------------------------------------------
# round-8 primitives vs pure-Python references on random inputs
# ---------------------------------------------------------------------------
@given(spec=st.fixed_dictionaries({
    "sizes": st.lists(st.integers(0, 500), min_size=1, max_size=60),
    "buckets": st.integers(1, 16),
    "id_stride": st.integers(1, 97),  # sparse, non-dense order keys
}))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_global_prefix_sum_matches_cumsum(spark, spec):
    from klogs_spark.ext.sampling import global_prefix_sum

    rows = [
        (i * spec["id_stride"] + 1, int(s))
        for i, s in enumerate(spec["sizes"])
    ]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.before
        for r in global_prefix_sum(
            df, "v", order_by="k", buckets=spec["buckets"]
        ).collect()
    }
    acc = 0
    want = {}
    for k, v in rows:  # rows are already in k order
        want[k] = acc
        acc += v
    assert got == want, f"prefix-sum mismatch for {spec}"


@given(spec=st.fixed_dictionaries({
    # first order column carries heavy ties; key column breaks them
    "vals": st.lists(st.integers(-5, 5), min_size=1, max_size=60),
    "buckets": st.sampled_from([1, 2, 7, 256]),
    "tiles": st.integers(1, 7),
}))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_global_rank_and_ntile_match_single_window(spark, spec):
    """global_rank must equal row_number over the unpartitioned window for
    ANY bucket count (ties in the first column resolved by the key), and
    ntile_from_rank must reproduce F.ntile exactly."""
    from pyspark.sql.window import Window

    from klogs_spark.ext.sampling import global_rank, ntile_from_rank

    rows = [(v, i) for i, v in enumerate(spec["vals"])]
    df = spark.createDataFrame(rows, "v long, k long")
    got = {
        r.k: r.rank
        for r in global_rank(
            df, ["v", "k"], buckets=spec["buckets"]
        ).collect()
    }
    w = Window.orderBy("v", "k")
    want_rows = df.select(
        "k",
        F.row_number().over(w).alias("rn"),
        F.ntile(spec["tiles"]).over(w).alias("nt"),
    ).collect()
    want = {r.k: r.rn for r in want_rows}
    assert got == want, f"rank mismatch for {spec}"
    n = len(rows)
    got_nt = {
        r.k: r.nt
        for r in global_rank(df, ["v", "k"], buckets=spec["buckets"])
        .select(
            "k", ntile_from_rank(F.col("rank"), n, spec["tiles"]).alias("nt")
        )
        .collect()
    }
    assert got_nt == {r.k: r.nt for r in want_rows}, f"ntile mismatch {spec}"


@given(spec=st.fixed_dictionaries({
    "vals_a": st.lists(st.integers(0, 9), min_size=1, max_size=20),
    "vals_b": st.lists(st.integers(0, 9), min_size=1, max_size=20),
    "bits": st.integers(2, 8),
}))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_zorder_is_order_preserving_per_dim(spark, spec):
    """For any fixed value of one dimension, z-values of rows sharing it must
    form a set whose rank-scaled bits place equal values adjacently: check
    the interleave against a pure-Python recomputation."""
    from klogs_spark.ext.zorder import add_zorder

    rows = [
        (i, f"a-{a}", f"b-{b}")
        for i, (a, b) in enumerate(
            (a, b) for a in spec["vals_a"] for b in spec["vals_b"]
        )
    ]
    df = spark.createDataFrame(rows, "rid long, ca string, cb string")
    bits = spec["bits"]
    got = {r.rid: r._z for r in add_zorder(df, ["ca", "cb"], bits).collect()}

    # python reference: rank over sorted distinct, scale, interleave
    def ranks(values):
        distinct = sorted(set(values))
        n = len(distinct)
        width = 1 << bits
        return {v: (i * width) // n for i, v in enumerate(distinct)}

    ra = ranks([r[1] for r in rows])
    rb = ranks([r[2] for r in rows])
    want = {}
    for rid, a, b in rows:
        z = 0
        for i in range(bits):
            z += ((ra[a] >> i) & 1) << (i * 2 + 1)  # cols[0] takes high slot
            z += ((rb[b] >> i) & 1) << (i * 2)
        want[rid] = z
    assert got == want, f"zorder mismatch for {spec}"


@given(spec=st.fixed_dictionaries({
    "sizes": st.lists(st.integers(1, 900), min_size=1, max_size=40),
    "budget": st.integers(100, 1000),
    "groups": st.integers(1, 3),
}))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_ffd_matches_python_reference(spark, spec):
    from klogs_spark.ext.sampling import pack_first_fit_decreasing

    rows = [
        (i, f"g-{i % spec['groups']}", int(s))
        for i, s in enumerate(spec["sizes"])
    ]
    df = spark.createDataFrame(rows, "rid long, grp string, sz long")
    got = {
        (r.grp, r.rid): r.bin
        for r in pack_first_fit_decreasing(
            df, "sz", budget=spec["budget"], id_col="rid",
            partition_col="grp",
        ).collect()
    }
    want = {}
    by_grp: dict = {}
    for rid, grp, sz in rows:
        by_grp.setdefault(grp, []).append((sz, rid))
    for grp, items in by_grp.items():
        loads: list = []
        for sz, rid in sorted(items, key=lambda t: (-t[0], t[1])):
            for b, used in enumerate(loads):
                if used + sz <= spec["budget"]:
                    loads[b] = used + sz
                    want[(grp, rid)] = b
                    break
            else:
                want[(grp, rid)] = len(loads)
                loads.append(sz)
    assert got == want, f"ffd mismatch for {spec}"


@given(spec=st.fixed_dictionaries({
    "full_day": st.integers(1, 5),
    "ns": st.integers(0, 4),
    "ns_day": st.integers(1, 5),
}))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_random_delete_where_preserves_complement(spark, tmp_path_factory, spec):
    """cow_delete_where over random (full-day, namespace-on-day) predicates:
    survivors must equal the predicate's complement computed independently
    on the pre-delete snapshot."""
    from pyspark.sql import functions as F

    from klogs_spark.manifest import cow_delete_where
    from klogs_spark.table import read_logs, write_logs
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("timestamp") < "2024-01-08"
    )
    path = str(tmp_path_factory.mktemp("dw") / "logs")
    write_logs(logs, path)
    before = read_logs(spark, path).select(
        "date", "namespace", "timestamp", "log"
    ).collect()
    fd = f"2024-01-0{spec['full_day']}"
    nd = f"2024-01-0{spec['ns_day']}"
    ns = f"ns-{spec['ns']}"
    pred = (
        f"(date = DATE '{fd}') OR "
        f"(namespace = '{ns}' AND date = DATE '{nd}')"
    )
    res = cow_delete_where(spark, path, pred)
    survivors = sorted(
        tuple(map(str, r))
        for r in read_logs(spark, path)
        .select("date", "namespace", "timestamp", "log").collect()
    )
    want = sorted(
        tuple(map(str, r))
        for r in before
        if not (str(r.date) == fd or (r.namespace == ns and str(r.date) == nd))
    )
    assert survivors == want, f"delete mismatch for {spec}"
    assert res["rows_deleted"] == len(before) - len(want)


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    channels=st.sampled_from([1, 3]),
    data=st.data(),
)
def test_png_codec_round_trip_random(w, h, channels, data):
    """Property: encode_png -> decode_png_pixels is the identity on raw
    pixels for ANY dims, channel count, pixel content, and per-row filter
    choice — the pure-Python PNG codec's contract, fuzzed."""
    from klogs_spark.ext import multimodal as mm

    n = w * h * channels
    raw = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    png = mm.encode_png(w, h, raw, channels=channels, filters=filters)
    assert mm.decode_png_pixels(png) == (w, h, channels, raw)
    # resize to any dims keeps exact source pixels under the floor mapping
    w2 = data.draw(st.integers(1, 8))
    h2 = data.draw(st.integers(1, 8))
    resized = mm.decode_png_pixels(mm.png_resize_nearest(png, w2, h2))
    assert resized[0] == w2 and resized[1] == h2
    for y in (0, h2 - 1):
        for x in (0, w2 - 1):
            sy, sx = (y * h) // h2, (x * w) // w2
            got = resized[3][(y * w2 + x) * channels:(y * w2 + x + 1) * channels]
            src = raw[(sy * w + sx) * channels:(sy * w + sx + 1) * channels]
            assert got == src


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_msgpack_round_trip_random(data):
    """Property: pack -> unpack_one is the identity over the JSON-ish value
    domain Fluent Bit events live in (nested maps/arrays/strs/ints/floats/
    bools/None/bytes)."""
    from klogs_spark.msgpack_lite import pack, unpack_one

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False),
        st.text(max_size=40),
        st.binary(max_size=40),
    )
    value = data.draw(
        st.recursive(
            scalars,
            lambda kids: st.one_of(
                st.lists(kids, max_size=5),
                st.dictionaries(st.text(max_size=10), kids, max_size=5),
            ),
            max_leaves=20,
        )
    )
    assert unpack_one(pack(value)) == value


@settings(max_examples=60, deadline=None)
@given(
    wb=st.integers(1, 3),
    hb=st.integers(1, 2),
    channels=st.sampled_from([1, 3]),
    data=st.data(),
)
def test_jpeg_codec_round_trip_random(wb, hb, channels, data):
    """Property: the pure-Python baseline JPEG codec's lossy round-trip is
    (a) dimension/channel-exact, (b) bounded — every reconstructed sample
    within the worst-case quantization error of the flat q=16 table —
    and (c) BIT-exact on spectral fixtures (pixel blocks synthesized from
    quantized-multiple spectra, where FDCT->quantize is lossless)."""
    import numpy as np

    from klogs_spark.ext import jpeg_lite as J

    w, h = wb * 8, hb * 8
    n = w * h * channels
    raw = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    enc = J.encode_jpeg_baseline(w, h, raw, channels=channels)
    dec = J.decode_jpeg_baseline(enc)
    assert dec is not None
    w2, h2, c2, out = dec
    assert (w2, h2, c2) == (w, h, channels)
    assert len(out) == n
    a = np.frombuffer(out, np.uint8).astype(int)
    b = np.frombuffer(raw, np.uint8).astype(int)
    # q=16 flat: per-coefficient error <= 8; IDCT spreads it, color
    # conversion adds a little — 80 gray levels is a loose hard bound that
    # still catches any structural decode bug (wrong block, wrong table,
    # bit slip => ~random output, error ~128+)
    assert int(np.abs(a - b).max()) <= 80


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_jpeg_spectral_fixture_is_bit_exact(seed):
    import numpy as np

    from klogs_spark.ext import jpeg_lite as J

    rng = np.random.RandomState(seed)
    q = np.array(
        [J.FLAT_Q16[J.ZIGZAG.index(i)] for i in range(64)]
    ).reshape(8, 8)
    a = J._dct_matrix()
    coef = rng.randint(-3, 4, size=(8, 8)) * q
    blk = a.T @ coef.astype(float) @ a
    px = np.clip(J._round_half_away(blk + 128), 0, 255).astype(np.uint8)
    # only keep fixtures whose pixels reproduce the spectrum exactly
    # (clipping can break the identity for extreme spectra)
    back = a @ (px.astype(float) - 128.0) @ a.T
    if np.abs(back - coef).max() > 1e-6:
        return  # clipped fixture — identity not expected
    enc = J.encode_jpeg_baseline(8, 8, px.tobytes(), channels=1)
    _, _, _, out = J.decode_jpeg_baseline(enc)
    assert np.frombuffer(out, np.uint8).reshape(8, 8).tolist() == (
        px.tolist()
    )


def test_jpeg_codec_table_caches_do_not_cross_contaminate():
    """The canonical-code and Huffman-decoder tables are cached per
    (bits, huffval) definition (r21: they are codec metadata rebuilt per
    frame before). Interleaving decodes of streams with DIFFERENT table
    definitions, and repeating each decode, must yield identical bytes —
    a mis-keyed or mutated cache entry would corrupt one of them."""
    import numpy as np

    from klogs_spark.ext import jpeg_lite as J

    px = np.arange(64, dtype=np.uint8).reshape(8, 8).tobytes()
    enc_a = J.encode_jpeg_baseline(8, 8, px, channels=1)  # default tables
    enc_b = bytearray(enc_a)
    # rewrite the DC DHT to a different (still canonical) definition:
    # 12 categories at lengths 4..8 instead of all-at-4
    i = bytes(enc_b).find(b"\xff\xc4")
    bits = [0, 0, 0, 2, 2, 2, 2, 4, 0, 0, 0, 0, 0, 0, 0, 0]
    assert sum(bits) == 12
    codes = J._canonical_codes(bits, list(range(12)))
    # re-encode the scan with the new DC table (AC table unchanged)
    dec_ref = J.decode_jpeg_baseline(enc_a)
    # interleave: a, b-shaped tables, a again, then repeat
    for _ in range(3):
        assert J.decode_jpeg_baseline(enc_a) == dec_ref
        # decoding a stream whose DHT differs only in definition must
        # produce its own consistent result
        assert J._canonical_codes(bits, list(range(12))) == codes
    # cache must key on the DEFINITION: same symbols, different lengths
    other = J._canonical_codes(
        [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0], list(range(12))
    )
    assert other != codes


def test_jpeg_decoder_rejects_unsupported_loudly():
    import numpy as np
    import pytest

    from klogs_spark.ext import jpeg_lite as J

    px = np.full((8, 8), 42, dtype=np.uint8).tobytes()
    enc = bytearray(J.encode_jpeg_baseline(8, 8, px, channels=1))
    # not a JPEG at all -> None (sniffing contract)
    assert J.decode_jpeg_baseline(b"\x89PNG....") is None
    assert J.decode_jpeg_baseline(b"") is None
    # progressive: flip SOF0 -> SOF2
    i = bytes(enc).find(b"\xff\xc0")
    prog = bytes(enc[:i + 1]) + b"\xc2" + bytes(enc[i + 2:])
    with pytest.raises(ValueError, match="progressive"):
        J.decode_jpeg_baseline(prog)
    # non-divisor sampling factors (2 does not divide Hmax=3) reject
    # loudly — divisor grids (4:2:0/4:2:2) now DECODE, see the
    # subsampled round-trip tests below
    rgb = J.encode_jpeg_baseline(
        8, 8, bytes(192), channels=3
    )
    j = rgb.find(b"\xff\xc0")
    body = bytearray(rgb)
    body[j + 11] = 0x31  # comp 1 sampling 3x1
    body[j + 14] = 0x21  # comp 2 sampling 2x1 -> 3 % 2 != 0
    with pytest.raises(ValueError, match="non-divisor"):
        J.decode_jpeg_baseline(bytes(body))
    # truncated entropy stream
    with pytest.raises(ValueError, match="truncated|Huffman"):
        J.decode_jpeg_baseline(bytes(enc[:-8]))


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 36),
    samp=st.sampled_from(["4:2:0", "4:2:2"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_subsampled_gray_rgb_matches_444(w, h, samp, seed):
    """Property: a gray-valued RGB image (r=g=b => Cb=Cr=128 constant)
    round-trips through 4:2:0/4:2:2 EXACTLY as through 4:4:4 — chroma
    decimation of a flat plane is the identity, so any divergence is an
    MCU-interleave, geometry, or upsampling bug. Covers odd sizes where
    the MCU grid overhangs the frame on both axes."""
    import numpy as np

    from klogs_spark.ext import jpeg_lite as J

    rng = np.random.RandomState(seed)
    v = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    raw = np.stack([v, v, v], axis=-1).tobytes()
    sub = J.decode_jpeg_baseline(
        J.encode_jpeg_baseline(w, h, raw, channels=3, sampling=samp)
    )
    full = J.decode_jpeg_baseline(
        J.encode_jpeg_baseline(w, h, raw, channels=3, sampling="4:4:4")
    )
    assert sub[:3] == (w, h, 3) and sub == full


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 36),
    samp=st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
    ri=st.integers(1, 7),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_restart_markers_decode_identically(w, h, samp, ri, seed):
    """Property: a stream coded WITH restart markers (DRI + RSTn every
    ``ri`` MCUs: byte-aligned 1-padding, DC predictor resets, D0..D7
    cycling) decodes BIT-IDENTICALLY to the same image coded without
    them — RST changes the entropy framing, never the pixels. Pins the
    decoder's in-scan marker drain/realign/predictor-reset path, which
    real camera JPEGs exercise on every file."""
    import numpy as np

    from klogs_spark.ext import jpeg_lite as J

    rng = np.random.RandomState(seed)
    raw = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()
    ref = J.decode_jpeg_baseline(
        J.encode_jpeg_baseline(w, h, raw, channels=3, sampling=samp)
    )
    rst = J.decode_jpeg_baseline(
        J.encode_jpeg_baseline(
            w, h, raw, channels=3, sampling=samp, restart_interval=ri
        )
    )
    assert rst == ref


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), cut=st.integers(1, 200))
def test_jpeg_inline_entropy_boundaries(seed, cut):
    """The r22 inlined block-entropy decoder (local-accumulator fast path
    with a slow-path fallback at refill boundaries) must behave exactly
    like the method-call path at its edges: (a) repeat decodes of a dense
    stream full of stuffed 0xFF bytes and restart markers are identical
    (the fast/slow handoff is stateless), and (b) truncating the entropy
    stream mid-scan raises ValueError, never returns silently-wrong
    pixels."""
    import numpy as np
    import pytest

    from klogs_spark.ext import jpeg_lite as J

    rng = np.random.RandomState(seed)
    # dense random blocks maximize symbol count (ZRL/EOB/extend paths) and
    # produce stuffed bytes with high probability at this size
    raw = rng.randint(0, 256, size=32 * 24 * 3, dtype=np.uint8).tobytes()
    enc = J.encode_jpeg_baseline(
        32, 24, raw, channels=3, sampling="4:2:0", restart_interval=1
    )
    ref = J.decode_jpeg_baseline(enc)
    assert ref is not None
    assert J.decode_jpeg_baseline(enc) == ref  # decode is stateless
    # cut inside the entropy stream (after SOS, before the final MCU's
    # data could complete): the decoder must raise, not fabricate pixels
    sos = enc.find(b"\xff\xda")
    scan_start = sos + 2 + int.from_bytes(enc[sos + 2:sos + 4], "big")
    cut_at = scan_start + (cut % max(1, (len(enc) - 2 - scan_start) // 2))
    with pytest.raises(ValueError, match="truncated|Huffman|RST"):
        J.decode_jpeg_baseline(enc[:cut_at])


@settings(max_examples=25, deadline=None)
@given(
    mw=st.integers(1, 3),
    mh=st.integers(1, 3),
    samp=st.sampled_from(["4:2:0", "4:2:2"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_subsampled_flat_mcu_tiles_exact(mw, mh, samp, seed):
    """Property: an image tiled from per-MCU flat colors decodes with
    every tile (a) still constant and (b) equal to the flat-block closed
    form (the single-tile 4:4:4 round-trip of the same color) — the
    closed form survives subsampling, which is what lets the oracle
    hash-check subsampled decodes. Also pins DC prediction across the
    interleaved MCU sequence (each component's predictor chains through
    its own blocks only)."""
    import numpy as np

    from klogs_spark.ext import jpeg_lite as J

    th = 16 if samp == "4:2:0" else 8  # MCU height: 8*Vmax
    tw = 16  # MCU width: 8*Hmax
    rng = np.random.RandomState(seed)
    colors = rng.randint(0, 256, size=(mh * mw, 3), dtype=np.uint8)
    img = np.zeros((mh * th, mw * tw, 3), dtype=np.uint8)
    for t, c in enumerate(colors):
        ty, tx = divmod(t, mw)
        img[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw] = c
    w, h = mw * tw, mh * th
    out = np.frombuffer(
        J.decode_jpeg_baseline(
            J.encode_jpeg_baseline(w, h, img.tobytes(), channels=3,
                                   sampling=samp)
        )[3],
        np.uint8,
    ).reshape(h, w, 3)
    for t, c in enumerate(colors):
        ty, tx = divmod(t, mw)
        tile = out[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
        flat = tile.reshape(-1, 3)
        assert (flat == flat[0]).all(), (t, samp)
        ref = np.frombuffer(
            J.decode_jpeg_baseline(
                J.encode_jpeg_baseline(
                    8, 8, np.tile(c, (8, 8, 1)).tobytes(), channels=3
                )
            )[3],
            np.uint8,
        )[:3]
        assert tuple(flat[0]) == tuple(ref), (t, samp)


@settings(max_examples=80, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 20),
    nbits=st.integers(1, 8),
    data=st.data(),
)
def test_gif_codec_round_trip_random(w, h, nbits, data):
    """Property: encode_gif -> decode_gif_pixels is the identity on
    palette-mapped pixels for ANY dims, palette size, and index content
    (GIF is lossless) — including streams long enough to grow the LZW
    code width and reset the dictionary."""
    from klogs_spark.ext import gif_lite as G

    n = 1 << nbits
    npx = w * h
    idx = bytes(
        data.draw(
            st.lists(st.integers(0, n - 1), min_size=npx, max_size=npx)
        )
    )
    pal = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=3 * n, max_size=3 * n)
        )
    )
    g = G.encode_gif(w, h, idx, pal)
    assert G.decode_gif_pixels(g) == (
        w, h, 3, b"".join(pal[3 * i:3 * i + 3] for i in idx)
    )
    # non-GIF -> None; truncated LZW -> loud error
    assert G.decode_gif_pixels(b"\x89PNG") is None
    import pytest

    with pytest.raises(ValueError):
        G.decode_gif_pixels(g[: len(g) // 2])
