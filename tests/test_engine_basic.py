"""Hand-computed engine semantics checks — fast smoke layer under the
promqltest corpus tests."""

import math

import pytest

from prometheus_spark.engine import PromQLEngine
from prometheus_spark.storage import samples_from_rows

M = 60_000


@pytest.fixture(scope="module")
def http_engine(spark):
    rows = []
    grid = [
        ("api-server", "0", "production", 10),
        ("api-server", "1", "production", 20),
        ("api-server", "0", "canary", 30),
        ("api-server", "1", "canary", 40),
        ("app-server", "0", "production", 50),
        ("app-server", "1", "production", 60),
        ("app-server", "0", "canary", 70),
        ("app-server", "1", "canary", 80),
    ]
    for job, inst, grp, slope in grid:
        for i in range(11):
            rows.append(
                (
                    {"__name__": "http_requests", "job": job, "instance": inst, "group": grp},
                    i * 5 * M,
                    float(slope * i),
                )
            )
    samples = samples_from_rows(spark, rows).cache()
    return PromQLEngine(spark, samples)


def q(engine, query, t=50 * M):
    df = engine.instant_query(query, t)
    return {
        tuple(sorted(dict(r["labels"]).items())): r["value"] for r in df.collect()
    }


def test_selector_lookback(http_engine):
    # at 50m exact sample; at 52m lookback serves the 50m sample
    r = q(http_engine, 'http_requests{job="api-server", instance="0", group="production"}')
    assert list(r.values()) == [100.0]
    r = q(
        http_engine,
        'http_requests{job="api-server", instance="0", group="production"}',
        t=52 * M,
    )
    assert list(r.values()) == [100.0]
    # beyond 5m lookback → empty
    r = q(
        http_engine,
        'http_requests{job="api-server", instance="0", group="production"}',
        t=56 * M,
    )
    assert r == {}


def test_offset_and_at(http_engine):
    r = q(http_engine, 'http_requests{job="api-server", instance="0", group="production"} offset 5m')
    assert list(r.values()) == [90.0]
    r = q(http_engine, 'http_requests{job="api-server", instance="0", group="production"} @ 3000')
    assert list(r.values()) == [100.0]


def test_aggregations(http_engine):
    r = q(http_engine, "sum by (job) (http_requests)")
    assert r[(("job", "api-server"),)] == 1000.0
    assert r[(("job", "app-server"),)] == 2600.0
    r = q(http_engine, "min(http_requests)")
    assert list(r.values()) == [100.0]
    r = q(http_engine, "quantile(0.5, http_requests)")
    assert list(r.values()) == [450.0]
    r = q(http_engine, "stdvar(http_requests)")
    assert abs(list(r.values())[0] - 52500.0) < 1e-9


def test_topk_bottomk(http_engine):
    r = q(http_engine, "topk(2, http_requests)")
    assert sorted(r.values()) == [700.0, 800.0]
    r = q(http_engine, "bottomk(1, http_requests)")
    assert sorted(r.values()) == [100.0]


def test_binop_vector_vector(http_engine):
    r = q(
        http_engine,
        'http_requests{instance="0"} + http_requests{instance="1"} '
        "== bool http_requests",  # never equal; checks chaining too
    )
    # chained comparison: (a+b) == bool c — join on identical label sets
    # a+b drops instance? No: instance differs → no match → empty result
    assert r == {}
    r = q(
        http_engine,
        'http_requests{instance="0"} / on(job, group) '
        'http_requests{instance="1"}',
    )
    assert len(r) == 4
    assert r[(("group", "production"), ("job", "api-server"))] == 0.5


def test_binop_set_ops(http_engine):
    r = q(http_engine, 'http_requests and http_requests{instance="0"}')
    assert len(r) == 4
    r = q(http_engine, 'http_requests unless http_requests{instance="0"}')
    assert len(r) == 4
    r = q(http_engine, 'http_requests{instance="0"} or http_requests')
    assert len(r) == 8


def test_rate_exact(http_engine):
    # slope 10 per 5m with full-window extrapolation → 10/300 per second
    r = q(http_engine, 'rate(http_requests{job="api-server", instance="0", group="production"}[30m])')
    assert abs(list(r.values())[0] - 0.1 / 3.0) < 1e-12


def test_scalar_and_vector_funcs(http_engine):
    r = q(http_engine, 'scalar(http_requests{instance="0", group="canary", job="api-server"}) * 2')
    assert list(r.values()) == [600.0]
    r = q(http_engine, "vector(42)")
    assert r[()] == 42.0
    r = q(http_engine, 'absent(http_requests{job="nosuch"})')
    assert r[(("job", "nosuch"),)] == 1.0
    r = q(http_engine, "absent(http_requests)")
    assert r == {}


def test_range_query_grid(http_engine):
    df = http_engine.range_query(
        'sum(http_requests{job="api-server"})', 0, 50 * M, 25 * M
    )
    rows = {r["t"]: r["value"] for r in df.collect()}
    assert rows == {0: 0.0, 25 * M: 500.0, 50 * M: 1000.0}


def test_duplicate_series_error(http_engine):
    with pytest.raises(Exception):
        http_engine.instant_query(
            'http_requests{instance="0"} + on(job) http_requests{instance="1"}', 50 * M
        ).collect()


def test_staleness(spark):
    rows = [({"__name__": "m"}, 0, 0.0), ({"__name__": "m"}, 10_000, 1.0), ({"__name__": "m"}, 30_000, 2.0)]
    stale = [({"__name__": "m"}, 20_000)]
    eng = PromQLEngine(spark, samples_from_rows(spark, rows, stale))
    # at 15s lookback sees the 10s sample
    assert list(q(eng, "m", t=15_000).values()) == [1.0]
    # at 25s the stale marker suppresses the series
    assert q(eng, "m", t=25_000) == {}
    # at 30s the new sample revives it
    assert list(q(eng, "m", t=30_000).values()) == [2.0]


def test_plan_cache_hit_and_invalidation(spark):
    rows = [({"__name__": "m", "a": "1"}, 0, 5.0)]
    eng = PromQLEngine(spark, samples_from_rows(spark, rows))
    df1 = eng.instant_query("m", 1_000)
    df2 = eng.instant_query("m", 1_000)
    assert df1 is df2  # identical (query, ts) reuses the analyzed plan
    df3 = eng.instant_query("m", 2_000)
    assert df3 is not df1  # different ts is a different plan
    # swapping the samples frame must drop every cached plan
    eng.samples = samples_from_rows(spark, [({"__name__": "m", "a": "1"}, 0, 9.0)])
    df4 = eng.instant_query("m", 1_000)
    assert df4 is not df1
    assert [r["value"] for r in df4.collect()] == [9.0]


def test_ordered_output_sorted_with_guard(spark):
    # the guard window now rides the final range sort; output must stay
    # globally ordered by (sig, t)
    rows = [
        ({"__name__": "m", "a": str(i)}, 0, float(i)) for i in range(20)
    ]
    eng = PromQLEngine(spark, samples_from_rows(spark, rows))
    got = [r["sig"] for r in eng.instant_query("m", 1_000).collect()]
    assert got == sorted(got)


def test_series_index_fresh_across_engines(spark, tmp_path):
    # a rules engine and a query API over one store: the second engine,
    # built over a fresh read after a new block landed, must index the new
    # series instead of being served the first engine's persisted index
    from prometheus_spark.storage import read_samples, write_samples

    store = tmp_path / "store"

    def block(name, metric):
        rows = [({"__name__": metric, "job": "j"}, 0, 1.0)]
        write_samples(samples_from_rows(spark, rows), str(store / f"block={name}"))

    block("1", "a")
    first = PromQLEngine(spark, read_samples(spark, str(store)))
    second = None
    try:
        assert first.instant_query("a", 0).count() == 1
        assert first._series_count == 1
        block("2", "b")
        second = PromQLEngine(spark, read_samples(spark, str(store)))
        assert second.samples.filter("name = 'b'").count() == 1
        assert second.instant_query("b", 0).count() == 1
        assert second._series_count == 2
        # the first engine keeps the snapshot it was built over
        assert first._series_count == 1
        assert first.instant_query("b", 0).count() == 0
    finally:
        for eng in (first, second):
            if eng is not None:
                eng.release_series_dim()
