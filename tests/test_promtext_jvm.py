"""Differential parity: the JVM exposition parse vs ``parse_exposition_text``.

``parse_exposition_df`` runs the whole text-exposition grammar as Catalyst
expressions in one scan of the lines; ``parse_exposition_text`` (the
scrape manager's Python parser) is the oracle.  Every line the oracle
accepts must parse to the same rows, and every line it rejects must fail
the job with "invalid exposition line".
"""

from __future__ import annotations

import math
import random
import unicodedata

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from prometheus_spark.sources.promtext import (
    _grammar,
    parse_exposition_df,
    parse_exposition_text,
    to_samples,
)


def _norm(rows):
    out = []
    for r in rows:
        v = r["value"]
        v = "NaN" if v is not None and math.isnan(v) else v
        out.append(
            (tuple(r["label_keys"]), tuple(r["label_values"]), r["t"], v)
        )
    return sorted(out)


def _oracle(lines, default_ts=0):
    return _norm(
        {
            "label_keys": list(labels),
            "label_values": list(labels.values()),
            "t": t,
            "value": v,
        }
        for ln in lines
        for labels, t, v in parse_exposition_text(ln, default_ts)
    )


def _both(spark, lines, ts=None):
    rows = [(ln, 777) for ln in lines] if ts else [(ln,) for ln in lines]
    schema = "line string, ts long" if ts else "line string"
    df = spark.createDataFrame(rows, schema)
    jvm = parse_exposition_df(df, ts_col="ts" if ts else None)
    return _norm(jvm.collect()), _oracle(lines, 777 if ts else 0)


FAST_VALUES = [
    "0", "1", "-1", "42.5", "-0.25", ".5", "5.", "1e3", "-2.5E-2",
    "+inf", "inf", "Inf", "-Inf", "NaN", "nan", "-nan", "+NAN", "1e400",
]
TS = ["", " 0", " 1700000000123", " -5"]


def _fast_lines():
    rng = random.Random(11)
    lines = []
    for i, v in enumerate(FAST_VALUES):
        lines.append(f"metric_{i} {v}{TS[i % len(TS)]}")
    # label-block shapes: spaces, trailing commas, tricky values
    lines += [
        'm0{} 1',
        'm1{a="b"} 2 123',
        'm2{a="b",c="d"} 3',
        'm3{ a = "b" , c = "d" } 4',
        'm4{a="b",} 5 -9',
        'm5{a=""} 6',
        'm6{a=" x y "} 7',
        'm7{a="x=y"} 8',
        'm8{a="v{w}",b="}"} 9',
        'm9{a="comma, inside"} 10',
        'm10{a="tab\tchar"} 11',
        "  spaced_line 12 13  ",
        'colon:name{a="b"} 14',
        '_underscore 15',
    ]
    for i in range(60):
        nl = rng.randint(0, 4)
        pairs = ",".join(
            f'k{j}="v{rng.randint(0, 9)} {rng.randint(0, 9)}"'
            for j in range(nl)
        )
        body = f"{{{pairs}}}" if nl else ""
        lines.append(f"gen_{i}{body} {rng.uniform(-100, 100):.6g}")
    return lines


# escapes, quoted UTF-8 names, '_' in a value, a timestamp beyond int64
SLOW_LINES = [
    r'esc{a="x\"y"} 1',
    r'esc2{a="line\nbreak"} 2 5',
    r'esc3{a="back\\slash"} 3',
    '{"utf8.name","l.x"="v"} 4',
    '{"just.name"} 5',
    "under_val 1_0",
    "longts 1 123456789012345678901",
]


def test_fast_lines_match_python(spark):
    lines = _fast_lines()
    got, want = _both(spark, lines)
    assert got == want
    assert len(got) == len(lines)


def test_fast_lines_match_python_with_ts_col(spark):
    got, want = _both(spark, _fast_lines(), ts=True)
    assert got == want
    # a ts-less line picked up the default from the ts column
    assert any(t == 777 for (_, _, t, _) in got)


def test_slow_lines_fall_back(spark):
    # all but the int64 overflow parse, plus \\n: an escaped backslash
    # followed by a literal n (a sequential unescape would turn it into
    # backslash + newline)
    parseable = SLOW_LINES[:6] + [r'esc4{a="x\\ny"} 6']
    got, want = _both(spark, parseable)
    assert got == want
    assert len(got) == len(parseable)
    values = {vals[-1] for (_, vals, _, _) in got}
    assert {'x"y', "line\nbreak", "back\\slash", "x\\ny"} <= values
    assert ("under_val",) in {vals for (_, vals, _, _) in got}
    assert 10.0 in {v for (*_, v) in got}


GRAMMAR_LINES = [
    'm{,} 1', 'm{ , } 1', 'm{a="b",,} 1', 'm{a="b", , } 1', '{"n",} 5',
    '{"n",,} 5', '{"a"="b", "__name__"="x"} 1', '{__name__="x"} 1',
    'm{__name__="x"} 1', 'm{a="1",a="2"} 1', 'm{a="1",b="2",a="3"} 1',
    '{"n", "__name__"="y"} 1', 'm{"q\\"k"="v", b="\\x"} 1',
    'm{a="\x1e",b="\x1f"} 1', 'm{a="é✓",b="日本"} 1', "\tm\t1\t",
    "m\u00a01\u30002", "x Infinity", "x -infinity", "x 1.e5", "x 1_0.2_5e1_0",
    "x \u0661\u0662 \u0663", "x \U0001D7CF", 'm{a="}"} 1', "m 1 0001", "m 1 -0",
]


def test_grammar_corners_match_python(spark):
    got, want = _both(spark, GRAMMAR_LINES)
    assert got == want
    assert len(got) == len(GRAMMAR_LINES)


REJECTED = [
    "x 0x1p3",  # Java's parseDouble takes hex floats, float() does not
    "x 1d",  # ... and a trailing type suffix
    "x 1f",
    "longts 1 123456789012345678901",  # beyond int64
    "x 1__0",
    "x \u2460",  # a digit character that is not a decimal digit
    'm{a="b",,,} 1',
    'm{a="b" c="d"} 1',
    'm{"n"} 1',
    '{"a"="b"} 1',  # quoted form without a metric name
    '{"a"="b", "n"} 1',  # the bare name must come first
    'm{a="b"} 1} 5',
    "m 1 +2",
    "m 1\nb 2",  # one row is one line
]


@pytest.mark.parametrize("line", REJECTED)
def test_rejected_lines_raise(spark, line):
    try:
        rows = parse_exposition_text(line)
    except ValueError:
        pass
    else:  # the oracle keeps Python ints; only int64 fits a sample
        assert any(not -(2**63) <= t < 2**63 for _, t, _ in rows) or "\n" in line
    df = spark.createDataFrame([(line,)], "line string")
    with pytest.raises(Exception, match="invalid exposition line"):
        parse_exposition_df(df).collect()


def _escape(s):
    return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


_ALPHABET = st.sampled_from(
    ["\\", '"', "\n", "}", "{", ",", "=", " ", "n", "a", "é", "日", "\x1e", "\x1f", "#"]
)
_TEXT = st.text(_ALPHABET, max_size=8)
_KEYS = st.one_of(st.sampled_from(["a", "b", "job", "__name__"]), _TEXT)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.just(None), _TEXT),
            st.lists(st.tuples(_KEYS, _TEXT), max_size=4),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_label_values_property(spark, samples):
    lines = []
    for i, (qname, pairs) in enumerate(samples):
        body = ",".join(
            (k if k.isidentifier() and k.isascii() else f'"{_escape(k)}"')
            + f'="{_escape(v)}"'
            for k, v in pairs
        )
        if qname is None:
            lines.append(f"m{{{body}}} {i}")
        else:
            lines.append(f'{{"{_escape(qname)}"{"," if body else ""}{body}}} {i}')
    got, want = _both(spark, lines)
    assert got == want
    # and the values come back exactly as generated (last one per key)
    for (qname, pairs), (keys, values, _, _) in zip(samples, sorted(got, key=lambda r: r[3])):
        expect = {"__name__": "m" if qname is None else qname}
        expect.update(pairs)
        assert dict(zip(keys, values)) == expect


def test_comments_and_blanks_skipped(spark):
    lines = ["# HELP m help", "# TYPE m counter", "", "   ", "m 1"]
    got, want = _both(spark, lines)
    assert got == want
    assert len(got) == 1


def test_invalid_line_still_errors(spark):
    df = spark.createDataFrame([("not a metric !!",)], "line string")
    with pytest.raises(Exception, match="invalid exposition line"):
        parse_exposition_df(df).collect()


def test_to_samples_roundtrip_on_fast_path(spark):
    df = spark.createDataFrame(
        [('m{a="1"} 2.5 1000',)], "line string"
    )
    rows = to_samples(parse_exposition_df(df)).collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "m"
    assert rows[0]["labels"] == {"__name__": "m", "a": "1"}
    assert rows[0]["t"] == 1000 and rows[0]["value"] == 2.5


def test_plan_is_one_jvm_scan(spark, tmp_path):
    path = tmp_path / "body.prom"
    path.write_text('# TYPE m counter\nm{a="1"} 1\n{"u.v"} 2\n')
    parsed = to_samples(parse_exposition_df(spark.read.text(str(path)), line_col="value"))
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Union" not in plan
    assert plan.count("FileScan") == 1
    assert parsed.count() == 2


def test_unicode_classes_match_python(spark):
    # Python's \s / str.strip whitespace and \d / float() digits are the
    # oracle's; the JVM grammar must accept exactly the same characters
    g = _grammar()
    name_chars = {ord(c) for c in "_:0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"}
    bmp = [c for c in range(0x10000) if not 0xD800 <= c <= 0xDFFF and c not in name_chars]
    assert not any(chr(c).isspace() for c in range(0x10000, 0x110000))
    df = spark.createDataFrame([(c, f"m{chr(c)}1 2") for c in bmp], "c int, line string")
    jvm_ws = {r["c"] for r in df.filter(df.line.rlike(g.line)).collect()}
    assert jvm_ws == {c for c in bmp if chr(c).isspace() and c != 0x0A}
    digits = [c for c in range(0x110000) if chr(c).isdecimal()]
    lines = [f"d_{i} {chr(c)}1 {chr(c)}" for i, c in enumerate(digits)]
    got, want = _both(spark, lines)
    assert got == want
    assert [v for (*_, v) in sorted(got, key=lambda r: int(r[1][0][2:]))] == [
        float(f"{unicodedata.decimal(chr(c))}1") for c in digits
    ]


def test_nan_roundtrips_through_storage(spark, tmp_path):
    from prometheus_spark.storage import read_samples, write_samples

    lines = ["m_a NaN 1000", "m_b -nan 1000", "m_c +NAN 1000", "m_d 1 1000"]
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    write_samples(to_samples(parse_exposition_df(df)), str(tmp_path / "store"))
    back = {r["name"]: r["value"] for r in read_samples(spark, str(tmp_path / "store")).collect()}
    assert set(back) == {"m_a", "m_b", "m_c", "m_d"}
    assert all(v is not None and math.isnan(v) for k, v in back.items() if k != "m_d")
    assert back["m_d"] == 1.0


STREAM_LINES = [
    "# HELP m help",
    r'esc{a="x\"y",b="back\\slash\nz"} 1 1000',
    '{"utf8.name","l.x"="v"} 2 1000',
    "plain 3",
    "",
]


def test_streaming_matches_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.prom").write_text("\n".join(STREAM_LINES) + "\n")
    batch = parse_exposition_df(spark.read.text(str(src)), line_col="value")
    stream = parse_exposition_df(spark.readStream.text(str(src)), line_col="value")
    q = (
        stream.writeStream.format("memory")
        .queryName("promtext_stream_parity")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        got = _norm(spark.table("promtext_stream_parity").collect())
    finally:
        q.stop()
        spark.catalog.dropTempView("promtext_stream_parity")
    assert got == _norm(batch.collect()) == _oracle(STREAM_LINES)
    assert len(got) == 3


def test_streaming_invalid_line_fails_query(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.prom").write_text("m 1\nnot a metric !!\n")
    q = (
        parse_exposition_df(spark.readStream.text(str(src)), line_col="value")
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        with pytest.raises(Exception, match="invalid exposition line"):
            q.awaitTermination()
    finally:
        q.stop()
