"""OpenMetrics exposition format parser (ingest boundary).

Reference: model/textparse/openmetricsparse.go.  Differences from the
classic Prometheus text format (promtext.py) that this parser honors:

- timestamps are **seconds** (possibly fractional), not milliseconds
- an ``# EOF`` terminator ends the body; content after it is an error
- ``# UNIT`` metadata joins ``# HELP`` / ``# TYPE``
- exemplars ride on the sample line after ``#``:
  ``name{l="v"} 1.0 1520879607.789 # {trace_id="abc"} 0.67 1520879607.0``
- ``*_created`` series carry created (start) timestamps; like the
  reference's ``WithOMParserSTSeriesSkipped`` they are surfaced as
  ``created`` rows rather than regular samples when ``skip_created``

Re-derived line grammar, not a translation.  The batch/streaming entry
point ``parse_openmetrics_df`` is an Arrow-batched ``mapInPandas`` over
raw lines (promtext's parser runs JVM-side instead); the Python inner
loop runs once per scraped byte, never per query.
"""

from __future__ import annotations

import math
import re
from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from prometheus_spark.sources.promtext import _LABEL_RE, _parse_value, _unescape

_SAMPLE_RE = re.compile(
    r"""^
    (?:
      (?P<name>[a-zA-Z_:][a-zA-Z0-9_:]*)
      (?:\{(?P<labels>.*?)\})?
      |
      \{(?P<qlabels>.*?)\}   # UTF-8 names: {"metric.name","l.x"="v"}
    )
    \s+
    (?P<value>[^\s#]+)
    (?:\s+(?P<ts>-?\d+(?:\.\d+)?))?
    \s*
    (?:\#\s*\{(?P<exlabels>.*?)\}\s+(?P<exvalue>[^\s]+)(?:\s+(?P<exts>-?\d+(?:\.\d+)?))?\s*)?
    $""",
    re.VERBOSE,
)
_META_RE = re.compile(r"^#\s+(?P<kind>HELP|TYPE|UNIT)\s+(?P<name>\S+)\s*(?P<rest>.*)$")

_TYPES = {
    "counter", "gauge", "histogram", "gaugehistogram", "summary",
    "info", "stateset", "unknown",
}


def _parse_labelblob(blob: str, line: str) -> dict[str, str]:
    from prometheus_spark.sources.promtext import _QLABEL_RE

    labels: dict[str, str] = {}
    pos = 0
    while pos < len(blob):
        lm = _LABEL_RE.match(blob, pos) or _QLABEL_RE.match(blob, pos)
        if not lm:
            if blob[pos:].strip() in ("", ","):
                break
            raise ValueError(f"invalid labels in line: {line!r}")
        k = lm.group("k")
        if lm.re is _QLABEL_RE:  # quoted label names carry escapes
            k = _unescape(k)
        labels[k] = _unescape(lm.group("v"))
        pos = lm.end()
    return labels


def parse_openmetrics_text(
    text: str,
    default_ts_ms: int = 0,
    skip_created: bool = True,
    strict_eof: bool = False,
    require_timestamps: bool = False,
):
    """Parse one OpenMetrics body.

    Returns ``(samples, metadata, exemplars, created)``:

    - samples: [(labels incl __name__, t_ms, value)]
    - metadata: {metric_family: {"type"|"help"|"unit": str}}
    - exemplars: [(labels, t_ms, exemplar_labels, exemplar_value, ex_t_ms)]
    - created: {(base_name, sorted-label-items): created_t_ms} from
      ``*_created`` series (suffix-stripped per nhcbparse/openmetricsparse
      created handling); when ``skip_created`` the series do NOT also
      appear in ``samples``.
    """
    samples: list = []
    metadata: dict[str, dict] = {}
    exemplars: list = []
    created: dict = {}
    saw_eof = False
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        if saw_eof:
            raise ValueError(f"content after # EOF: {line!r}")
        if line == "# EOF":
            saw_eof = True
            continue
        if line.startswith("#"):
            m = _META_RE.match(line)
            if m:
                kind = m.group("kind").lower()
                val = _unescape(m.group("rest"))
                if kind == "type" and val not in _TYPES:
                    raise ValueError(f"unknown metric type {val!r}")
                metadata.setdefault(m.group("name"), {})[kind] = val
            continue  # free-form comments are legal
        m = _SAMPLE_RE.match(line)
        if not m:
            raise ValueError(f"invalid OpenMetrics line: {line!r}")
        if m.group("qlabels") is not None:
            from prometheus_spark.sources.promtext import parse_labelblob_utf8

            labels = parse_labelblob_utf8(m.group("qlabels"), line, True)
            if "__name__" not in labels:
                raise ValueError(f"missing metric name in line: {line!r}")
        else:
            labels = {"__name__": m.group("name")}
            if m.group("labels"):
                labels.update(_parse_labelblob(m.group("labels"), line))
        # OpenMetrics timestamps are seconds
        if m.group("ts"):
            t = int(round(float(m.group("ts")) * 1000.0))
        elif require_timestamps:
            # the backfill importer requires explicit timestamps
            # (cmd/promtool/backfill.go getMinAndMaxTimestamps:
            # "expected timestamp for series")
            raise ValueError(f"expected timestamp for series: {line!r}")
        else:
            t = default_ts_ms
        value = _parse_value(m.group("value"))
        name = labels["__name__"]
        if name.endswith("_created"):
            base = name[: -len("_created")]
            key = (base, tuple(sorted(
                (k, v) for k, v in labels.items() if k != "__name__"
            )))
            created[key] = int(round(value * 1000.0))  # created value = seconds
            if skip_created:
                continue
        samples.append((labels, t, value))
        if m.group("exvalue"):
            ex_labels = _parse_labelblob(m.group("exlabels") or "", line)
            ex_t = (
                int(round(float(m.group("exts")) * 1000.0))
                if m.group("exts")
                else None
            )
            exemplars.append(
                (labels, t, ex_labels, _parse_value(m.group("exvalue")), ex_t)
            )
    if strict_eof and not saw_eof:
        raise ValueError("missing # EOF terminator")
    return samples, metadata, exemplars, created


PARSED_OM_SCHEMA = T.StructType(
    [
        T.StructField("label_keys", T.ArrayType(T.StringType()), False),
        T.StructField("label_values", T.ArrayType(T.StringType()), False),
        T.StructField("t", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("created_t", T.LongType(), True),
    ]
)


def parse_openmetrics_df(
    lines: DataFrame, line_col: str = "line", ts_col: Optional[str] = None
) -> DataFrame:
    """Raw-lines DataFrame → parsed OpenMetrics samples with an attached
    created-timestamp column (null when the family exposes none).

    Works identically on batch and ``readStream`` frames.  Each Arrow
    batch is parsed independently, so ``*_created`` association is
    per-batch — feed whole scrape bodies per row group (the scrape path
    produces exactly that)."""
    import pandas as pd

    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(lines.sparkSession)
    cols = [line_col] + ([ts_col] if ts_col else [])
    src = lines.select(*cols)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            body = "\n".join((x or "") for x in pdf[line_col])
            default_ts = int(pdf[ts_col].iloc[0]) if ts_col and len(pdf) else 0
            samples, _meta, _ex, created_map = parse_openmetrics_text(
                body, default_ts_ms=default_ts
            )
            out_k, out_vv, out_t, out_v, out_c = [], [], [], [], []
            for labels, t, v in samples:
                name = labels.get("__name__", "")
                base = re.sub(
                    r"_(?:total|bucket|count|sum|gcount|gsum)$", "", name
                )
                key = (base, tuple(sorted(
                    (k, v2) for k, v2 in labels.items()
                    if k not in ("__name__", "le", "quantile")
                )))
                out_k.append(list(labels.keys()))
                out_vv.append(list(labels.values()))
                out_t.append(t)
                out_v.append(v)
                out_c.append(created_map.get(key))
            yield pd.DataFrame(
                {
                    "label_keys": pd.Series(out_k, dtype=object),
                    "label_values": pd.Series(out_vv, dtype=object),
                    "t": pd.Series(out_t, dtype="int64"),
                    "value": pd.Series(out_v, dtype="float64"),
                    "created_t": pd.Series(out_c, dtype=object),
                }
            )

    parsed = src.mapInPandas(batches, PARSED_OM_SCHEMA)
    # pandas→Arrow folds float NaN into null; the parser never emits a
    # null value itself, so restore NaN samples (created_t stays
    # genuinely nullable — it's object-dtyped, not a float fold)
    from pyspark.sql import functions as F

    return parsed.withColumn(
        "value", F.coalesce(F.col("value"), F.lit(float("nan")))
    )
