"""Prometheus text exposition format parser (ingest boundary).

Reference: model/textparse/promparse.go (line-oriented format:
``metric{l="v",...} value [timestamp_ms]``, ``# HELP/# TYPE`` comments).
Re-derived line grammar, not a translation.

``parse_exposition_text`` parses one scrape body in Python (the scrape
manager's path, and the reference the JVM parse is tested against).
The batch/streaming entry point ``parse_exposition_df`` runs the same
grammar as Catalyst expressions in one scan of the lines — no Python
workers, no second pass over the source.
"""

from __future__ import annotations

import functools
import math
import re
import unicodedata
from typing import Optional

from pyspark.sql import DataFrame

_LINE_RE = re.compile(
    r"""^
    (?:
      (?P<name>[a-zA-Z_:][a-zA-Z0-9_:]*)
      (?:\{(?P<labels>.*)\})?
      |
      \{(?P<qlabels>.*)\}   # UTF-8 names: {"metric.name","l.x"="v"}
    )
    \s+
    (?P<value>[^\s]+)
    (?:\s+(?P<ts>-?\d+))?
    \s*$""",
    re.VERBOSE,
)
_LABEL_RE = re.compile(
    r'\s*(?P<k>[a-zA-Z_][a-zA-Z0-9_]*)\s*=\s*"(?P<v>(?:\\.|[^"\\])*)"\s*(?:,|$)'
)
# UTF-8 name extension (textparse; OpenMetrics 1.0 quoted names): label
# names — and a leading bare string carrying the metric name — are
# double-quoted inside the brace block: {"metric.name","l.x"="v"}
_QLABEL_RE = re.compile(
    r'\s*"(?P<k>(?:\\.|[^"\\])*)"\s*=\s*"(?P<v>(?:\\.|[^"\\])*)"\s*(?:,|$)'
)
_QNAME_RE = re.compile(r'\s*"(?P<n>(?:\\.|[^"\\])*)"\s*(?:,|$)')
_ESCAPES = {"\\n": "\n", "\\\\": "\\", '\\"': '"'}


def parse_labelblob_utf8(blob: str, line: str, allow_name: bool) -> dict:
    """Brace-block contents → labels dict.  Accepts classic pairs,
    quoted-name pairs, and (``allow_name``) one leading bare quoted
    string that becomes ``__name__``."""
    labels: dict[str, str] = {}
    pos = 0
    first = True
    while pos < len(blob):
        lm = _LABEL_RE.match(blob, pos) or _QLABEL_RE.match(blob, pos)
        if lm:
            labels[_unescape(lm.group("k")) if lm.re is _QLABEL_RE
                   else lm.group("k")] = _unescape(lm.group("v"))
            pos = lm.end()
            first = False
            continue
        if first and allow_name:
            nm = _QNAME_RE.match(blob, pos)
            if nm:
                labels["__name__"] = _unescape(nm.group("n"))
                pos = nm.end()
                first = False
                continue
        if blob[pos:].strip() in ("", ","):
            break
        raise ValueError(f"invalid labels in line: {line!r}")
    return labels


def _unescape(v: str) -> str:
    """Single-pass unescape (textparse replacer semantics): sequential
    str.replace would mis-decode ``\\\\n`` (escaped backslash followed
    by a literal n) as backslash+newline because the second replace sees
    the freshly-produced backslash."""
    if "\\" not in v:
        return v
    out = []
    i = 0
    n = len(v)
    while i < n:
        c = v[i]
        if c == "\\" and i + 1 < n:
            out.append(_ESCAPES.get(v[i : i + 2], v[i : i + 2]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse_value(s: str) -> float:
    ls = s.lower()
    if ls in ("+inf", "inf"):
        return math.inf
    if ls == "-inf":
        return -math.inf
    if ls == "nan":
        return math.nan
    return float(s)


def parse_exposition_text(
    text: str, default_ts_ms: int = 0
) -> list[tuple[dict, int, float]]:
    """Parse one scrape body → [(labels incl __name__, t_ms, value)]."""
    out = []
    for line in text.split("\n"):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = _LINE_RE.match(line)
        if not m:
            raise ValueError(f"invalid exposition line: {line!r}")
        if m.group("qlabels") is not None:
            # UTF-8 quoted-name form: {"metric.name","l"="v"} value
            labels = parse_labelblob_utf8(m.group("qlabels"), line, True)
            if "__name__" not in labels:
                raise ValueError(f"missing metric name in line: {line!r}")
        else:
            labels = {"__name__": m.group("name")}
            blob = m.group("labels")
            if blob:
                labels.update(parse_labelblob_utf8(blob, line, False))
        ts = int(m.group("ts")) if m.group("ts") else default_ts_ms
        out.append((labels, ts, _parse_value(m.group("value"))))
    return out


# --- one-scan JVM parse -------------------------------------------------------
#
# ``parse_exposition_df`` runs the whole grammar ``parse_exposition_text``
# accepts as Catalyst expressions over one scan of the lines.  The Java
# regexes below restate ``_LINE_RE``/``parse_labelblob_utf8`` with the
# label blob spelled out as a strict pair list: the Python ``.*`` blob ends
# at the LAST ``}`` whose tail parses, and a valid tail (float token,
# digits, whitespace) never holds a ``}``, so the two pick the same blob.
# Python's ``\s``/``str.strip`` whitespace is Unicode White_Space plus
# U+001C..U+001F; ``\d`` and ``float()`` take any Unicode decimal digit,
# so numeric tokens admit non-ASCII characters here and are mapped to
# ASCII with a table built from ``unicodedata`` (anything left over is
# not a digit and fails the line).  Each row is one line: a line break
# inside a row is only accepted as leading/trailing whitespace.
#
# Spark's generated code compares a regex literal with its cached copy on
# every row, so the patterns are kept short.
_KV, _PS = "\u001E", "\u001F"  # model.labels KV_SEP / PAIR_SEP


class _Grammar:
    """The Java-regex spelling of the exposition line grammar."""

    def __init__(self):
        # the patterns run with (?U): \s is Unicode White_Space
        WS = r"[\x1C-\x1F\s]"  # str.strip(): may hold \n
        WSI = r"[\x1C-\x1F\s&&[^\n]]"  # \s inside a line
        D = r"[0-9[^\x00-\x7F\s]]"  # digit candidates, see above
        DP = f"{D}++(?:_{D}++)*+"  # float() digitpart: '_' between digits
        # quoted-string body, still escaped; unrolled so Java does not
        # recurse once per character
        ESC = r'[^"\\\n]*+(?:\\[^\n][^"\\\n]*+)*+'
        KEY = "[a-zA-Z_][a-zA-Z0-9_]*+"
        PAIR = f'(?:{KEY}|"{ESC}"){WSI}*+={WSI}*+"{ESC}"'
        PAIRS = f"{PAIR}(?:{WSI}*+,{WSI}*+{PAIR})*+"
        # after the last pair: a comma, then a remainder that strips to
        # '' or ','; a blob without pairs strips to '' or ','
        TAIL = f"{WSI}*+(?:,{WSI}*+(?:,{WSI}*+)?)?"
        NONE = f",?{WSI}*+"
        CLASSIC = (
            f"([a-zA-Z_:][a-zA-Z0-9_:]*+)"
            f"(?:\\{{{WSI}*+(?:({PAIRS}){TAIL}|{NONE})\\}})?"
        )
        QUOTED = (
            f'\\{{{WSI}*+(?:("{ESC}"){WSI}*+(?:,{WSI}*+(?:({PAIRS}){TAIL}|{NONE}))?'
            f"|({PAIRS}){TAIL}|{NONE})\\}}"
        )
        EXP = f"(?:[eE][+-]?{DP})?"
        VALUE = f"[+-]?(?:(?:{DP})?\\.{DP}{EXP}|{DP}\\.?{EXP}|[iI][nN][fF](?:[iI][nN][iI][tT][yY])?|[nN][aA][nN])"
        # group 1 is the first character after leading whitespace when the
        # line holds no backslash and no separator byte (nothing to
        # unescape, nothing to collide with): most lines skip both checks
        CLEAN = f"(?:(?=([^\\\\{_KV}{_PS}])[^\\\\{_KV}{_PS}]*+\\z))?"
        # groups: 2 name, 3 pairs, 4 quoted name (with its quotes, as
        # '""' names a metric ''), 5/6 pairs, 7 value, 8 ts
        LINE = (
            f"{WS}*+{CLEAN}(?:{CLASSIC}|{QUOTED}){WSI}++({VALUE})"
            f"(?:{WSI}++(-?{D}++))?{WS}*+\\z"
        )
        self.line = f"(?U)^{LINE}"
        # value, ts, name, quoted name, clean, pairs: no field holds a raw
        # line break, so splitting on it is exact; any other row matches
        # the second branch and comes out with an empty value field
        self.line_or_any = f"(?U)^(?:{LINE}|[\\s\\S]*+)"
        self.line_parts = "$7\n$8\n$2\n$4\n$1\n$3$5$6"
        self.skip = f"(?U)^{WS}*+(?:#[^\\n]*+)?{WS}*+\\z"
        # one pair (+ the comma after it): 1 key, 2 quoted key, 3 value
        self.pair = (
            f'(?U)(?:({KEY})|"({ESC})"){WSI}*+={WSI}*+"({ESC})"(?:{WSI}*+,{WSI}*+)?'
        )
        # _unescape in two pair-aligned passes: \n escapes (an odd run of
        # backslashes before n) first, then \\ and \"; other pairs stay
        self.unesc_nl = r"(?<!\\)((?:\\\\)*+)\\n"
        self.unesc_bq = r'\\([\\"])'
        # two pairs with one key are adjacent in the sorted signature
        # (matched against PS + signature: a literal first char is cheap)
        self.dup_key = f"{_PS}([^{_KV}]*+){_KV}[^{_PS}]*+{_PS}\\1{_KV}"
        wide = [c for c in range(0x80, 0x110000) if chr(c).isdecimal()]
        self.digits_from = "".join(map(chr, wide))
        self.digits_to = "".join(str(unicodedata.decimal(chr(c))) for c in wide)


@functools.lru_cache(maxsize=None)
def _grammar() -> _Grammar:
    return _Grammar()


def _unescape_col(c):
    """``_unescape`` as a column expression (rows without a backslash
    skip both passes)."""
    from pyspark.sql import functions as F

    g = _grammar()
    return F.when(
        c.contains("\\"),
        F.regexp_replace(F.regexp_replace(c, g.unesc_nl, "$1\n"), g.unesc_bq, "$1"),
    ).otherwise(c)


def _ascii_digits(c):
    """Map non-ASCII decimal digits to ASCII (``float``/``int`` accept
    them); pure-ASCII tokens skip the translate."""
    from pyspark.sql import functions as F

    g = _grammar()
    return F.when(
        F.length(c) != F.octet_length(c), F.translate(c, g.digits_from, g.digits_to)
    ).otherwise(c)


def parse_exposition_df(
    lines: DataFrame, line_col: str = "line", ts_col: Optional[str] = None
) -> DataFrame:
    """Raw-lines DataFrame → parsed samples: ``label_keys``,
    ``label_values``, ``t``, ``value``, ``sig``, ``name``, ``labels``.

    Works identically on a batch frame or a ``readStream`` frame (e.g.
    file/socket/Kafka source) — append ``.writeStream`` downstream for
    streaming ingest with checkpointing as the WAL equivalent.

    One scan, all JVM: a single anchored regex validates each line and
    splits it into value, timestamp, name and label pairs; the pairs are
    canonicalized with one more ``regexp_replace`` into the separator-
    joined string that feeds both ``str_to_map`` and the signature.  Rows
    whose labels hold the separator bytes or repeat a key (last one wins,
    as in the dict the Python parser builds) take an exact array-based
    expression in the same projection.  Comment and blank lines are
    dropped; any other line fails the job with "invalid exposition line".
    Each row is one line (``parse_exposition_text`` splits a body first).
    """
    from pyspark import SparkContext

    out = lines
    for kind, cols in _parse_steps(SparkContext._active_spark_context, line_col, ts_col):
        out = out.filter(cols) if kind == "filter" else out.select(*cols)
    return out


@functools.lru_cache(maxsize=8)
def _parse_steps(sc, line_col: str, ts_col: Optional[str]) -> tuple:
    """The select/filter steps of ``parse_exposition_df``.  Columns are
    unresolved expressions, so they are built once per SparkContext and
    column names: building them takes ~2k py4j calls, which would
    otherwise cost each ingest round a third of a second."""
    from pyspark.sql import functions as F

    g = _grammar()
    line = F.col(line_col)
    default_ts = F.col(ts_col).cast("long") if ts_col else F.lit(0).cast("long")
    bad = lambda why: F.raise_error(  # noqa: E731
        F.concat(F.lit(f"invalid exposition line{why}: "), F.col("__line"))
    )

    # spark_partition_id() >= 0 always holds; the non-deterministic guard
    # keeps the line match a materialized column, or Catalyst would push
    # the filter below this projection and run the regex twice per line
    split = F.split(F.regexp_replace(line, g.line_or_any, g.line_parts), "\n")
    matched = [
        line.alias("__line"),
        F.when(F.spark_partition_id() >= 0, split).alias("__p"),
        default_ts.alias("__dts"),
    ]
    tok, ts, name, quoted, clean, pairs = (F.element_at("__p", i) for i in range(1, 7))
    keep = (
        F.when(tok != "", True)
        .when(F.col("__line").rlike(g.skip), False)
        .otherwise(bad(""))
    )

    qname = F.substring(quoted, F.lit(2), F.length(quoted) - 2)
    clean = clean != ""
    # a digit candidate the translate leaves non-ASCII fails the cast
    number = F.replace(_ascii_digits(tok), F.lit("_"), F.lit("")).try_cast("double")
    value = F.when(tok.endswith("n") | tok.endswith("N"), F.lit(float("nan"))).otherwise(
        F.coalesce(number, bad(""))
    )
    t = F.when(ts == "", F.col("__dts")).otherwise(
        F.coalesce(_ascii_digits(ts).try_cast("long"), bad(" (timestamp)"))
    )
    no_sep = F.lit(True)
    for c in (pairs, quoted):
        for sep in (_KV, _PS):
            no_sep = no_sep & (F.instr(c, sep) == 0)
    unescape = lambda c: F.when(clean, c).otherwise(_unescape_col(c))  # noqa: E731
    nm = F.when(name != "", name).otherwise(unescape(qname))
    # fast path: '__name__' KV name (PS key KV value)*, one string that is
    # both the labels map (str_to_map) and the signature (sorted split)
    canon = unescape(F.regexp_replace(pairs, g.pair, f"{_PS}$1$2{_KV}$3"))
    fields = [
        "__line",
        (name != "").alias("__classic"),
        quoted.alias("__q"),
        pairs.alias("__pairs"),
        nm.alias("__name"),
        F.concat(F.lit("__name__" + _KV), nm, canon).alias("__full"),
        (((name != "") | (quoted != "")) & (clean | no_sep)).alias("__ok"),
        t.alias("t"),
        value.alias("value"),
    ]

    # one projection: the signature, the fast-path verdict (no repeated
    # key) and the labels map share their subexpressions
    sig = F.array_join(F.sort_array(F.split("__full", _PS, -1)), _PS)
    fast = ~F.concat(F.lit(_PS), sig).rlike(g.dup_key) & F.col("__ok")
    signed = [
        "*",
        sig.alias("__sig"),
        fast.alias("__fast"),
        F.when(fast, F.str_to_map("__full", F.lit(_PS), F.lit(_KV))).alias("__labels"),
    ]

    # exact path, for the rows that are not __fast: key/value arrays with
    # each key's last value at its first position (dict.update)
    nm, fast = F.col("__name"), F.col("__fast")
    has_name = F.col("__classic") | (F.col("__q") != "")
    ks, qs, vs = (F.regexp_extract_all("__pairs", F.lit(g.pair), i) for i in (1, 2, 3))
    none = F.array().cast("array<string>")
    ak = F.concat(
        F.when(has_name, F.array(F.lit("__name__"))).otherwise(none),
        F.zip_with(ks, qs, lambda k, q: F.concat(k, _unescape_col(q))),
    )
    av = F.concat(
        F.when(has_name, F.array(nm)).otherwise(none), F.transform(vs, _unescape_col)
    )
    dk = F.array_distinct(ak)
    dv = F.transform(
        dk,
        lambda k: F.element_at(
            av, (F.size(ak) + 1 - F.array_position(F.reverse(ak), k)).cast("int")
        ),
    )
    x_sig = F.array_join(
        F.sort_array(F.zip_with(dk, dv, lambda k, v: F.concat_ws(_KV, k, v))), _PS
    )
    exact = [
        *("__line", "__name", "__sig", "__fast", "__labels", "t", "value"),
        F.when(~fast, F.map_from_arrays(dk, dv)).alias("__xlabels"),
        F.when(~fast, x_sig).alias("__xsig"),
    ]
    labels = F.when(fast, F.col("__labels")).otherwise(F.col("__xlabels"))
    x_name = F.try_element_at("__xlabels", F.lit("__name__"))
    final = [
        F.map_keys(labels).alias("label_keys"),
        F.map_values(labels).alias("label_values"),
        "t",
        "value",
        F.when(fast, F.col("__sig")).otherwise(F.col("__xsig")).alias("sig"),
        F.when(fast, nm).otherwise(F.coalesce(x_name, bad(" (no metric name)"))).alias("name"),
        labels.alias("labels"),
    ]
    return (
        ("select", matched),
        ("filter", keep),
        ("select", fields),
        ("select", signed),
        ("select", exact),
        ("select", final),
    )


def to_samples(parsed: DataFrame) -> DataFrame:
    """Parsed rows → canonical samples layout (adds sig/name/stale)."""
    from pyspark.sql import functions as F

    from prometheus_spark.model.labels import KV_SEP, PAIR_SEP

    # signature straight from the parallel arrays.  Formulation matters:
    # arrays_zip + array_sort(struct, lambda cmp) + transform run as
    # INTERPRETED higher-order expressions (CodegenFallback) and cost
    # ~2.2 s / 4.5M samples; zip_with + natural-order sort_array on the
    # pair strings computes the identical signature at 0.77 s.  Pair-
    # string order equals (key, value) struct order because the \x1e
    # separator sorts below every character legal in a label key —
    # divergence would need a key containing bytes < 0x1E (impossible
    # for classic [a-zA-Z0-9_:] keys; pinned by the UTF-8 parity test).
    cols = set(parsed.columns)
    pairs = F.zip_with(
        "label_keys", "label_values", lambda k, v: F.concat_ws(KV_SEP, k, v)
    )
    sig = F.array_join(F.sort_array(pairs), PAIR_SEP)
    # name: positional array lookup — probing the freshly-built map costs
    # an extra interpreted pass (0.22 s vs 0.10 s / 4.5M samples);
    # nullif keeps a (parser-unreachable) missing __name__ a NULL name
    # instead of an ANSI zero-index error
    name = F.expr(
        "element_at(label_values, "
        "CAST(nullif(array_position(label_keys, '__name__'), 0) AS INT))"
    )
    labels = F.map_from_arrays("label_keys", "label_values")
    # parse_exposition_df rows carry sig/name/labels already; NULL rows
    # (other parsers) fall back to the array derivation — coalesce is
    # lazily evaluated, so rows that carry them never pay it
    if "sig" in cols:
        sig = F.coalesce(F.col("sig"), sig)
    if "name" in cols:
        name = F.coalesce(F.col("name"), name)
    if "labels" in cols:
        labels = F.coalesce(F.col("labels"), labels)
    return parsed.select(
        sig.alias("sig"),
        name.alias("name"),
        labels.alias("labels"),
        "t",
        "value",
        F.lit(False).alias("stale"),
    )


def parse_exposition_metadata(text: str) -> dict:
    """Extract family metadata from ``# TYPE`` / ``# HELP`` / ``# UNIT``
    comment lines (promparse.go Type/Help comment handling) —
    family → {"type", "help", "unit"}."""
    meta: dict[str, dict] = {}
    for line in text.split("\n"):
        line = line.strip()
        if not line.startswith("#"):
            continue
        parts = line.split(None, 3)
        if len(parts) < 3 or parts[1] not in ("TYPE", "HELP", "UNIT"):
            continue
        fam = parts[2]
        slot = meta.setdefault(
            fam, {"type": "unknown", "help": "", "unit": ""}
        )
        if parts[1] == "TYPE":
            slot["type"] = parts[3].strip() if len(parts) > 3 else "unknown"
        elif parts[1] == "HELP":
            slot["help"] = parts[3] if len(parts) > 3 else ""
        else:
            slot["unit"] = parts[3].strip() if len(parts) > 3 else ""
    return meta
