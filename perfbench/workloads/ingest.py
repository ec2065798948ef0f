"""``ingest``: scrape rounds with recording/alerting rules and fresh queries.

A closed loop of scrape rounds, one client.  Each round, in order:

1. ``BODIES`` seeded text-exposition bodies (counters, a gauge and a
   classic ``le`` histogram per target), already on disk as the round's
   scrape files, go through ``parse_exposition_df`` -> ``to_samples`` ->
   ``write_samples`` into a new block directory.  ``write_samples``
   overwrites its path, so one directory per round stands for one block
   per head cut.
2. ``RulesEngine.eval_tick`` runs a recording + alerting group over the
   store read back with ``read_samples``; the recording output is written
   back as a block of its own.
3. Two ``PromAPI`` queries run at the round's timestamp, through the
   engine the rules use (as one server process serves both).

Before the rules, the engine's samples frame is swapped for a fresh read
of the store, which drops its cached plans and series index: every query
reads Parquet from disk with partition pruning, no in-memory cache holds
the working set, and the plan cache is bypassed.  The rule output is
checked by reading its block back.

Scrape-to-query latency runs from the moment a round's bodies are handed
over until the first query returns the round's samples.  Every answer has
a closed form: counter ``k`` of target ``j`` grows by a seeded ``inc`` per
round, so its rate is ``inc / 10`` and its value at round ``r`` is
``inc * (BASE + r)``.

A round has 200 bodies of 49 samples, 9,800 samples.  The work unit is
the ingested sample, and the throughput counts samples per second of
parse + write time (``ingest_samples_per_s``), so the per-sample cost of
``sources`` and ``storage`` is what it measures.
"""

from __future__ import annotations

import random

from workloads.base import (
    QueryClient,
    Workload,
    check_matrix,
    check_vector,
    close,
    instant_params,
    per,
    query_layer_metrics,
    range_params,
)

BODIES = 200
PATHS = 20
CODES = ("200", "500")
LE = ("0.01", "0.05", "0.1", "0.5", "1", "+Inf")
# rounds written in setup: the range query's earliest 1m rate window
# (60 s before the round) is full from round 0
HISTORY = 12
BASE = 1000  # counters start far from 0, so rate extrapolation never clips
WARMUP_ROUNDS = 1
SCRAPE_MS = 10_000
T0_MS = 1_699_999_200_000
LINES_PER_BODY = PATHS * len(CODES) + 1 + len(LE) + 2

RULES = (
    ("record", "job_code:http_requests:rate1m",
     "sum by (job, code) (rate(http_requests_total[1m]))"),
    ("alert", "HighErrorRate",
     'sum(rate(http_requests_total{code="500"}[1m])) / sum(rate(http_requests_total[1m])) > 0.01'),
)


def _ts(r: int) -> int:
    return T0_MS + (HISTORY + r) * SCRAPE_MS


class Targets:
    """The seeded fleet of scrape targets and its closed forms."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.inc = [
            {(p, c): rng.randint(1, 50) if c == "200" else rng.randint(1, 5)
             for p in range(PATHS) for c in CODES}
            for _ in range(BODIES)
        ]
        self.fds = [rng.randint(10, 500) for _ in range(BODIES)]
        self.hist = []
        for _ in range(BODIES):
            acc, cum = 0, []
            for _le in LE:
                acc += rng.randint(1, 9)
                cum.append(acc)
            self.hist.append(cum)

    def body(self, j: int, r: int) -> str:
        """Target ``j``'s exposition body at round ``r`` (history rounds
        are negative)."""
        n = BASE + r
        ts = _ts(r)
        inst = f'job="api",instance="i{j}"'
        lines = ["# TYPE http_requests_total counter"]
        for (p, c), inc in self.inc[j].items():
            lines.append(f'http_requests_total{{{inst},path="/p{p}",code="{c}"}} {inc * n} {ts}')
        lines.append("# TYPE process_open_fds gauge")
        lines.append(f"process_open_fds{{{inst}}} {self.fds[j] + n % 7} {ts}")
        lines.append("# TYPE rpc_latency_seconds histogram")
        for le, c in zip(LE, self.hist[j]):
            lines.append(f'rpc_latency_seconds_bucket{{{inst},le="{le}"}} {c * n} {ts}')
        lines.append(f"rpc_latency_seconds_sum{{{inst}}} {self.hist[j][-1] * n * 0.25} {ts}")
        lines.append(f"rpc_latency_seconds_count{{{inst}}} {self.hist[j][-1] * n} {ts}")
        return "\n".join(lines) + "\n"

    def requests_by_code(self, r: int) -> dict:
        n = BASE + r
        return {
            (("code", c),): float(sum(inc[(p, c)] for inc in self.inc for p in range(PATHS)) * n)
            for c in CODES
        }

    def rate_by_code(self) -> dict:
        return {
            (("code", c), ("job", "api")): sum(inc[(p, c)] for inc in self.inc for p in range(PATHS)) / 10.0
            for c in CODES
        }

    def error_ratio(self) -> float:
        rates = {c: v for ((_, c), _), v in self.rate_by_code().items()}
        return rates["500"] / (rates["200"] + rates["500"])


class Ingest(Workload):
    name = "ingest"
    main_kind = "scrape_to_query"
    work_unit = "samples"

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        self.targets = Targets(seed)
        self.store = work / "store"
        self.bodies = work / "bodies"
        self.rules = None
        self.api = None
        self.group = None
        self.lines_in = self.samples_read = self.series_out = 0
        self.rounds = 0
        self._next_round = 0

    # -- inputs ---------------------------------------------------------------

    def _write_bodies(self, name: str, rounds: range):
        """One scrape file per target holding ``rounds``, written before
        the clock of the round that reads them starts; returns the
        directory and its line count, comments included."""
        d = self.bodies / name
        d.mkdir(parents=True, exist_ok=True)
        lines = 0
        for j in range(BODIES):
            with open(d / f"target-{j:03d}.prom", "w") as f:
                for r in rounds:
                    body = self.targets.body(j, r)
                    lines += body.count("\n")
                    f.write(body)
        return d, lines

    def _ingest(self, files, block: str) -> None:
        from prometheus_spark.sources import parse_exposition_df
        from prometheus_spark.sources.promtext import to_samples
        from prometheus_spark.storage import write_samples

        span = self.tracer.span
        with span("sources.parse"):
            lines = self.spark.read.text(str(files))
            parsed = parse_exposition_df(lines, line_col="value")
        with span("sources.to_samples"):
            samples = to_samples(parsed)
        with span("storage.write"):
            write_samples(samples, str(self.store / block))

    def _read(self):
        from prometheus_spark.storage import read_samples

        with self.tracer.span("storage.read"):
            return read_samples(self.spark, str(self.store))

    def prepare(self) -> None:
        from prometheus_spark.streaming import AlertingRule, RecordingRule, RuleGroup, RulesEngine
        from prometheus_spark.web.api import PromAPI

        hist, _ = self._write_bodies("history", range(-HISTORY, 0))
        self._ingest(hist, "block=history")
        rules = [
            RecordingRule(record=name, expr=expr) if kind == "record" else AlertingRule(alert=name, expr=expr)
            for kind, name, expr in RULES
        ]
        self.group = RuleGroup(name="bench", interval_ms=SCRAPE_MS, rules=rules)
        self.rules = RulesEngine(self.spark, self._read())
        self.api = QueryClient(PromAPI(self.rules.engine), self.tracer)

    def release(self) -> None:
        import shutil

        if self.rules is not None:
            self.rules.drop_group_state(self.group.name)
            self.rules.engine.release_plans()
            self.rules.engine.release_series_dim()
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.rmtree(self.bodies, ignore_errors=True)
        self.rules = self.api = None

    # -- one round ----------------------------------------------------------------

    def _queries(self, r: int):
        """(name, path, params, checker) for the round's queries; the first
        one is the scrape-to-query probe."""
        t = _ts(r)
        tg = self.targets
        start = t - 60_000
        want_rate = {k[:1]: v for k, v in tg.rate_by_code().items()}
        return [
            ("requests_now", "/api/v1/query",
             instant_params("sum by (code) (http_requests_total)", t),
             lambda c, resp: check_vector(c, resp, tg.requests_by_code(r))),
            ("rate_range", "/api/v1/query_range",
             range_params("sum by (code) (rate(http_requests_total[1m]))", start, t, 30_000),
             lambda c, resp: check_matrix(c, resp, want_rate, start, t, 30_000)),
        ]

    def round(self, rec, r: int, files) -> None:
        from prometheus_spark.storage import read_samples, write_samples

        span = self.tracer.span
        t = _ts(r)
        block = f"block=ingest-{r:05d}"
        with rec.op("ingest") as o_ingest:
            self._ingest(files, block)
        n_lines = BODIES * LINES_PER_BODY
        got = read_samples(self.spark, str(self.store / block)).count()
        rec.check(got == n_lines, f"round {r}: {got} samples read back, {n_lines} lines with values")
        rec.add_work(n_lines)
        self.samples_read += got

        rules_block = f"block=rules-{r:05d}"
        with rec.op("rule_eval") as o_rules:
            # one read of the store after the round's block landed serves
            # the rules and this round's queries
            samples = self._read()
            with span("engine.swap_samples"):
                self.rules.engine.samples = samples
            with span("streaming.eval_tick"):
                out, alerts = self.rules.eval_tick(self.group, t)
            with span("streaming.rule_write"):
                out = out.select("sig", "name", "labels", "t", "value", "stale")
                write_samples(out, str(self.store / rules_block))
        bad = self._check_recorded(rules_block)
        rec.check(bad is None, f"round {r} recorded series: {bad}")
        firing = {a[0] for a in alerts}
        ratio = self.targets.error_ratio()
        rec.check(("HighErrorRate" in firing) == (ratio > 0.01),
                  f"round {r}: alerts {sorted(firing)}, error ratio {ratio}")

        for k, (name, path, params, checker) in enumerate(self._queries(r)):
            with rec.op("query") as o:
                code, resp = self.api.call(path, params)
            if k == 0:
                rec.record("scrape_to_query", o_ingest.ms + o_rules.ms + o.ms)
            bad = checker(code, resp)
            rec.check(bad is None, f"round {r} {name}: {bad}")
            self.api.note_size(resp)
        self.rounds += 1

    def _check_recorded(self, rules_block: str) -> str | None:
        """The recording rule's output as written, read back from disk,
        against its closed form."""
        from prometheus_spark.storage import read_samples

        rows = read_samples(self.spark, str(self.store / rules_block)).select(
            "name", "labels", "value"
        ).collect()
        self.series_out += len(rows)
        got = {
            tuple(sorted((k, v) for k, v in row["labels"].items() if k != "__name__")): row["value"]
            for row in rows
            if row["name"] == RULES[0][1]
        }
        want = self.targets.rate_by_code()
        if set(got) != set(want) or not all(close(got[k], want[k]) for k in want):
            return f"{got} != {want}"
        return None

    def warmup(self, rec) -> None:
        for _ in range(WARMUP_ROUNDS):
            self.op(rec, 0)
        self.lines_in = self.samples_read = self.series_out = self.rounds = 0

    def op(self, rec, i: int) -> None:
        r = self._next_round
        self._next_round += 1
        files, lines = self._write_bodies(f"round-{r:05d}", range(r, r + 1))
        self.lines_in += lines
        self.round(rec, r, files)

    def throughput(self, rec, wall_s) -> float:
        ingest_s = sum(rec.lat_ms["ingest"]) / 1000.0
        return rec.work / ingest_s if ingest_s else 0.0

    def details(self, rec, wall_s) -> dict:
        from common import median, tail

        return {
            "ingest_samples_per_s": self.throughput(rec, wall_s),
            "bodies_per_round": BODIES,
            "samples_per_body": LINES_PER_BODY,
            "query_p50_ms": median(rec.lat_ms["query"]),
            "query_tail_ms": tail(rec.lat_ms["query"]),
            "scrape_to_query_p50_ms": median(rec.lat_ms["scrape_to_query"]),
            "scrape_to_query_tail_ms": tail(rec.lat_ms["scrape_to_query"]),
            "rule_eval_p50_ms": median(rec.lat_ms["rule_eval"]),
            "rule_eval_tail_ms": tail(rec.lat_ms["rule_eval"]),
            "rounds": self.rounds,
        }

    def layer_metrics(self, table, rec, tracer, counts) -> dict:
        n_rounds = max(1, len(rec.lat_ms["ingest"]))
        out = query_layer_metrics(
            table, tracer, counts, len(rec.lat_ms["query"]), self.api.response_bytes
        )
        out.update({
            "sources.parse_ms": per(table, "sources.parse", "total_ms", n_rounds)
            + per(table, "sources.to_samples", "total_ms", n_rounds),
            "sources.samples_per_line": self.samples_read / max(1, self.lines_in),
            "storage.write_ms": per(table, "storage.write", "total_ms", n_rounds),
            "storage.read_scan_ms": per(table, "storage.read", "total_ms", n_rounds),
            "storage.bytes_per_sample": self._bytes_per_sample(),
            "storage.files_written": self._files_per_block(),
            "streaming.rule_tick_ms": per(table, "streaming.eval_tick", "total_ms", n_rounds),
            "streaming.rule_write_ms": per(table, "streaming.rule_write", "total_ms", n_rounds),
            "streaming.series_out": self.series_out / n_rounds,
        })
        return out

    def _blocks(self):
        return sorted(self.store.glob("block=ingest-*"))

    def _bytes_per_sample(self) -> float:
        blocks = self._blocks()
        size = sum(p.stat().st_size for b in blocks for p in b.rglob("*.parquet"))
        return size / max(1, len(blocks) * BODIES * LINES_PER_BODY)

    def _files_per_block(self) -> float:
        blocks = self._blocks()
        return sum(1 for b in blocks for _ in b.rglob("*.parquet")) / max(1, len(blocks))
