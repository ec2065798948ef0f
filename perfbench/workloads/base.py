"""What every workload provides, and the query-serving helpers: issuing a
request through ``PromAPI.handle``, reading and checking its answer, and
the query-layer rows of the traced table."""

from __future__ import annotations

import json
import math



class Workload:
    """One named workload.  ``prepare`` makes the inputs and fills caches
    (it runs several times; ``release`` undoes it in between), ``warmup``
    runs the operations once outside the measured period on a recorder of
    its own, and ``op`` is one closed-loop operation that times and checks
    itself on the recorder it is given."""

    name = ""
    main_kind = "query"
    work_unit = "queries"

    def __init__(self, spark, seed: int, work, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def prepare(self) -> None:
        raise NotImplementedError

    def release(self) -> None:
        raise NotImplementedError

    def warmup(self, rec) -> None:
        raise NotImplementedError

    def op(self, rec, i: int) -> None:
        raise NotImplementedError

    def throughput(self, rec, wall_s: float) -> float:
        """Work units per second, reported as ``work_per_s``."""
        return rec.work / wall_s

    def details(self, rec, wall_s: float) -> dict:
        return {}

    def layer_metrics(self, table: dict, rec, tracer, counts: dict) -> dict:
        return {}

    def close(self) -> None:
        self.release()


# ---------------------------------------------------------------------------
# requests and answers


def close(got: float, want: float, rel: float = 1e-6) -> bool:
    return math.isclose(got, want, rel_tol=rel, abs_tol=1e-9)


def instant_params(query: str, t_ms: int) -> dict:
    return {"query": [query], "time": [_secs(t_ms)]}


def range_params(query: str, start_ms: int, end_ms: int, step_ms: int) -> dict:
    return {
        "query": [query],
        "start": [_secs(start_ms)],
        "end": [_secs(end_ms)],
        "step": [_secs(step_ms)],
    }


def _secs(ms: int) -> str:
    return f"{ms // 1000}.{ms % 1000:03d}"


class QueryClient:
    """Issues API requests inside a ``web.handle`` span and, in a traced
    run, notes the size of each JSON response."""

    def __init__(self, api, tracer):
        self.api = api
        self.tracer = tracer
        self.response_bytes = 0

    def call(self, path: str, params: dict) -> tuple[int, dict]:
        with self.tracer.span("web.handle", path=path):
            return self.api.handle(path, params)

    def note_size(self, resp: dict) -> None:
        if self.tracer.enabled:
            self.response_bytes += len(json.dumps(resp))


def answer(code: int, resp: dict) -> tuple[str, list]:
    """(resultType, result) of a successful query response; raises
    ``ValueError`` with the error text otherwise."""
    if code != 200 or resp.get("status") != "success":
        raise ValueError(f"HTTP {code}: {resp.get('error')}")
    data = resp["data"]
    return data["resultType"], data["result"]


def _key(metric: dict) -> tuple:
    return tuple(sorted((k, v) for k, v in metric.items() if k != "__name__"))


def check_matrix(
    code: int, resp: dict, want: dict, start_ms: int, end_ms: int, step_ms: int
) -> str | None:
    """A range answer has exactly the series in ``want`` (label tuples
    without ``__name__``), each with one point per step, every value equal
    to the wanted value.
    Returns None when right, else what is wrong."""
    rtype, result = answer(code, resp)
    if rtype != "matrix":
        return f"resultType {rtype}"
    got = {_key(s["metric"]): s.get("values", []) for s in result}
    if set(got) != set(want):
        return f"series {sorted(got)[:3]}... != {sorted(want)[:3]}..."
    n_steps = (end_ms - start_ms) // step_ms + 1
    for key, values in got.items():
        if len(values) != n_steps:
            return f"{key}: {len(values)} points, want {n_steps}"
        w = want[key]
        for t, v in values:
            t_ms = round(float(t) * 1000)
            if not close(float(v), w):
                return f"{key} at {t_ms}: {v} != {w}"
    return None


def check_vector(code: int, resp: dict, want: dict) -> str | None:
    rtype, result = answer(code, resp)
    if rtype != "vector":
        return f"resultType {rtype}"
    got = {_key(s["metric"]): float(s["value"][1]) for s in result}
    if set(got) != set(want):
        return f"series {sorted(got)[:3]}... != {sorted(want)[:3]}..."
    for key, v in got.items():
        if not close(v, want[key]):
            return f"{key}: {v} != {want[key]}"
    return None


# ---------------------------------------------------------------------------
# traced-run rows of the query layers


def per(table: dict, name: str, field: str, n: float) -> float:
    return table.get(name, {}).get(field, 0.0) / n if n else math.nan


def query_layer_metrics(table, tracer, counts, n_queries, response_bytes) -> dict:
    plan = table.get("engine.plan", {"calls": 0, "total_ms": 0.0})
    q = counts.get("query", {"jobs": 0, "tasks": 0})
    n = max(1, n_queries)
    return {
        "parser.parse_ms": per(table, "parser.parse", "self_ms", n),
        "parser.calls_per_query": tracer.parse_calls / n,
        "engine.plan_ms": plan["total_ms"] / max(1, plan["calls"]),
        "engine.plan_cache_hit_ratio": tracer.plan_hits / max(1, tracer.plan_calls),
        "engine.exec_ms": per(table, "engine.exec", "total_ms", n),
        "engine.spark_jobs_per_query": q["jobs"] / n,
        "engine.tasks_per_query": q["tasks"] / n,
        "engine.rows_out": tracer.exec_rows / n,
        "web.render_ms": per(table, "web.render", "total_ms", n),
        "web.response_bytes": response_bytes / n,
        "web.overhead_ms": per(table, "web.handle", "self_ms", n),
    }
