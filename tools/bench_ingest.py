"""BENCH_INGEST: scrape→parse→append throughput (samples/sec).

Mirrors the reference's ingest hot loop — scrape bodies through the
exposition parsers into the canonical samples layout
(scrape/scrape.go:829 append loop; tsdb/head_bench_test.go appender
throughput) — re-expressed as the Spark pipeline:

    bodies → explode(split(lines)) → JVM exposition parse → to_samples

Three timed stages isolate the bottleneck (each consumes its outputs —
count() alone would let Catalyst prune the parse work):

    lines   JVM-side split/explode + line materialization
    parse   + the exposition parser (one scan of Catalyst expressions)
    append  + JVM map assembly, sig hash, canonical projection

plus the same full pipeline under Structured Streaming (file source →
noop sink, availableNow) — the deployment shape, including stream
scheduling overhead.

Writes one JSON line and BENCH_INGEST.json at the repo root.
Env: BENCH_INGEST_BODIES (distinct bodies, default 192),
     BENCH_INGEST_REPL (replication factor, default 52),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_body(idx: int, ts_ms: int) -> str:
    """One synthetic scrape body ≈ a node-exporter-ish target: 200
    counters, 160 gauges, 8 classic histogram families (12 series each)
    = 456 samples, timestamps embedded per line."""
    lines = []
    for i in range(200):
        lines.append(
            f'http_requests_total{{job="api",instance="i{idx}",path="/p{i}",'
            f'code="{200 + (i % 5)}"}} {i * 7 + idx} {ts_ms}'
        )
    for i in range(160):
        lines.append(
            f'process_open_fds{{job="api",instance="i{idx}",slot="{i}"}} '
            f"{(i * 13 + idx) % 997}.5 {ts_ms}"
        )
    for h in range(8):
        cum = 0
        for j, le in enumerate(
            ("0.005", "0.01", "0.05", "0.1", "0.5", "1", "2.5", "5", "10", "+Inf")
        ):
            cum += (j + 1) * (h + 1)
            lines.append(
                f'rpc_latency_bucket{{job="api",instance="i{idx}",'
                f'handler="h{h}",le="{le}"}} {cum} {ts_ms}'
            )
        lines.append(
            f'rpc_latency_sum{{job="api",instance="i{idx}",handler="h{h}"}} '
            f"{cum * 0.42:.3f} {ts_ms}"
        )
        lines.append(
            f'rpc_latency_count{{job="api",instance="i{idx}",handler="h{h}"}} '
            f"{cum} {ts_ms}"
        )
    return "\n".join(lines)


def main() -> None:
    n_bodies = int(os.environ.get("BENCH_INGEST_BODIES", "192"))
    repl = int(os.environ.get("BENCH_INGEST_REPL", "52"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench_ingest")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.buffer.pageSize", "1m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from prometheus_spark.sources.openmetrics import parse_openmetrics_df
    from prometheus_spark.sources.promtext import (
        parse_exposition_df,
        to_samples,
    )

    bodies = [make_body(i, 1_000_000 + i) for i in range(n_bodies)]
    lines_per_body = bodies[0].count("\n") + 1
    total_samples = n_bodies * repl * lines_per_body
    bdf = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], "idx long, body string"
    )
    # replicate JVM-side: parse cost is per line, label VALUES don't
    # change it, so identical replicas measure the same work as distinct
    # targets without driver-side generation of gigabytes of text
    lines = (
        bdf.crossJoin(spark.range(repl).select(F.col("id").alias("r")))
        .select(F.explode(F.split("body", "\n")).alias("line"))
        .repartition(int(cpus) * 2)
        .localCheckpoint()  # materialize inputs: stages time work, not gen
    )

    # min-of-N steady state, matching the other suites' methodology
    # (bench_promql/bench.py: the reference's go-bench loop measures
    # steady state; single-shot numbers on this box carry ±10% noise —
    # three identical-code runs measured 761/915/932 k samples/s)
    runs = int(os.environ.get("BENCH_INGEST_RUNS", "2"))

    def timed(df, agg_cols) -> float:
        best = None
        for _ in range(max(1, runs)):
            t0 = time.monotonic()
            df.agg(*agg_cols).collect()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return best

    # warm-up: compile the parse and append codegen on a slice
    warm = lines.limit(5000)
    to_samples(parse_exposition_df(warm)).agg(
        F.count("*"), F.sum(F.crc32(F.col("sig")))
    ).collect()

    results = {}
    # stage: lines (JVM only — split/explode/materialize)
    results["lines_sec"] = timed(lines, [F.count("*"), F.sum(F.length("line"))])
    # stage: + exposition parse (consume parsed outputs)
    parsed = parse_exposition_df(lines)
    results["parse_sec"] = timed(
        parsed, [F.count("*"), F.sum("t"), F.sum("value")]
    )
    # stage: + sig/map/canonical projection (the append shape)
    samples = to_samples(parse_exposition_df(lines))
    results["append_sec"] = timed(
        samples,
        [F.count("*"), F.sum(F.crc32(F.col("sig"))), F.sum("value")],
    )
    # openmetrics parser on the same lines (no EOF; lenient mode)
    om = parse_openmetrics_df(lines)
    results["openmetrics_parse_sec"] = timed(
        om, [F.count("*"), F.sum("t"), F.sum("value")]
    )

    # Structured Streaming: the same pipeline as a stream job.  File
    # source → noop sink with availableNow covers scheduling + batch
    # planning overhead on top of the batch numbers.
    src_dir = "/tmp/bench_ingest_src"
    ckpt = "/tmp/bench_ingest_ckpt"
    for d in (src_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    lines.write.mode("overwrite").text(src_dir)
    t0 = time.monotonic()
    stream = spark.readStream.format("text").load(src_dir)
    q = (
        to_samples(parse_exposition_df(stream, line_col="value"))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    results["stream_sec"] = time.monotonic() - t0

    out = {
        "metric": "ingest_samples_per_sec",
        "value": round(total_samples / results["append_sec"]),
        "unit": "samples/sec",
        "total_samples": total_samples,
        "bodies": n_bodies * repl,
        "lines_per_body": lines_per_body,
        "stages_sec": {k: round(v, 3) for k, v in results.items()},
        "stream_samples_per_sec": round(total_samples / results["stream_sec"]),
        "openmetrics_samples_per_sec": round(
            total_samples / results["openmetrics_parse_sec"]
        ),
        "cpus": cpus,
        "runs": runs,
        "timing": "min",
    }
    print(json.dumps(out))
    with open(os.path.join(REPO, "BENCH_INGEST.json"), "w") as f:
        json.dump(out, f, indent=1)
    for d in (src_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
