#!/usr/bin/env python3
"""ontograph-spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload construct --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end metrics
with tracing off; ``--trace 1`` is the separate traced run that reports the
per-layer metrics (spans around each layer call plus Spark's status REST
API). Both check the program's outputs. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries the details (sample counts, host noise, the issue-style
per-workload metric names). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness as H  # noqa: E402

#: end-to-end metrics (tracing off): name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "ops/s",
    "cpu_s_per_op": "s",
    "triples_per_s": "triples/s",
    "store_bytes_per_triple": "B",
    "peak_rss_mb": "MB",
}
#: per-layer metrics (traced run): name -> unit
PER_LAYER = {
    "pipeline.ingest.busy_s": "s",
    "pipeline.extract.busy_s": "s",
    "pipeline.extract.mentions": "count",
    "pipeline.link.busy_s": "s",
    "pipeline.link.alias_pairs": "count",
    "pipeline.canon.busy_s": "s",
    "pipeline.construct.busy_s": "s",
    "pipeline.construct.quads": "count",
    "pipeline.construct.dedup_keep_ratio": "ratio",
    "pipeline.materialize.busy_s": "s",
    "pipeline.materialize.bytes_written": "B",
    "pipeline.materialize.partition_skew": "ratio",
    "store.merge.busy_s": "s",
    "store.commit.rows_rewritten": "rows",
    "store.commit.write_amp": "ratio",
    "store.commit.full_rewrite_frac": "ratio",
    "store.scan.busy_s": "s",
    "store.scan.files": "count",
    "store.sparql_store.requests_per_op": "req/op",
    "query.sparql.compile_s": "s",
    "query.sparql.execute_s": "s",
    "query.endpoint.bindings_s": "s",
    "query.results.serialize_s": "s",
    "query.results.bytes": "B",
    "query.http.overhead_s": "s",
    "query.endpoint.update_s": "s",
    "spark.jobs": "jobs/op",
    "spark.tasks": "tasks/op",
    "spark.task_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.spill_mb": "MB/op",
    "spark.shuffle_write_mb": "MB/op",
    "spark.busy_frac": "ratio",
    "trace.overhead_s": "s",
    "ops_failed_frac": "failed/attempted",
}


@dataclass
class Context:
    spark: object
    run_dir: Path
    seed: int
    rows: int | None
    extra_rss_kb: int = 0

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["construct", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--rows",
        type=int,
        default=None,
        help="override the input size (smoke tests); default: the workload's own",
    )
    return ap.parse_args(argv)


def workload_class(name: str):
    if name == "construct":
        from wl_construct import ConstructWorkload

        return ConstructWorkload
    from wl_serve import ServeWorkload

    return ServeWorkload


def per_op(delta: dict, ops: int) -> dict:
    out = {}
    for k, v in delta.items():
        out[k] = v if k == "spark.busy_frac" else v / max(ops, 1)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not (H.ROOT / "ontograph_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no ontograph_spark package under {H.ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(H.ROOT))
    run_dir = H.WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    H.prepare_environment(run_dir)
    noise = H.HostNoise()
    trace = bool(args.trace)

    spark = H.start_spark(run_dir, ui=trace)
    ctx = Context(spark=spark, run_dir=run_dir, seed=args.seed, rows=args.rows)
    wl = workload_class(args.workload)(ctx)
    try:
        wl.setup()
        setup_s = time.perf_counter() - t_start
        tracer = H.Tracer(trace)
        if trace:
            untraced = wl.loop(args.seconds / 2)
            status = H.SparkStatus(spark)
            before = status.snapshot()
            res = wl.loop(args.seconds / 2, tracer)
            spark_counts = per_op(
                status.delta(before, status.snapshot(), res["elapsed"]),
                len(res["walls"]),
            )
        else:
            res = wl.loop(args.seconds)
        rss = H.peak_rss_mb(spark, ctx.extra_rss_kb)
        metrics = {"setup_s": setup_s, **wl.metrics(res), "peak_rss_mb": rss}
        detail = wl.detail(res)
        checks = wl.checks()
        if trace:
            layer, layer_checks = wl.layer_metrics(tracer)
            checks += layer_checks
            layer.update(spark_counts)
            layer["trace.overhead_s"] = H.median(res["walls"]) - H.median(
                untraced["walls"]
            )
            res["failed"] += untraced["failed"]
            res["walls"] = untraced["walls"] + res["walls"]
            tracer.dump(H.WORK / f"spans-{args.workload}-{args.seed}.json")
            detail["span_self_s"] = {
                k: round(v, 4) for k, v in sorted(tracer.self_times().items())
            }
    finally:
        wl.close()
        H.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(res["walls"]) + res["failed"] + len(checks)
    failed = res["failed"] + sum(1 for _, ok in checks if not ok)
    if trace:
        layer["ops_failed_frac"] = failed / attempted
        values = {k: layer.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
        detail["end_to_end"] = metrics
    else:
        values, units = metrics, END_TO_END
    detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        host=noise.report(),
        checks={name: ok for name, ok in checks},
    )
    print("perfbench-detail " + json.dumps(detail, default=float), flush=True)
    # a run with no successful op has no medians; keep the line valid JSON
    finite = {k: float(v) if math.isfinite(v) else 0.0 for k, v in values.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": finite[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
