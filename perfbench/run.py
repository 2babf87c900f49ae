"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_commit --seed 1 \
        --seconds 20 --trace 0

Workloads (see workloads.py and BENCHMARK.json for why each exists):
  extract_commit      plans.lineage.run_extraction of seeded pages into a
                      fresh catalog, back to back
  curate_corpus       the six curate stages over seeded documents, each
                      committed with Catalog.overwrite, back to back
  ingest_incremental  open loop: small page batches appended on a fixed
                      period while a consumer tails them with
                      read_incremental and runs day-sliced reads

A run starts a local[nproc] session, stages the workload's inputs from
the seed, computes their reference outputs (golden extraction or the
DuckDB oracle), measures for --seconds, checks every output against its
reference, and prints every metric by name and unit. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}, where
metrics holds BENCHMARK.json's end_to_end metrics (--trace 0) or its
per_layer metrics (--trace 1; a layer the workload does not exercise
reads 0). A traced run alternates traced and untraced iterations and
reports the difference of their medians as trace.overhead_s; its spans go to
.perfbench_work/traces/. Nothing is written outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
import uuid

START = time.perf_counter()

import env  # noqa: E402

WATCHDOG_S = 170.0  # a run must end within 180 s


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for smoke tests")
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_watchdog() -> threading.Timer:
    def fire() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S:.0f} s; killing it",
              file=sys.stderr, flush=True)
        for pid in env.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        env.wait_for_children(timeout=5)
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()
    return t


def spark_layers(tracer, spark_spans) -> dict[str, tuple[float, str]]:
    tracer.attach_stage_metrics()
    out = {}
    units = {"run_s": "s", "cpu_s": "s", "shuffle_mb": "MiB",
             "spill_mb": "MiB", "tasks": "count"}
    for name, span_names in spark_spans.items():
        calls = sum(len(tracer.by_name(s)) for s in span_names)
        tot = {k: 0.0 for k in units}
        for s in span_names:
            for k, v in tracer.spark_totals(s).items():
                tot[k] += v
        for k, unit in units.items():
            # per call: a span name can open many times in one run
            out[f"spark.{name}.{k}"] = (tot[k] / calls if calls else 0.0,
                                        unit)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not env.package_present():
        print(f"perfbench: package {env.PACKAGE} not found under "
              f"{env.ROOT}; nothing to benchmark", file=sys.stderr)
        return 2
    spec = load_spec()
    run_id = (f"{args.workload}-s{args.seed}-t{args.trace}-"
              f"{uuid.uuid4().hex[:8]}")
    run_dir = os.path.join(env.WORK_ROOT, "runs", run_id)
    dirs = env.prepare(run_dir)  # before any import that may cache TMPDIR
    watchdog = start_watchdog()
    sys.path.insert(0, env.ROOT)
    try:
        import workloads  # noqa: PLC0415 — imports pyspark and the package
        from spans import Tracer  # noqa: PLC0415

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r} (choose "
                  f"from {', '.join(workloads.WORKLOADS)})", file=sys.stderr)
            return 2
        with env.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = env.start_session()
            session_start_s = time.perf_counter() - t0
            try:
                tracer = Tracer(run_id, enabled=bool(args.trace),
                                spark=spark)
                ctx = workloads.Ctx(
                    seed=args.seed, seconds=args.seconds,
                    traced=bool(args.trace), scale=args.scale, dirs=dirs,
                    spark=spark, tracer=tracer, cores=env.nproc(),
                    session_start_s=session_start_s)
                ctx.layer("session.start_s", session_start_s, "s")
                workloads.WORKLOADS[args.workload](ctx)
                if args.trace:
                    ctx.layers.update(
                        spark_layers(tracer, workloads.SPARK_SPANS))
                ctx.marks["checked"] = time.perf_counter()
            finally:
                env.stop_session(spark)
                env.wait_for_children()
        ctx.marks["stopped"] = time.perf_counter()
        ctx.e2e["peak_rss_mb"] = (rss.peak_mb, "MiB")
        ctx.rss_parts = rss.peak_parts
        ctx.e2e["error_rate"] = (ctx.failed / max(1, ctx.attempted), "ratio")
        stamp = env.stamp(args.seed)
        report(args, spec, ctx, stamp, tracer, run_id)
    finally:
        watchdog.cancel()
        env.remove_tree(run_dir)
    return 0


def report(args, spec: dict, ctx, stamp: dict, tracer, run_id: str) -> None:
    for name, (v, unit) in ctx.e2e.items():
        print(f"metric {args.workload} {name} = {v:.6g} {unit}")
    if args.trace:
        for name, (v, unit) in sorted(ctx.layers.items()):
            print(f"layer {args.workload} {name} = {v:.6g} {unit}")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(f"correct {ctx.failed == 0} attempted {ctx.attempted} "
          f"failed {ctx.failed}")
    for msg in ctx.failures[:20]:
        print(f"failure {msg}")
    if args.trace:
        metrics = {m["name"]: {"value": ctx.layers.get(
                       m["name"], (0.0, m["unit"]))[0], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": ctx.e2e[m["name"]][0],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record = {"run_id": run_id, "workload": args.workload,
              "seed": args.seed, "trace": args.trace, "stamp": stamp,
              "e2e": {k: list(v) for k, v in ctx.e2e.items()},
              "layers": {k: list(v) for k, v in ctx.layers.items()},
              "walls": ctx.walls, "cpus": ctx.cpus,
              "peak_rss_parts_kib": ctx.rss_parts,
              "phases_s": {k: v - START for k, v in ctx.marks.items()},
              "attempted": ctx.attempted,
              "failed": ctx.failed, "failures": ctx.failures}
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(env.WORK_ROOT, sub), exist_ok=True)
    with open(os.path.join(env.WORK_ROOT, "results",
                           f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(env.WORK_ROOT, "traces", f"{run_id}.json"))
    print(json.dumps({"correct": ctx.failed == 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    sys.exit(main())
