"""Ingestion benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``
(perfbench/gen.py); the package under test receives only the staged
files. Each workload is a closed loop: the next pass, poll or request
starts when the previous one returned. Every output is checked
against an independent computation (the per-workload modules and
perfbench/oracle.py); a wrong output counts as a failed operation.

stdout: one report line (``{"report": ...}``: host record, samples,
checks, and with ``--trace 1`` the spans' self times and the tracing
overhead), then, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Spark's own logging goes to stderr.

Exit codes: 0 after a completed run (a failed check still exits 0
with ``correct: false``), 2 when the package is not importable from
the working directory, 1 on an unexpected error (no result line).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "flink_elasticsearch_ingestion_spark"
WORKLOADS = ("backfill_copy", "search_serving", "admission_polls")


def metric_units(root: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json:
    every workload prints every end-to-end metric (README.md says what
    each one is on each workload); a layer a workload does not run
    reports 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE!r} not found under {root}", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units(root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    import gen
    from harness import Tracer, host_record, prepare_env, stop_spark

    prepare_env(root, work)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.monotonic()
        from flink_elasticsearch_ingestion_spark import get_spark

        spark = get_spark("perfbench")
        session_s = time.monotonic() - t0
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark.sparkContext, run_id, enabled=bool(args.trace))
        out = run_workload(spark, args, work, tracer)
        out["setup_s"] += session_s
        report = {
            "workload": args.workload,
            "host": host_record(spark, args.seed),
            "session_s": session_s,
            "params": gen.params(),
            **{k: v for k, v in out.items() if k not in ("layers",)},
        }
        if args.trace:
            layers = {k: 0 for k in layer_units}
            layers.update(out["layers"])
            layers["session.get_spark_s"] = session_s
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in layer_units.items()}
            report["spans"] = tracer.finish()
            report["self_s"] = _self_times(report["spans"])
        else:
            metrics = {k: {"value": float(out[k]), "unit": u} for k, u in e2e_units.items()}
        attempted, failed = int(out["attempted"]), int(out["failed"])
        report["failed_ops_ratio"] = failed / max(1, attempted)
        result = {
            "correct": failed == 0 and not out["problems"],
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            _rmdir_if_empty(os.path.dirname(work))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def run_workload(spark, args, work: str, tracer) -> dict:
    import admission
    import backfill
    import search

    if args.workload == "admission_polls":
        return admission.run(spark, args.seed, args.seconds, work, tracer)
    if args.workload == "backfill_copy":
        return backfill.run(spark, args.seed, args.seconds, work, tracer)
    out = search.run(spark, args.seed, args.seconds, work, tracer)
    if tracer.enabled:
        # the streaming layers are traced here too: admission_polls
        # costs too much per run to be listed in BENCHMARK.json
        # (README.md), so this keeps every layer in a listed workload.
        # It rides on this workload's traced run, the shorter one, so
        # that each traced run ends well within 180 s.
        adm = admission.run(spark, args.seed, 0, os.path.join(work, "admission"), tracer)
        out["layers"].update(adm["layers"])
        out["attempted"] += adm["attempted"]
        out["failed"] += adm["failed"]
        out["problems"] += adm["problems"]
        out["admission"] = {"samples": adm["samples"]}
    return out


def _self_times(spans: list[dict]) -> dict:
    """Summed self time per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["self_s"]
    return out


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
