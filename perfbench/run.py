"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|churn --seed N --seconds S --trace 0|1

Run from the repository root.  Prints diagnostics, then as the last line of
stdout one JSON object: {"correct", "attempted", "failed", "metrics"}.
With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the Spark event log is on and the metrics are the per-layer
table (also written, with the tracing overhead against the untraced run of
the same seed or else the latest one, under ``.perfbench/out/``).

Everything the run writes stays under ``.perfbench/`` in the repository
root: the store, Spark's local and temp dirs, the event log and the
outputs.  The work directory is removed at the end of the run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "churn"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> dict:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work``; returns the Spark conf that does so."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = java_opts
    return {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def traced_metrics(bench, diag: dict, e2e_values: dict, events: str,
                   out_dir: str, seed: int) -> dict:
    """Per-layer metrics from the event log; writes the layer table and the
    tracing overhead (traced minus untraced end-to-end figures)."""
    from perfbench.eventlog import read_events, span_totals
    from perfbench.trace import LAYER_METRICS, layer_table

    (log,) = glob.glob(os.path.join(events, "*"))
    totals = span_totals(read_events(log), bench.tr.spans)
    extras, frames = bench.layer_inputs()
    layers = layer_table(totals, extras, frames)
    # the untraced run of the same seed, else the latest untraced run
    same = os.path.join(out_dir, f"untraced_seed{seed}.json")
    runs = sorted(glob.glob(os.path.join(out_dir, "untraced_seed*.json")),
                  key=os.path.getmtime)
    untraced = None
    if runs:
        with open(same if os.path.exists(same) else runs[-1]) as f:
            untraced = json.load(f)
    overhead = (
        {k: e2e_values[k] - untraced["metrics"][k] for k in e2e_values}
        if untraced else None
    )
    with open(os.path.join(out_dir, f"layers_seed{seed}.json"), "w") as f:
        json.dump({"diagnostics": diag, "layers": layers,
                   "traced_end_to_end": e2e_values,
                   "untraced_reference": untraced,
                   "overhead_traced_minus_untraced": overhead},
                  f, indent=1, sort_keys=True)
    return {name: {"value": layers[name], "unit": unit} for name, unit in LAYER_METRICS}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bliss_rs_spark", "__init__.py")):
        print(f"perfbench: no bliss_rs_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import Bench

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    conf = isolate(work)
    if args.trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work, conf)
    try:
        bench.run()
        e2e = bench.end_to_end()
        if args.trace:
            bench.traced_extras()
        diag = bench.diagnostics()
        host.stop_spark(bench.spark)  # also flushes the event log
        print("diagnostics: " + json.dumps(diag, sort_keys=True))
        e2e_values = {k: v for k, (v, _) in e2e.items()}
        if args.trace:
            metrics = traced_metrics(bench, diag, e2e_values, events, out_dir, args.seed)
        else:
            with open(os.path.join(out_dir, f"untraced_seed{args.seed}.json"), "w") as f:
                json.dump({"seed": args.seed, "metrics": e2e_values}, f, indent=1)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if hasattr(bench, "spark") and host.jvm_process() is not None:
            host.stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    ledger = bench.ledger
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
