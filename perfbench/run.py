"""Benchmark runner for panditya_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

It generates the workload's inputs from ``--seed`` inside the checkout,
sets the engine up, measures for ``--seconds`` seconds, checks every
answer outside the timed interval, and prints a summary line followed,
as the last line, by one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans and Spark job records and reports
the per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys

from batch import QUANTITIES, QUERIES, QUERY_LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

END_TO_END = ["setup_s", "p50_s"]

LAYERS = [
    "session", "etl", "serving", "operators.dedup", "operators.similarity",
    "streaming.windows", "sources.sinks", "harness",
]
# The per-layer metrics, reported by every traced run; a layer the
# workload does not reach reports 0.
PER_LAYER = (
    [
        "session.get_spark.s",
        "etl.entities_from_csv.s", "etl.edges_from_entities.s",
        "etl.etext_links_from_csv.s", "etl.jobs",
        "serving.dropdown_options.s",
        "serving.subgraph.jobs", "serving.subgraph.job_busy_s",
        "serving.subgraph.driver_gap_s", "serving.subgraph.rows_out",
        "serving.subgraph_deep.jobs", "serving.subgraph_deep.s",
        "serving.seti.jobs", "serving.seti.job_busy_s", "serving.seti.driver_gap_s",
        "serving.seti.s",
        "serving.lookup.jobs", "serving.lookup.driver_gap_s", "serving.lookup.s",
    ]
    + [f"{QUERY_LAYERS[q]}.{q}.{k}" for q in QUERIES for k in QUANTITIES]
    + [f"{layer}.self_s" for layer in LAYERS]
    + [f"traced.{m}" for m in END_TO_END]
    + ["host.peak_rss_mb", "host.steal_share", "host.loadavg_start"]
)
_E2E_UNITS = {"setup_s": "s", "p50_s": "s"}


def unit_of(name: str) -> str:
    if name.startswith("traced."):
        return _E2E_UNITS[name[len("traced."):]]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("jobs"):
        return "count"
    return {"serving.subgraph.rows_out": "rows", "host.steal_share": "share",
            "host.loadavg_start": "load"}[name]


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("panditya_spark/serving.py", "panditya_spark/plans/__init__.py",
                  "scripts/check_parity.py")
    )


def _isolate(work_dir: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside the
    checkout, and size the engine to this host's CPUs."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
    # both from spark-submit's launcher JVM and from the Spark driver's JVM.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("OMP_NUM_THREADS", None)


def _workloads():
    import batch
    import serve

    return {
        "serve": serve.run,
        "data_pipeline": lambda h: batch.run(h, ROOT),
    }


def _program_digest() -> str:
    """Digest of the engine, the benchmark and the parity script, so a
    traced run is compared only with an untraced run of the same code."""
    sha = hashlib.sha256()
    files = [os.path.join(ROOT, "scripts", "check_parity.py")]
    for top in ("panditya_spark", "perfbench"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        sha.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            sha.update(fh.read())
    return sha.hexdigest()


def _overhead(workload: str, seed: int, program: str, traced: dict) -> dict[str, float] | None:
    """Tracing overhead on each end-to-end metric, against the untraced
    run of the same workload, seed and code in .perfbench/results; None
    when there is no such run."""
    path = os.path.join(OUT_DIR, "results", f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)
    if base.get("program") != program:
        return None
    return {
        m: traced[m] / base["metrics"][m]["value"] - 1.0
        for m in END_TO_END
        if base["metrics"].get(m, {}).get("value")
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print("perfbench: panditya_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(OUT_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work_dir)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    from harness import Run

    # A terminated run still stops the JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    program = _program_digest()
    h = Run(work_dir, args.seed, args.seconds, bool(args.trace))
    try:
        res = workloads[args.workload](h)
        host = h.host_metrics()
    finally:
        h.stop()
        shutil.rmtree(work_dir, ignore_errors=True)

    failed = len(res["failures"])
    e2e = res["e2e"]
    summary = {
        **e2e,
        **res["summary"],
        "failed_share": failed / res["attempted"],
        "session_start_s": h.get_spark_s,
        **host,
    }
    if args.trace:
        layers = {m: 0.0 for m in PER_LAYER}
        layers.update(res["per_layer"])
        layers["session.get_spark.s"] = h.get_spark_s
        for layer, s in h.tracer.self_time_by_layer().items():
            layers[f"{layer}.self_s"] = s
        for m in END_TO_END:
            layers[f"traced.{m}"] = e2e[m]
        layers.update(host)
        metrics = {m: {"value": layers[m], "unit": unit_of(m)} for m in PER_LAYER}
        measured = {m: {"value": v, "unit": unit_of(m)} for m, v in layers.items()}
        overhead = _overhead(args.workload, args.seed, program, e2e)
        summary["trace_overhead"] = overhead
    else:
        metrics = {m: {"value": e2e[m], "unit": _E2E_UNITS[m]} for m in END_TO_END}

    result = {
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(OUT_DIR, "results"), exist_ok=True)
    stem = os.path.join(OUT_DIR, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({**result, "summary": summary, "failures": res["failures"],
                   "program": program}, fh, indent=1)
    if args.trace:
        with open(stem + "-spans.json", "w") as fh:
            json.dump({"spans": h.tracer.spans, "per_layer": measured,
                       "trace_overhead": overhead}, fh)
    for f in res["failures"][:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print("summary " + json.dumps(summary, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
