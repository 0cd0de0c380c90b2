"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload osw_small_loads --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. It writes only under ``.perfbench/``
there: cached inputs, the run's warehouse and Spark scratch space, and the
span file of a traced run. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The exit code is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tdei_extract_load_service_spark"


#: JVM options of the benchmark's session. A fixed set of JIT compiler
#: threads: with the default dynamic set, a compiler thread that exits
#: mid-op takes its CPU out of the per-thread figures that
#: ``cpu_s_per_op`` subtracts. A 2 GB initial heap: grown from the
#: default 1/64 of memory, one run in seven spent 1.4-1.9 s of GC thread
#: CPU per small load where the others spent about 0.1 s.
JVM_OPTIONS = "-Xms2g -XX:-UseDynamicNumberOfCompilerThreads"


def _prepare(work: str) -> None:
    """Point every scratch location of Spark and Python at ``work``."""
    for sub in ("spark-local", "tmp", "warehouse-sql"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf \"spark.driver.extraJavaOptions={JVM_OPTIONS} -Djava.io.tmpdir={work}/tmp\" "
        f"--conf spark.sql.warehouse.dir={work}/warehouse-sql pyspark-shell"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit: PySpark's
    gateway JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _kind_medians(res, samples: list[float]) -> list[float]:
    """Median of ``samples`` (one per op) for each op kind (one kind on
    OSW, one per entry on the catalog), so a partly run pass does not
    tilt the mix."""
    by_kind: dict[str, list[float]] = {}
    for x, kind in zip(samples, res.op_kinds):
        by_kind.setdefault(kind, []).append(x)
    return [statistics.median(v) for v in by_kind.values()]


def latency_geomean_s(res) -> float:
    """Geometric mean over op kinds of each kind's median latency: the
    median load latency on OSW (one kind), and on the catalog a figure
    that no single entry's rank in the pass decides."""
    meds = _kind_medians(res, res.latencies)
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def end_to_end(res) -> dict:
    cpu = _kind_medians(res, res.op_cpu)
    return {
        "setup_s": (res.setup_s, "s"),
        "latency_geomean_s": (latency_geomean_s(res), "s"),
        "ops_per_s": (res.timed_ops / res.timed_wall_s, "1/s"),
        "cpu_s_per_op": (sum(cpu) / len(cpu), "s"),
    }


def per_layer(res, spec: list[dict], untraced_latency: float | None) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not reach reads 0. Per traced op: seconds are medians, counts and
    bytes means (exact when the ops repeat their counts)."""
    values = dict(res.layer)
    keys = {k for op in res.op_layers for k in op}
    for key in keys:
        xs = [op.get(key, 0.0) for op in res.op_layers]
        values[key] = statistics.median(xs) if key.endswith("_s") else sum(xs) / len(xs)
    values["session.start_s"] = res.start_s
    values["session.warmup_s"] = res.setup_s - res.start_s
    values["host.steal_frac"] = res.steal_frac
    if untraced_latency is not None:
        values["trace.overhead_s"] = latency_geomean_s(res) - untraced_latency
    return {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in spec}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run a tiny load and catalog entry twice; require identical job, "
                         "stage and task counts")
    args = ap.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(spec_path):
        print(f"perfbench: {PACKAGE}/ or BENCHMARK.json missing under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    last = os.path.join(base, "last", f"{args.workload}.json")
    _prepare(work)
    import workloads

    try:
        if args.selftest:
            import selftest

            return selftest.main(workloads.Run(args.seed, 0, True, work, os.path.join(base, "inputs")))
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: --workload must be one of {sorted(workloads.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        run = workloads.Run(args.seed, args.seconds, bool(args.trace), work,
                            os.path.join(base, "inputs"))
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    n = len(res.latencies)
    if res.timed_ops == 0:
        res.check_errors.append("no whole pass of ops completed")
        metrics = {}
    elif args.trace:
        # tracing overhead: this run's latency_geomean_s against the last
        # untraced run of the workload in this checkout
        try:
            with open(last) as fh:
                untraced_latency = json.load(fh)["latency_geomean_s"]
        except (OSError, ValueError, KeyError):
            untraced_latency = None
            print("# trace.overhead_s: no untraced run of this workload yet, reads 0")
        metrics = per_layer(res, spec["per_layer"], untraced_latency)
    else:
        metrics = end_to_end(res)
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump({"latency_geomean_s": metrics["latency_geomean_s"][0]}, fh)
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {n} ops in "
          f"{res.timed_wall_s:.1f} s timed, host.steal_frac={res.steal_frac:.4f}")
    print("# op latencies (s): " + " ".join(f"{x:.3f}" for x in res.latencies))
    print("# op CPU, JIT excluded (s): " + " ".join(f"{x:.2f}" for x in res.op_cpu))
    for name, (value, unit) in metrics.items():
        print(f"#   {name:40s} {value:14.6g} {unit:6s} (n={n} ops)")
    if args.trace:
        spans = os.path.join(base, "spans", f"{args.workload}-{args.seed}.json")
        res.tracer.write(spans)
        print(f"# spans: {len(res.tracer.spans)} written to {os.path.relpath(spans, ROOT)}")
    for err in res.check_errors:
        print(f"# CHECK FAILED: {err}")
    correct = not res.check_errors and res.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
