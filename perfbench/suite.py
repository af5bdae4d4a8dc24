#!/usr/bin/env python3
"""Run the benchmark's workloads together, or its self-tests.

    python3 perfbench/suite.py all [--seed 1] [--seconds 10]
        every workload once, untraced; prints each end-to-end metric with its unit
    python3 perfbench/suite.py traced [--seeds 1,2,3] [--seconds 10]
        every workload untraced and traced on each seed; writes
        perfbench/TRACE.json with the per-layer medians and the tracing overhead
    python3 perfbench/suite.py spread --workload dml_txn [--seeds 1,...,10]
        one untraced run per seed; prints each metric's median and its
        quartile spread as a share of the median
    python3 perfbench/suite.py selftest
        the measurement code's own tests (sbt test in perfbench/, and the
        spread figure's test_suite.py)

Each run is a separate `run.py` process, as a benchmark harness runs it.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    """Run run.py once; return its full result (with run details)."""
    with tempfile.NamedTemporaryFile(suffix=".json", dir=run.build_dir(), delete=False) as f:
        path = f.name
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--result-file", path],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            raise SystemExit(f"{workload} seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
        with open(path) as f:
            return json.load(f)
    finally:
        os.unlink(path)


def spread(values):
    """Quartile distance as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def seeds_arg(s):
    return [int(x) for x in s.split(",") if x]


def cmd_all(a):
    os.makedirs(run.build_dir(), exist_ok=True)
    for w in run.WORKLOADS:
        r = one(w, a.seed, a.seconds, 0)
        for name, m in r["metrics"].items():
            print(f"{w:14s} {name:18s} {m['value']:>16.6g} {m['unit']}")
        print(f"{w:14s} {'op_error_ratio':18s} {r['failed'] / r['attempted']:>16.6g} ratio")
        print(f"{w:14s} {'samples':18s} {r['attempted']:>16d} ops, {r['failed']} failed, "
              f"correct={r['correct']}")


def cmd_spread(a):
    os.makedirs(run.build_dir(), exist_ok=True)
    rs = [one(a.workload, s, a.seconds, 0) for s in a.seeds]
    steal = [r["info"].get("host_steal_share") for r in rs]
    print(f"{a.workload:14s} {'host steal':18s} "
          + " ".join("n/a" if v is None else f"{100 * v:.1f}%" for v in steal))
    for name in rs[0]["metrics"]:
        vs = [r["metrics"][name]["value"] for r in rs]
        print(f"{a.workload:14s} {name:18s} median {statistics.median(vs):12.6g} "
              f"spread {spread(vs):.4f}  {' '.join(f'{v:.5g}' for v in vs)}")


def cmd_traced(a):
    os.makedirs(run.build_dir(), exist_ok=True)
    out = {
        "what": "per-layer medians of traced runs, end-to-end medians of untraced runs, "
                "and tracing overhead (traced minus untraced median) per workload",
        "box": {"nproc": run.nproc(), "machine": platform.machine(),
                "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1)},
        "seconds": a.seconds, "seeds": a.seeds, "workloads": {},
    }
    for w in run.WORKLOADS:
        plain = [one(w, s, a.seconds, 0) for s in a.seeds]
        traced = [one(w, s, a.seconds, 1) for s in a.seeds]

        def med(rs, key_fn, names):
            return {n: statistics.median(key_fn(r)[n] for r in rs) for n in names}
        e2e_names = list(plain[0]["metrics"])
        untraced = med(plain, lambda r: {k: v["value"] for k, v in r["metrics"].items()}, e2e_names)
        traced_e2e = med(traced, lambda r: r["info"]["e2e"], e2e_names)
        layers = med(traced, lambda r: {k: v["value"] for k, v in r["metrics"].items()},
                     list(traced[0]["metrics"]))
        out["workloads"][w] = {
            "end_to_end_untraced": untraced,
            "end_to_end_traced": traced_e2e,
            "tracing_overhead": {n: traced_e2e[n] - untraced[n] for n in e2e_names},
            "per_layer": layers,
            "samples_per_run": [r["attempted"] for r in plain],
        }
        print(f"{w}: op_p50_ms {untraced['op_p50_ms']:.1f} untraced, "
              f"{traced_e2e['op_p50_ms']:.1f} traced; job busy {layers['spark.job_busy_ms_per_op']:.1f} "
              f"of op wall {layers['op.wall_ms_p50']:.1f} ms", file=sys.stderr)
    with open(os.path.join(HERE, "TRACE.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def cmd_selftest(_):
    py = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", HERE,
                         "-p", "test_*.py"], cwd=HERE, stdin=subprocess.DEVNULL)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                       cwd=HERE, env=run.sbt_env(), stdin=subprocess.DEVNULL)
    return py.returncode or p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p = sub.add_parser("traced")
    p.add_argument("--seeds", type=seeds_arg, default=[1, 2, 3])
    p.add_argument("--seconds", type=int, default=10)
    p = sub.add_parser("spread")
    p.add_argument("--workload", required=True, choices=run.WORKLOADS)
    p.add_argument("--seeds", type=seeds_arg, default=list(range(1, 11)))
    p.add_argument("--seconds", type=int, default=10)
    sub.add_parser("selftest")
    a = ap.parse_args()
    rc = {"all": cmd_all, "traced": cmd_traced, "spread": cmd_spread,
          "selftest": cmd_selftest}[a.cmd](a)
    return rc or 0


if __name__ == "__main__":
    sys.exit(main())
