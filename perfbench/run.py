#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload dml_txn --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark with sbt when their sources changed
(first run in a checkout), writes the seeded inputs, runs the workload in a
fresh JVM, checks its outputs, and prints one JSON object as the last line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. A failed correctness
gate exits non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dml_txn", "scan_mix", "stream_ingest")

# Session settings, pinned so every run and every checkout measures the same
# configuration: local[nproc] with nproc shuffle partitions (set in the JVM),
# UTC, and this heap for the JVM that hosts the Spark driver.
HEAP = "4g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 300
RUN_TIMEOUT_S = 160


class BenchError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def nproc():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of every input to the build: the engine's and the benchmark's."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for top, dirs, names in os.walk(os.path.join(base, "src")):
            dirs.sort()
            files.extend(os.path.join(top, n) for n in sorted(names))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env.pop("CARGO_TARGET_DIR", None)
    return env


def ensure_built():
    """Compile and package engine + benchmark if needed, and archive their
    classes for class-data sharing; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"engine sources not found: {need} is missing at the checkout root")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "perfbench.stamp")
    cp_file = os.path.join(out, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log_path = os.path.join(out, "perfbench-build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("/"):
        raise BenchError(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    train_archive(cp, out)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def java_cmd(cp, tmp):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def archive_path():
    return os.path.join(build_dir(), "perfbench.jsa")


def train_archive(cp, out):
    """Write the class-data-sharing archive: one JVM runs every workload
    briefly and archives the classes it loaded, so each run's JVM maps them
    instead of loading them from the jars. Without the archive a run starts
    more slowly and measures the same window."""
    archive = archive_path()
    if os.path.exists(archive):
        os.remove(archive)
    train = os.path.join(out, "train")
    shutil.rmtree(train, ignore_errors=True)
    inputs.generate("scan_mix", 0, os.path.join(train, "inputs"))
    os.makedirs(os.path.join(train, "tmp"))
    os.makedirs(os.path.join(train, "work"))
    cmd = java_cmd(cp, os.path.join(train, "tmp"))
    cmd[1:1] = [f"-XX:ArchiveClassesAtExit={archive}"]
    cmd += ["perfbench.Train", os.path.join(train, "inputs"), os.path.join(train, "work"),
            str(nproc())]
    with open(os.path.join(out, "perfbench-train.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=os.path.join(train, "work"), stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=TRAIN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 and os.path.exists(archive):
        os.remove(archive)
    if not os.path.exists(archive):
        print("perfbench: no class-data archive (see perfbench-train.log); "
              "runs load classes from the jars", file=sys.stderr)


def run_jvm(cp, args, run_dir, work):
    """Run perfbench.Main; return its result object."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = java_cmd(cp, tmp)
    if os.path.exists(archive_path()):
        cmd[1:1] = [f"-XX:SharedArchiveFile={archive_path()}"]
    cmd += ["perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", os.path.join(run_dir, "inputs"), "--work", work,
            "--out", out, "--cores", str(nproc())]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    with open(log_path) as f:
        # the benchmark's own progress lines: set-up, warm-up and round times
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    result = None
    if os.path.isfile(out):
        with open(out) as f:
            result = json.load(f)
    if rc != 0 and not (result and result.get("correct") is False):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"benchmark JVM exited {rc}:\n{tail}")
    return result


def check_scan_oracle(run_dir, work):
    """Compare each scan query's result with its DuckDB oracle on the same
    inputs: equal after sorting columns by name and rows by value."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            dt = str(df[c].dtype)
            if dt.startswith("int") or dt.startswith("uint"):
                df[c] = df[c].astype("int64")
            elif dt.startswith("float"):
                df[c] = df[c].astype("float64")
            elif dt.startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    oracle_dir = os.path.join(work, "oracle")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    inputs = os.path.join(run_dir, "inputs")
    for name in sorted(os.listdir(inputs)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{os.path.join(inputs, name)}')")
    bad = []
    for q, sql in sorted(oracles.items()):
        got = con.execute(f"SELECT * FROM read_parquet('{os.path.join(oracle_dir, q, '*.parquet')}')").df()
        want = con.execute(sql).df()
        if len(got) == 0 or list(sorted(got.columns)) != list(sorted(want.columns)):
            bad.append(f"{q}: {len(got)} rows, columns {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        try:
            pd.testing.assert_frame_equal(norm(got), norm(want), check_dtype=False)
        except AssertionError as e:
            bad.append(f"{q}: {str(e).splitlines()[0]}")
    con.close()
    if bad:
        raise BenchError("scan_mix oracle mismatch: " + "; ".join(bad))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result-file", help="also write the full result, with run details, here")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        cp = ensure_built()
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(build_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    try:
        t0 = time.time()
        inputs.generate(args.workload, args.seed, os.path.join(run_dir, "inputs"))
        t1 = time.time()
        c1 = cpu_times()
        result = run_jvm(cp, args, run_dir, work)
        c2 = cpu_times()
        t2 = time.time()
        if result["correct"] and args.workload == "scan_mix":
            check_scan_oracle(run_dir, work)
        # CPU time the host took from this machine while the JVM ran: on a
        # shared host it slows every timing of the run alike
        steal = (c2[0] - c1[0]) / max(1, c2[1] - c1[1]) if c1 and c2 else None
        print(f"perfbench: inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
              f"oracle {time.time() - t2:.1f} s, host steal "
              f"{'n/a' if steal is None else f'{100 * steal:.1f}%'}", file=sys.stderr)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info = result.pop("info", {})
    info["host_steal_share"] = steal
    for name, m in result["metrics"].items():
        print(f"{args.workload:14s} {name:34s} {m['value']!r:>24} {m['unit']}")
    if not args.trace:
        # failed / attempted, also carried by the result's own fields
        ratio = result["failed"] / result["attempted"]
        print(f"{args.workload:14s} {'op_error_ratio':34s} {ratio!r:>24} ratio")
    print(f"{args.workload:14s} {'samples':34s} {info.get('samples')!r:>24} ops "
          f"({info.get('samples_beyond_p90')} beyond p90); cold set-up {info.get('setup_cold_s')} s, "
          f"warm set-ups {info.get('setup_s_all')} s",
          file=sys.stderr)
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    if args.result_file:
        with open(args.result_file, "w") as f:
            json.dump(dict(line, info=info), f)
    print(json.dumps(line))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
