#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark's
JVM side from source (once per checkout, into target/ and perfbench/target), writes
the workload's inputs from the seed, runs the JVM side (set-up several
times, then timed passes for S seconds), checks every output, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The line before it carries the run stamps
(seed, input sizes, nproc, loadavg, CPU steal, versions, source commit). Spans and
the full record stay in .bench_out/ until the next run of the same
workload, seed and mode.

Workloads (why each exists, and every metric, is in README.md here):
  corpus_pipeline  mr word count + Graft word count/dedup/signature/n-gram/vector calls
  query_mix        16 declared queries (2 live gates) over a TESTDATA fixture
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 700        # the first run of a checkout builds first (900 s in all)

# Per workload, the input generator at a scale: 1 for the timed passes'
# inputs, WARM_SCALE for the warm-up passes' (same shape, less data, so a
# run stays near a minute). The corpus is large enough that Spark jobs
# cover ~3/4 of a pass (driver gap ~1/4, planning ~3 %), and far below the
# sizes where deduplicate and embedNearDupIvf were measured to take tens
# of seconds (100k docs) or to fill the disk (nlist=64 at 100k vectors).
CORPUS_DOCS, CORPUS_VECTORS = 8000, 2000
WORKLOADS = {
    "corpus_pipeline": lambda d, seed, scale: gen.write_corpus(
        d, n_docs=int(CORPUS_DOCS * scale), n_vec=int(CORPUS_VECTORS * scale), seed=seed),
    "query_mix": lambda d, seed, scale: gen.write_fixture(d, 0.1 * scale, seed),
}
WARM_SCALE = 0.25

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every input of the build: program sources and the
    benchmark's own build and sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group at the limit."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit_s:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles once per source digest; returns the runtime classpath."""
    digest = sources_digest()
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp = os.path.join(TARGET, "perfbench.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    # Everything the build needs is in the local caches: never resolve remotely.
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
                          "export Runtime/fullClasspath"], HERE, BUILD_LIMIT_S, env=env, stdout=out)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def steal_seconds():
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    rise during a run means the box was contended (-1 if unknown)."""
    try:
        fields = open("/proc/stat").readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def source_commit():
    """The git commit when run from a clone, else a digest of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-" + sources_digest()[:16]


def compare_with_oracle(data_dir, results):
    """DuckDB twin of every dumped query result: same columns (by name),
    same rows in order, values equal (NaN == NaN). Returns failures."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    bad = []
    for name, sql in json.load(open(os.path.join(results, "oracle_sql.json"))).items():
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df()
            want = con.sql(sql).df()
        except Exception as e:  # a missing result or a broken twin is a failed check
            bad.append(f"{name}: {type(e).__name__}: {e}")
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad.append(f"{name}: shape {list(got.columns)}x{len(got)} vs oracle {list(want.columns)}x{len(want)}")
            continue
        for c in got.columns:
            diff = next(((i, a, b) for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                         if not (a == b or str(a) == str(b) or (a is None and b is None) or
                                 (isinstance(a, float) and isinstance(b, float)
                                  and math.isnan(a) and math.isnan(b)))), None)
            if diff:
                bad.append(f"{name}: column {c} row {diff[0]}: spark={diff[1]!r} oracle={diff[2]!r}")
                break
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    # A terminated run still stops the JVM or sbt it started (run_bounded).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT} (expected build.sbt and src/main/scala)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    classpath = build()
    build_s = time.time() - started

    write_inputs = WORKLOADS[a.workload]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    for d in (data, out, tmp):
        os.makedirs(d)
    try:
        sizes = write_inputs(os.path.join(data, "base"), a.seed, 1.0)
        write_inputs(os.path.join(data, "warm"), a.seed, WARM_SCALE)
        load_start, steal_start = loadavg(), steal_seconds()
        jvm = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", *JDK_OPENS,
               "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--data", data, "--out", out,
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: keep both in the work dir.
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
        jvm_start = time.time()
        rc = run_bounded(jvm, ROOT, RUN_LIMIT_S - (time.time() - started) + build_s, env=env)
        print(f"[perfbench] inputs {jvm_start - started - build_s:.1f} s, JVM {time.time() - jvm_start:.1f} s",
              file=sys.stderr)
        load_end, steal_end = loadavg(), steal_seconds()
        steal = steal_end - steal_start if min(steal_start, steal_end) >= 0 else -1.0
        if rc != 0:
            fail(f"benchmark JVM exited with {rc}")
        res = json.load(open(os.path.join(out, "jvm.json")))
        checks = list(res["checks"])
        if os.path.exists(os.path.join(out, "results", "oracle_sql.json")):
            compare_start = time.time()
            checks += compare_with_oracle(res["data_dir"], os.path.join(out, "results"))
            print(f"[perfbench] oracle compare {time.time() - compare_start:.1f} s", file=sys.stderr)
        for c in checks:
            print(f"[perfbench] check failed: {c}", file=sys.stderr)

        metrics = res["metrics"]
        if sorted(metrics) != sorted(wanted):
            fail(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ set(wanted))}")
        stamps = dict(res["stamps"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                      trace=a.trace, inputs=sizes, loadavg_start=load_start, loadavg_end=load_end,
                      steal_s=round(steal, 2),
                      commit=source_commit(), checks_failed=checks)
        keep = os.path.join(ROOT, ".bench_out", tag)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(out, "spans.jsonl"), keep)
        with open(os.path.join(keep, "record.json"), "w") as f:
            json.dump(dict(stamps=stamps, metrics=metrics), f, indent=1)
        print(json.dumps({"stamps": stamps}))
        print(json.dumps({"correct": not checks and res["failed"] == 0,
                          "attempted": res["attempted"], "failed": res["failed"],
                          "metrics": {k: metrics[k] for k in wanted}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
