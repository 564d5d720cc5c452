#!/usr/bin/env python3
"""Healthflow + curation benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload healthflow_refresh --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Builds the engine and the benchmark from source with sbt (once per source
state), runs one workload in one JVM with one client thread, checks every
operation's output, and prints the metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
`--workload all` runs every workload untraced and traced and prints the
tracing overhead. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["healthflow_refresh", "curation_chain"]
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170
# a fixed heap, so that run-to-run differences in heap resizing do not
# show up as cycle-time noise
HEAP = "2g"
# the module openings Spark 4 needs on JDK 17 outside spark-submit (the
# engine's build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Digest of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr):
    """Run cmd in its own process group; on timeout kill the whole group.
    Returns (returncode or None on timeout, stdout text)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, ""
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    target = HERE / "target"
    stamp = target / "perfbench-build.json"
    digest = source_hash()
    if stamp.is_file():
        s = json.loads(stamp.read_text())
        if s.get("hash") == digest:
            return s["classpath"]
    target.mkdir(parents=True, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = target / "build.log"
    t0 = time.time()
    with open(log, "w") as lf:
        rc, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            HERE, BUILD_TIMEOUT_S, subprocess.PIPE, lf)
    (target / "build.out").write_text(out or "")
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log} and {target / 'build.out'}", 1)
    lines = [ln.strip() for ln in out.splitlines()
             if "perfbench" in ln and ln.strip().startswith("/") and ".jar" in ln]
    if not lines:
        fail("build printed no classpath", 1)
    classpath = lines[-1]
    stamp.write_text(json.dumps({"hash": digest, "classpath": classpath,
                                 "build_s": time.time() - t0}))
    return classpath


def git_sha():
    if not (ROOT / ".git").exists():
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_q191(out_dir, corpus_dir):
    """Compare the chain's first output with its registered DuckDB oracle SQL.
    Returns a list of problems (empty when they agree)."""
    import duckdb
    sql = (out_dir / "q191_oracle.sql").read_text()
    got = json.loads((out_dir / "q191_result.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{corpus_dir / 'documents.parquet'}/*.parquet')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    want = [dict(zip(cols, r)) for r in cur.fetchall()]
    con.close()
    if not got:
        return ["the chain produced no rows"]
    if sorted(got[0]) != sorted(cols):
        return [f"columns {sorted(got[0])} vs oracle {sorted(cols)}"]

    def key(r):
        return tuple(str(r[c]) for c in sorted(cols))

    def same(a, b):
        if isinstance(a, float) or isinstance(b, float):
            return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9)
        return a == b
    problems = []
    if len(got) != len(want):
        problems.append(f"{len(got)} rows vs oracle {len(want)}")
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        bad = [c for c in cols if not same(g[c], w[c])]
        if bad:
            problems.append(f"lang {g.get('lang')}: " +
                            ", ".join(f"{c} {g[c]} vs {w[c]}" for c in bad))
    return problems


def check_metric_names(metrics, trace):
    """The printed metric set must be exactly BENCHMARK.json's for this mode."""
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        return []
    spec = json.loads(spec_path.read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    return [] if got == want else [f"metrics {sorted(got.items())} != BENCHMARK.json {sorted(want.items())}"]


def run_one(workload, seed, seconds, trace, classpath, budget_s):
    """One JVM run; returns (result dict, report lines)."""
    work = HERE / "work" / workload
    out = HERE / "out" / f"{workload}-trace{trace}"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    for d in (work / "tmp", work / "spark-local", out):
        d.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(nproc()), "--work", str(work),
        "--out", str(out), "--git-sha", git_sha()]
    with open(out / "jvm.log", "w") as lf:
        rc, stdout = run_group(cmd, ROOT, budget_s, subprocess.PIPE, lf)
    lines = (stdout or "").splitlines()
    if rc != 0 or not lines:
        tail = (out / "jvm.log").read_text().splitlines()[-30:]
        print("\n".join(lines[-30:] + tail), file=sys.stderr)
        fail(f"{workload}: JVM {'timed out' if rc is None else f'exited with {rc}'}", 1)
    result = json.loads(lines[-1])
    if workload == "curation_chain":
        t0 = time.time()
        problems = oracle_q191(out, work / "corpus")
        result["attempted"] += 1
        if problems:
            result["failed"] += 1
            result["correct"] = False
        lines.insert(-1, f"oracle q191 vs DuckDB: {'agrees' if not problems else problems} "
                         f"({time.time() - t0:.1f} s, outside the timed loop)")
    bad = check_metric_names(result["metrics"], trace)
    if bad:
        fail("; ".join(bad), 1)
    return result, lines[:-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources next to the benchmark (expected {ROOT}/build.sbt and "
             f"{ROOT}/src/main/scala/graft)")
    classpath = build()
    t0 = time.time()
    if a.workload != "all":
        result, lines = run_one(a.workload, a.seed, a.seconds, a.trace, classpath,
                                RUN_BUDGET_S)
        print("\n".join(lines))
        print(json.dumps(result))
        return
    summary = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            result, lines = run_one(w, a.seed, a.seconds, trace, classpath, RUN_BUDGET_S)
            print("\n".join(lines))
            summary[f"{w}/trace{trace}"] = result
        plain = summary[f"{w}/trace0"]["metrics"]["cycle_s"]["value"]
        traced = summary[f"{w}/trace1"]["metrics"]["trace.cycle_s"]["value"]
        print(f"tracing overhead {w}: cycle_s {plain:.4f} s untraced, {traced:.4f} s "
              f"traced, {100 * (traced - plain) / plain:+.1f} %")
        print()
    print(f"all workloads done in {time.time() - t0:.0f} s")
    print(json.dumps({"correct": all(r["correct"] for r in summary.values()),
                      "attempted": sum(r["attempted"] for r in summary.values()),
                      "failed": sum(r["failed"] for r in summary.values()),
                      "runs": summary}))


if __name__ == "__main__":
    main()
