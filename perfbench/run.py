#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload power_stream --seed 1 --seconds 15 --trace 0

Builds the engine together with the harness (sbt, once per source state),
runs one workload in a fresh JVM on a local[nproc] Spark session, checks
the outputs, and prints three lines: the machine and run identity, a
summary with every metric by name and unit, and last the one-line JSON
result. `--trace 1` adds a traced window and reports the per-layer metrics
instead of the end-to-end ones. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala"
DATA = HERE / "data" / "sf0.1"
EXPECTED = HERE / "expected"
BUILD_STAMP = HERE / "target" / "perfbench-classpath.txt"
OUT = HERE / "out"
HEAP = "4g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

E2E_UNITS = {"setup_s": "s", "queries_per_min": "1/min", "query_p50_ms": "ms"}
WORKLOADS = ("power_stream", "dwweek_mixed")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name in ("exec.slot_util", "catalog.space_amp") or "_per_" in name:
        return "ratio"
    return "count"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(proc):
    """Kill the child's whole process group unless it has ended, and wait
    for it, so no process outlives this one."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def source_files():
    for base in (ENGINE, HERE / "src" / "main"):
        yield from sorted(p for p in base.rglob("*.scala") if p.is_file())
    yield HERE / "build.sbt"


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark installation found (set SPARK_HOME)")
    return home


def build(sha):
    """Compile once per source state; returns the runtime classpath and
    whether this call compiled."""
    if BUILD_STAMP.is_file():
        stamp, cp = BUILD_STAMP.read_text().split("\n", 1)
        if stamp == sha:
            return cp.strip(), False
    env = dict(os.environ, SPARK_HOME=spark_home())
    proc = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    finally:
        stop(proc)
    lines = [l for l in stdout.splitlines() if "scala-2.13/classes" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout[-4000:] + stderr[-2000:])
        die("build failed")
    cp = lines[-1].strip()
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    BUILD_STAMP.write_text(f"{sha}\n{cp}\n")
    return cp, True


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(cp, args, work, cores, timeout_s):
    result = work / "result.json"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(DATA), "--work", str(work), "--out", str(result),
            "--cores", str(cores)]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {timeout_s:.0f} s")
    finally:
        stop(proc)
    if rc != 0 or not result.is_file():
        die(f"benchmark JVM exited with code {rc}")
    return json.loads(result.read_text())


def check_outputs(names, work):
    """Compare each query's result with the recorded oracle answer, using
    the repository's oracle canonicalization (scripts/local_verify.py)."""
    sys.path.insert(0, str(ROOT / "scripts"))
    sys.dont_write_bytecode = True
    import pandas as pd
    from local_verify import compare
    mismatches = []
    for n in names:
        out = work / "verify" / n
        if not out.is_dir():
            continue  # the query itself failed; already counted
        got = pd.read_parquet(out)
        ref = EXPECTED / f"{n}.parquet"
        verdict = compare(n, got, pd.read_parquet(ref)) if ref.is_file() \
            else "NO EXPECTED ANSWER"
        if verdict != "OK":
            mismatches.append(f"verify {n}: {verdict}")
    return mismatches


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its children (the `finally` in stop())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t0 = time.monotonic()
    if not (ENGINE / "graft").is_dir():
        die(f"engine sources not found under {ENGINE}")
    if not DATA.is_dir():
        die(f"benchmark data not found under {DATA}")
    sha = source_sha()
    cp, built = build(sha)
    # a run that had to compile gets the full run budget after the build
    budget = RUN_TIMEOUT_S - (0 if built else time.monotonic() - t0)
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()

    OUT.mkdir(exist_ok=True)
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        res = run_jvm(cp, args, work, cores, budget)
        failures = res["failures"] + check_outputs(
            res["extra"].get("verify_queries", []), work)
        if args.trace and "spans_file" in res:
            shutil.move(res["spans_file"], OUT /
                        f"spans-{args.workload}-seed{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    identity = dict(res["identity"], nproc=cores,
                    loadavg_start=[round(x, 2) for x in load_start],
                    loadavg_end=[round(x, 2) for x in os.getloadavg()],
                    git_commit=git_commit(), source_sha=sha)
    attempted = int(res["attempted"])
    failed = len(failures)
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    summary = dict(res["extra"], **{k: v for k, v in res["e2e"].items()},
                   attempted=attempted, failed=failed,
                   failed_ratio=failed / attempted, failures=failures)
    summary.pop("verify_queries", None)
    record = {"identity": identity, "summary": summary,
              "layers": res["layers"], "samples": res["samples"]}
    (OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json") \
        .write_text(json.dumps(record, indent=1) + "\n")

    print(json.dumps({"identity": identity}))
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
