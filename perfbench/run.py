#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload serve_semantic --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the harness from the
checkout's sources (first run only), generates the data tables, starts one
JVM for the workload, checks every output against the repo's DuckDB oracles,
and prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). The line before it is the run record.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
DATA = os.path.join(BENCH, ".data")
RUNS = os.path.join(BENCH, ".runs")
sys.path.insert(0, BENCH)

WORKLOADS = ["serve_tpch", "serve_semantic", "batch_operators"]
JVM_TIMEOUT_S = 150


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def units() -> tuple:
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}, spec


def source_digest() -> str:
    """Digest of every source the build reads (program and harness)."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compile program + harness with sbt once per source digest; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources under src/main/scala/graft: run from a checkout root")
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "digest"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if jars:
        env["ENGINE_JARS"] = jars.group(1)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")
    return cps[-1].strip()


def data(sf: str) -> str:
    """The generated tables for `sf` (fixed data seed; made once per checkout)."""
    import gen_data
    d = os.path.join(DATA, f"sf{sf}")
    if not os.path.isdir(d):
        os.makedirs(DATA, exist_ok=True)
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen_data.main_args(d, float(sf), 42)
    return d


def heap() -> str:
    """The engine's own convention: SPARK_DRIVER_MEM, else half of RAM in [2, 8] GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        g = 2
    return f"{g}g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp: str, run_dir: str, args: list) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine's own JVM options (build.sbt javaOptions); nothing else
    cmd = ["java", f"-Xmx{heap()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"engine JVM failed: {code}")


def check(run_dir: str, data_dir: str, result: dict) -> tuple:
    """(failed ops, reasons, distinct outputs): each distinct output is checked
    once, and a failing one counts every op that returned it."""
    from oracle import Oracle
    oracle = Oracle(data_dir)
    verdicts, counts, firsts = {}, [], []
    with open(os.path.join(run_dir, "checks.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            (counts if "count_of" in r else firsts).append(r)
    for r in firsts:
        k = (r["key"], r["status"], r["digest"])
        if r["status"] != r["expect_status"]:
            why = f"status {r['status']} != {r['expect_status']}: {r['body'][:200]}"
        elif r["kind"] == "entry":
            why = oracle.check_parquet(os.path.join(run_dir, "entries", r["key"]), r["oracle"])
        elif r["kind"] == "dryrun":
            why = None if r["body"] == "" else "dry run returned a body"
        elif r["kind"] == "dryplan":
            why = None if r["body"].strip() else "empty plan"
        elif r["oracle"] is None:
            why = None if "access control" in r["body"] else f"unexpected denial: {r['body'][:200]}"
        else:
            why = oracle.check_response(r["body"], r["oracle"])
        verdicts[k] = why
    failed, reasons = result["transport_failed"], []
    for c in counts:
        why = verdicts[(c["count_of"], c["status"], c["digest"])]
        if why is not None:
            failed += c["count"]
            reasons.append(f"{c['count_of'][:120]}: {why}")
    return failed, reasons, len(firsts)


def cpu_ticks() -> list:
    """(busy, steal) jiffies of all CPUs; steal is time the host gave to others."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return [sum(f[:3]) + sum(f[5:7]), f[7]]
    except (OSError, ValueError, IndexError):
        return [0, 0]


def provenance() -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_digest": source_digest()[:16]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", help="override the workload's scale factor (e.g. 0.001 for a smoke run)")
    ap.add_argument("--delay-ms", type=float, default=0.0,
                    help="sensitivity probe: pause every timed request this long on the server "
                         "(inside the op for batch)")
    ap.add_argument("--keep", action="store_true", help="keep the run directory (spans, outputs)")
    a = ap.parse_args()

    unit_of, spec = units()
    load0 = open("/proc/loadavg").read().split()[:3] if os.path.exists("/proc/loadavg") else []
    cp = build()
    sf = a.sf or {"serve_tpch": "0.01", "serve_semantic": "0.01", "batch_operators": "0.01"}[a.workload]
    data_dir = data(sf)
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ticks0 = cpu_ticks()
    try:
        run_jvm(cp, run_dir, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--data-root", DATA, "--out", run_dir,
                              "--delay-ms", str(a.delay_ms), "--sf", sf])
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        ticks1 = cpu_ticks()
        failed, reasons, distinct = check(run_dir, data_dir, result)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    for r in reasons[:20]:
        log(f"FAIL {r}")

    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if not isinstance(result["metrics"].get(n), (int, float))
               or not math.isfinite(result["metrics"][n])]
    if missing:
        raise SystemExit(f"harness reported no finite value for {missing}")
    attempted = result["attempted"]
    record = dict(result["record"], workload=a.workload, seed=a.seed, trace=a.trace,
                  attempted=attempted, failed=failed, distinct_outputs_checked=distinct,
                  error_rate=failed / attempted if attempted else None,
                  loadavg_start_run=" ".join(load0),
                  cpu_steal_share=(ticks1[1] - ticks0[1]) / max(1, ticks1[0] + ticks1[1] - ticks0[0] - ticks0[1]),
                  **provenance())
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": result["metrics"][n], "unit": unit_of[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
