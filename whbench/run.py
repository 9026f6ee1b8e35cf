#!/usr/bin/env python3
"""Warehouse benchmark: one command per workload run.

    python3 whbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
from source with sbt (skipped when the sources are unchanged), writes a
seeded corpus, runs the workload in one JVM for S seconds, checks the
outputs, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes stays
under .whbench/ in the checkout. See whbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".whbench")
HARNESS = os.path.join(HERE, "harness")

# corpus scale factor and whether the DuckDB oracle applies
WORKLOADS = {
    "warehouse_refresh": {"sf": 0.02, "oracle": True},
    "stream_chain": {"sf": 0.02, "oracle": False},
}
# -Xms equal to -Xmx: the heap never resizes during a run
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[whbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """Runs `cmd`, killing it (and waiting for it) past `timeout`."""
    p = subprocess.Popen(cmd, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout}s")
    return p.returncode


def source_key():
    """Hash of everything the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files += [os.path.join(HARNESS, "project", "build.properties")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness; returns the runtime classpath."""
    bdir = os.path.join(STATE, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cpf = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    key = source_key()
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cpf):
        return open(cpf).read()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = os.path.join(bdir, "sbt.log")
    with open(out, "w") as fh:
        rc = run(["sbt", "--batch", "-Dsbt.server.autostart=false",
                  "export harness/Runtime/fullClasspath"],
                 timeout=840, cwd=HARNESS, env=env, stdout=fh, stderr=subprocess.STDOUT,
                 stdin=subprocess.DEVNULL)
    lines = [ln.strip() for ln in open(out) if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"sbt build failed (exit {rc}); see {out}")
    cp = lines[-1]
    with open(cpf, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(key)
    return cp


def cpu_times():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]  # total (user..steal), steal


def oracle_check(workload, seed, corpus, dump):
    """Runs the program's DuckDB oracle compare on the dumped outputs;
    returns {query: fingerprint} for the queries that matched."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), corpus, dump],
                         capture_output=True, text=True, timeout=170)
    ok = {ln.split(":", 1)[0] for ln in res.stdout.splitlines() if ": OK (" in ln}
    for ln in res.stdout.splitlines():
        if ln and ": OK (" not in ln:
            log(f"oracle {workload} seed {seed}: {ln}")
    with open(os.path.join(dump, "fingerprints.json")) as fh:
        fps = json.load(fh)
    return {k: v for k, v in fps.items() if k in ok}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "scripts/check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wl = WORKLOADS[a.workload]

    cp = build()
    corpus = gen.generate(os.path.join(STATE, "corpus", f"sf{wl['sf']}-seed{a.seed}"), a.seed, wl["sf"])
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    logs = os.path.join(STATE, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    oracle_file = os.path.join(STATE, "oracle", f"{a.workload}-sf{wl['sf']}-seed{a.seed}.json")
    dump = None
    if wl["oracle"] and not os.path.exists(oracle_file):
        dump = os.path.join(STATE, "dump", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(dump, ignore_errors=True)
    twins = os.path.join(STATE, "oracle", f"twins-sf{wl['sf']}-seed{a.seed}.txt")
    os.makedirs(os.path.dirname(twins), exist_ok=True)

    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "whbench.Main", "--workload", a.workload, "--corpus", corpus,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", result, "--twins", twins]
    if dump:
        cmd += ["--dump", dump]
    total0, steal0 = cpu_times()
    with open(os.path.join(logs, tag + ".log"), "w") as fh:
        rc = run(cmd, timeout=JVM_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT,
                 stdin=subprocess.DEVNULL, cwd=work)
    total1, steal1 = cpu_times()
    if rc != 0 or not os.path.exists(result):
        fail(f"harness exited {rc}; see {os.path.join(logs, tag + '.log')}")
    with open(result) as fh:
        r = json.load(fh)
    if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(logs, tag + "-spans.jsonl"))

    # correctness: each timed operation's fingerprint against the
    # oracle-checked one for this seed
    failed = r["failed"]
    if wl["oracle"]:
        if dump:
            checked = oracle_check(a.workload, a.seed, corpus, dump)
            if len(checked) == len(json.load(open(os.path.join(dump, "fingerprints.json")))):
                with open(oracle_file, "w") as fh:
                    json.dump(checked, fh)
            shutil.rmtree(dump, ignore_errors=True)
        else:
            with open(oracle_file) as fh:
                checked = json.load(fh)
        for name, seen in r["observed"].items():
            for fp, n in seen.items():
                if checked.get(name) != fp:
                    log(f"{name}: fingerprint {fp} differs from the oracle-checked {checked.get(name)}")
                    failed += n
    attempted = max(1, r["attempted"])

    steal = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    log(f"{tag}: host steal {steal:.2f}%, loadavg {load:.2f}, spans {r['spans']}")
    values = dict(r["metrics"])
    values["setup_s"] = r["setup_s"]
    values["ok_ratio"] = 1.0 - failed / attempted
    values["host.steal_pct"] = steal
    values["host.loadavg"] = load
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
