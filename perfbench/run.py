#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ring_vwap --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline,
against the Spark jars under $SPARK_HOME), generates the seeded inputs,
runs one JVM sized to the machine's cores, checks the outputs, and prints
as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, and the run also writes the span artifact and the
per-layer self-time table and prints the tracing overhead.

Everything the run writes goes under `.bench_build/` (or
$CARGO_TARGET_DIR) in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
# the repository's own oracle comparison, used unchanged
ORACLE_CHECK = os.path.join(ROOT, "tools", "check.py")
WORKLOADS = ("ring_vwap", "graph_loops")
# catalog scale factor per workload (lineitem = 6M x sf rows)
CATALOG_SF = {"graph_loops": 0.001}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    d = d if os.path.isabs(d) else os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def sources_digest():
    h = hashlib.sha1()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(wd):
    """Compile engine + harness with sbt unless the sources are unchanged."""
    target = os.path.join(wd, "sbt-target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(wd, "build.stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return classes, digest
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline")
    log = os.path.join(wd, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "Compile/copyResources"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        if wait(p, BUILD_TIMEOUT_S) != 0:
            fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def wait(p, timeout):
    """Wait for a process group; kill the whole group on timeout."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def fixture(wd, workload, seed):
    sf = CATALOG_SF[workload]
    d = os.path.join(wd, "fixtures", f"sf{sf}-seed{seed}")
    if not os.path.isdir(d):
        import fixture as gen
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, sf, seed)
        os.rename(tmp, d)
    return d


def run_jvm(wd, classes, args, out):
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+ExplicitGCInvokesConcurrent",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}", "perfbench.Main", "--out", out] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_MASTER", None)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=f,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        code = wait(p, JVM_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    res = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res):
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"workload run failed (exit {code}); log tail:\n{tail}")
    with open(res) as f:
        return json.load(f)


def oracle_check(qdir, fixture_dir):
    """Run the repository's oracle comparison on the correctness pass's
    outputs; return {query name: None if it matches, else the reason}."""
    p = subprocess.run([sys.executable, ORACLE_CHECK, qdir, fixture_dir],
                       capture_output=True, text=True, timeout=120)
    names = json.load(open(os.path.join(qdir, "queries.json")))
    verdict = {n: "no verdict from the oracle check" for n in names}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name, _, why = rest.partition(":")
        if name in verdict and word in ("PASS", "FAIL", "ROWS-ONLY"):
            verdict[name] = None if word == "PASS" else f"{word}:{why}"
    if p.returncode not in (0, 1):
        verdict = {n: f"oracle check exited {p.returncode}: {p.stderr[-500:]}"
                   for n in names}
    return verdict


def layer_table(spans):
    """Per-layer count, total and self time (span minus its children)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        iv = sorted((max(a, c["start_ms"]), min(b, c["end_ms"]))
                    for c in kids.get(s["key"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for x, y in iv:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        r = rows.setdefault(s["layer"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        r["count"] += 1
        r["total_ms"] += b - a
        r["self_ms"] += (b - a) - covered
    return rows


def history_path(wd):
    return os.path.join(wd, "history.jsonl")


def overhead(wd, workload, digest):
    """Median of the traced runs minus median of the untraced runs, per
    end-to-end metric, over this checkout's runs of the same build."""
    runs = {True: {}, False: {}}
    for line in open(history_path(wd)):
        h = json.loads(line)
        if h["workload"] == workload and h.get("build") == digest:
            for k, v in h["e2e"].items():
                runs[h["trace"]].setdefault(k, []).append(v)
    return {k: (statistics.median(v), statistics.median(runs[False][k]),
                len(v), len(runs[False][k]))
            for k, v in runs[True].items() if k in runs[False]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.isfile(ORACLE_CHECK):
        fail(f"oracle check not found at {ORACLE_CHECK}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)

    wd = work_dir()
    os.makedirs(wd, exist_ok=True)
    t_start = time.time()
    classes, digest = build(wd)
    t_built = time.time()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    fix = None
    if a.workload in CATALOG_SF:
        fix = fixture(wd, a.workload, a.seed)
        args += ["--fixture", fix]
    out = os.path.join(wd, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    t_fixture = time.time()
    r = run_jvm(wd, classes, args, out)
    t_jvm = time.time()

    attempted, failed = int(r["attempted"]), int(r["failed"])
    checks = dict(r["checks"])
    if fix is not None:
        verdict = oracle_check(os.path.join(out, "q"), fix)
        for name, why in verdict.items():
            checks[f"oracle:{name}"] = why is None
            if why is not None:
                print(f"oracle mismatch {name}: {why}")
        attempted += len(verdict)
        failed += sum(why is not None for why in verdict.values())
    correct = failed == 0 and all(checks.values())
    t_checked = time.time()

    e2e = r["e2e"]
    e2e["error_ratio"] = failed / max(1, attempted)
    with open(history_path(wd), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                            "trace": bool(a.trace), "build": digest, "e2e": e2e,
                            "interference": r["interference"],
                            "time": time.time()}) + "\n")

    print(f"workload {a.workload} seed {a.seed} cores {r['cores']} "
          f"correct {correct} attempted {attempted} failed {failed}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<24} {e2e[m['name']]:>14.4f} {m['unit']}")
    print(f"  {'error_ratio':<24} {e2e['error_ratio']:>14.4f} fraction")
    for k, v in r["info"].items():
        print(f"  info {k}: {v}")
    print(f"  interference: {json.dumps(r['interference'])}")
    print(f"  harness seconds: build check {t_built - t_start:.1f}, inputs "
          f"{t_fixture - t_built:.1f}, jvm {t_jvm - t_fixture:.1f}, "
          f"oracle {t_checked - t_jvm:.1f}")
    for k, ok in checks.items():
        if not ok:
            print(f"  check failed: {k}")

    if a.trace:
        spans = json.load(open(os.path.join(out, "spans.json")))
        table = layer_table(spans)
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump({"workload": a.workload, "self_time": table,
                       "per_layer": r["per_layer"]}, f, indent=1, sort_keys=True)
        print(f"per-layer self time ({len(spans)} spans, {out}/spans.json):")
        print(f"  {'layer':<14} {'count':>7} {'total_ms':>12} {'self_ms':>12}")
        for layer, row in sorted(table.items()):
            print(f"  {layer:<14} {row['count']:>7} {row['total_ms']:>12.1f} "
                  f"{row['self_ms']:>12.1f}")
        print("per-layer metrics:")
        for k, v in sorted(r["per_layer"].items()):
            print(f"  {k:<40} {v:.4f}")
        ov = overhead(wd, a.workload, digest)
        if not ov:
            print("tracing overhead: no untraced run of this build recorded yet")
        else:
            print("tracing overhead (traced median - untraced median): " + "; ".join(
                f"{k} {t - u:+.4f} ({t:.4f} over {nt} traced vs {u:.4f} over "
                f"{nu} untraced)" for k, (t, u, nt, nu) in ov.items()))
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = {n: {"value": float(r["per_layer"][n]), "unit": u} for n, u in names}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
