#!/usr/bin/env python3
"""Run one workload of the spark-graft benchmark and print its metrics.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The script builds the engine and the
benchmark from source (once per source state), computes the DuckDB oracle
digests (once per source state), then starts one JVM that sets the engine up,
drives the workload as a single closed-loop client and writes its raw
samples. The last line of standard output is one JSON object with the
verdict and the metrics: the end-to-end ones with `--trace 0`, the
per-layer ones with `--trace 1`. Everything the run leaves behind goes under
`perfbench/out/`. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# The read-only sf0.1 fixtures (TESTDATA.md), kept in the home directory.
DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORES = 4
HEAP = "3g"
SETUP_CYCLES = 3
# Limit on one run after any build (a build may add several minutes to the
# first run in a checkout).
JVM_TIMEOUT_S = 170

ADHOC_MODULES = ["Relational", "WindowsAndStats", "SetOps", "OrderingOps",
                 "ReshapeOps", "SamplingOps", "AsofOps", "RangeOps", "SkewOps",
                 "ProfilingOps", "EventLifecycleOps"]
# One request of kmv_merge_stress takes ~35 s at local[4], longer than a
# whole run, so the adhoc pool leaves it out.
ADHOC_EXCLUDED = {"kmv_merge_stress"}

# A run holds only a few multi-second stream jobs, and a seed-drawn subset of
# the 27 would move the cost mix by ~30% between seeds. So the stream
# workload runs a fixed panel in rounds, each round in a seeded order: one
# job per kind of streaming state (windowed aggregate, deduplication,
# stream-stream join).
STREAM_PANEL = ["stream_tumbling_window", "stream_dedup_exact", "stream_interval_join"]

# How much work one second of --seconds stands for, measured at local[4] on
# a 4-vCPU x86 VM when the benchmark was written. A run issues a
# fixed amount of work and times it, so every seed's run holds the same mix
# whatever the machine's speed; on that machine the timed phase lasts about
# --seconds.
ADHOC_REQUESTS_PER_S = 0.9
INGEST_BATCHES_PER_S = 0.45
STREAM_ROUND_S = 8.0
# Stop issuing requests once the timed phase has run this many times
# --seconds, so that a badly regressed engine still ends within the time
# limit; the result then reports itself truncated.
CAP_FACTOR = 5

# Each setup ends with one untimed request outside the timed mix.
WORKLOADS = {
    "adhoc": {"primary": "read", "warmup": "a5_cond_avg"},
    "ingest": {"primary": "write"},
    "stream": {"primary": "stream", "warmup": "stream_observed_counts"},
}

ADD_OPENS = [x for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Hash of everything a build, the registry listing and the oracle
    digests depend on."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, f) for f in
             ("build.sbt", "project/build.properties", "run.py", "benchlib.py")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for t in TABLES:
        st = os.stat(os.path.join(DATA, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def git_commit():
    """HEAD of the checkout, or None when the checkout is not a git work tree
    of its own."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def run_logged(cmd, cwd, log_path, timeout, env=None):
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{cmd[0]} timed out after {timeout} s; see {log_path}")


def build(fingerprint):
    """Compile with sbt, list the registry and compute oracle digests, unless
    the current source state was already built."""
    bdir = os.path.join(OUT, "build")
    stamp = os.path.join(bdir, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s["fingerprint"] == fingerprint:
            return s
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_log = os.path.join(bdir, "sbt.log")
    log("building engine and benchmark with sbt")
    code = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], HERE, sbt_log, 800, env)
    if code != 0:
        fail(f"sbt failed ({code}); see {sbt_log}")
    with open(sbt_log) as fh:
        cps = [ln.strip() for ln in fh if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cps:
        fail(f"no classpath in {sbt_log}")
    classpath = cps[-1]
    catalog_path = os.path.join(bdir, "catalog.json")
    code = run_logged(java_cmd(classpath, bdir) + ["catalog", catalog_path], bdir,
                      os.path.join(bdir, "catalog.log"), 300)
    if code != 0:
        fail("listing the registry failed")
    with open(catalog_path) as fh:
        catalog = json.load(fh)
    log("computing oracle digests with DuckDB")
    oracle = oracle_digests(catalog, needed_queries(catalog))
    s = {"fingerprint": fingerprint, "classpath": classpath, "catalog": catalog,
         "oracle": oracle}
    with open(stamp, "w") as fh:
        json.dump(s, fh)
    return s


def adhoc_pool(catalog):
    return [q["name"] for q in catalog
            if q["module"] in ADHOC_MODULES and q["name"] not in ADHOC_EXCLUDED]


def needed_queries(catalog):
    return adhoc_pool(catalog) + STREAM_PANEL


def oracle_digests(catalog, names):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    sql = {q["name"]: q["oracle"] for q in catalog}
    reads_fixture = re.compile(r"\b(" + "|".join(TABLES) + r")\b", re.IGNORECASE)
    out = {}
    for name in names:
        # An oracle that reads no fixture pins values measured on another
        # scale factor; at sf0.1 the query is checked as one without oracle.
        if sql.get(name) is None or not reads_fixture.search(sql[name]):
            continue
        try:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            out[name] = benchlib.digest(cols, cur.fetchall())
        except duckdb.Error as e:
            out[name] = f"oracle error: {e}"
    return out


def java_cmd(classpath, tmp):
    return ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", classpath, "perfbench.Main"]


def plan(workload, seed, seconds, catalog):
    """The run's requests, fixed by the seed and --seconds."""
    if workload == "adhoc":
        n = max(1, round(seconds * ADHOC_REQUESTS_PER_S))
        return {"requests": benchlib.zipf_sequence(adhoc_pool(catalog), seed, n)}
    if workload == "stream":
        rounds = max(1, round(seconds / STREAM_ROUND_S))
        return {"requests": [q for r in benchlib.shuffled_rounds(STREAM_PANEL, seed, rounds)
                             for q in r]}
    return {"batches": max(1, round(seconds * INGEST_BATCHES_PER_S))}


def verdict(result, oracle):
    """Failed requests: threw, disagreed with the oracle or the ingest model,
    or (without an oracle) returned nothing or changed between repeats. The
    final-table check counts as one more operation."""
    failures = []
    first = {}
    for i, r in enumerate(result["requests"]):
        why = None
        if not r.get("ok"):
            why = r.get("error", "failed")
        elif "digest" in r:
            want = oracle.get(r["name"])
            if want is not None and r["digest"] != want:
                why = f"digest {r['digest']} != oracle {want}"
            elif want is None and (r["rows"] == 0 or first.setdefault(r["name"], r["digest"]) != r["digest"]):
                why = "no rows, or a different result from an earlier repeat"
        if why:
            failures.append((i, r["name"], why))
    for c in result["checks"]:
        if not c["ok"]:
            failures.append((None, c["name"], c["detail"]))
    return len(result["requests"]) + len(result["checks"]), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    knobs = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if knobs:
        fail(f"refusing to run with engine A/B variables set: {', '.join(knobs)}", 2)
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a checkout's root", 2)
    if not all(os.path.exists(os.path.join(DATA, f"{t}.parquet")) for t in TABLES):
        fail(f"fixtures not found under {DATA}", 2)

    built = build(source_fingerprint())
    t_start = time.time()
    spec = WORKLOADS[args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    rundir = os.path.join(OUT, "runs", tag)
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    config = {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace), "data": DATA, "cores": CORES,
        "cap_s": CAP_FACTOR * args.seconds,
        "setup_cycles": SETUP_CYCLES, "warmup": spec.get("warmup", ""),
        "result": os.path.join(rundir, "raw.json"),
        **plan(args.workload, args.seed, args.seconds, built["catalog"]),
    }
    config_path = os.path.join(rundir, "config.json")
    with open(config_path, "w") as fh:
        json.dump(config, fh)
    jvm_log = os.path.join(rundir, "jvm.log")
    budget = max(30, JVM_TIMEOUT_S - (time.time() - t_start))
    code = run_logged(java_cmd(built["classpath"], tmp) + ["run", config_path],
                      rundir, jvm_log, budget)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(rundir, "spark-warehouse"), ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}; see {jvm_log}")
    with open(config["result"]) as fh:
        result = json.load(fh)

    if result["truncated"]:
        log(f"the timed phase passed {CAP_FACTOR} x --seconds; the requests left were skipped")
    attempted, failures = verdict(result, built["oracle"])
    e2e = benchlib.end_to_end(result, spec["primary"])
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": git_commit(), "source_fingerprint": built["fingerprint"],
        "nproc": os.cpu_count(), "cores": result["cores"],
        "heap_max_mb": result["heap_max_mb"], "spark_version": result["spark_version"],
        "spark_conf": result["conf"], "attempted": attempted,
        "failures": [{"request": i, "name": n, "why": w} for i, n, w in failures],
        "end_to_end": {k: {"value": v, "unit": u} for k, v, u in
                       ((k, *vu) for k, vu in e2e.items())},
    }
    print(f"# {args.workload} seed {args.seed}: {len(result['requests'])} requests in "
          f"{result['timed_s']:.1f} s at local[{result['cores']}], nproc {summary['nproc']}, "
          f"heap {result['heap_max_mb']:.0f} MB, commit {summary['commit'] or 'unknown'}")
    for name, (value, unit) in e2e.items():
        print(f"{name:<22} {value:14.4f} {unit}")
    for kind in ("read", "write", "stream"):
        n = sum(r["kind"] == kind for r in result["requests"])
        if 0 < n and f"{kind}_p90_ms" not in e2e:
            print(f"{kind + '_p90_ms':<22} {'-':>14} ms (not reported: {n} samples, 100 needed)")
    print(f"{'failed_ratio':<22} {len(failures) / attempted:14.4f} ratio "
          f"({len(failures)} of {attempted})")
    for i, n, w in failures:
        print(f"FAILED request {i} {n}: {w}")

    if args.trace:
        layers = benchlib.per_layer(result)
        summary["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        summary["self_ms"] = benchlib.layer_self_times(result["trace"]["spans"])
        for name, (value, unit) in layers.items():
            print(f"{name:<30} {value:16.4f} {unit}")
        for name, ms in sorted(summary["self_ms"].items()):
            print(f"self time {name:<28} {ms:12.1f} ms")
        plain = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t0", "summary.json")
        if os.path.exists(plain):
            with open(plain) as fh:
                base = json.load(fh)["end_to_end"]["requests_per_s"]["value"]
            over = (base - layers["trace.requests_per_s"][0]) / base * 100.0
            summary["trace_overhead_pct"] = over
            print(f"trace overhead: {over:.2f}% of the plain run's requests_per_s ({base:.4f} 1/s)")
        metrics = summary["per_layer"]
    else:
        metrics = {k: summary["end_to_end"][k] for k in
                   ("setup_s", "requests_per_s", "latency_p50_ms")}
    with open(os.path.join(rundir, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
