"""Pure parts of the benchmark: result digests, request schedules, the
percentile rule, span arithmetic and the metrics drawn from one run."""

import datetime
import decimal
import hashlib
import math
import random
import statistics

# --------------------------------------------------------------------------
# Result digests. Must agree with perfbench/Digest.scala cell for cell.

NULL = "\\N"
_SIG = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _number(d):
    if d.is_nan():
        return "NaN"
    if d.is_infinite():
        return "Infinity" if d > 0 else "-Infinity"
    if d.is_zero():
        return "0"
    return format(_SIG.create_decimal(d).normalize(), "f")


def cell(v):
    """Canonical text of one value: integers exact, other numbers rounded to
    9 significant digits, timestamps as epoch microseconds (naive ones read
    as UTC), dates in ISO form, structs and maps with sorted keys."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _number(_SIG.create_decimal_from_float(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return str((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        kvs = sorted((cell(k), cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}={x}" for k, x in kvs) + "}"
    return str(v)


def row_hash(line):
    return int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    """Order-free digest: columns in name order, one hash per row, summed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        n += 1
        total += row_hash("\x1f".join(cell(r[i]) for i in order))
    names = ",".join(columns[i] for i in order)
    return f"{names}|{n}|{total % (1 << 64):x}"


# --------------------------------------------------------------------------
# Schedules.

def rank_order(names):
    """A fixed popularity order that no one chose: by a hash of the name."""
    return sorted(names, key=lambda n: hashlib.sha256(n.encode()).hexdigest())


def zipf_sequence(names, seed, length, s=1.0):
    """Quota sampling of a Zipf(s) popularity over `rank_order(names)`: any
    prefix holds each query in proportion to its weight, to within about
    one request, so the mix a run sees hardly depends on the seed. The seed
    sets each query's starting phase, and with it the order."""
    ranked = rank_order(names)
    weights = [1.0 / (r + 1) ** s for r in range(len(ranked))]
    total = sum(weights)
    share = [w / total for w in weights]
    rng = random.Random(seed)
    credit = [rng.random() * x for x in share]
    out = []
    for _ in range(length):
        for i, x in enumerate(share):
            credit[i] += x
        j = max(range(len(share)), key=credit.__getitem__)
        credit[j] -= 1.0
        out.append(ranked[j])
    return out


def shuffled_rounds(panel, seed, count):
    """`count` rounds, each the whole panel in a fresh seeded order."""
    rng = random.Random(seed)
    rounds = []
    for _ in range(count):
        r = list(panel)
        rng.shuffle(r)
        rounds.append(r)
    return rounds


# --------------------------------------------------------------------------
# Statistics.

def _rank(n, p):
    """Nearest rank of the p-th percentile among n samples (1-based),
    in exact decimal arithmetic so that 99.9 means 99.9."""
    return max(1, math.ceil(decimal.Decimal(str(p)) * n / 100))


def samples_beyond(n, p):
    """How many of n samples lie beyond the p-th percentile."""
    return n - _rank(n, p)


def highest_percentile(n, candidates=(99.9, 99, 90)):
    """The highest candidate percentile with at least ten samples beyond it,
    or None when even the lowest has fewer."""
    for p in candidates:
        if samples_beyond(n, p) >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[_rank(len(xs), p) - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    end = lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Each span's duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# --------------------------------------------------------------------------
# Metrics of one run.

def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(result, primary_kind):
    """The end-to-end metrics of a plain run, plus the per-type latencies
    the run holds enough samples for."""
    reqs = result["requests"]
    timed_s = result["timed_s"]
    out = {
        "setup_s": (statistics.median(c["total_s"] for c in result["setup"]), "s"),
        "requests_per_s": (len(reqs) / timed_s, "1/s"),
        "latency_p50_ms": (statistics.median(
            r["ms"] for r in reqs if r["kind"] == primary_kind), "ms"),
        "driver_heap_mb": (result["heap_end_mb"], "MB"),
    }
    for kind in ("read", "write", "stream"):
        ms = [r["ms"] for r in reqs if r["kind"] == kind]
        if not ms:
            continue
        out[f"{kind}_p50_ms"] = (statistics.median(ms), "ms")
        p = highest_percentile(len(ms), (90,))
        if p is not None:
            out[f"{kind}_p90_ms"] = (percentile(ms, p), "ms")
    writes = [r for r in reqs if r["name"] == "merge"]
    if writes:
        out["rows_written_per_s"] = (
            sum(r.get("source_rows", 0) for r in writes) / sum(r["ms"] for r in writes) * 1000.0,
            "rows/s")
    return out


PER_LAYER = [
    ("engine.session_ms", "ms"), ("engine.load_ms", "ms"),
    ("operators.build_ms", "ms"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_ms", "ms"),
    ("spark.task_run_ms", "ms"), ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.result_bytes", "bytes"), ("spark.task_deserialize_ms", "ms"),
    ("sources.merge_ms", "ms"), ("sources.snapshot_read_ms", "ms"),
    ("sources.changes_read_ms", "ms"), ("sources.expire_ms", "ms"),
    ("sources.table_rows", "count"), ("sources.heap_growth_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.outside_trigger_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "bytes"),
    ("trace.requests_per_s", "1/s"),
]


def _owner(windows, t):
    """Index of the request whose [start, end] window holds time t."""
    lo, hi = 0, len(windows) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        a, b = windows[mid]
        if t < a:
            hi = mid - 1
        elif t > b:
            lo = mid + 1
        else:
            return mid
    return None


def per_layer(result):
    """Per-layer metrics of a traced run. Spark and plan figures are means
    per request; `sources.*` times are means per call of that operation;
    `streaming.*` figures are means per stream job. A layer the workload
    does not reach reads 0."""
    tr = result["trace"]
    reqs = result["requests"]
    n = len(reqs)
    windows = [(r["start"], r["end"]) for r in reqs]
    per_req = [dict(tasks=[], jobs=0, stages=0, queries=[], progress=[]) for _ in reqs]
    for t in tr["tasks"]:
        i = _owner(windows, t["launch"])
        if i is not None:
            per_req[i]["tasks"].append(t)
    for key in ("jobs", "stages"):
        for t in tr[key]:
            i = _owner(windows, t)
            if i is not None:
                per_req[i][key] += 1
    for q in tr["queries"]:
        i = _owner(windows, q["start"])
        if i is not None:
            per_req[i]["queries"].append(q)
    for p in tr["progress"]:
        i = _owner(windows, p["start"])
        if i is not None:
            per_req[i]["progress"].append(p)

    def task_sum(key):
        return sum(t[key] for pr in per_req for t in pr["tasks"]) / max(n, 1)

    def query_sum(key):
        return sum(q[key] for pr in per_req for q in pr["queries"]) / max(n, 1)

    spans = tr["spans"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s["end"] - s["start"])

    gaps = [(r["end"] - r["start"]) - covered(
        [(t["launch"], t["finish"]) for t in pr["tasks"]], r["start"], r["end"])
        for r, pr in zip(reqs, per_req)]

    streams = [(r, pr) for r, pr in zip(reqs, per_req) if r["kind"] == "stream"]
    build = {s["request"]: s["end"] - s["start"] for s in spans if s["name"] == "operators.build"}

    def stream_mean(key):
        return _mean([sum(p[key] for p in pr["progress"]) for _, pr in streams])

    def stream_last(key):
        return _mean([pr["progress"][-1][key] if pr["progress"] else 0 for _, pr in streams])

    outside = _mean([build.get(i, 0.0) - sum(p["trigger_ms"] for p in pr["progress"])
                     for i, (r, pr) in enumerate(zip(reqs, per_req)) if r["kind"] == "stream"])
    setup = result["setup"]
    checks = {c["name"]: c for c in result.get("checks", [])}
    values = {
        "engine.session_ms": statistics.median(c["session_ms"] for c in setup),
        "engine.load_ms": statistics.median(c["load_ms"] for c in setup),
        "operators.build_ms": _mean(by_name.get("operators.build", [])),
        "plans.analysis_ms": query_sum("analysis_ms"),
        "plans.optimization_ms": query_sum("optimization_ms"),
        "plans.planning_ms": query_sum("planning_ms"),
        "spark.jobs": sum(pr["jobs"] for pr in per_req) / max(n, 1),
        "spark.stages": sum(pr["stages"] for pr in per_req) / max(n, 1),
        "spark.tasks": sum(len(pr["tasks"]) for pr in per_req) / max(n, 1),
        "spark.driver_gap_ms": _mean(gaps),
        "spark.task_run_ms": task_sum("run_ms"),
        "spark.task_cpu_ms": task_sum("cpu_ms"),
        "spark.gc_ms": task_sum("gc_ms"),
        "spark.shuffle_write_bytes": task_sum("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": task_sum("shuffle_read_bytes"),
        "spark.spill_bytes": task_sum("spill_bytes"),
        "spark.result_bytes": task_sum("result_bytes"),
        "spark.task_deserialize_ms": task_sum("deserialize_ms"),
        "sources.merge_ms": _mean(by_name.get("sources.merge", [])),
        "sources.snapshot_read_ms": _mean(by_name.get("sources.snapshot_read", [])),
        "sources.changes_read_ms": _mean(by_name.get("sources.changes_read", [])),
        "sources.expire_ms": _mean(by_name.get("sources.expire", [])),
        "sources.table_rows": checks.get("final_table", {}).get("table_rows", 0),
        "sources.heap_growth_mb": result["heap_end_mb"] - result["heap_start_mb"],
        "streaming.batches": _mean([len(pr["progress"]) for _, pr in streams]),
        "streaming.input_rows": stream_mean("input_rows"),
        "streaming.trigger_ms": stream_mean("trigger_ms"),
        "streaming.add_batch_ms": stream_mean("add_batch_ms"),
        "streaming.query_planning_ms": stream_mean("query_planning_ms"),
        "streaming.get_batch_ms": stream_mean("get_batch_ms"),
        "streaming.latest_offset_ms": stream_mean("latest_offset_ms"),
        "streaming.wal_commit_ms": stream_mean("wal_commit_ms"),
        "streaming.commit_offsets_ms": stream_mean("commit_offsets_ms"),
        "streaming.outside_trigger_ms": outside,
        "streaming.state_rows": stream_last("state_rows"),
        "streaming.state_memory_bytes": stream_last("state_memory_bytes"),
        "trace.requests_per_s": n / result["timed_s"],
    }
    return {name: (values[name], unit) for name, unit in PER_LAYER}


def layer_self_times(spans):
    """Summed self time per span name, in ms."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
