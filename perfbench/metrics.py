"""Metrics of one benchmark run, computed from the record the harness
writes (see src/graftbench/Main.scala). Pure arithmetic: no Spark here.
"""
import math

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND
    samples above it (nearest rank), as (percentile, value, samples);
    percentile and value are None when the sample is too small.
    """
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = math.ceil(p * n / 100.0 - 1e-9)
        if rank >= 1 and n - rank >= MIN_BEYOND:
            return p, s[rank - 1], n
    return None, None, n


def union_length(intervals):
    """Total length covered by the (start, end) intervals; overlaps
    count once.
    """
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children]
    return (e - s) - union_length(clipped)


def amplification(table):
    """write_amp: bytes of files that appeared or changed under the table
    root during the timed loop, per byte of user data changed.
    space_amp: bytes under the root per byte of the current snapshot's
    files. Either is None when its base is zero.
    """
    before, after, live = table["before"], table["after"], table["live"]
    written = sum(size for path, size in after.items() if before.get(path) != size)
    total = sum(after.values())
    live_bytes = sum(live.values())
    user = table["user_bytes"] or 0
    return {
        "written_bytes": written,
        "total_bytes": total,
        "live_bytes": live_bytes,
        "write_amp": written / user if user > 0 else None,
        "space_amp": total / live_bytes if live_bytes > 0 else None,
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x and x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


# Operation kinds timed in the loop, per workload. Vacuum runs once
# after the loop and is reported on its own.
LOOP_KINDS = {
    "ingest_refresh": ("refresh", "query"),
    "table_dml": ("dml", "read"),
}


TABLE_OPS = ("merge", "update", "delete", "optimize")
QUERY_OPS = ("notes_tfidf", "notes_tokens", "range_aggregate", "point_lookup")


def by_name(ops):
    out = {}
    for op in ops:
        out.setdefault(op["name"], []).append(op["dur_s"])
    return out


def summary(rec):
    """Every end-to-end figure of an untraced run, by the names used in
    WORKLOADS.md; figures that do not apply to the workload are absent.
    """
    wl = rec["env"]["workload"]
    loop = [op for op in rec["ops"] if op["kind"] in LOOP_KINDS[wl] and op["cycle"] >= 0]
    # a loop may stop mid-cycle, so rates are taken per cycle of one
    # operation of each name
    names = by_name(loop)
    cycle_s = sum(_mean(v) for v in names.values())
    out = {
        "setup_s": rec["session_start_s"] + median(rec["setup_s"]),
        "peak_rss_mb": rec["peak_rss_mb"],
        # a run holds only a few cycles, so every sample counts: the
        # geometric mean of each name's latencies, then across names
        "latency_s": geomean([geomean(v) for v in names.values()]),
        "throughput_per_s": len(names) / cycle_s if cycle_s else None,
        "operations": len(loop),
    }

    def timing(prefix, durs):
        if durs:
            p, v, n = tail(durs)
            out[prefix + "_p50_s"] = median(durs)
            out[prefix + "_tail_s"] = v
            out[prefix + "_tail_pct"] = p
            out[prefix + "_samples"] = n

    timing("refresh", [op["dur_s"] for op in loop if op["kind"] == "refresh"])
    timing("query", [op["dur_s"] for op in loop if op["kind"] in ("query", "read")])
    timing("dml", [op["dur_s"] for op in loop if op["kind"] == "dml"])
    read_names = {op["name"] for op in loop if op["kind"] in ("query", "read")}
    read_s = sum(_mean(names[n]) for n in read_names)
    out["queries_per_s"] = len(read_names) / read_s if read_s else None
    if wl == "ingest_refresh":
        msgs = [op["parts"]["messages"] for op in loop if op["kind"] == "refresh"]
        out["ingest_records_per_s"] = _mean(msgs) / cycle_s if cycle_s else None
        out["throughput_per_s"] = out["ingest_records_per_s"]
    written = user = total = live = 0
    for t in rec["tables"].values():
        a = amplification(t)
        written += a["written_bytes"]
        total += a["total_bytes"]
        live += a["live_bytes"]
        user += t["user_bytes"] or 0
    if rec["tables"]:
        out["write_amp"] = written / user if user else None
        out["space_amp"] = total / live if live else None
    failed_ops = sum(1 for op in rec["ops"] if not op["ok"])
    failed_checks = sum(1 for c in rec["checks"] if not c["ok"])
    out["attempted"] = len(rec["ops"]) + len(rec["checks"])
    out["failed"] = failed_ops + failed_checks
    out["error_rate"] = out["failed"] / max(1, len(rec["ops"]))
    return out


def layers(rec, names):
    """Per-layer figures of a traced run: means per traced operation of
    Spark's figures, plus table and runner figures. `names` lists every
    per-layer metric; those that do not apply read 0.
    """
    tr = rec["trace"]
    traced = [op for op in rec["ops"] if op["traced"]]
    jobs, stages = {}, {}
    for j in tr["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    for s in tr["stages"]:
        stages.setdefault(s["group"], []).append(s)
    plans = tr["plans"]
    per = []
    rows_read = rows_out = 0
    for op in traced:
        js, ss = jobs.get(op["id"], []), stages.get(op["id"], [])
        sums = [sum(s["sums"][i] for s in ss) for i in range(11)]
        ps = [p for p in plans if op["start"] <= p["start"] <= op["end"]]
        rows_read += sum(p["rows_read"] for p in ps)
        rows_out += sum(p["rows_out"] for p in ps)
        span = (op["start"], op["end"])
        per.append({
            "spark.jobs": len(js),
            "spark.stages": len(ss),
            "spark.tasks": sums[0],
            "spark.task_overhead_s": (sums[1] - sums[2]) / 1e3,
            "spark.executor_run_s": sums[2] / 1e3,
            "spark.executor_cpu_s": sums[3] / 1e9,
            "spark.input_bytes": sums[4],
            "spark.output_bytes": sums[5],
            "spark.shuffle_write_bytes": sums[6],
            "spark.shuffle_read_bytes": sums[7],
            "spark.spill_bytes": sums[8],
            "jvm.gc_s": op["parts"].get("gc_s", 0.0),
            "plan.analysis_ms": sum(p["analysis_ms"] for p in ps),
            "plan.optimization_ms": sum(p["optimization_ms"] for p in ps),
            "plan.planning_ms": sum(p["planning_ms"] for p in ps),
            "scan.files_read": sum(p["files_read"] for p in ps),
            "driver.self_s": self_time(span, [(j["start"], j["end"]) for j in js]) / 1e3,
            "spark.job_busy_s": union_length(
                [(max(span[0], j["start"]), min(span[1], j["end"])) for j in js]) / 1e3,
        })
    out = {k: _mean(p[k] for p in per) for k in (per[0] if per else {})}
    out["scan.rows_out_per_row_read"] = rows_out / rows_read if rows_read else 0.0

    parts = lambda key: [op["parts"][key] for op in traced if key in op["parts"]]
    out["runner.refresh_s"] = _mean(parts("refresh_s"))
    out["runner.visible_s"] = _mean(parts("visible_s"))
    out["marts.affected_dates"] = _mean(parts("affected_dates"))
    fd = [(op["parts"]["affected_fact_dates"], op["parts"]["fact_dates"])
          for op in traced if "fact_dates" in op["parts"]]
    out["marts.affected_fraction"] = _mean(a / d for a, d in fd if d)
    fw = [(op["parts"]["fact_rows_written"], op["parts"]["messages"])
          for op in traced if "fact_rows_written" in op["parts"]]
    out["marts.fact_rows_written_per_msg"] = _mean(w / m for w, m in fw if m)
    out["table.read_resolve_s"] = _mean(parts("resolve_s"))
    for name, durs in by_name(traced).items():
        if name in TABLE_OPS:
            out["table.%s_s" % name] = _mean(durs)
        elif name in QUERY_OPS:
            out["query.%s_s" % name] = _mean(durs)
        elif name != "refresh":
            out["analytics.%s_s" % name] = _mean(durs)
    vac = [op["dur_s"] for op in rec["ops"] if op["name"] == "vacuum"]
    out["table.vacuum_s"] = _mean(vac)

    t = {"versions": 0, "files_live": 0, "files_added": 0, "files_removed": 0,
         "dv_files_added": 0, "bytes_live": 0, "bytes_total": 0}
    for tab in rec["tables"].values():
        live, live0 = set(tab["live"]), set(tab["live_before"])
        new = [p for p in tab["after"] if p not in tab["before"]]
        t["versions"] += tab["versions_after"] - tab["versions_before"]
        t["files_live"] += len(live)
        t["files_added"] += len(live - live0)
        t["files_removed"] += len(live0 - live)
        t["dv_files_added"] += sum(1 for p in new if "/dv-" in "/" + p)
        t["bytes_live"] += sum(tab["live"].values())
        t["bytes_total"] += sum(tab["after"].values())
    for k, v in t.items():
        out["table." + k] = v

    # tracing overhead: traced against untraced operations of the same
    # name within the alternating cycles
    ratios, deltas = [], []
    window = [op for op in rec["ops"] if op["cycle"] >= 0]
    for name, ops in _group(window).items():
        on = [o["dur_s"] for o in ops if o["traced"]]
        off = [o["dur_s"] for o in ops if not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
            deltas.append(median(on) - median(off))
    out["trace.overhead_share"] = (geomean(ratios) - 1.0) if ratios else 0.0
    out["trace.overhead_s"] = _mean(deltas)
    return {n: float(out.get(n, 0.0)) for n in names}


def _group(ops):
    out = {}
    for op in ops:
        out.setdefault(op["name"], []).append(op)
    return out
