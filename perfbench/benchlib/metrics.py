"""Turns a JVM run record into the benchmark's metrics.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run's spans and counters, as means per op unless the name says
otherwise. Names and units are the ones BENCHMARK.json declares.
"""
import json
import os

from . import checks, stats

# BENCHMARK.json at the checkout root, two levels above this package
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")

# span name -> per-layer metric holding the spans' self time
SPAN_TIMES = {
    "ingest": "ingest.busy_s",
    "pipeline.silver": "pipeline.silver_s",
    "pipeline.epoch_commit": "pipeline.epoch_commit_s",
    "catalog.overwrite": "catalog.overwrite_s",
    "merge": "merge.busy_s",
    "sql": "sql.build_s",
    "operators.build": "operators.build_s",
    "operators.exec": "operators.exec_s",
    "operators.cluster.build": "operators.cluster.build_s",
    "operators.cluster.append": "operators.cluster.append_s",
    "operators.cluster.maintain": "operators.cluster.maintain_s",
    "operators.cluster.delete": "operators.cluster.delete_s",
}
# counters summed over every span of the op
OP_TOTALS = ["ingest.rows", "ingest.files", "fs.write_ops",
             "fs.bytes_written", "fs.read_ops", "spark.jobs", "spark.stages",
             "spark.tasks", "spark.sql_executions", "spark.scan_bytes",
             "spark.scan_rows", "spark.shuffle_write_bytes",
             "spark.shuffle_read_bytes", "spark.fetch_wait_s", "spark.exchanges",
             "spark.exec_run_s", "spark.exec_cpu_s", "spark.gc_s",
             "spark.spill_bytes", "merge.rows_changed", "sql.calls"]


def spec():
    return json.load(open(SPEC))


def units():
    s = spec()
    return {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}


def check_outputs(record, tmp_dir):
    """Decides every op's check. An op fails when it raised, when a JVM-side
    check failed, or when the tables it left disagree with the independent
    computation over its inputs (checks.py)."""
    checker = None
    if record["workload"] == "medallion_etl":
        checker = checks.MedallionCheck(record["landing_dir"], tmp_dir)
    elif record["workload"] == "corpus_maintain":
        checker = checks.CorpusCheck(record["corpus_dir"],
                                     record["corpus_parts"],
                                     record["deleted_residue"],
                                     record["oracle_sql"], tmp_dir)
    failures = []
    for o in record["ops"]:
        if o["check"] == "pending":
            why = checker.check(o)
            o["check"] = "ok" if why is None else "fail: " + why
        if o["error"] is not None or o["check"] != "ok":
            failures.append("%d %s: %s" % (o["id"], o["name"],
                                           o["error"] or o["check"]))
    return {"attempted": len(record["ops"]), "failed": len(failures),
            "failures": failures}


def _latency(ops):
    secs = [o["seconds"] for o in ops]
    tail, pct, n = stats.tail_percentile(secs)
    return secs, tail, pct, n


def end_to_end(record):
    secs, tail, _, _ = _latency(record["ops"])
    return {
        "setup_s": record["session_s"] + record["warmup_s"]
        + record["warmup_passes_s"] + stats.median(record["stage_s"]),
        "ops_per_s": len(secs) / sum(secs),
        "op_p50_s": stats.median(secs),
        "op_p90_s": tail,
        "heap_mb": record["heap_mb"],
    }


def per_layer(record, checked):
    tr = record["trace"]
    ops = record["ops"]
    ids = {o["id"] for o in ops}
    n = len(ops)
    spans = [s for s in tr["spans"] if s["op"] in ids]
    self_s = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    counters = {int(k): v for k, v in tr["counters"].items() if int(k) in by_id}

    out = {m: 0.0 for m in SPAN_TIMES.values()}
    for s in spans:
        if s["name"] in SPAN_TIMES:
            out[SPAN_TIMES[s["name"]]] += self_s[s["id"]] / n
    totals = {k: 0.0 for k in OP_TOTALS + ["spark.rows_written"]}
    merge_written = exec_jobs = eager_jobs = 0.0
    for sid, c in counters.items():
        name = by_id[sid]["name"]
        for k, v in c.items():
            if k in totals:
                totals[k] += v
        if name == "merge":
            merge_written += c.get("spark.rows_written", 0.0)
        elif name == "operators.exec":
            exec_jobs += c.get("spark.jobs", 0.0)
        elif name == "operators.build":
            eager_jobs += c.get("spark.jobs", 0.0)
    for k in OP_TOTALS:
        out[k] = totals[k] / n
    out["merge.rows_written"] = merge_written / n
    out["merge.useful_ratio"] = (totals["merge.rows_changed"] / merge_written
                                 if merge_written else 0.0)
    out["operators.jobs"] = exec_jobs / n
    out["operators.eager_jobs"] = eager_jobs / n

    roots = [s for s in spans if s["parent"] == 0]
    wall = sum(s["end_ms"] - s["start_ms"] for s in roots) / 1e3
    jobs_by_op = {}
    for j in tr["jobs"]:
        if j["span"] in by_id:
            jobs_by_op.setdefault(by_id[j["span"]]["op"], []).append(
                (j["start_ms"], j["end_ms"]))
    idle = sum((r["end_ms"] - r["start_ms"]
                - stats.covered(jobs_by_op.get(r["op"], []), r["start_ms"], r["end_ms"]))
               for r in roots) / 1e3
    out["spark.driver_s"] = idle / n
    out["spark.slot_util"] = totals["spark.exec_run_s"] / (wall * record["cores"])
    out["spark.storage_mb"] = sum(o["storage_mb"] for o in ops) / n
    out["unattributed_s"] = sum(self_s[r["id"]] for r in roots) / n

    op_seconds = sum(o["seconds"] for o in ops)
    out["trace.ops_per_s"] = n / op_seconds
    out["trace.overhead"] = tr["cost_s"] / op_seconds

    out["failed_ratio"] = checked["failed"] / checked["attempted"]
    out["retained_mb"] = stats.median(record["retained_mb"])
    passes = record["passes"]
    landed = sum(p["landed_bytes"] for p in passes)
    out["write_amp"] = stats.write_amp(totals["fs.bytes_written"], landed) or 0.0
    amps = [stats.space_amp(p["files"], p["live_dirs"]) for p in passes]
    amps = [a for a in amps if a is not None]
    out["space_amp"] = stats.median(amps) if amps else 0.0
    names = [m["name"] for m in spec()["per_layer"]]
    return {k: out[k] for k in names}


def identity(record, checked, head, heap):
    ops = record["ops"]
    _, _, pct, n = _latency(ops)
    return {
        "workload": record["workload"], "seed": record["seed"],
        "cores": record["cores"], "heap": heap,
        "max_heap_mb": record["max_heap_mb"], "sf": record["sf"],
        "spark_version": record["spark_version"], "git_head": head,
        "traced": record["traced"], "ops": n,
        "op_tail_percentile": round(pct, 4),
        "failed_ratio": checked["failed"] / checked["attempted"],
        "retained_mb": stats.median(record["retained_mb"]),
        "passes": len(record["passes"]),
        "op_seconds": [round(o["seconds"], 3) for o in ops],
    }
