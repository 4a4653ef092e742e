"""Traced runs: patch spans around the package's layers from outside,
then turn spans, Spark's streaming progress and its event log into the
per-layer metrics listed in ``BENCHMARK.json``.

Which end-to-end metric each layer should move, on which workload, is
tabulated in ``perfbench/README.md``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics

import spans as sp

OUT_DIR = ".perfbench_out"


def install(bench) -> None:
    """Wrap module attributes the package looks up at call time."""
    t, hj, fencing, ds = bench.tracer, bench.hj, bench.fencing, bench.ds_mod

    assign = hj.assign_sales_ids

    def assign_sales_ids(batch_df, offset):
        with t.span("assign_ids") as s:
            out = assign(batch_df, offset)
            s.extra["rows"] = out[1]
        return out

    hj.assign_sales_ids = assign_sales_ids
    t.patch(hj, "_commit_manifest_marker", "sink.commit")
    t.patch(hj, "_reconcile_batch", "sink.reconcile")
    t.patch(fencing.WriterToken, "verify_and_renew", "fencing.verify")
    t.patch(fencing, "acquire_writer", "fencing.acquire")
    t.patch(ds, "render_panel_svg", "serving.panel")
    t.patch(ds, "render_dashboard_chart_svg", "serving.render")

    build = ds.run_dashboard_query

    def run_dashboard_query(spark, name, year):
        with t.span("query.build", name):
            df = build(spark, name, year=year)
        to_pandas = df.toPandas

        def traced_to_pandas():
            with t.span("serving.to_pandas", name):
                out = to_pandas()
            record_phases(bench, df, name)
            return out

        df.toPandas = traced_to_pandas
        return df

    ds.run_dashboard_query = run_dashboard_query
    bench.phases = []


def record_phases(bench, df, key) -> None:
    """Catalyst's own phase timings for an executed DataFrame."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    rec, starts = {"key": key}, []
    while it.hasNext():
        kv = it.next()
        rec[kv._1()] = float(kv._2().durationMs())
        starts.append(kv._2().startTimeMs() / 1000.0)
    rec["t"] = min(starts)
    bench.phases.append(rec)


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def compute(bench) -> dict[str, float]:
    """Per-layer metrics of one traced run, by name (see README.md:
    ``*_ms`` are means per batch or per request, counts per batch or
    per request unless named as totals)."""
    t, v = bench.tracer, {}
    log = sp.parse_event_log(bench.evlog)
    rec = bench.main
    # Batches that carried the measured files (live: the window's only).
    files = [f for f in rec["files"].values() if f.get("window")] or list(rec["files"].values())
    want = {f["batch"] for f in files if "batch" in f}
    batches = [p for p in rec["progress"] if p["batchId"] in want]
    ivs = [(_ts(p["timestamp"]), _ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0)
           for p in batches]
    nb = max(len(batches), 1)
    for key, name in (("latestOffset", "latest_offset_ms"), ("queryPlanning", "query_planning_ms"),
                      ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms")):
        v[f"trigger.{name}"] = _mean(p["durationMs"].get(key, 0) for p in batches)
    start_of = {p["batchId"]: _ts(p["timestamp"]) for p in batches}
    v["trigger.wait_ms"] = _mean(
        1000.0 * (start_of[f["batch"]] - f["landed"]) for f in files if f.get("batch") in start_of
    )
    v["trigger.batches"] = float(len(batches))

    names = ("fencing.verify", "assign_ids", "sink.commit", "sink.reconcile")
    per_batch = [[s for s in t.spans if s["name"] in names and lo <= s["start"] <= hi]
                 for lo, hi in ivs]
    assign = [s for group in per_batch for s in group if s["name"] == "assign_ids"]
    v["assign_ids.ms"] = _mean(1000 * (s["end"] - s["start"]) for s in assign)
    v["assign_ids.rows"] = _mean(s.get("rows", 0) for s in assign)
    v["assign_ids.jobs"] = _mean(
        len(sp.jobs_in(log, s["start"], s["end"], streaming=True)) for s in assign
    )
    # One synthetic span per batch's sink call: from its first fencing
    # check to its reconcile; its self time is the staging write.
    synth = []
    for group in per_batch:
        if group:
            sid = t.add("sink.batch", min(s["start"] for s in group), max(s["end"] for s in group))
            for s in group:
                s["parent"] = sid
            synth.append(sid)
    self_t = sp.self_times(t.spans)
    v["sink.write_ms"] = _mean(1000 * self_t[sid] for sid in synth)

    def dur_ms(name):
        return _mean(1000 * (s["end"] - s["start"]) for g in per_batch for s in g if s["name"] == name)

    v["sink.commit_ms"] = dur_ms("sink.commit")
    v["sink.reconcile_ms"] = dur_ms("sink.reconcile")
    snaps = {s["batch_id"]: s["n_files"] for s in bench.hj.fact_snapshots(rec["sink"])}
    v["sink.files_per_batch"] = _mean(snaps.get(p["batchId"], 0) or 0 for p in batches)
    size = sum(
        os.path.getsize(os.path.join(rec["sink"], f)) for f in os.listdir(rec["sink"])
        if f.endswith(".parquet")
    ) if os.path.isdir(rec["sink"]) else 0
    committed = sum(s.get("rows", 0) for s in assign)
    all_rows = sum(s.get("rows", 0) for s in t.named("assign_ids")
                   if s["start"] >= rec["start"] - 1)
    v["sink.bytes_per_row"] = size / max(all_rows, 1)
    verifies = [s for g in per_batch for s in g if s["name"] == "fencing.verify"]
    v["fencing.verify_ms"] = _mean(1000 * (s["end"] - s["start"]) for s in verifies)
    v["fencing.calls"] = len(verifies) / nb
    # Rows of the files the batches read (Spark's numInputRows counts a
    # foreachBatch input once per action run on it, so it overstates).
    rows_in = sum(bench.ds.rows_in(f["index"], f["index"] + 1)
                  for f in files if f.get("batch") in start_of)
    v["enrich.rows_in"] = float(rows_in)
    v["enrich.rows_committed"] = float(committed)
    v["enrich.useful_ratio"] = committed / max(rows_in, 1)

    # Requests of the measured phase.
    reqs = [s for s in t.named("request") if s["key"].startswith("window:")]
    phases = [p for p in bench.phases
              if any(r["start"] - 0.01 <= p["t"] <= r["end"] for r in reqs)]
    for ph in ("analysis", "optimization", "planning"):
        v[f"query.{ph}_ms"] = _mean(p.get(ph, 0.0) for p in phases)
    execs, http, q_jobs, q_tasks = [], [], [], []
    to_pandas, render = [], []
    for r in reqs:
        inner = [s for s in t.spans if r["start"] <= s["start"] <= r["end"]]
        ph = [p for p in phases if r["start"] - 0.01 <= p["t"] <= r["end"]]
        plan = sum(p.get("optimization", 0.0) + p.get("planning", 0.0) for p in ph)
        ex = [s for s in inner if s["name"] in ("serving.to_pandas", "query.collect")]
        execs.append(sum(1000 * (s["end"] - s["start"]) for s in ex) - plan)
        to_pandas += [1000 * (s["end"] - s["start"]) for s in inner if s["name"] == "serving.to_pandas"]
        render += [1000 * (s["end"] - s["start"]) for s in inner if s["name"] == "serving.render"]
        server = [s for s in inner if s["name"] == "serving.panel"]
        if server:
            reg = sum(s["end"] - s["start"] for s in inner if s["name"] == "request.register")
            http.append(1000 * ((r["end"] - r["start"]) - reg - sum(s["end"] - s["start"] for s in server)))
        jobs = sp.jobs_in(log, r["start"], r["end"], streaming=False)
        q_jobs.append(len(jobs))
        q_tasks.append(sp.job_totals(log, jobs)["tasks"])
    v["query.exec_ms"] = _mean(execs)
    v["query.jobs"] = _mean(q_jobs)
    v["query.tasks"] = _mean(q_tasks)
    v["serving.to_pandas_ms"] = _mean(to_pandas)
    v["serving.render_ms"] = _mean(render)
    v["http.overhead_ms"] = _mean(http)

    # Spark execution per op of the measured phase (batches + requests).
    jobs = [j for lo, hi in ivs for j in sp.jobs_in(log, lo, hi, streaming=True)]
    jobs += [j for r in reqs for j in sp.jobs_in(log, r["start"], r["end"], streaming=False)]
    tot = sp.job_totals(log, jobs)
    ops = max(len(batches) + len(reqs), 1)
    v["spark.tasks"] = tot["tasks"] / ops
    v["spark.executor_run_ms"] = tot["run_ms"] / ops
    v["spark.executor_cpu_ms"] = tot["cpu_ms"] / ops
    v["spark.task_overhead_ms"] = tot["overhead_ms"] / ops
    v["spark.gc_ms"] = tot["gc_ms"] / ops
    v["spark.shuffle_write_bytes"] = tot["shuffle_write"] / ops
    v["spark.shuffle_read_bytes"] = tot["shuffle_read"] / ops
    v["spark.spill_bytes"] = tot["spill"] / ops

    for k in ("session.start_s", "etl.dims_s", "proc.cpu_jvm_s", "proc.cpu_python_s"):
        v[k] = bench.values[k]
    v["generator.late_max_s"] = bench.diag["generator_late_max_s"]
    return v


def dump(bench, end_to_end: dict) -> str:
    """Write the run's own end-to-end metrics, spans, progress and
    request log (one JSON file)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(bench.work)), OUT_DIR,
        f"trace-{bench.args.workload}-{bench.args.seed}.json",
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(
            {"end_to_end": end_to_end, "spans": bench.tracer.spans, "phases": bench.phases,
             "requests": bench.requests,
             "streams": [{k: s[k] for k in ("tag", "files", "progress") if k in s}
                         for s in bench.streams]},
            fh, default=str,
        )
    return path
