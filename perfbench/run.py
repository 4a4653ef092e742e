"""Reference-lifecycle benchmark: transaction files land, HybridJoin
enriches them, sales ids are assigned, the fact commit lands, and
dashboard panels and the 20 warehouse queries are served.

    python3 perfbench/run.py --workload {backfill,live} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Every run generates its inputs from the
seed, starts from an empty sink, checkpoint and Spark application, and
keeps all its files under ``.perfbench_work/`` (removed at the end) and
``.perfbench_out/`` (trace files). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).
The lines before it list every metric with its unit and sample count,
plus the host-noise diagnostic. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import itertools
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.request
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import layers  # noqa: E402
from spans import Tracer  # noqa: E402

VIEWS = (
    "top_products", "demographics", "category_occupation",
    "quarterly_trends", "top_cities", "monthly_growth",
)
QUERIES_PER_ROUND = 2  # closed-loop round: one panel + two queries

# Sizes (rows per file) and rates of each workload; see README.md.
# backfill: one trigger drains the whole backlog (maxFilesPerTrigger =
# its file count). A warm-up drain of twice the backlog into its own sink
# comes first: after a warm-up of the backlog's size, the next drain
# still ran about 25% slower than later ones while the JIT warmed.
BACKFILL_FILES, BACKFILL_FILE_ROWS, BACKFILL_WARM_FILES = 6, 30_000, 12
LIVE_STAR_FILES, LIVE_STAR_FILE_ROWS = 1, 18_000
# One panel request per file, due a fixed offset after the file lands,
# so every read meets its batch. A read at any other phase meets a
# running batch about half the time: its latencies fall into two groups
# of about equal size, and their median jumps between the groups as
# batch time moves with the host.
LIVE_FILE_ROWS, LIVE_FILE_EVERY_S, LIVE_REQUEST_OFFSET_S = 2_000, 2.6, 0.4
# Both loops run this long before the window opens (after the star's
# batch): batch and panel times still fall over the first three or so.
LIVE_WARM_S = 2 * LIVE_FILE_EVERY_S
WAIT_S = 60  # longest wait for a landed file to commit
RUN_LIMIT_S = 150  # a run that hangs fails (and tears down) before 180 s


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> str:
    """Spark settings from the benchmark's side: every scratch path under
    ``work``, cores = nproc, and (traced runs) the event log."""
    tmp, local, evlog = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, evlog):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{evlog}",
                  "spark.eventLog.rolling.enabled=false", "spark.eventLog.compress=false"]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
            " -XX:-UsePerfData"]
    for c in confs:
        args += ["--conf", c]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return evlog


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100 * len(v)) - 1)]


def tail_label(n: int) -> int:
    """Highest of p90/p75/p50 with at least ten samples beyond it."""
    for q in (90, 75):
        if n - int(n * q / 100) >= 10:
            return q
    return 50


class Bench:
    """One run: set-up, the workload's timed window, checks, teardown."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        sys.path.insert(0, ROOT)
        from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark import session
        from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl import (
            date_dim, dimensions,
        )
        from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
            dashboard_server, serving, warehouse_queries,
        )
        from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
            fencing, hybrid_join,
        )

        self.session, self.dims, self.date_dim = session, dimensions, date_dim
        self.ds_mod, self.serving, self.wq = dashboard_server, serving, warehouse_queries
        self.hj, self.fencing = hybrid_join, fencing

        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        self.evlog = configure_env(self.work, bool(args.trace))
        self.tracer = Tracer() if args.trace else None
        self.attempted = self.failed = 0
        self._cpu, self._ops = {"jvm": 0.0, "python": 0.0}, 0
        self._count_lock = threading.Lock()
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.streams: list[dict] = []  # per drained stream: files, progress, dirs
        self.requests: list[dict] = []  # per request: kind, start, end, ok, phase
        self.diag: dict = {}
        self._mark = time.time()
        if self.tracer:
            layers.install(self)

    def mark(self, name: str) -> None:
        """Record the wall time since the previous mark as ``diag``."""
        now = time.time()
        self.diag[f"wall_{name}_s"] = now - self._mark
        self._mark = now

    # ---- ops ---------------------------------------------------------
    def span(self, name, key=None):
        return self.tracer.span(name, key) if self.tracer else contextlib.nullcontext()

    def land(self, text: str, in_dir: str, name: str) -> float:
        """Write one transaction file beside the input dir, then rename it
        in (atomic, so the file source never sees a partial file).
        Returns the landed stamp."""
        tmp = os.path.join(self.work, "landing", name)
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as fh:
            fh.write(text)
        os.rename(tmp, os.path.join(in_dir, name))
        stamp = time.time()
        self.count(ok=True)
        return stamp

    def count(self, ok: bool) -> None:
        """One attempted op (the two open loops call this from their own
        threads)."""
        with self._count_lock:
            self.attempted += 1
            self.failed += not ok

    def panel(self, base: str, view: str, year: int) -> bool:
        url = f"{base}/panel?name={view}&year={year}&dark=0"
        try:
            with urllib.request.urlopen(url, timeout=120) as r:
                body = r.read()
                return r.status == 200 and body.lstrip().startswith(b"<svg")
        except (urllib.error.URLError, OSError) as exc:
            self.errors.append(f"panel {view}/{year}: {exc}")
            return False

    def query(self, name: str, year: int) -> bool:
        try:
            with self.span("query.request", name):
                df = self.wq.run_query(self.spark, name, year=year)
                with self.span("query.collect", name):
                    df.collect()
            if self.tracer:
                layers.record_phases(self, df, name)
            return True
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            self.errors.append(f"query {name}: {exc!r}"[:300])
            return False

    def request(self, req: tuple, base: str, phase: str, due: float | None = None,
                before=None) -> None:
        """Send one request and record it; ``due`` (open loop) is the
        scheduled send time the latency is measured from."""
        kind, name, year = req
        start = time.time()
        with self.span("request", f"{phase}:{kind}:{name}:{year}"):
            if before is not None:
                with self.span("request.register"):
                    before()
            ok = self.panel(base, name, year) if kind == "panel" else self.query(name, year)
        end = time.time()
        self.count(ok)
        self.requests.append(
            {"kind": kind, "name": name, "year": year, "phase": phase,
             "due": due if due is not None else start, "start": start, "end": end, "ok": ok}
        )

    # ---- set-up -----------------------------------------------------
    def generic_setup(self) -> None:
        """A new JVM and Spark application plus the dimension ETL: CSV
        masters → parquet dims → date dim. Once per run, so it pays JVM
        launch and cold class loading, as a user's first set-up does."""
        for d in ("customer.csv", "product.csv"):
            with open(os.path.join(self.work, d), "w") as fh:
                fh.write(self.ds.customers if d.startswith("c") else self.ds.products)
        t0 = time.time()
        with self.span("session.start"):
            self.spark = self.session.get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        with self.span("etl.dims"):
            self.tables = self.build_dims(self.spark)
        t2 = time.time()
        self.mark("setup")
        self.generic_s = t2 - t0
        self.values["session.start_s"] = t1 - t0
        self.values["etl.dims_s"] = t2 - t1

    def build_dims(self, spark) -> dict:
        out = os.path.join(self.work, "dims")
        cust = self.dims.build_customer_dim(spark, os.path.join(self.work, "customer.csv"))
        prod, store, supp = self.dims.split_product_master(
            spark, os.path.join(self.work, "product.csv")
        )
        dates = self.date_dim.build_date_dim(
            spark, dt.date(gen.SENTINEL_YEAR, 1, 1), dt.date(gen.YEARS[-1], 12, 31)
        )
        tables = {}
        for name, df in (("customer", cust), ("product", prod), ("store", store),
                         ("supplier", supp), ("date_dim", dates)):
            self.dims.write_dim(df, os.path.join(out, name))
            tables[name] = spark.read.parquet(os.path.join(out, name))
        return tables

    # ---- streams ------------------------------------------------------
    def stream_dirs(self, tag: str) -> dict:
        d = {k: os.path.join(self.work, f"{tag}_{k}") for k in ("in", "sink", "ckpt")}
        os.makedirs(d["in"], exist_ok=True)
        d["tag"] = tag
        return d

    def start_stream(self, dirs: dict, mfpt: int, available_now: bool):
        return self.hj.run_stream(
            self.spark, dirs["in"], gen.TX_DDL, self.tables["customer"],
            self.tables["product"], dirs["sink"], dirs["ckpt"],
            max_files_per_trigger=mfpt, available_now=available_now,
        )

    def drain(self, tag: str, first: int, count: int, mfpt: int) -> dict:
        """Land files ``first..first+count-1`` before the stream starts,
        then drain them with ``available_now``. Returns the stream record."""
        dirs = self.stream_dirs(tag)
        files = {}
        for i in range(first, first + count):
            name = f"tx_{i:05d}.csv"
            files[name] = {"index": i, "landed": self.land(self.ds.tx_files[i], dirs["in"], name)}
        t0 = time.time()
        q = self.start_stream(dirs, mfpt, True)
        q.awaitTermination()
        t1 = time.time()
        q.writer_token.release()
        rec = {**dirs, "files": files, "first": first, "start": t0,
               "end": t1, "progress": _progress(q)}
        self.settle(rec)
        self.streams.append(rec)
        return rec

    def settle(self, rec: dict) -> None:
        """Attach each file's batch id and commit (readable) time; count
        files not committed as failed ops."""
        commits = committed_files(self.hj, rec["ckpt"], rec["sink"])
        for name, f in rec["files"].items():
            f.update(commits.get(name, {}))
        missing = [n for n, f in rec["files"].items() if "readable" not in f]
        with self._count_lock:
            self.failed += len(missing)
        if missing:
            self.errors.append(f"{rec['tag']}: {len(missing)} file(s) never committed")

    def ingest_metrics(self, done: list[dict], seconds: float) -> None:
        """Freshness of each committed file, and the rows those files
        committed per ``seconds`` of ingest."""
        self.samples["freshness_s"] = [f["readable"] - f["landed"] for f in done]
        rows = sum(self.ds.expected(f["index"], f["index"] + 1)["rows"] for f in done)
        self.values["ingest_rows_per_s"] = rows / max(seconds, 1e-9)

    # ---- serving -----------------------------------------------------
    def register(self, sink: str) -> None:
        self.wq.register_warehouse(
            self.spark, {**self.tables, "sales": self.spark.read.parquet(sink)}
        )

    def start_server(self) -> str:
        self.server = self.ds_mod.make_dashboard_server(
            self.spark, sorted(self.ds.expected()["per_year"]), port=0
        )
        self.server_thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.server_thread.start()
        h, p = self.server.server_address[:2]
        return f"http://{h}:{p}"

    def rounds(self, rng: random.Random):
        """Closed-loop request order: rounds of one panel (the six views in
        turn, seeded year) and the next two of the 20 queries in a seeded
        permutation, shuffled within the round. A window holds about ten
        rounds, so it runs every query about once and every view about
        twice whatever the seed: the mix, and the median with it, does
        not move with the seed."""
        names = list(self.wq.WAREHOUSE_QUERIES)
        rng.shuffle(names)
        qi = 0
        for r in itertools.count():
            rnd = [("panel", VIEWS[r % len(VIEWS)], rng.choice(gen.YEARS))]
            for _ in range(QUERIES_PER_ROUND):
                rnd.append(("query", names[qi % len(names)], rng.choice(gen.YEARS)))
                qi += 1
            rng.shuffle(rnd)
            yield from rnd

    def closed_loop(self, base: str, reqs, phase: str, seconds: float | None = None) -> float:
        t0 = time.time()
        for req in reqs:
            if seconds is not None and time.time() - t0 >= seconds:
                break
            self.request(req, base, phase)
        return t0

    def request_metrics(self, ok: list[dict], seconds: float) -> None:
        """Latency of each answered request (from its due time), and the
        answered requests per ``seconds`` of serving."""
        self.samples["request_s"] = [r["end"] - r["due"] for r in ok]
        self.values["requests_per_s"] = len(ok) / max(seconds, 1e-9)

    # ---- window accounting -------------------------------------------
    def probe_before(self) -> None:
        """Host-noise diagnostic, before the first measured phase."""
        self.diag["probe_before_s"] = host.speed_probe()
        self._steal0 = host.steal_ticks()

    def window_open(self) -> float:
        """Start one timed interval; CPU and ops add up over intervals."""
        self._cpu0 = host.cpu_seconds()
        return time.time()

    def window_close(self, ops: int) -> None:
        cpu1 = host.cpu_seconds()
        for k in ("jvm", "python"):
            self._cpu[k] += cpu1[k] - self._cpu0[k]
        self._ops += ops

    def window_done(self) -> None:
        """After the last interval: CPU per op, peak RSS, host noise."""
        st1 = host.steal_ticks()
        self.diag["probe_after_s"] = host.speed_probe()
        self.diag["steal_pct"] = 100.0 * (st1[0] - self._steal0[0]) / max(1, st1[1] - self._steal0[1])
        ops = max(self._ops, 1)
        self.values["cpu_s_per_op"] = (self._cpu["jvm"] + self._cpu["python"]) / ops
        self.values["proc.cpu_jvm_s"] = self._cpu["jvm"] / ops
        self.values["proc.cpu_python_s"] = self._cpu["python"] / ops
        self.values["peak_rss_mb"] = host.peak_rss_mb()

    # ---- workloads ---------------------------------------------------
    def backfill(self) -> None:
        """The reference lifecycle in sequence. Load: a warm-up drain of
        twice the backlog into its own sink, then the backlog lands and
        ``run_stream(available_now=True)`` drains it in one trigger into
        a fresh sink, with no reads. Serve: one client in a closed loop
        over dashboard panels and the 20 warehouse queries, against the
        star just loaded, for ``--seconds``."""
        self.ds = gen.Dataset(self.seed, [BACKFILL_FILE_ROWS] * BACKFILL_WARM_FILES)
        self.mark("gen")
        self.generic_setup()
        t = time.time()
        warm_rec = self.drain("warm", 0, BACKFILL_WARM_FILES, BACKFILL_WARM_FILES)
        self.setup_s = self.generic_s + (time.time() - t)
        self.mark("warm_drain")

        self.probe_before()
        t0 = self.window_open()
        rec = self.drain("main", 0, BACKFILL_FILES, BACKFILL_FILES)
        self.window_close(BACKFILL_FILES)
        done = [f for f in rec["files"].values() if "readable" in f]
        self.ingest_metrics(done, max((f["readable"] for f in done), default=t0) - t0)
        self.mark("drain")

        t = time.time()
        self.register(rec["sink"])
        base = self.start_server()
        warm = [("panel", VIEWS[0], 2018), ("query", "q1_top_products_weekend_monthly", 2018)]
        self.closed_loop(base, warm, "warmup")
        self.setup_s += time.time() - t
        self.mark("warm_requests")

        self.window_open()
        r0 = self.closed_loop(base, self.rounds(random.Random(self.seed)), "window",
                              self.args.seconds)
        window = [r for r in self.requests if r["phase"] == "window"]
        self.window_close(len(window))
        self.window_done()
        ok = [r for r in window if r["ok"]]
        self.request_metrics(ok, max((r["end"] for r in ok), default=r0) - r0)
        self.diag["generator_late_max_s"] = max(_gaps(window), default=0.0)
        self.mark("window")
        self.main, self.oracle_sinks = rec, [warm_rec]

    def live(self) -> None:
        """Writes beside reads, two open loops: small files land on a fixed
        schedule into a continuously triggered stream, and a panel request
        falls due a fixed offset after each; ``sales`` is re-registered
        from the growing sink before each request. The loops run ``LIVE_WARM_S``
        before the window opens; what falls due before then is warm-up."""
        n_files = int((LIVE_WARM_S + self.args.seconds) / LIVE_FILE_EVERY_S) + 1
        self.ds = gen.Dataset(
            self.seed,
            [LIVE_STAR_FILE_ROWS] * LIVE_STAR_FILES + [LIVE_FILE_ROWS] * n_files,
        )
        self.mark("gen")
        self.generic_setup()
        t = time.time()
        dirs = self.stream_dirs("main")
        files = {}

        def land(i, **extra):
            name = f"tx_{i:05d}.csv"
            files[name] = {"index": i, "landed": self.land(self.ds.tx_files[i], dirs["in"], name),
                           **extra}
            return name

        for i in range(LIVE_STAR_FILES):
            land(i)
        q = self.start_stream(dirs, 1, False)
        rec = {**dirs, "files": files, "first": 0, "start": t}
        self.wait_committed(rec, list(files))
        self.register(rec["sink"])
        base = self.start_server()
        self.mark("star")

        self.probe_before()
        tw = time.time()
        t0, end = tw + LIVE_WARM_S, tw + LIVE_WARM_S + self.args.seconds
        late = []

        def lander():
            for j in range(n_files):
                due = tw + j * LIVE_FILE_EVERY_S
                if due >= end:
                    break
                _sleep_until(due)
                name = land(LIVE_STAR_FILES + j, due=due, window=due >= t0)
                if due >= t0:
                    late.append(files[name]["landed"] - due)

        # The six views in turn (fixed mix), each at a seeded year.
        rng = random.Random(self.seed)
        reqs = [("panel", VIEWS[j % len(VIEWS)], rng.choice(gen.YEARS)) for j in range(n_files)]

        def requester():
            for j, req in enumerate(reqs):
                due = tw + LIVE_REQUEST_OFFSET_S + j * LIVE_FILE_EVERY_S
                if due >= end:
                    break
                _sleep_until(due)
                if due >= t0:
                    late.append(time.time() - due)
                self.request(req, base, "window" if due >= t0 else "warmup", due=due,
                             before=lambda: self.register(rec["sink"]))

        threads = [threading.Thread(target=f) for f in (lander, requester)]
        for th in threads:
            th.start()
        _sleep_until(t0)
        self.window_open()
        self.setup_s = self.generic_s + (t0 - t)
        self.mark("warm")
        for th in threads:
            th.join()
        window_files = [f for f in files.values() if f.get("window")]
        self.wait_committed(rec, [n for n, f in files.items() if f.get("window")])
        window = [r for r in self.requests if r["phase"] == "window"]
        self.window_close(len(window_files) + len(window))
        self.window_done()
        q.stop()
        q.writer_token.release()
        rec["end"] = time.time()
        rec["progress"] = _progress(q)
        self.settle(rec)
        self.streams.append(rec)
        # Rates from the program's own busy time, not the arrival
        # schedule: rows per second of the batches that committed the
        # window's files (Spark's triggerExecution), requests per second
        # of service time (send → full reply, re-register included).
        done = [f for f in window_files if "readable" in f]
        busy_ms = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in rec["progress"]}
        self.ingest_metrics(done, sum(busy_ms[b] for b in {f["batch"] for f in done}) / 1000.0)
        ok = [r for r in window if r["ok"]]
        self.request_metrics(ok, sum(r["end"] - r["start"] for r in ok))
        self.diag["generator_late_max_s"] = max(late, default=0.0)
        self.mark("window")
        self.main, self.oracle_sinks = rec, []

    def wait_committed(self, rec: dict, names: list[str]) -> None:
        deadline = time.time() + WAIT_S
        while time.time() < deadline:
            commits = committed_files(self.hj, rec["ckpt"], rec["sink"])
            if all(n in commits for n in names):
                return
            time.sleep(0.05)

    # ---- checks ------------------------------------------------------
    def expected(self, rec: dict) -> dict:
        """Oracle totals of the files landed into one stream's sink."""
        return self.ds.expected(rec["first"], rec["first"] + len(rec["files"]))

    def check(self) -> bool:
        """The generator's oracle: count, ids 1..N and fact sum on every
        sink; demographics and quarterly_trends frames against the totals."""
        import pyarrow.parquet as pq

        ok = True
        main = self.main
        for rec in self.oracle_sinks + [main]:
            exp = self.expected(rec)
            tbl = pq.read_table(rec["sink"], columns=["sales_id", "sales_amount"])
            errs = gen.check_sink(
                tbl.column("sales_id").to_pylist(), tbl.column("sales_amount").to_pylist(), exp
            )
            for e in errs:
                self.errors.append(f"oracle {rec['tag']}: {e}")
            ok &= not errs
        exp = self.expected(main)
        self.register(main["sink"])
        demo = self.serving.run_dashboard_query(self.spark, "demographics", gen.YEARS[0]).toPandas()
        got = sum(demo["total_revenue"], Decimal(0))
        if got != exp["total"]:
            self.errors.append(f"oracle demographics total {got} != {exp['total']}")
            ok = False
        for year, want in exp["per_year"].items():
            pdf = self.serving.run_dashboard_query(self.spark, "quarterly_trends", year).toPandas()
            got = sum(pdf["total_revenue"], Decimal(0))
            if got != want:
                self.errors.append(f"oracle quarterly_trends {year}: {got} != {want}")
                ok = False
        return ok

    # ---- run ---------------------------------------------------------
    def run(self) -> dict:
        getattr(self, self.args.workload)()
        correct = self.check()
        self.mark("check")
        self.values["setup_s"] = self.setup_s
        fresh, reqs = self.samples["freshness_s"], self.samples["request_s"]
        if not fresh or not reqs:
            raise RuntimeError("no committed files or no answered requests in the window")
        self.values["freshness_p50_s"] = statistics.median(fresh)
        self.values["request_p50_s"] = statistics.median(reqs)
        return {"correct": bool(correct)}

    def teardown(self) -> None:
        srv = getattr(self, "server", None)
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        spark = getattr(self, "spark", None)
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — escalate below
                    proc.kill()
                    proc.wait()
        host.stop_descendants()


def _sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)


def _gaps(reqs: list[dict]) -> list[float]:
    """Closed loop: how long after each reply the next request went out."""
    return [b["start"] - a["end"] for a, b in zip(reqs, reqs[1:])]


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def committed_files(hj, ckpt: str, sink: str) -> dict:
    """File name → {batch, readable}: the file source's log in the
    checkpoint maps files to batch ids, and a batch is readable once its
    sink marker is in state ``moved`` (the marker's mtime is when the
    moved flag landed)."""
    moved = {s["batch_id"] for s in hj.fact_snapshots(sink) if s["state"] == "moved"}
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    try:
        names = os.listdir(src)
    except FileNotFoundError:
        return out
    for n in names:
        # batch logs, and every tenth one compacted as "<id>.compact"
        if not n.split(".")[0].isdigit():
            continue
        try:
            with open(os.path.join(src, n)) as fh:
                lines = fh.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        for line in lines:
            if not line.strip():
                continue
            e = json.loads(line)
            b = e["batchId"]
            if b not in moved:
                continue
            marker = os.path.join(sink, f"_batch_{b}_committed")
            out[os.path.basename(e["path"])] = {
                "batch": b, "readable": os.stat(marker).st_mtime,
            }
    return out


def metric_units() -> tuple[dict, dict]:
    """Name → unit of the end-to-end and the per-layer metrics, from
    ``BENCHMARK.json`` (the one table of names and units)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _expired(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through teardown


def main(argv=None) -> int:
    args = parse_args(argv)
    end_to_end, per_layer = metric_units()
    signal.signal(signal.SIGALRM, _expired)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(RUN_LIMIT_S)
    bench = Bench(args)
    try:
        try:
            result = bench.run()
        finally:
            bench.teardown()
            signal.alarm(0)
            bench.mark("teardown")
        e2e = {k: {"value": bench.values[k], "unit": u} for k, u in end_to_end.items()}
        if args.trace:
            v = layers.compute(bench)
            metrics = {k: {"value": float(v[k]), "unit": u} for k, u in per_layer.items()}
            layers.dump(bench, e2e)
        else:
            metrics = e2e
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))
        except OSError:
            pass  # another run's work dir is still there
    nfr, nrq = len(bench.samples["freshness_s"]), len(bench.samples["request_s"])
    counts = {"freshness_p50_s": nfr, "request_p50_s": nrq}
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for name, xs in (("freshness_s", bench.samples["freshness_s"]),
                     ("request_s", bench.samples["request_s"])):
        q = tail_label(len(xs))
        print(f"# {name}: n={len(xs)} median={statistics.median(xs):.6g} p{q}={pct(xs, q):.6g} "
              "(highest percentile with >= 10 samples beyond it)")
    for k, m in (e2e | metrics).items():
        print(f"{k:28s} {m['value']:14.6g} {m['unit']:6s} n={counts.get(k, 1)}")
    for k, v in sorted(bench.diag.items()):
        print(f"# diag {k} = {v:.6g}")
    for e in bench.errors[:20]:
        print(f"# error {e}")
    print(json.dumps({**result, "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
