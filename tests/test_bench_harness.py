"""bench.py's harness, driven without Spark: a fake query table, fake
staging functions, a fake session and a fake status tracker append
every call to one event list, so the tests can assert the order of
warm-up, staging, reset, job groups, timers and tracker reads. Also
imports bench.py and every tools/*.py, most of which no other test
runs."""

from __future__ import annotations

import importlib
import json
import os
import sys
import tempfile
import types
from pathlib import Path

import pytest

import bench

REPO = Path(bench.__file__).resolve().parent

# pass-by-pass seconds of each timed entry; every warm-up run takes 0.5 s
DURATIONS = {
    "q01_top_brands_month_weekend": [3.0, 1.0, 2.0],
    "ann_topk_lsh": [1.5, 2.5, 0.5],
    "dedup_minhash_lsh": [0.25, 0.75, 0.5],
    "dedup_simhash": [1.0, 1.0, 1.0],
    "dedup_components": [2.0, 3.0, 4.0],
    "dedup_incremental": [4.0, 3.0, 2.0],
    "etl_enrich_events": [0.5, 0.25, 0.75],
}
WARM_SEC = 0.5
TASKS_PER_JOB = 4


class Harness:
    """Fake session, clock, tracker and query table sharing one log."""

    def __init__(self) -> None:
        self.log: list[tuple] = []
        self.now = 0.0
        self.group = None
        self.jobs: dict[str, list[int]] = {}
        self.runs: dict[str, int] = {}
        self.no_artifacts: set = set()
        self.sparkContext = self

    # --- clock -----------------------------------------------------
    def time(self) -> float:
        self.log.append(("clock",))
        return self.now

    # --- SparkContext ---------------------------------------------
    def setLogLevel(self, level: str) -> None:
        pass

    def setJobGroup(self, group, description) -> None:
        self.group = group
        self.log.append(("group", group))

    def statusTracker(self):
        return self

    # --- StatusTracker --------------------------------------------
    def getJobIdsForGroup(self, group: str) -> list[int]:
        self.log.append(("tracker", group))
        return list(self.jobs.get(group, []))

    def getJobInfo(self, jid: int):
        return types.SimpleNamespace(stageIds=[2 * jid, 2 * jid + 1])

    def getStageInfo(self, sid: int):
        # odd stages ran no task (skipped) and are not counted
        return types.SimpleNamespace(numTasks=TASKS_PER_JOB if sid % 2 == 0 else 0)

    # --- query table and staging ----------------------------------
    def query(self, name: str):
        def build(spark, sf_dir):
            assert spark is self
            self.log.append(("build", name, Path(sf_dir).name))
            self.no_artifacts.add(os.environ.get("SPARK_GRAFT_NO_ARTIFACTS"))
            return self._frame(name)

        return build

    def stage(self, name: str):
        def build(spark, sf_dir):
            self.log.append(("stage", name, Path(sf_dir).name))
            return self._frame(name)

        build.__name__ = name
        return build

    def _frame(self, name: str):
        h = self

        class Writer:
            def format(self, fmt):
                assert fmt == "noop"
                return self

            def mode(self, mode):
                return self

            def save(self):
                h.log.append(("save", name))
                if h.group is None:
                    h.now += WARM_SEC
                    return
                n = h.runs.get(name, 0)
                h.runs[name] = n + 1
                h.now += DURATIONS[name][n]
                jid = sum(len(v) for v in h.jobs.values())
                h.jobs.setdefault(h.group, []).append(jid)

        return types.SimpleNamespace(
            write=Writer(), count=lambda: h.log.append(("count", name))
        )


@pytest.fixture
def harness(monkeypatch, tmp_path):
    h = Harness()
    (tmp_path / "sf0.001").mkdir()
    (tmp_path / "sf0.01").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.01"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "3")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    # recorded as set, so teardown removes the value bench.main() sets
    monkeypatch.setenv("SPARK_GRAFT_NO_ARTIFACTS", "")
    monkeypatch.delenv("SPARK_GRAFT_NO_ARTIFACTS")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(bench, "time", h)
    monkeypatch.setattr(bench, "get_spark", lambda app: h)
    monkeypatch.setattr(
        bench.registry, "QUERIES", {n: h.query(n) for n in DURATIONS}
    )
    monkeypatch.setattr(
        bench, "SHARED_STAGING", (h.stage("stage_a"), h.stage("stage_b"))
    )
    monkeypatch.setattr(
        bench.ops, "reset_session_caches", lambda: h.log.append(("reset",))
    )
    return h


def _run(capsys, argv):
    bench.main(argv)
    return json.loads(capsys.readouterr().out.strip())


def _pass_starts(log, runs):
    """Index of each pass's first job-group set."""
    return [
        next(i for i, ev in enumerate(log)
             if ev[0] == "group" and ev[1] and ev[1].startswith(f"bench:{p}:"))
        for p in range(runs)
    ]


STAGING = [
    ("stage", "stage_a", "sf0.01"),
    ("count", "stage_a"),
    ("stage", "stage_b", "sf0.01"),
    ("count", "stage_b"),
]
WARM_UP = [
    ("q01_top_brands_month_weekend", "sf0.01"),
    ("ann_topk_lsh", "sf0.01"),
    ("q01_top_brands_month_weekend", "sf0.01"),
    ("dedup_minhash_lsh", "sf0.001"),
    ("dedup_simhash", "sf0.001"),
    ("dedup_components", "sf0.001"),
    ("dedup_incremental", "sf0.001"),
]


def test_full_run_warm_up_reset_staging_and_min(
    harness, capsys, monkeypatch, tmp_path
):
    detail_path = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail_path))
    out = _run(capsys, [])
    detail = json.loads(detail_path.read_text())
    log = harness.log
    starts = _pass_starts(log, 3)

    # the warm-up runs once, before pass 0, and ends with the staging
    warm = log[: starts[0]]
    assert [ev[1:] for ev in warm if ev[0] == "build"] == WARM_UP
    assert warm[-4:] == STAGING
    assert [ev for ev in log if ev[0] == "build"].count(
        ("build", "dedup_simhash", "sf0.001")
    ) == 1
    # each later pass: one reset, then each shared relation staged once
    for p in (1, 2):
        last_read = max(
            i for i, ev in enumerate(log[: starts[p]])
            if ev[0] == "tracker" and ev[1].startswith(f"bench:{p - 1}:")
        )
        assert log[last_read + 1 : starts[p]] == [("reset",)] + STAGING
    assert log.count(("reset",)) == 2

    # reported time = min over passes, per entry and in the totals
    want = {n: min(ts) for n, ts in DURATIONS.items()}
    assert {n: s["min"] for n, s in detail["stats"].items()} == want
    assert detail["passes"] == [
        {n: ts[p] for n, ts in DURATIONS.items()} for p in range(3)
    ]
    assert detail["total_min_sec"] == out["value"] == sum(want.values())
    assert out["queries"] == {
        "q01_top_brands_month_weekend": 1.0,
        "etl_enrich_events": 0.25,
    }
    assert out["detail"] == "detail.json"
    assert set(out) == {
        "metric", "value", "unit", "queries", "headline_sec", "entries",
        "detail", "sf",
    }

    # staged_uncounted is read off the tuple the staging loop calls
    assert detail["staged_uncounted"][:2] == ["stage_a", "stage_b"]
    assert len(detail["staged_uncounted"]) == len(bench.SHARED_STAGING) + 1

    for s in detail["stats"].values():
        assert (s["jobs"], s["stages"], s["tasks"]) == (1, 1, TASKS_PER_JOB)


def test_job_group_and_tracker_read_outside_timer(
    harness, capsys, monkeypatch, tmp_path
):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(tmp_path / "d.json"))
    _run(capsys, [])
    log = harness.log
    groups = [i for i, ev in enumerate(log) if ev[0] == "group" and ev[1]]
    assert len(groups) == 3 * len(DURATIONS)
    for i in groups:
        g = log[i][1]
        name = g.split(":", 2)[2]
        assert log[i : i + 7] == [
            ("group", g),
            ("clock",),
            ("build", name, "sf0.01"),
            ("save", name),
            ("clock",),
            ("group", None),
            ("tracker", g),
        ]


def test_filtered_run_times_matches_only_and_writes_outside_repo(
    harness, capsys, tmp_path
):
    def bench_full():
        return {p: p.stat().st_mtime_ns for p in REPO.glob("BENCH_FULL_r*.json")}

    before = bench_full()
    out = _run(capsys, ["dedup_", "etl_"])
    assert bench_full() == before

    detail_path = Path(out["detail"])
    assert detail_path.parent == tmp_path
    detail = json.loads(detail_path.read_text())
    timed = {n for n in DURATIONS if "dedup_" in n or "etl_" in n}
    assert set(detail["stats"]) == timed
    assert out["entries"] == detail["entries"] == len(timed)
    log = harness.log
    assert {
        ev[1] for i, ev in enumerate(log) if ev[0] == "build" and log[i - 2][0] == "group"
    } == timed
    # the filter leaves the warm-up as it is
    warm = log[: _pass_starts(log, 1)[0]]
    assert [ev[1:] for ev in warm if ev[0] == "build"] == WARM_UP


def test_run_times_artifact_consumers_cold(harness, capsys, monkeypatch, tmp_path):
    """Every warm-up and timed build runs with the artifact store off,
    the detail says so, and materialized() then returns the inline
    build instead of reading or writing a stored copy."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
        artifacts,
    )

    detail_path = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail_path))
    _run(capsys, [])
    assert harness.no_artifacts == {"1"}
    assert json.loads(detail_path.read_text())["artifact_store"] == "off"

    sf = tmp_path / "sf0.01"
    (sf / "documents.parquet").write_bytes(b"")  # the fingerprinted source
    inline = object()  # has no .write: any store write would raise
    assert artifacts.materialized(None, str(sf), "x", "v1", lambda: inline) is inline


def test_scale_study_times_artifact_consumers_cold(
    harness, capsys, monkeypatch, tmp_path
):
    """tools/scale_study.py runs its warm-up and timed builds through
    bench.py's harness, so it too times them with the store off."""
    from tools import scale_study

    sfs = [str(tmp_path / "sf0.001"), str(tmp_path / "sf0.01")]
    monkeypatch.setattr(scale_study, "get_spark", lambda app: harness)
    monkeypatch.setattr(scale_study, "ENTRIES", ["dedup_simhash", "etl_enrich_events"])
    monkeypatch.setattr(scale_study, "SF_DIRS", sfs)
    monkeypatch.setattr(scale_study, "SF1_DIR", str(tmp_path / "sf1"))
    monkeypatch.setattr(
        sys, "argv", ["scale_study.py", "--runs", "1", "--out", str(tmp_path / "s.json")]
    )
    scale_study.main()
    # warm-up at the smallest sf, then one timed pass per sf
    assert [ev[1:] for ev in harness.log if ev[0] == "build"] == [
        (name, sf)
        for sf in ("sf0.001", "sf0.001", "sf0.01")
        for name in ("dedup_simhash", "etl_enrich_events")
    ]
    assert harness.no_artifacts == {"1"}


def test_filter_matching_nothing_exits_before_spark(monkeypatch):
    monkeypatch.setattr(
        bench, "get_spark", lambda app: pytest.fail("started a session")
    )
    with pytest.raises(SystemExit, match="no_such_entry"):
        bench.main(["no_such_entry"])


@pytest.mark.parametrize(
    "module",
    sorted(
        f"tools.{p.stem}" for p in (REPO / "tools").glob("*.py")
        if p.stem != "__init__"
    ),
)
def test_tool_imports(module):
    """Each tool imports cleanly; none of them runs main() on import."""
    mod = importlib.import_module(module)
    assert callable(getattr(mod, "main", None))


def test_baseline_times_every_warehouse_twin_under_its_own_key():
    """Some warehouse twin names are also registry names; each of the
    two gets its own timed build, and the warehouse key runs the
    warehouse query."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
        registry,
        warehouse_queries as wq,
    )
    from tools import bench_baseline as bb

    wh_names = sorted(wq.WAREHOUSE_QUERIES)
    td_names = sorted(n for n in registry.QUERIES if n[0] == "q" and n[1].isdigit())
    assert set(wh_names) & set(td_names)  # the case this test guards
    rest = ["etl_enrich_events"]
    builds = bb.interleaved_builds(None, "sf0.01", 2017, wh_names, td_names, rest)
    assert len(builds) == len(wh_names) + len(td_names) + len(rest)
    for name in wh_names:
        build = builds[bb.WH_PREFIX + name]
        assert build.func is wq.run_query and build.args[1] == name
    for name in td_names + rest:
        assert builds[name].func is registry.QUERIES[name]
