"""Same-session apples-to-apples baseline (round-8 verdict item #1).

Prior rounds graded the testdata-mapped q01–q20 against a warehouse
baseline measured in a DIFFERENT Spark session, sometimes days earlier,
on a host whose committed same-code spreads reach 5.5 s — so a 0.4 s
absolute gap on a 0.35 s query could flip the 2× grade either way.
This tool removes the session variable: in ONE Spark session it times,
interleaved per pass so noise bursts hit every variant alike,

  A. the 20 warehouse-faithful reference twins
     (``plans/warehouse_queries.py`` over the synthesized star schema —
     the reference's own query shapes, /root/reference/queries.sql),
  B. the 20 testdata-mapped registry queries (q01..q20), and
  C. every beyond-reference registry entry, aggregated per family,

min-of-N (default 3) per entry with bench.py's harness (its warm-up
plus one warehouse query, its shared staging, per-pass reset and noop
timer), and emits one JSON artifact plus a ready-to-paste markdown
ratio table for the BASELINE.md addendum.

Usage:
    python tools/bench_baseline.py [--sf-dir /root/testdata/sf0.1] \
        [--runs 3] [--out BASELINE_SAMESESSION.json]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# importing bench also registers every registry entry
from bench import fastest, run_query, timed_passes, warm_up  # noqa: E402
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (  # noqa: E402
    registry,
    warehouse_queries as wq,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.session import (  # noqa: E402
    get_spark,
)
from tools.bench_warehouse import build_star  # noqa: E402

# The two reference-ETL entries are part of the reference surface, not
# the beyond-reference families (verdict convention: 92 − 20 − 2 = 70).
_REFERENCE_ETL = {"etl_enrich_events", "etl_events_by_type"}


def _family(name: str) -> str:
    if name == "corpus_select":
        return "sample"
    return name.split("_", 1)[0]


# Warehouse twins are timed under this key prefix: three of their names
# (q13_supplier_contribution, q16_affinity_pairs, q19_daily_spikes) are
# also registry names, and one dict holds both kinds of build.
WH_PREFIX = "wh:"


def interleaved_builds(
    spark, sf_dir: str, bench_year: int, wh_names, td_names, rest
) -> dict:
    """Timed builds in pass order: warehouse twin i right before testdata
    twin i, so each pairwise ratio is measured seconds apart, not
    sessions apart; then the ``rest`` registry entries."""
    builds = {}
    for w_name, t_name in zip(wh_names, td_names):
        builds[WH_PREFIX + w_name] = functools.partial(
            wq.run_query, spark, w_name, year=bench_year
        )
        builds[t_name] = functools.partial(registry.QUERIES[t_name], spark, sf_dir)
    for name in rest:
        builds[name] = functools.partial(registry.QUERIES[name], spark, sf_dir)
    assert len(builds) == len(wh_names) + len(td_names) + len(rest), (
        "a build name collides or the twin lists differ in length"
    )
    return builds


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BASELINE_SAMESESSION.json")
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir

    spark = get_spark("bench-baseline")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="baseline_bench_")
    try:
        bench_year = build_star(spark, sf_dir, work).years[0]

        td_names = sorted(
            n for n in registry.QUERIES if n[0] == "q" and n[1].isdigit()
        )
        wh_names = sorted(
            wq.WAREHOUSE_QUERIES, key=lambda n: int(n[1:].split("_")[0])
        )
        beyond = [
            n
            for n in registry.QUERIES
            if n not in td_names and n not in _REFERENCE_ETL
        ]
        ref_etl = sorted(_REFERENCE_ETL & set(registry.QUERIES))

        # Warm-up: bench.py's, plus one warehouse query.
        warm_up(spark, sf_dir)
        run_query(wq.run_query, spark, wh_names[0], year=bench_year)

        builds = interleaved_builds(
            spark, sf_dir, bench_year, wh_names, td_names, ref_etl + beyond
        )
        best = fastest(timed_passes(spark, sf_dir, builds, max(1, args.runs)))
        wh = {n: best[WH_PREFIX + n]["sec"] for n in wh_names}
        td = {n: best[n]["sec"] for n in td_names}
        by = {n: best[n]["sec"] for n in ref_etl + beyond}

        families: dict[str, dict] = {}
        for name in beyond:
            fam = families.setdefault(
                _family(name), {"entries": 0, "sec": 0.0}
            )
            fam["entries"] += 1
            fam["sec"] = round(fam["sec"] + by[name], 3)

        pairs = []
        for w_name, t_name in zip(wh_names, td_names):
            pairs.append(
                {
                    "warehouse": w_name,
                    "testdata": t_name,
                    "warehouse_sec": wh[w_name],
                    "testdata_sec": td[t_name],
                    "ratio": round(td[t_name] / wh[w_name], 2)
                    if wh[w_name]
                    else None,
                }
            )

        result = {
            "metric": "same_session_baseline",
            "sf_dir": sf_dir,
            "runs": args.runs,
            "bench_year": bench_year,
            "warehouse_total_sec": round(sum(wh.values()), 3),
            "testdata_total_sec": round(sum(td.values()), 3),
            "warehouse": wh,
            "testdata": td,
            "pairs": pairs,
            "reference_etl": {n: by[n] for n in ref_etl},
            "beyond": by,
            "beyond_families": dict(sorted(families.items())),
        }
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)

        # Ready-to-paste markdown for the BASELINE.md addendum.
        lines = [
            "| pair | warehouse twin (s) | testdata twin (s) | ratio |",
            "|---|---|---|---|",
        ]
        for pr in pairs:
            lines.append(
                f"| {pr['testdata'].split('_')[0]} | {pr['warehouse_sec']} "
                f"| {pr['testdata_sec']} | {pr['ratio']}× |"
            )
        lines += [
            "",
            "| family | entries | total s (min-of-%d) |" % args.runs,
            "|---|---|---|",
        ]
        for fam, st in sorted(families.items()):
            lines.append(f"| {fam} | {st['entries']} | {st['sec']} |")
        print("\n".join(lines))
        print(
            json.dumps(
                {
                    "warehouse_total_sec": result["warehouse_total_sec"],
                    "testdata_total_sec": result["testdata_total_sec"],
                    "out": args.out,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
