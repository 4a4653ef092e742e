"""Render the static dashboard artifact end to end from driver
testdata: synthesize the reference's three master CSVs, run the real
ETL (dims + streaming-normalized fact + id assignment), register the
warehouse views, and write the self-contained HTML page.

Usage: python tools/render_dashboard.py [sf_dir] [out.html]
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (  # noqa: E402
    dashboard_html,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.session import (  # noqa: E402
    get_spark,
)
from tools.bench_warehouse import build_star  # noqa: E402


def prepare_warehouse(spark, sf_dir: str) -> list[int]:
    """Synthesize the master CSVs, run the real ETL, register the
    warehouse views, and return the fact table's years — the shared
    setup for the static artifact (main below) AND the live server
    (tools/serve_dashboard.py, tests/test_dashboard_server.py). The
    work dir holds the fact the views read, so it is left in place."""
    return build_star(spark, sf_dir, tempfile.mkdtemp(prefix="dashwork_")).years


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dashboard.html"
    spark = get_spark("render-dashboard")
    spark.sparkContext.setLogLevel("ERROR")
    years = prepare_warehouse(spark, sf_dir)
    path = dashboard_html.write_dashboard_html(spark, years, out)
    print(f"wrote {path} (years {years[0]}–{years[-1]})")


if __name__ == "__main__":
    main()
