#!/usr/bin/env python
"""Full-facade fleet probe at reference-README scale (r8 verdict item 5).

Runs ``run_fleet_pipeline`` — standardize → score → capacity/time-shift
→ tz → loss factors + Shapley — over a synthetic fleet and reports:

* per-stage wall seconds (delta between successive materializations of
  the FleetResult members, so each stage's incremental cost is visible),
* per-stage error-column cleanliness (N sites "No error"),
* the MEASURED per-executor memory quantity behind SURVEY §7.4 risk 4
  ("a single site's daily series must fit in one executor"): the max
  bytes of any single per-site pandas group at this scale, asserted
  under a budget.

The reference README's own config is ~3 years per site
(reference README.md:233-245); the r7 probe stopped at 400 days. Run:

    python tools/fleet_probe.py --sites 300 --days 1096
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

PER_SITE_GROUP_BUDGET_BYTES = 512 * 1024 * 1024  # half a 4 GiB executor


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sites", type=int, default=300)
    ap.add_argument("--days", type=int, default=1096)  # 3 years
    ap.add_argument("--slots", type=int, default=288)
    ap.add_argument(
        "--report-only",
        action="store_true",
        help="materialize only the final report (ONE pass through the "
        "whole pipeline). Per-stage timing writes each FleetResult "
        "member separately: the grid, daily and scores tables are "
        "checkpointed, but the capacity, w1-tuner and time-shift "
        "stages re-run for every member that reads them, so the "
        "per-stage total is ~1.9x the report-only time (8 sites x 400 "
        "days, 4 cores). Use per-stage mode at <= 400 days; "
        "report-only at full scale.",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from solar_data_tools_spark.plans.fleet import run_fleet_pipeline
    from solar_data_tools_spark.session import get_spark
    from solar_data_tools_spark.shipping import ensure_package_on_executors
    from tools.scale_probe import synth_fleet

    spark = get_spark(app_name="sdt-fleet-probe")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_executors(spark)

    rows = args.sites * args.days * args.slots
    print(
        f"fleet: {args.sites} sites x {args.days} days x {args.slots}"
        f" slots = {rows / 1e6:.1f}M rows",
        file=sys.stderr,
    )
    meas = synth_fleet(spark, args.sites, args.days, args.slots)

    # ---- risk-4 measurement: the largest single-site group a
    # grouped-map task must hold in pandas at this scale
    import pandas as pd

    def _group_bytes(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"b": [int(pdf.memory_usage(deep=True).sum())]}
        )

    t0 = time.perf_counter()
    gb = (
        meas.groupBy("site")
        .applyInPandas(_group_bytes, "b long")
        .agg(F.max("b").alias("mx"))
        .collect()[0]["mx"]
    )
    t_groupscan = time.perf_counter() - t0
    assert gb < PER_SITE_GROUP_BUDGET_BYTES, (
        f"single-site group {gb / 1e6:.1f} MB exceeds the "
        f"{PER_SITE_GROUP_BUDGET_BYTES / 1e6:.0f} MB per-executor budget"
    )

    timings: dict[str, float] = {"site_group_scan": round(t_groupscan, 1)}
    res = run_fleet_pipeline(
        meas,
        fix_shifts=True,
        correct_tz=True,
        run_loss_analysis=True,
    )
    # cache BEFORE the timed materialization: the timed noop write fills
    # the (tiny, one-row-per-site) cache, so the cleanliness counts below
    # read cached rows instead of re-running the whole solver lineage.
    rep = res.report.cache()
    stages = (
        (("report_full", rep),)
        if args.report_only
        else (
            ("standardize", res.standardized),
            ("scores", res.scores),
            ("capacity_changes", res.capacity_changes),
            ("time_shifts", res.time_shifts),
            ("report_full", rep),
        )
    )
    prev = 0.0
    t_start = time.perf_counter()
    for label, df in stages:
        df.write.format("noop").mode("overwrite").save()
        now = time.perf_counter() - t_start
        timings[label] = round(now - prev, 1)
        prev = now

    n_sites = rep.count()
    err_cols = [c for c in rep.columns if c.endswith("_error")]
    clean = {}
    for c in err_cols:
        clean[c] = rep.where(
            F.col(c).isNull() | (F.col(c) == "No error")
        ).count()
    n_loss = (
        rep.where(
            F.col("degradation_rate_pct_per_year").isNotNull()
        ).count()
        if "degradation_rate_pct_per_year" in rep.columns
        else None
    )

    print(
        json.dumps(
            {
                "sites": args.sites,
                "days": args.days,
                "rows": rows,
                "max_site_group_mb": round(gb / 1e6, 1),
                "group_budget_mb": PER_SITE_GROUP_BUDGET_BYTES // 2**20,
                "stage_sec": timings,
                "total_sec": round(prev, 1),
                "report_sites": n_sites,
                "clean_by_stage": clean,
                "loss_fits": n_loss,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
