"""Seeded solar fleets with planted truth, and the checks that compare
the program's outputs against that truth.

Everything here is plain numpy/pandas on the driver: the benchmark owns
its inputs, so a change to the package can never change what it is fed.
The same seed always yields the same rows.

Each site is a clear-sky bell whose day length and amplitude follow the
season, per-day weather (clear or cloudy), and four planted events:

* gaps: readings removed in a 1-3 hour daylight window on ~5 % of days;
* clipped days: an inverter limit at 0.8 x the median clear-sky peak,
  so about half the clear days before the capacity step saturate flat;
* one capacity step: output drops by ``CAP_DROP`` from a seeded day on;
* one time shift: the clock runs one hour late from a seeded day on.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

EPOCH = pd.Timestamp("2021-01-01")
CAP_DROP = 0.3


# ------------------------------------------------------------------ solar
@dataclass
class SiteTruth:
    site: int
    days: int
    slots: int
    cap_step_day: int
    shift_day: int
    clipped_days: int
    gap_days: int
    capacity_p95: float  # np.nanquantile of the generated day matrix


def synth_site(
    rng: np.random.Generator,
    site: int,
    days: int,
    slots: int,
) -> tuple[pd.DataFrame, SiteTruth]:
    """One site: (site, ts, value) long rows plus its planted truth."""
    hod = np.arange(slots) * 24.0 / slots
    doy = (np.arange(days) + int(rng.integers(0, 365))) % 365
    season = np.cos(2 * np.pi * (doy - 172) / 365.0)
    day_len = 12.0 + 3.0 * season  # hours of daylight
    amp = 0.85 + 0.15 * season
    capacity = float(rng.uniform(3.0, 8.0))

    sr = 12.0 - day_len / 2
    x = (hod[:, None] - sr[None, :]) / day_len[None, :]
    bell = np.where((x > 0) & (x < 1), np.sin(np.pi * np.clip(x, 0, 1)), 0.0)
    clear_sky = capacity * amp[None, :] * bell**1.2

    # weather: ~60 % clear days (1 % jitter), the rest cloudy
    clear = rng.random(days) < 0.6
    jitter = 1.0 + 0.01 * rng.standard_normal((slots, days))
    cloud = np.clip(
        rng.uniform(0.25, 0.8, days)[None, :]
        + 0.25 * rng.standard_normal((slots, days)),
        0.05,
        1.0,
    )
    weather = np.where(clear[None, :], jitter, cloud)

    # capacity step (a lost string) and clock shift land in opposite
    # halves of the record, at least a fifth of it apart
    early = int(rng.integers(int(0.25 * days), int(0.4 * days)))
    late = int(rng.integers(int(0.6 * days), int(0.75 * days)))
    cap_step_day, shift_day = (early, late) if rng.random() < 0.5 else (
        late, early)
    scale = np.where(np.arange(days) >= cap_step_day, 1.0 - CAP_DROP, 1.0)
    power = clear_sky * weather * scale[None, :]

    # inverter limit below the median clear-sky daily peak, so about half
    # the clear days before the capacity step saturate flat
    limit = 0.8 * float(np.median(clear_sky.max(axis=0)))
    peak_before = power.max(axis=0)
    power = np.minimum(power, limit)
    clipped_days = int(((peak_before > limit) & clear).sum())

    # one-hour clock shift: readings land 1 h late from shift_day on
    k = slots // 24
    power[:, shift_day:] = np.roll(power[:, shift_day:], k, axis=0)

    # gaps: drop a 1-3 h daylight window on ~5 % of days
    valid = np.ones((slots, days), dtype=bool)
    gap_days = rng.choice(days, size=max(days // 20, 1), replace=False)
    for d in gap_days:
        start = int(rng.integers(int(9 * slots / 24), int(13 * slots / 24)))
        width = int(rng.integers(slots // 24, 3 * slots // 24 + 1))
        valid[start : start + width, d] = False

    mat = np.where(valid, power, np.nan)
    capacity_p95 = float(np.nanquantile(mat, 0.95))

    step_s = 86400 // slots
    day_idx, slot_idx = np.nonzero(valid.T)
    ts = (
        EPOCH
        + pd.to_timedelta(day_idx, unit="D")
        + pd.to_timedelta(slot_idx * step_s, unit="s")
    )
    pdf = pd.DataFrame(
        {
            "site": np.full(len(ts), site, dtype=np.int64),
            "ts": ts,
            "value": power.T[day_idx, slot_idx],
        }
    )
    truth = SiteTruth(
        site=site,
        days=days,
        slots=slots,
        cap_step_day=cap_step_day,
        shift_day=shift_day,
        clipped_days=clipped_days,
        gap_days=len(gap_days),
        capacity_p95=capacity_p95,
    )
    return pdf, truth


def synth_fleet(
    seed: int, sites: int, days: int, slots: int
) -> tuple[pd.DataFrame, dict[int, SiteTruth]]:
    """``sites`` independent sites; returns (long rows, truth by site)."""
    rng = np.random.default_rng(seed)
    parts, truth = [], {}
    for s in range(sites):
        pdf, t = synth_site(rng, s, days, slots)
        parts.append(pdf)
        truth[s] = t
    out = pd.concat(parts, ignore_index=True)
    out.insert(2, "seq", np.arange(len(out), dtype=np.int64))
    return out, truth


def site_matrix(pdf: pd.DataFrame, truth: SiteTruth) -> np.ndarray:
    """(slots x days) day matrix of one site, NaN where a reading is
    missing — the layout the per-site kernels take."""
    mat = np.full((truth.slots, truth.days), np.nan)
    secs = (pdf.ts - EPOCH).dt.total_seconds().to_numpy()
    day = (secs // 86400).astype(int)
    slot = ((secs % 86400) // (86400 // truth.slots)).astype(int)
    mat[slot, day] = pdf.value.to_numpy()
    return mat


def check_site_report(row: dict, t: SiteTruth) -> list[str]:
    """Mismatches between one ``fleet_report`` row and the planted truth
    (empty list == correct). The capacity step is judged over the whole
    fleet by ``check_capacity_steps``; see ``detections`` for the fields
    reported as counts only."""
    bad = []

    def want(cond: bool, what: str) -> None:
        if not cond:
            bad.append(f"site {t.site}: {what}")

    want(row.get("run_pipeline_error") == "No error",
         f"run_pipeline_error={row.get('run_pipeline_error')!r}")
    want(row.get("num_days") == t.days,
         f"num_days={row.get('num_days')} != {t.days}")
    want(
        row.get("sampling_minutes") is not None
        and abs(row["sampling_minutes"] - 1440.0 / t.slots) < 1e-9,
        f"sampling_minutes={row.get('sampling_minutes')}",
    )
    # the report's p95 is taken over the standardized grid, which can
    # differ from the raw matrix by a few readings at the gaps
    cap = row.get("capacity")
    want(
        cap is not None and abs(cap - t.capacity_p95) <= 0.02 * t.capacity_p95,
        f"capacity={cap} != planted p95 {t.capacity_p95}",
    )
    want(row.get("time_zone_correction") == 0,
         f"time_zone_correction={row.get('time_zone_correction')}")
    return bad


STEP_TOLERANCE_DAYS = 2
MIN_STEP_RECALL = 0.5


def capacity_step_found(change_days: list[int], t: SiteTruth) -> bool:
    """A change is flagged within ``STEP_TOLERANCE_DAYS`` of the planted
    step, and on fewer than half the days: a level that steps nearly
    every day (a diverged solve) is not a detection."""
    near = any(abs(d - t.cap_step_day) <= STEP_TOLERANCE_DAYS
               for d in change_days)
    return near and len(change_days) < t.days / 2


def check_capacity_steps(
    changes: dict[int, list[int]],
    flagged: dict[int, bool],
    truth: dict[int, SiteTruth],
) -> tuple[list[str], dict]:
    """Judge ``run_fleet_pipeline(...).capacity_changes`` (change days per
    site) and the report's ``capacity_change`` flag against the planted
    steps. Returns (mismatches, counts for the detail record).

    Asserted: every site's report flag agrees with its change days, and
    at least ``MIN_STEP_RECALL`` of the sites have their planted step
    found. Per-site misses are counted, not failed one by one: on these
    short records the capacity stage misses or scrambles a few per cent
    of sites (see README.md), and a fleet-wide recall below the bar is
    what a broken stage looks like."""
    bad = []
    found = []
    for s, t in truth.items():
        days = sorted(changes.get(s, []))
        if flagged.get(s) is not bool(days):
            bad.append(f"site {s}: report capacity_change={flagged.get(s)} "
                       f"but {len(days)} change days")
        if capacity_step_found(days, t):
            found.append(s)
    recall = len(found) / len(truth)
    if recall < MIN_STEP_RECALL:
        bad.append(f"planted capacity step found on {len(found)} of "
                   f"{len(truth)} sites (< {MIN_STEP_RECALL:.0%})")
    counts = {
        "cap_step_found": len(found),
        "cap_step_missed": sorted(set(truth) - set(found)),
        "cap_change_days": sum(len(v) for v in changes.values()),
    }
    return bad, counts


def detections(row: dict) -> dict[str, bool]:
    """Planted events whose detection is reported as a rate, not asserted:
    on these records the pipeline misses some of them (scoring runs before
    shift correction, so one side of a clock shift can lose nearly all its
    clear days, and the shift fit uses clear days only; clipping detection
    needs point masses that a few clipped days may not form)."""
    cf = row.get("clipped_fraction")
    return {
        "time_shift": row.get("time_shift_correction") is True,
        "clipping": row.get("inverter_clipping") is True
        and cf is not None and cf > 0.0,
    }
