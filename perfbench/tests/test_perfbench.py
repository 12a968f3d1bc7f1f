"""Unit tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import collect  # noqa: E402
import synth  # noqa: E402
import tables  # noqa: E402


def test_union_length_merges_overlaps():
    assert collect.union_length([]) == 0.0
    assert collect.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert collect.union_length([(3, 4), (0, 10)]) == 10.0


def test_clip_keeps_only_the_window():
    assert collect.clip([(0, 5), (6, 8), (9, 12)], 4, 10) == [
        (4, 5), (6, 8), (9, 10)]


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,000", 1000.0),
        ("0.0 B", 0.0),
        ("7 ms", 0.007),
        ("total (min, med, max (stageId: taskId))\n"
         "11.7 s (2.8 s, 3.0 s, 3.1 s (stage 2.0: task 5))", 11.7),
        ("total (min, med, max (stageId: taskId))\n"
         "16.7 KiB (3.4 KiB, 6.6 KiB, 6.6 KiB (stage 2.0: task 4))",
         16.7 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert collect.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        collect.parse_metric("3 parsecs")


def test_tracer_spans_nest_and_count():
    tr = collect.Tracer(enabled=False)
    with tr.span("op", 0):
        with tr.span("build", 0):
            pass
    op, build = tr.spans
    assert build["parent"] == 0 and op["parent"] is None
    assert op["start"] <= build["start"] <= build["end"] <= op["end"]
    assert [s["name"] for s in tr.op_spans(0)] == ["op", "build"]


def test_fleet_is_seeded_and_plants_every_event():
    a, ta = synth.synth_fleet(3, 2, 90, 96)
    b, tb = synth.synth_fleet(3, 2, 90, 96)
    assert a.equals(b) and ta == tb
    c, _ = synth.synth_fleet(4, 2, 90, 96)
    assert not a.equals(c)
    for s, t in ta.items():
        assert abs(t.cap_step_day - t.shift_day) >= 0.2 * t.days
        assert t.clipped_days > 0 and t.gap_days > 0
        mat = synth.site_matrix(a[a.site == s], t)
        assert mat.shape == (96, 90)
        assert np.isnan(mat).sum() > 0  # the gaps
        assert np.nanquantile(mat, 0.95) == pytest.approx(t.capacity_p95)


def test_site_report_check_flags_mismatches():
    _pdf, truth = synth.synth_fleet(1, 1, 90, 96)
    t = truth[0]
    good = {
        "run_pipeline_error": "No error", "num_days": 90,
        "sampling_minutes": 15.0, "capacity": t.capacity_p95,
        "capacity_change": True, "time_shift_correction": True,
        "time_zone_correction": 0, "inverter_clipping": True,
        "clipped_fraction": 0.1,
    }
    assert synth.check_site_report(good, t) == []
    bad = dict(good, time_zone_correction=1, num_days=89)
    assert len(synth.check_site_report(bad, t)) == 2
    assert synth.detections(good) == {"time_shift": True, "clipping": True}
    missed = dict(good, time_shift_correction=False, clipped_fraction=0.0)
    assert synth.detections(missed) == {"time_shift": False,
                                        "clipping": False}


def test_capacity_check_needs_the_planted_step_on_half_the_sites():
    _pdf, truth = synth.synth_fleet(2, 8, 30, 96)
    step = {s: t.cap_step_day for s, t in truth.items()}
    changes = {s: [d + 1] for s, d in step.items()}
    flagged = {s: True for s in truth}
    bad, counts = synth.check_capacity_steps(changes, flagged, truth)
    assert bad == [] and counts["cap_step_found"] == 8
    # misses: one far off, one stepping every day, two with no change
    changes[0] = [(step[0] + 10) % 30]
    changes[1] = list(range(1, 30))
    changes[2] = changes[3] = []
    flagged[2] = flagged[3] = False
    bad, counts = synth.check_capacity_steps(changes, flagged, truth)
    assert bad == [] and counts["cap_step_missed"] == [0, 1, 2, 3]
    # a fifth miss drops recall below half; a flag must match its days
    changes[4] = []
    bad, _ = synth.check_capacity_steps(changes, flagged, truth)
    assert len(bad) == 2
    assert any("found on 3 of 8" in b for b in bad)
    assert any(b.startswith("site 4: report capacity_change") for b in bad)


def test_tables_are_seeded_and_typed():
    a, b = tables.generate(9), tables.generate(9)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(tables.generate(10)["lineitem"])
    assert {k: v.num_rows for k, v in a.items()
            if k in tables.SIZES} == tables.SIZES
    li, ev = a["lineitem"].schema, a["events"].schema
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["nation"].schema.field("n_nationkey").type) == "int32"
    assert str(ev.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == \
        "list<item: float>"
    orders = a["orders"].column("o_orderkey").to_numpy()
    assert a["lineitem"].column("l_orderkey").to_numpy().max() < len(orders)


def test_steal_share_over_a_window():
    import hostenv

    assert hostenv.steal_frac((10, 1000), (15, 1100)) == pytest.approx(0.05)
    assert hostenv.steal_frac((10, 1000), (10, 1000)) == 0.0
    steal, total = hostenv.cpu_ticks()
    assert 0 <= steal <= total


def test_reaper_waits_for_orphaned_grandchildren():
    # in a child interpreter: becoming a subreaper is process-wide
    import subprocess

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import os, subprocess, sys, time
sys.path.insert(0, {here!r})
import hostenv
hostenv.become_subreaper()
subprocess.run(["sh", "-c", "(trap '' TERM; exec sleep 60) & exit 0"])
time.sleep(0.3)
left = hostenv.reap_children(grace_s=0.5)
print(len(left), len(hostenv.child_pids(os.getpid())))
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=30, check=True).stdout.split()
    assert out == ["1", "0"]
