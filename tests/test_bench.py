"""The benchmark harness's sizes, summary checks and level parsing, without
starting Spark: ``bench`` imports only the standard library at module level."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402


def test_sf01_sizes_are_the_recorded_ones():
    s = bench.sizes("0.1")
    assert s["apply"] == {"events": 4_000_000, "epochs": 2}
    assert s["transform"] == {"events": 1_000_000}
    assert s["sequence"] == {"rows": [1_000_000, 5_000_000, 10_000_000, 20_000_000]}
    sus = s["sustained"]
    assert sus["epochs"] == 16 and sus["events"] // sus["epochs"] == 500_000
    assert sus["compact_every"] == 4 and sus["expire_keep_last"] == 1


def _apply_pass(wall, rows):
    return {"wall_s": wall, "trials": [wall], "rows": rows, "loadavg": 1.0}


def test_summary_reports_scaling_and_checks_results():
    size = {"events": 4000, "epochs": 2}
    runs = {2: [_apply_pass(8.0, 500), _apply_pass(7.0, 500)], 8: [_apply_pass(2.0, 500)]}
    out = bench.summarize([2, 8], runs, size)
    assert [r["wall_s"] for r in out["runs"]] == [7.0, 2.0]
    assert out["runs"][0]["loadavg"] == [1.0, 1.0]
    assert out["runs"][1]["events_per_sec"] == 2000.0
    assert out["speedup"] == 3.5 and out["scaling_efficiency"] == 0.875

    runs[8].append(_apply_pass(2.5, 501))
    with pytest.raises(RuntimeError, match="parallelism changed the result"):
        bench.summarize([2, 8], runs, size)
    with pytest.raises(RuntimeError, match=r"every local\[8\] pass failed"):
        bench.summarize([2, 8], {2: runs[2], 8: []}, size)
    # one level: no speedup to report
    assert "speedup" not in bench.summarize([2], {2: runs[2]}, size)


@pytest.mark.parametrize("levels", ["8,8", "32,8", "0,4", "4,16,8"])
def test_scaling_refuses_levels_that_do_not_strictly_increase(levels, capsys):
    with pytest.raises(SystemExit):
        bench.parse_args(["--scaling", levels])
    assert "strictly increase" in capsys.readouterr().err
    assert bench.parse_args(["--scaling", "4,16", "--job", "sequence"]).scaling == [4, 16]
