"""bench.py's stdout line must carry every timed headline entry whole
inside the driver's 2000-char stdout tail — no entry silently
trimmed."""

import importlib.util
import json
import os
import random

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name, rel):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _timings(high, seed=405):
    """A synthetic full-catalog timing map: every headline entry plus
    fillers up to the catalog's 405 entries."""
    import bench

    rng = random.Random(seed)
    names = list(bench.HEADLINE) + [
        f"filler_entry_{i:03d}" for i in range(405 - len(bench.HEADLINE))
    ]
    return {n: round(rng.uniform(0.01, high), 3) for n in names}


def test_headline_line_keeps_every_entry_within_budget(tmp_path):
    import bench

    timings = _timings(9.99)
    out = bench.headline_line(812.345, timings, 31.377, 0.1)
    assert len(out) <= bench.LINE_BUDGET
    line = json.loads(out)
    assert list(line["queries"]) == list(bench.HEADLINE)
    assert line["n_queries"] == 405 and line["value"] == 812.345
    # sub-10 s timings keep at least 0.05 s resolution
    for k in bench.HEADLINE:
        assert abs(line["queries"][k] - timings[k]) <= 0.05, k

    # the driver's tail of stdout still parses back in full
    bench_diff = _tool("bench_diff", "tools/bench_diff.py")
    tail = ("library warning noise\n" * 40 + out + "\n")[-2000:]
    wrapped = tmp_path / "BENCH_rXX.json"
    wrapped.write_text(json.dumps({"tail": tail}))
    loaded = bench_diff._load(str(wrapped))
    assert loaded["value"] == 812.345
    assert set(bench.HEADLINE) <= set(loaded["queries"])


def test_headline_line_fits_slow_entries_by_dropping_decimals():
    import bench

    timings = {k: 599.987 for k in _timings(1.0)}
    line = json.loads(bench.headline_line(9999.999, timings, 999.999, 0.1))
    assert list(line["queries"]) == list(bench.HEADLINE)
    assert set(line["queries"].values()) == {600}


def test_headline_line_covers_filtered_runs():
    import bench

    out = bench.headline_line(1.0, {"dedup_exact": 0.5}, 0.2, 0.1)
    assert json.loads(out)["queries"] == {"dedup_exact": 0.5}
