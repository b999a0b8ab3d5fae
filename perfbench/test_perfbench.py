"""Tests of the benchmark itself.

Run from the root of the repository::

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests need no JVM. The last ones start Spark in a child
process: a hung stream that must be stopped and counted, and a tiny
smoke of each workload (sf 0.001-sized inputs, traced) that must pass
its correctness checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402
from harness import Ops, StreamTimeout, await_stream, tail  # noqa: E402


# -- the tail rule -------------------------------------------------------------


def test_tail_has_exactly_ten_samples_beyond_it():
    samples = list(range(1, 101))  # 1..100
    value, pct, n = tail(samples)
    assert n == 100
    assert value == 90
    assert pct == 90.0
    assert sum(1 for s in samples if s > value) == 10


def test_tail_percentile_follows_sample_count():
    for n in (11, 20, 37, 250):
        samples = [float(i) for i in range(n)]
        value, pct, got_n = tail(samples)
        assert got_n == n
        assert sum(1 for s in samples if s > value) == 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_short_sample_is_its_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)


def test_tail_ignores_input_order():
    a = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 0, 12]
    assert tail(a) == tail(sorted(a))


# -- error accounting ----------------------------------------------------------


def test_error_rate_counts_failed_over_attempted():
    ops = Ops()
    ops.ok(3)
    ops.fail("lookup 7: boom")
    assert ops.check("equal", True)
    assert not ops.check("unequal", False)
    assert (ops.attempted, ops.failed) == (6, 2)
    assert ops.error_rate == pytest.approx(2 / 6)
    assert ops.failures == ["lookup 7: boom", "check failed: unequal"]


class _HungQuery:
    def __init__(self):
        self.isActive = True
        self.stopped = False

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self.stopped = True
        self.isActive = False


def test_hung_stream_is_stopped_and_named():
    q = _HungQuery()
    with pytest.raises(StreamTimeout, match="'drain'"):
        await_stream(q, 0.01, "drain")
    assert q.stopped and not q.isActive


class _Row(dict):
    def asDict(self):
        return dict(self)


def _fake_ctx(tmp_path):
    return types.SimpleNamespace(
        ops=Ops(),
        tracer=harness.Tracer("t", enabled=False),
        seed=5,
        seconds=0.0,
        trace=False,
        work=str(tmp_path),
    )


def _fake_store(progress, lookup):
    wl = workloads.ConsolidateServe()
    wl.backlog = [types.SimpleNamespace(num_rows=10) for _ in range(wl.backlog_files)]
    wl.hits = [1, 2, 3]
    wl._drain = lambda ctx, src, table, name, m=None: types.SimpleNamespace(
        recentProgress=progress
    )
    wl._lookup = lookup
    wl._scan = lambda ctx, table: [_Row(records=3, meta_entries=3)]
    return wl


def _progress(n):
    return [
        {
            "batchId": i,
            "timestamp": "2026-01-01T00:00:00.000Z",
            "numInputRows": 10,
            "durationMs": {"triggerExecution": 5},
        }
        for i in range(n)
    ]


def test_failing_lookup_counts_in_error_rate(tmp_path):
    calls = []

    def lookup(ctx, table, key):
        calls.append(key)
        if len(calls) == 1:
            raise RuntimeError("deliberate lookup failure")
        return [], 0.0

    wl = _fake_store(_progress(workloads.ConsolidateServe.backlog_files), lookup)
    ctx = _fake_ctx(tmp_path)
    m = wl.measure(ctx)
    n_lookups = len(m.details["lookups"])
    assert n_lookups == wl.min_lookups
    # batches + lookups + the scan were attempted; one lookup failed
    assert ctx.ops.attempted == wl.backlog_files + n_lookups + 1
    assert ctx.ops.failed == 1
    assert "deliberate lookup failure" in ctx.ops.failures[0]
    assert len(m.latencies_s) == n_lookups - 1


def test_hung_drain_counts_every_batch_as_failed(tmp_path):
    wl = _fake_store([], lambda ctx, table, key: ([], 0.0))

    def hung(ctx, src, table, name, m=None):
        raise StreamTimeout(f"stream {name!r} did not finish in 1s")

    wl._drain = hung
    ctx = _fake_ctx(tmp_path)
    wl.measure(ctx)
    assert ctx.ops.failed == wl.backlog_files
    assert "did not finish" in ctx.ops.failures[0]
    assert ctx.ops.error_rate > 0


def test_short_drain_is_a_failure(tmp_path):
    wl = _fake_store(_progress(1), lambda ctx, table, key: ([], 0.0))
    ctx = _fake_ctx(tmp_path)
    wl.measure(ctx)
    assert ctx.ops.failed == 1
    assert "batches" in ctx.ops.failures[0]


# -- spans ---------------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = harness.Tracer("r", enabled=True)
    tr.spans = [
        harness.Span(0, "run", None, 0.0, 10.0),
        harness.Span(1, "a", 0, 1.0, 4.0),
        harness.Span(2, "b", 0, 3.0, 6.0),  # overlaps a by 1 s
        harness.Span(3, "c", 1, 2.0, 3.0),
    ]
    st = tr.self_times()
    assert st[0] == pytest.approx(5.0)  # 10 - (1..6)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert tr.innermost(2.5).name == "c"


# -- inputs --------------------------------------------------------------------


def test_inputs_depend_only_on_the_seed(tmp_path):
    import datagen

    a, b, c = (tmp_path / x for x in "abc")
    datagen.write_tables(str(a), 3, 0.001)
    datagen.write_tables(str(b), 3, 0.001)
    datagen.write_tables(str(c), 4, 0.001)
    for name in os.listdir(a):
        same = (a / name).read_bytes() == (b / name).read_bytes()
        assert same, name
    assert (a / "documents.parquet").read_bytes() != (c / "documents.parquet").read_bytes()


# -- with Spark ----------------------------------------------------------------


def _run_child(code: str, timeout: int = 600) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_real_hung_stream_is_stopped_and_counted():
    p = _run_child(
        f"""
        import json, os, sys
        sys.path.insert(0, {HERE!r}); sys.path.insert(0, {ROOT!r})
        import run
        work = os.path.join(run.HERE, "_work", f"test-{{os.getpid()}}")
        run.configure_env(work)
        from harness import StreamTimeout, await_stream
        ctx = run.Context("hung", 1, 1.0, False, work)
        ctx.start_session()
        src = os.path.join(work, "src"); os.makedirs(src)
        q = (ctx.spark.readStream.schema("x long").parquet(src)
             .writeStream.format("noop").trigger(processingTime="1 second")
             .option("checkpointLocation", os.path.join(work, "ck")).start())
        try:
            await_stream(q, 3, "never ends")
            err = None
        except StreamTimeout as e:
            ctx.ops.fail(str(e))
            err = str(e)
        out = {{"err": err, "active": q.isActive, "rate": ctx.ops.error_rate}}
        ctx.shutdown()
        import shutil; shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(out))
        """
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert "'never ends'" in out["err"]
    assert out["active"] is False
    assert out["rate"] == 1.0


SMOKE = """
import json, os, sys
sys.path.insert(0, {here!r}); sys.path.insert(0, {root!r})
import run
run.configure_env(os.path.join(run.HERE, "_work", f"run-{{os.getpid()}}"))
import workloads
workloads.CatalogCore.sf = 0.001
workloads.ConsolidateServe.events_per_file = 200
workloads.ConsolidateServe.n_users = 150
workloads.ConsolidateServe.min_lookups = 4
out = run.run({workload!r}, 7, 0.5, True)
print(json.dumps({{"result": out["result"], "failures": out["report"]["ops"]["failures"],
                  "spans": len(out["report"]["spans"])}}))
"""


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_traced_smoke_passes_its_checks(workload):
    p = _run_child(SMOKE.format(here=HERE, root=ROOT, workload=workload))
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    res = out["result"]
    assert res["correct"], out["failures"]
    assert res["failed"] == 0 and res["attempted"] > 0
    assert out["spans"] > 0
    metrics = res["metrics"]
    assert metrics["caching.fit_builds_timed"]["value"] == 0
    assert metrics["spark.jobs"]["value"] > 0
    assert metrics["streaming.batches"]["value"] > 0
