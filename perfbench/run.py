"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload consolidate_serve --seed 1 \\
        --seconds 15 --trace 0

The run builds nothing: it imports the engine from the checkout,
starts a session and makes its inputs from ``--seed`` ``SETUP_REPS``
times, warms up once on the last inputs (``setup_s`` is the median
repetition plus the warm-up), measures for about ``--seconds``, checks
the outputs, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes a Spark event log and spans, and the metrics are
the per-layer ones. Everything it writes lives under
``perfbench/_work`` in the checkout; traces are kept in
``perfbench/_work/traces``. The exit code is 0 only when every
operation and check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
E2E = ("setup_s", "items_per_s", "latency_p50_ms")
UNITS = {"setup_s": "s", "items_per_s": "1/s", "latency_p50_ms": "ms", "peak_rss_mb": "MB"}


def configure_env(work: str) -> None:
    """Keep every file the engine and Spark write inside ``work`` and
    size the local session to the CPUs this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["IP_SCRATCH"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Context:
    """Run state shared by the phases: the session, the seed and the
    clock budget, operation accounting and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str) -> None:
        from harness import Ops, Tracer

        self.root = ROOT
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.ops = Ops()
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace, self._set_group)
        self.spark = None
        self.jvm_pid = None
        self.session_start_s = 0.0
        self.released = 0
        self.progress: list[dict] = []
        self.manifest_reads_ms: list[float] = []
        self.eventlog_dir = os.path.join(work, "eventlog")

    def _set_group(self, group: str | None, desc: str) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, desc)

    def start_session(self) -> None:
        from intelligencepipeline_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # hsperfdata would land in /tmp whatever java.io.tmpdir says.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=conf)
        if self.jvm_pid is None:
            self.session_start_s = time.time() - t0
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if self.trace:
            from harness import make_progress_listener

            self.spark.streams.addListener(make_progress_listener(self.progress))

    def timed_manifest_read(self, table: str) -> None:
        from intelligencepipeline_spark.operators.snapshot_store import read_manifest

        t0 = time.perf_counter()
        read_manifest(table)
        self.manifest_reads_ms.append(1000 * (time.perf_counter() - t0))

    def shutdown(self) -> None:
        """Stop the session, then the JVM and its Python workers, and
        wait until each has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        children = _descendants(proc.pid)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 30
        while children and time.time() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in children:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One full run; returns the result line plus a report for the trace."""
    from harness import HostNoise, median, peak_rss_mb
    from workloads import WORKLOADS, summarize

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    ctx = Context(workload, seed, seconds, trace, work)
    wl = WORKLOADS[workload]()
    noise = HostNoise()
    report: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                    "trace": trace}
    try:
        from intelligencepipeline_spark.caching import (
            fit_build_seconds, release_persisted, release_shared,
        )

        setups = []
        with ctx.tracer.span("run"):
            for rep in range(SETUP_REPS):
                t0 = time.time()
                with ctx.tracer.span("setup", rep=rep):
                    with ctx.tracer.span("session.start"):
                        ctx.start_session()
                    with ctx.tracer.span("inputs.stage"):
                        wl.stage(ctx, rep)
                setups.append(time.time() - t0)
            t0 = time.time()
            with ctx.tracer.span("warmup"):
                wl.warm_up(ctx)
            warmup_s = time.time() - t0
            release_persisted()
            release_shared()
            fit0, released0 = fit_build_seconds(), ctx.released
            with ctx.tracer.span("measure"):
                m = wl.measure(ctx)
            fit1 = fit_build_seconds()
            fit_timed = sorted(k for k in fit1 if fit1[k] != fit0.get(k))
            released = ctx.released - released0
            release_persisted()
            release_shared()
            with ctx.tracer.span("verify"):
                wl.verify(ctx, m)
        ctx.ops.check(f"no fit-once cache built while timed: {fit_timed}", not fit_timed)
        e2e = summarize(m)
        report.update(setup_reps_s=setups, warmup_s=warmup_s, e2e=e2e,
                      details=_jsonable(m.details))
        e2e["setup_s"] = median(setups) + warmup_s
        e2e["peak_rss_mb"] = peak_rss_mb(ctx.jvm_pid)
        if trace:
            ctx.shutdown()
            from layers import compute_layers

            report["layers"] = compute_layers(ctx, wl, m, fit_timed, released, e2e)
    except Exception as e:  # the run boundary: report the failure, never hang
        import traceback

        traceback.print_exc()
        ctx.ops.fail(f"run aborted: {e!r}"[:300])
        e2e = None
    finally:
        ctx.shutdown()
        report["host"] = noise.report()
    report["ops"] = {"attempted": ctx.ops.attempted, "failed": ctx.ops.failed,
                     "error_rate": ctx.ops.error_rate, "failures": ctx.ops.failures}
    report["spans"] = ctx.tracer.to_json()
    report["manifest_reads_ms"] = ctx.manifest_reads_ms
    if e2e is None:
        metrics = {}
    elif trace:
        metrics = report["layers"]["metrics"]
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": UNITS[k]} for k in E2E}
    result = {
        "correct": ctx.ops.failed == 0 and e2e is not None,
        "attempted": max(1, ctx.ops.attempted),
        "failed": ctx.ops.failed,
        "metrics": metrics,
    }
    if trace:
        traces = os.path.join(HERE, "_work", "traces")
        os.makedirs(traces, exist_ok=True)
        out = os.path.join(traces, f"{workload}-seed{seed}-{int(time.time())}.json")
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        report["trace_file"] = os.path.relpath(out, ROOT)
    shutil.rmtree(work, ignore_errors=True)
    return {"result": result, "report": report}


def _jsonable(details: dict) -> dict:
    return json.loads(json.dumps(details, default=str))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        import intelligencepipeline_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result, report = out["result"], out["report"]
    e2e = report.get("e2e") or {}
    host = report["host"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for k in E2E + ("peak_rss_mb",):
        if k in e2e:
            print(f"  {k} {e2e[k]:.6g} {UNITS[k]}")
    if e2e:
        print(f"  latency_tail_ms {e2e['latency_tail_ms']:.6g} ms "
              f"(p{e2e['latency_tail_pct']:.1f} of n={e2e['latency_n']})")
        print(f"  setup_s = median session+inputs {[round(x, 3) for x in report['setup_reps_s']]}"
              f" + warm-up {report['warmup_s']:.3f}")
    details = report.get("details") or {}
    if "batches" in details:
        print(f"  batch_ms {[b['trigger_ms'] for b in details['batches']]}"
              f" drain_rate {details['drain_rate']:.6g} 1/s")
    if "pass_s" in details:
        print(f"  pass_s {[round(x, 3) for x in details['pass_s']]}")
    ops = report["ops"]
    print(f"  error_rate {ops['error_rate']:.6g} ratio ({ops['failed']}/{ops['attempted']})")
    for f in ops["failures"]:
        print(f"  FAILED {f}")
    print(f"  host {json.dumps(host)}")
    if "trace_file" in report:
        print(f"  trace {report['trace_file']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
