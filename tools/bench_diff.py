"""Per-query bench regression gate: compare two BENCH_r{N}.json files
and flag queries that regressed by more than a threshold.

Usage:
    python tools/bench_diff.py BENCH_r01.json BENCH_r02.json [ratio]

Exit code 1 if any query regressed > ratio (default 1.5x) AND by more
than NOISE_FLOOR seconds absolute. The floor is 1.0s, set from a
MEASURED same-commit A/B (r06): the identical r05 commit's
url_domain_caps read 0.84s at the r05 bench and 2.2-2.8s warm on the
same host a round later — a 1.4-2.0s absolute swing on unchanged
code. Sub-second entries flip by >0.5s from host drift alone, and the
median normalization can't catch it when the drift hits only a few
JIT/regex-sensitive entries; multi-second plan regressions (the kind
worth gating on) clear 1.0s easily.
"""

from __future__ import annotations

import json
import os
import re
import sys

NOISE_FLOOR = 1.0  # seconds; see module docstring for the measurement


def _load(path: str) -> dict:
    """Accept either bench.py's raw line or the driver's BENCH_r{N}.json
    wrapper (which may hold only a truncated 'tail' of the line)."""
    with open(path) as fh:
        d = json.load(fh)
    if "queries" in d:
        return d
    tail = d.get("tail", "")
    pairs = re.findall(r'"([a-z0-9_]+)": ?([0-9][0-9.]*)', tail)
    total = re.search(r'"value": ?([0-9.]+)', tail)
    return {
        "value": float(total.group(1)) if total else None,
        "queries": {
            k: float(v)
            for k, v in pairs
            if k not in ("value", "sf", "n", "rc", "cpus", "n_queries")
        },
    }


def diff(old_path: str, new_path: str, ratio: float = 1.5) -> int:
    old, new = _load(old_path), _load(new_path)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    # HOST normalization: the bench host's background load drifts
    # between rounds (measured: the identical commit ran the same
    # query 3.8s one day, 7.4s the next under co-tenant load). A real
    # plan regression is one query getting slower RELATIVE to the
    # catalog; a uniformly slower host shifts every ratio together.
    # Estimate the shift as the median new/old ratio over the common
    # entries (>=20 of them, old >= 50ms, so one change can't move
    # it), discount it — capped at 2.5x so a change that uniformly
    # slows the whole engine still eventually trips — and gate on the
    # normalized times.
    rel = sorted(
        nq[n] / oq[n] for n in nq if n in oq and oq[n] >= 0.05
    )
    host = rel[len(rel) // 2] if len(rel) >= 20 else 1.0
    scale = min(max(host, 1.0), 2.5)
    if scale > 1.1:
        print(f"HOST  median slowdown {host:.2f}x -> normalizing by {scale:.2f}x")
    regressed = []
    raw_regressed = []
    improved = []
    for name, t_new in sorted(nq.items()):
        t_old = oq.get(name)
        if t_old is None:
            print(f"NEW   {name}: {t_new:.2f}s")
            continue
        if t_new > t_old * ratio and t_new - t_old > NOISE_FLOOR:
            raw_regressed.append((name, t_old, t_new))
        t_adj = t_new / scale
        if t_adj > t_old * ratio and t_adj - t_old > NOISE_FLOOR:
            regressed.append((name, t_old, t_new))
        elif t_old > t_new * ratio and t_old - t_new > NOISE_FLOOR:
            improved.append((name, t_old, t_new))
    for name in sorted(set(oq) - set(nq)):
        print(f"GONE  {name} (was {oq[name]:.2f}s)")
    for name, a, b in improved:
        print(f"FASTER {name}: {a:.2f}s -> {b:.2f}s")
    for name, a, b in regressed:
        print(f"SLOWER {name}: {a:.2f}s -> {b:.2f}s  (> {ratio}x)")
    # Normalization blind spot, surfaced for manual triage: a commit
    # that slows the WHOLE catalog uniformly (up to the 2.5x cap)
    # shifts the median and passes the normalized gate. Print the raw
    # (un-normalized) list too, so broad slowdowns are never silent —
    # the exit code stays on the normalized list because host drift is
    # the measured common case (identical-commit A/B showed 2x).
    for name, a, b in raw_regressed:
        if (name, a, b) not in regressed:
            print(f"SLOWER(raw) {name}: {a:.2f}s -> {b:.2f}s  (pre-normalization)")
    if raw_regressed and not regressed:
        print(
            f"NOTE  {len(raw_regressed)} raw regressions were fully "
            f"absorbed by the {scale:.2f}x host normalization — verify "
            "the host-drift explanation (re-run on a quiet host or A/B "
            "the previous commit) before trusting the green exit."
        )
    print(
        f"total: {old.get('value')}s -> {new.get('value')}s "
        f"({len(nq)} queries, {len(regressed)} regressed, "
        f"{len(raw_regressed)} raw-regressed)"
    )
    return 1 if regressed else 0


def _committed_bench() -> str:
    """Materialize the COMMITTED builder bench (HEAD:bench_full.json)
    to a temp file — the r07-verdict mode that lets a driver
    BENCH_r{N}.json be triaged against the builder's own same-commit
    numbers without git archaeology."""
    import subprocess
    import tempfile

    blob = subprocess.run(
        ["git", "-C", os.path.dirname(os.path.dirname(os.path.abspath(
            __file__))), "show", "HEAD:bench_full.json"],
        check=True, capture_output=True, text=True,
    ).stdout
    fh = tempfile.NamedTemporaryFile(
        "w", suffix=".json", delete=False, prefix="bench_head_"
    )
    fh.write(blob)
    fh.close()
    return fh.name


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--committed":
        # bench_diff.py --committed NEW.json [ratio]
        args = [_committed_bench()] + args[1:]
    r = float(args[2]) if len(args) > 2 else 1.5
    sys.exit(diff(args[0], args[1], r))
