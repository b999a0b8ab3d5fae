"""Manifest-committed bucketed snapshot store — the shared commit
protocol under BOTH incremental stores (the consolidation snapshot,
streaming/pipeline.py, and the generic keyed merge store,
operators/merge.py).

Layout: ``table/bucket=<b>/gen=<g>/part-*.parquet`` plus
``_MANIFEST.json`` (the current pointer) and immutable
``_MANIFEST-v<g>.json`` version manifests (the time-travel log).

Commit = three strictly ordered phases:

1. **WRITE** — the new contents of the touched buckets land in brand
   new ``gen=<g>`` directories via a staging dir; nothing live is
   modified or deleted.
2. **PUBLISH** — the version manifest is fsynced, then the current
   pointer is atomically replaced (one rename). This is the single
   visibility switch: readers see the entire commit or none of it.
3. **GC** — generation dirs no retained version references are
   deleted (retention = ``keep_gens`` version manifests). Pure
   cleanup; a crash here leaves only invisible garbage.

A crash at ANY point leaves readers on a complete, consistent
snapshot — the exact contract a Delta ``MERGE`` transaction log
provides, at file-manifest granularity (the container has no delta
jar; ``operators/merge.py`` upgrades to real Delta when importable).

Every published manifest carries a fresh ``commit_id``. Gen dirs are
immutable once published, so a commit id names one exact snapshot:
``read_snapshot`` reuses the relation it resolved (file listing,
``mergeSchema`` footer merge) for as long as the manifest it reads
carries the same id, and a lookup on an unchanged snapshot runs only
its scan job. The reuse is keyed on (``realpath(table)``, ``version``
argument) and holds one relation per key; a frame is served only to
the session object that resolved it, and
``caching.release_shared()`` clears it. A manifest written before
commit ids existed is read uncached, as before.

Scale: manifests are O(buckets) JSON (64k buckets ≈ a 1-2 MB file);
per-commit cost is O(touched buckets + retained versions), never a
full-table scan. Reading an old version costs the same as the head —
every version manifest pins the full bucket→gen map it published.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intelligencepipeline_spark.caching import shared_relation

_POINTER = "_MANIFEST.json"


def read_manifest(table_path: str, version: int | None = None) -> dict | None:
    name = _POINTER if version is None else f"_MANIFEST-v{version}.json"
    p = os.path.join(table_path, name)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def publish_manifest(table_path: str, manifest: dict) -> None:
    """Immutable version manifest first, then the atomic pointer swap —
    a pointer reader can never observe a version whose v-file is
    missing. Both files carry the same body, stamped with a fresh
    ``commit_id``: the name under which readers reuse a resolved
    relation (see ``read_snapshot``)."""
    body = json.dumps({**manifest, "commit_id": uuid.uuid4().hex})
    for name in (f"_MANIFEST-v{manifest['gen']}.json", _POINTER):
        tmp = os.path.join(table_path, name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(body)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(table_path, name))


def snapshot_versions(table_path: str) -> list[int]:
    """Gens with a retained (time-travel-readable) version manifest."""
    out = []
    if os.path.isdir(table_path):
        for f_ in os.listdir(table_path):
            m = re.fullmatch(r"_MANIFEST-v(\d+)\.json", f_)
            if m:
                out.append(int(m.group(1)))
    return sorted(out)


def read_snapshot(
    spark, table_path: str, version: int | None = None
) -> DataFrame:
    """Manifest-pruned read (the only correct read path — a plain
    ``spark.read.parquet(table)`` would also see superseded or
    in-flight generation directories). Keeps ``bucket`` as a column,
    drops the bookkeeping ``gen``. ``mergeSchema`` is on: buckets
    rewritten after an additive schema change coexist with untouched
    old-schema buckets.

    The manifest is read on every call; the resolved frame is reused
    while it carries the same ``commit_id`` (module docstring)."""
    manifest = read_manifest(table_path, version=version)
    if manifest is None or not manifest["buckets"]:
        raise FileNotFoundError(
            f"no snapshot manifest at {table_path}"
            + (f" for version {version}" if version is not None else "")
        )

    def resolve() -> DataFrame:
        paths = [
            os.path.join(table_path, f"bucket={b}", f"gen={g}")
            for b, g in sorted(
                manifest["buckets"].items(), key=lambda kv: int(kv[0])
            )
        ]
        return (
            spark.read.option("basePath", table_path)
            .option("mergeSchema", "true")
            .parquet(*paths)
            .drop("gen")
        )

    return shared_relation(
        spark,
        ("snapshot", os.path.realpath(table_path), version),
        manifest.get("commit_id"),
        resolve,
    )


def commit_buckets(
    table_path: str,
    out: DataFrame,
    touched: list,
    keep_gens: int = 1,
    drop_buckets: set | None = None,
    drop_empty_touched: bool = False,
) -> int:
    """Run one WRITE→PUBLISH→GC commit: ``out`` (must carry a
    ``bucket`` column covering a subset of ``touched``) replaces the
    touched buckets; ``drop_buckets`` (⊆ touched) are removed from the
    map entirely (e.g. every row deleted). Returns the committed gen.

    ``drop_empty_touched=True`` derives that drop set from the WRITE
    itself: a touched bucket that staged no rows (no ``bucket=`` dir —
    partitionBy writes none for an empty group) is removed from the
    manifest. This is the write-once path for callers whose merged
    frame may empty a bucket — pre-computing emptiness with a separate
    ``select('bucket').distinct().collect()`` re-runs the entire merge
    lineage a second time (guide §1.2: don't compute what the write
    already tells you).

    A fresh gen per attempt (not per epoch) keeps a replayed batch
    from touching a live dir; idempotent upstream folds make replayed
    contents identical."""
    manifest = read_manifest(table_path) or {"gen": 0, "buckets": {}}
    current = {
        b: g
        for b, g in manifest["buckets"].items()
        if int(b) in {int(t) for t in touched}
    }
    gen = manifest["gen"] + 1
    staging = os.path.join(table_path, f"_staging-gen-{gen}")
    shutil.rmtree(staging, ignore_errors=True)
    # Co-locate each bucket into one task before the partitioned
    # write: without this, partitionBy fans out to (input partitions x
    # touched buckets) tiny files per generation (measured 500+ files
    # on a 3-commit store at sf0.1 — slow commits AND the classic
    # small-files trap at 100 TB). One keyed shuffle of the batch buys
    # one file per touched bucket per generation; raise the file count
    # by salting the key if a single bucket's rewrite outgrows a task.
    out.repartition(F.col("bucket")).write.partitionBy("bucket").parquet(
        staging
    )
    new_buckets = dict(manifest["buckets"])
    staged: set[int] = set()
    for d in os.listdir(staging):
        if not d.startswith("bucket="):
            continue
        b = d.split("=", 1)[1]
        dest = os.path.join(table_path, d, f"gen={gen}")
        os.makedirs(os.path.join(table_path, d), exist_ok=True)
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(os.path.join(staging, d), dest)
        new_buckets[b] = gen
        try:
            staged.add(int(b))
        except ValueError:
            pass
    shutil.rmtree(staging, ignore_errors=True)
    if drop_empty_touched:
        drop_buckets = set(drop_buckets or ()) | (
            {int(t) for t in touched} - staged
        )
    for b in drop_buckets or ():
        new_buckets.pop(str(b), None)
    publish_manifest(table_path, {"gen": gen, "buckets": new_buckets})

    # GC with retention — O(touched + versions), never a table scan.
    versions = snapshot_versions(table_path)
    retained = versions[-max(1, keep_gens):]
    referenced: set[tuple[str, int]] = set()
    for v in retained:
        vm = read_manifest(table_path, version=v)
        if vm:
            referenced |= {
                (b, g) for b, g in vm["buckets"].items() if b in current
            }
    for v in versions:
        if v not in retained:
            try:
                os.remove(os.path.join(table_path, f"_MANIFEST-v{v}.json"))
            except OSError:
                pass
    for b, old_gen in current.items():
        if new_buckets.get(b) != old_gen and (b, old_gen) not in referenced:
            shutil.rmtree(
                os.path.join(table_path, f"bucket={b}", f"gen={old_gen}"),
                ignore_errors=True,
            )
    return gen


def vacuum_snapshot(table_path: str, keep_gens: int = 1) -> None:
    """Delta-VACUUM analog: keep the newest ``keep_gens`` version
    manifests, delete older ones, then delete every gen directory no
    retained version references. The current pointer is untouched, so
    readers are unaffected at any interleaving; a crash mid-vacuum
    leaves garbage for the next vacuum. (Full-table listing — run it
    as maintenance, not per-commit; per-commit GC is the bounded one
    inside ``commit_buckets``.)"""
    keep = snapshot_versions(table_path)[-max(1, keep_gens):]
    referenced: set[tuple[str, int]] = set()
    for v in keep:
        m = read_manifest(table_path, version=v)
        if m:
            referenced |= {(b, g) for b, g in m["buckets"].items()}
    for v in snapshot_versions(table_path):
        if v not in keep:
            os.remove(os.path.join(table_path, f"_MANIFEST-v{v}.json"))
    for d in os.listdir(table_path):
        if not d.startswith("bucket="):
            continue
        b = d.split("=", 1)[1]
        bdir = os.path.join(table_path, d)
        for g in os.listdir(bdir):
            if not g.startswith("gen="):
                # Loose pre-manifest (legacy-layout) files: once a
                # manifest exists, only gen= dirs are readable, so
                # anything else under a bucket= dir is invisible
                # garbage. Normally the bootstrap migration sweeps
                # these in the same invocation that publishes the
                # initial manifest; a crash between the publish and
                # that sweep orphans them forever (later runs see
                # snapshot_exists() and never re-enter the branch).
                # Vacuum is the designated second chance.
                p = os.path.join(bdir, g)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)
                continue
            if (b, int(g.split("=", 1)[1])) not in referenced:
                shutil.rmtree(os.path.join(bdir, g), ignore_errors=True)


def snapshot_exists(table_path: str) -> bool:
    return read_manifest(table_path) is not None


def touched_buckets(df: DataFrame, bucket_col) -> list:
    """Distinct bucket ids of an update batch. Driver-side by design
    and provably bounded: < n_buckets values regardless of batch
    volume."""
    return [r[0] for r in df.select(bucket_col.alias("b")).distinct().collect()]
