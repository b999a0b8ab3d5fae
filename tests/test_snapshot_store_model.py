"""Model-based check of the shared manifest commit protocol
(operators/snapshot_store.py through operators/merge.py): a randomized
(seeded) sequence of upserts / deletes / compactions / vacuums must
always leave the store equal to a plain dict model, with every
intermediate read served from a complete committed snapshot.

This is the trust anchor for BOTH incremental stores (the merge store
here and the consolidation snapshot, which share commit_buckets)."""

import os
import random
import shutil
import tempfile

import pytest

from intelligencepipeline_spark.operators.merge import (
    compact_table,
    merge_upsert,
    read_merged,
)
from intelligencepipeline_spark.operators.snapshot_store import (
    read_manifest,
    snapshot_versions,
    vacuum_snapshot,
)


def _store_state(spark, path):
    return {r.k: r.v for r in read_merged(spark, path).collect()}


@pytest.mark.parametrize("seed", [7, 23, 1009])
def test_random_op_sequences_match_dict_model(spark, seed):
    rng = random.Random(seed)
    d = tempfile.mkdtemp(prefix=f"ip_model_{seed}_")
    path = os.path.join(d, "t")
    model: dict[int, str] = {}
    keys = list(range(40))

    try:
        for step in range(7):
            op = rng.choice(["upsert", "upsert", "delete", "compact", "vacuum"])
            if op == "upsert" or not model:
                batch = {
                    k: f"s{step}v{k}"
                    for k in rng.sample(keys, rng.randint(1, 12))
                }
                df = spark.createDataFrame(
                    list(batch.items()), "k long, v string"
                )
                merge_upsert(df, path, key="k", n_buckets=4)
                model.update(batch)
            elif op == "delete":
                dead = rng.sample(sorted(model), rng.randint(1, len(model)))
                df = spark.createDataFrame(
                    [(k, None, True) for k in dead]
                    + [(999 + step, f"n{step}", False)],
                    "k long, v string, deleted boolean",
                )
                merge_upsert(df, path, key="k", delete_col="deleted",
                             n_buckets=4)
                for k in dead:
                    model.pop(k, None)
                model[999 + step] = f"n{step}"
            elif op == "compact":
                compact_table(spark, path)
            elif op == "vacuum":
                vacuum_snapshot(path, keep_gens=1)
            assert _store_state(spark, path) == model, f"step {step} ({op})"

            # protocol invariants after every op: the pointer equals the
            # newest retained version manifest, and every referenced gen
            # dir exists on disk
            m = read_manifest(path)
            versions = snapshot_versions(path)
            assert versions and m["gen"] == versions[-1]
            for b, g in m["buckets"].items():
                assert os.path.isdir(
                    os.path.join(path, f"bucket={b}", f"gen={g}")
                ), f"missing gen dir for bucket {b} after {op}"
    finally:
        shutil.rmtree(d, ignore_errors=True)


# -- reuse of the resolved relation per manifest commit ----------------------


def _commit(spark, path, rows, n_buckets=4, keep_gens=1):
    """Commit ``rows`` ((k, v) pairs) over every bucket of the store."""
    from pyspark.sql import functions as F

    from intelligencepipeline_spark.operators.snapshot_store import (
        commit_buckets,
    )

    df = spark.createDataFrame(rows, "k long, v string").withColumn(
        "bucket", F.pmod("k", F.lit(n_buckets))
    )
    return commit_buckets(
        path, df, list(range(n_buckets)), keep_gens=keep_gens
    )


def _rows(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


def _fresh(spark, path, version=None):
    """The snapshot resolved from scratch, bypassing read_snapshot."""
    m = read_manifest(path, version=version)
    paths = [
        os.path.join(path, f"bucket={b}", f"gen={g}")
        for b, g in m["buckets"].items()
    ]
    return (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*paths)
        .drop("gen")
    )


def _same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.fixture
def store(tmp_path):
    from intelligencepipeline_spark.caching import release_shared

    yield str(tmp_path / "t")
    release_shared()


def test_read_after_new_commit_returns_new_rows(spark, store):
    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
    )

    _commit(spark, store, [(k, f"a{k}") for k in range(8)])
    first = read_snapshot(spark, store)
    assert read_snapshot(spark, store) is first  # unchanged: reused
    assert _rows(first) == [(k, f"a{k}") for k in range(8)]
    _commit(spark, store, [(k, f"b{k}") for k in range(10)])
    again = read_snapshot(spark, store)
    assert again is not first
    assert _rows(again) == [(k, f"b{k}") for k in range(10)]


def test_rebuilt_table_same_gens_returns_new_rows(spark, store):
    """Delete-and-rebuild at one path reuses gen numbers, so only the
    commit id tells the two tables apart."""
    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
    )

    gen1 = _commit(spark, store, [(k, f"a{k}") for k in range(8)])
    assert _rows(read_snapshot(spark, store))[0] == (0, "a0")
    shutil.rmtree(store)
    assert _commit(spark, store, [(k, f"z{k}") for k in range(5)]) == gen1
    assert _rows(read_snapshot(spark, store)) == [
        (k, f"z{k}") for k in range(5)
    ]


def test_time_travel_while_head_is_reused(spark, store):
    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
    )

    v1 = _commit(spark, store, [(k, f"a{k}") for k in range(8)], keep_gens=3)
    _commit(spark, store, [(k, f"b{k}") for k in range(6)], keep_gens=3)
    head = read_snapshot(spark, store)
    assert read_snapshot(spark, store) is head
    old = read_snapshot(spark, store, version=v1)
    assert old is not head
    assert _rows(old) == [(k, f"a{k}") for k in range(8)]
    assert _same_rows(old, _fresh(spark, store, version=v1))
    assert _same_rows(read_snapshot(spark, store), _fresh(spark, store))
    assert read_snapshot(spark, store) is head


def test_new_session_gets_its_own_frame(spark, store):
    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
    )

    _commit(spark, store, [(k, f"a{k}") for k in range(8)])
    mine = read_snapshot(spark, store)
    other = spark.newSession()
    theirs = read_snapshot(other, store)
    assert theirs is not mine and theirs.sparkSession is other
    assert _rows(theirs) == _rows(mine)
    # the sibling's read replaced the slot; the first session resolves
    # anew rather than receiving the sibling's frame
    back = read_snapshot(spark, store)
    assert back.sparkSession is spark and back is not theirs


def test_uncommitted_id_and_release_read_uncached(spark, store):
    """A manifest written before commit ids existed is read uncached;
    release_shared drops the memo."""
    import json

    from intelligencepipeline_spark.caching import release_shared
    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
    )

    _commit(spark, store, [(k, f"a{k}") for k in range(8)])
    first = read_snapshot(spark, store)
    release_shared()
    assert read_snapshot(spark, store) is not first
    pointer = os.path.join(store, "_MANIFEST.json")
    with open(pointer) as fh:
        manifest = json.load(fh)
    del manifest["commit_id"]
    with open(pointer, "w") as fh:
        json.dump(manifest, fh)
    legacy = read_snapshot(spark, store)
    assert read_snapshot(spark, store) is not legacy
    assert _rows(legacy) == [(k, f"a{k}") for k in range(8)]


def test_second_lookup_on_unchanged_snapshot_runs_one_job(spark, store):
    """Listing and the mergeSchema footer merge happen once per commit:
    a repeat point lookup submits only its scan job."""
    from pyspark.sql import functions as F

    from intelligencepipeline_spark.operators.snapshot_store import (
        read_snapshot,
    )

    # 64 buckets, as the served store: more gen dirs than the parallel
    # listing threshold, so a re-resolve would add a listing job too
    _commit(spark, store, [(k, f"a{k}") for k in range(200)], n_buckets=64)
    assert read_snapshot(spark, store).filter(F.col("k") == 3).count() == 1
    sc = spark.sparkContext
    group = f"second_lookup_{os.getpid()}"
    sc.setJobGroup(group, "second point lookup")
    try:
        rows = read_snapshot(spark, store).filter(F.col("k") == 7).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [(r.k, r.v) for r in rows] == [(7, "a7")]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
