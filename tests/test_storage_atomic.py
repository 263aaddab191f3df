"""Crash-atomicity of the durable MERGE (operators/storage.py).

The reference commits dim+fact atomically on one Postgres connection with
rollback on failure (/root/reference/src/storage/postgres_writer.py:107-113,
164-178). The engine's parquet MERGE must give the equivalent durability
guarantee: a merge that dies at ANY point before its manifest commit leaves
the previous table version fully readable, and re-running the merge (the
documented recovery procedure) converges to the same result as a merge that
never crashed.
"""

from __future__ import annotations

import glob

import pyspark.sql.functions as F
import pytest

from global_market_index_etl_spark.operators.storage import (
    merge_into_parquet,
    read_table,
    vacuum_table,
    write_bucketed_table,
)

from .conftest import SF_SMALL


def _orders_fixture(spark):
    target = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = target.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.round("o_totalprice")
    )
    return target, updates


def _snapshot(spark, path):
    return {
        r.o_orderkey: (r.o_totalprice, r.o_orderstatus)
        for r in read_table(spark, path).collect()
    }


@pytest.mark.parametrize("crash_point", ["after_stage", "after_move"])
def test_merge_crash_leaves_premerge_table_intact(
    spark, tmp_path, crash_point
):
    """Kill the merge before its commit point: the table must read back
    exactly as before the merge, and re-running the merge must succeed."""
    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)
    before = _snapshot(spark, path)

    with pytest.raises(RuntimeError, match="injected crash"):
        merge_into_parquet(
            spark,
            path,
            updates,
            ["o_orderkey"],
            n_buckets=8,
            _crash_point=crash_point,
        )

    # The crashed merge's files (staged, or moved-but-uncommitted) are
    # invisible: readers see the pre-merge version bit-for-bit.
    assert _snapshot(spark, path) == before

    # Recovery = re-run. The result equals a merge that never crashed.
    merge_into_parquet(spark, path, updates, ["o_orderkey"], n_buckets=8)
    expected = {
        r.o_orderkey: (
            float(round(r.o_totalprice))
            if r.o_orderkey % 100 == 0
            else r.o_totalprice,
            r.o_orderstatus,
        )
        for r in target.collect()
    }
    assert _snapshot(spark, path) == expected

    # Vacuum reclaims the crash garbage without disturbing the live table.
    removed = vacuum_table(spark, path)
    assert removed > 0
    assert _snapshot(spark, path) == expected
    assert not glob.glob(f"{path}/.staging-*")


def test_concurrent_merges_occ_same_buckets(spark, tmp_path):
    """Two writers merging OVERLAPPING buckets: the loser must re-stage the
    conflicting buckets against the winner's commit and both batches' rows
    must survive (with the loser's value winning its own keys)."""
    from global_market_index_etl_spark.operators.storage import (
        table_versions,
    )

    path = str(tmp_path / "tbl")
    target, _ = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)

    # batch A and batch B touch every bucket (mod-7 / mod-11 keys spread
    # across all 8 hash buckets) and overlap on keys divisible by 77
    batch_a = target.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderstatus", F.lit("A")
    )
    batch_b = target.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderstatus", F.lit("B")
    )

    # writer B commits BETWEEN writer A's move and A's commit — the
    # deterministic interleaving of the OCC race
    merge_into_parquet(
        spark,
        path,
        batch_a,
        ["o_orderkey"],
        retain_versions=10,
        _race_hook=lambda: merge_into_parquet(
            spark, path, batch_b, ["o_orderkey"], retain_versions=10
        ),
    )

    got = _snapshot(spark, path)
    for r in target.collect():
        k = r.o_orderkey
        # A retried on top of B's commit, so A's rows win overlapped keys
        want = "A" if k % 7 == 0 else ("B" if k % 11 == 0 else r.o_orderstatus)
        assert got[k][0] == r.o_totalprice
        assert got[k][1] == want, k
    # three commits: base, B (winner), A (OCC retry)
    assert table_versions(spark, path) == [1, 2, 3]


def test_concurrent_merges_occ_disjoint_buckets(spark, tmp_path):
    """Two writers on DISJOINT bucket sets: the loser's already-moved files
    stay valid, so the retry re-stages nothing and simply commits its
    file set on top of the winner's manifest."""
    path = str(tmp_path / "tbl")
    target, _ = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)

    from global_market_index_etl_spark.operators.storage import (
        BUCKET,
        _bucket_col,
    )

    with_bucket = target.withColumn(BUCKET, _bucket_col(["o_orderkey"], 8))
    batch_a = with_bucket.filter(F.col(BUCKET) < 4).drop(BUCKET).withColumn(
        "o_orderstatus", F.lit("A")
    )
    batch_b = with_bucket.filter(F.col(BUCKET) >= 4).drop(BUCKET).withColumn(
        "o_orderstatus", F.lit("B")
    )
    merge_into_parquet(
        spark,
        path,
        batch_a,
        ["o_orderkey"],
        retain_versions=10,
        _race_hook=lambda: merge_into_parquet(
            spark, path, batch_b, ["o_orderkey"], retain_versions=10
        ),
    )
    got = _snapshot(spark, path)
    bucket_of = {
        r.o_orderkey: r.b
        for r in with_bucket.select(
            "o_orderkey", F.col(BUCKET).alias("b")
        ).collect()
    }
    for r in target.collect():
        want = "A" if bucket_of[r.o_orderkey] < 4 else "B"
        assert got[r.o_orderkey][1] == want, r.o_orderkey
    assert len(got) == target.count()


def test_concurrent_adoption_occ(spark, tmp_path, monkeypatch):
    """Two writers adopting the same pre-manifest (legacy) table: the loser
    must build on the winner's identical adoption manifest instead of
    erroring, and its merge must still land."""
    import global_market_index_etl_spark.operators.storage as S

    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)
    # strip the manifest → legacy directory-listing table
    jvm, fs = S._fs(spark, path)
    for v in S.table_versions(spark, path):
        fs.delete(
            S._hpath(jvm, f"{path}/{S._MANIFEST_PREFIX}{v:010d}.json"), False
        )
    assert S.table_versions(spark, path) == []

    orig_listing = S._list_bucket_files

    def racing_listing(sp, p):
        listing = orig_listing(sp, p)
        # winner commits its adoption between loser's read and commit
        S._commit_manifest(
            sp,
            p,
            1,
            {
                "n_buckets": 8,
                "key_columns": ["o_orderkey"],
                "schema": None,
                "buckets": listing,
            },
        )
        return listing

    monkeypatch.setattr(S, "_list_bucket_files", racing_listing)
    merge_into_parquet(spark, path, updates, ["o_orderkey"], n_buckets=8)

    expected = {
        r.o_orderkey: (
            float(round(r.o_totalprice))
            if r.o_orderkey % 100 == 0
            else r.o_totalprice,
            r.o_orderstatus,
        )
        for r in target.collect()
    }
    assert _snapshot(spark, path) == expected


def test_vacuum_noop_on_clean_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)
    merge_into_parquet(spark, path, updates, ["o_orderkey"], n_buckets=8)
    before = _snapshot(spark, path)
    assert vacuum_table(spark, path) == 0
    assert _snapshot(spark, path) == before


def test_orphaned_move_files_do_not_pollute_reads(spark, tmp_path):
    """After an after_move crash, orphan parquet files sit INSIDE live
    bucket directories. A directory-listing read would double-count rows;
    the manifest-pinned read must not."""
    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)
    n_before = read_table(spark, path).count()
    files_before = set(glob.glob(f"{path}/__bucket=*/*.parquet"))

    with pytest.raises(RuntimeError):
        merge_into_parquet(
            spark,
            path,
            updates,
            ["o_orderkey"],
            n_buckets=8,
            _crash_point="after_move",
        )

    files_after = set(glob.glob(f"{path}/__bucket=*/*.parquet"))
    assert files_after > files_before, "crash should have left orphan files"
    assert read_table(spark, path).count() == n_before


def test_merge_takes_layout_from_manifest_not_parameter(spark, tmp_path):
    """A table written with n_buckets=8 merged with the (different) default
    must still upsert every key exactly once: the manifest's stored layout
    overrides the caller's n_buckets, otherwise keys hash into buckets the
    merge never reads and the table ends up with duplicates."""
    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)

    # Deliberately wrong parameter (default is 16).
    merge_into_parquet(spark, path, updates, ["o_orderkey"], n_buckets=16)

    got = _snapshot(spark, path)  # dict ⇒ would hide dupes; check count too
    assert read_table(spark, path).count() == len(got) == target.count()
    for r in updates.collect():
        assert got[r.o_orderkey][0] == r.o_totalprice


def test_merge_key_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)
    with pytest.raises(ValueError, match="key mismatch"):
        merge_into_parquet(spark, path, updates, ["o_totalprice"])


def test_adoption_merge_crash_leaves_legacy_table_intact(spark, tmp_path):
    """First merge on a pre-manifest (legacy) table: the adoption manifest
    is committed BEFORE files move, so an after_move crash cannot expose
    orphan files through the directory-listing fallback read."""
    import os

    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)
    # Strip the manifest: simulates a table written before the protocol.
    for m in glob.glob(f"{path}/_gmie_manifest-v*.json"):
        os.remove(m)
    before = _snapshot(spark, path)

    with pytest.raises(RuntimeError, match="injected crash"):
        merge_into_parquet(
            spark,
            path,
            updates,
            ["o_orderkey"],
            n_buckets=8,
            _crash_point="after_move",
        )

    # Orphan files exist inside live bucket dirs, but the committed adoption
    # manifest pins readers to the pre-merge file set.
    assert glob.glob(f"{path}/_gmie_manifest-v*.json"), "adoption manifest missing"
    assert _snapshot(spark, path) == before

    # Recovery: re-run converges.
    merge_into_parquet(spark, path, updates, ["o_orderkey"])
    got = _snapshot(spark, path)
    assert read_table(spark, path).count() == len(got) == target.count()
    for r in updates.collect():
        assert got[r.o_orderkey][0] == r.o_totalprice


def test_commit_manifest_same_version_collision_raises(spark, tmp_path):
    from global_market_index_etl_spark.operators.storage import _commit_manifest

    path = str(tmp_path / "tbl")
    _commit_manifest(spark, path, 1, {"buckets": {}})
    with pytest.raises(IOError, match="another writer"):
        _commit_manifest(spark, path, 1, {"buckets": {}})


def test_optimize_conflict_removes_moved_files(spark, tmp_path, monkeypatch):
    """A lost OPTIMIZE commit race must not strand its already-moved files
    in the live bucket dirs (round-8 review fix): the ManifestConflict
    handler deletes them, so re-running does not accumulate orphans and
    the on-disk file set stays exactly the manifest's live set."""
    import os

    import global_market_index_etl_spark.operators.storage as S

    path = str(tmp_path / "tbl")
    target, _ = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=4)
    before = _snapshot(spark, path)
    [v1] = S.table_versions(spark, path)

    def on_disk():
        return {
            os.path.relpath(p, path)
            for p in glob.glob(f"{path}/__bucket=*/*.parquet")
        }

    live_before = on_disk()

    # a competing writer claims the next version between optimize's moved
    # files and its commit — the loser's commit hits EEXIST
    orig_commit = S._commit_manifest
    raced = []

    def racing_commit(sp, p, version, manifest):
        if not raced:
            raced.append(version)
            with open(f"{path}/{S._MANIFEST_PREFIX}{v1:010d}.json", "rb") as fh:
                blob = fh.read()
            with open(
                f"{path}/{S._MANIFEST_PREFIX}{version:010d}.json", "wb"
            ) as fh:
                fh.write(blob)
        return orig_commit(sp, p, version, manifest)

    monkeypatch.setattr(S, "_commit_manifest", racing_commit)
    with pytest.raises(S.ManifestConflict):
        S.optimize_table(spark, path, min_files_per_bucket=1)

    # the losing optimize cleaned up after itself: no staged dirs, no
    # commit-tagged orphans — the file set is exactly what it was
    assert not glob.glob(f"{path}/.staging-*")
    assert on_disk() == live_before

    # documented remedy: drop the competing commit, re-run — converges
    os.remove(f"{path}/{S._MANIFEST_PREFIX}{raced[0]:010d}.json")
    assert S.optimize_table(spark, path, min_files_per_bucket=1) > 0
    assert _snapshot(spark, path) == before


def _merged(target):
    """Table content after MERGE of ``_orders_fixture``'s updates."""
    return {
        r.o_orderkey: (
            float(round(r.o_totalprice))
            if r.o_orderkey % 100 == 0
            else r.o_totalprice,
            r.o_orderstatus,
        )
        for r in target.collect()
    }


def _rewrite(spark, path, op, updates):
    """One bucket-rewrite commit: a MERGE of ``updates``, or an OPTIMIZE
    compaction of every bucket."""
    from global_market_index_etl_spark.operators.storage import optimize_table

    if op == "merge":
        merge_into_parquet(spark, path, updates, ["o_orderkey"])
    else:
        assert optimize_table(spark, path, min_files_per_bucket=1) > 0


@pytest.mark.parametrize("op", ["merge", "optimize"])
def test_optimize_io_failure_removes_moved_files(
    spark, tmp_path, monkeypatch, op
):
    """ANY failed commit — not only a lost OCC race — rolls the moved
    files back out of the live bucket dirs, for MERGE and OPTIMIZE alike:
    a handler catching ManifestConflict only would let a transient IO
    error strand commit-tagged orphans that accumulate on every re-run."""
    import os

    import global_market_index_etl_spark.operators.storage as S

    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=4)
    expected = _merged(target) if op == "merge" else _snapshot(spark, path)

    def on_disk():
        return {
            os.path.relpath(p, path)
            for p in glob.glob(f"{path}/__bucket=*/*.parquet")
        }

    live_before = on_disk()

    orig_commit = S._commit_manifest
    failed = []

    def flaky_commit(sp, p, version, manifest):
        if not failed:
            failed.append(version)
            raise IOError("transient filesystem hiccup")
        return orig_commit(sp, p, version, manifest)

    monkeypatch.setattr(S, "_commit_manifest", flaky_commit)
    with pytest.raises(IOError, match="hiccup"):
        _rewrite(spark, path, op, updates)

    # the failed commit cleaned up: no orphans, no staging dirs
    assert on_disk() == live_before
    assert not glob.glob(f"{path}/.staging-*")

    # the transient error cleared — plain re-run converges
    _rewrite(spark, path, op, updates)
    assert _snapshot(spark, path) == expected


@pytest.mark.parametrize("op", ["merge", "optimize"])
def test_optimize_post_commit_failure_never_deletes_live_files(
    spark, tmp_path, monkeypatch, op
):
    """_commit_manifest can raise AFTER the commit became visible (tmp
    cleanup IO error, or an interrupt between the exclusive link and the
    return). The rollback must detect that version+1 is live and
    references the moved files, and must NOT delete them — doing so would
    corrupt the committed table."""
    import os

    import global_market_index_etl_spark.operators.storage as S

    path = str(tmp_path / "tbl")
    target, updates = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=4)
    expected = _merged(target) if op == "merge" else _snapshot(spark, path)
    [v1] = S.table_versions(spark, path)

    orig_commit = S._commit_manifest
    tripped = []

    def commit_then_raise(sp, p, version, manifest):
        orig_commit(sp, p, version, manifest)  # the commit IS live now
        if not tripped:
            tripped.append(version)
            raise IOError("tmp-file cleanup failed after successful link")
        return None

    monkeypatch.setattr(S, "_commit_manifest", commit_then_raise)
    with pytest.raises(IOError, match="cleanup failed"):
        _rewrite(spark, path, op, updates)

    # version+1 is committed and every file it references must exist —
    # an unguarded rollback deletes them here, corrupting the table
    assert S.table_versions(spark, path) == [v1, tripped[0]]
    _, live_m = S._read_manifest(spark, path)
    for files in live_m["buckets"].values():
        for rel in files:
            assert os.path.exists(f"{path}/{rel}"), f"live file deleted: {rel}"
    # and the committed table reads back exactly the committed content
    assert _snapshot(spark, path) == expected


def test_empty_initial_table_merge_roundtrip(spark, tmp_path):
    """CREATE empty → MERGE a first batch: the manifest's stored schema
    makes the zero-file table readable, and the merge populates it."""
    path = str(tmp_path / "tbl")
    target, _ = _orders_fixture(spark)
    empty = target.limit(0)
    schema = write_bucketed_table(empty, path, ["o_orderkey"], n_buckets=8)
    assert read_table(spark, path).count() == 0
    assert read_table(spark, path, schema).count() == 0
    batch = target.limit(50)
    merge_into_parquet(spark, path, batch, ["o_orderkey"], n_buckets=8)
    assert read_table(spark, path).count() == 50


def test_time_travel_reads_prior_versions(spark, tmp_path):
    """Merges with retain_versions > 1 keep each committed snapshot
    readable: read_table(version=N) reproduces the table exactly as of
    commit N, the version list grows per merge, and a vacuumed version
    raises instead of serving wrong data."""
    from global_market_index_etl_spark.operators.storage import (
        merge_into_parquet,
        read_table,
        table_versions,
        vacuum_table,
        write_bucketed_table,
    )

    path = str(tmp_path / "tt")
    base = spark.createDataFrame(
        [(i, "v1", i) for i in range(40)], "k long, val string, seq long"
    )
    write_bucketed_table(base, path, ["k"], n_buckets=4)

    batch2 = spark.createDataFrame(
        [(i, "v2", 100 + i) for i in range(0, 40, 2)],
        "k long, val string, seq long",
    )
    merge_into_parquet(
        spark, path, batch2, ["k"], order_column="seq", retain_versions=3
    )
    batch3 = spark.createDataFrame(
        [(i, "v3", 200 + i) for i in range(0, 40, 4)],
        "k long, val string, seq long",
    )
    merge_into_parquet(
        spark, path, batch3, ["k"], order_column="seq", retain_versions=3
    )

    versions = table_versions(spark, path)
    assert len(versions) == 3, versions
    v1, v2, v3 = versions

    def snap(version=None):
        return {
            r.k: r.val
            for r in read_table(spark, path, version=version).collect()
        }

    assert snap(v1) == {i: "v1" for i in range(40)}
    assert snap(v2) == {
        i: ("v2" if i % 2 == 0 else "v1") for i in range(40)
    }
    expect_now = {
        i: ("v3" if i % 4 == 0 else "v2" if i % 2 == 0 else "v1")
        for i in range(40)
    }
    assert snap(v3) == expect_now
    assert snap() == expect_now  # default = newest

    # retention: keep 2 → oldest version is gone, newer two intact
    vacuum_table(spark, path, retain_versions=2)
    assert table_versions(spark, path) == [v2, v3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not available"):
        read_table(spark, path, version=v1)
    assert snap(v2)[1] == "v1" and snap(v3) == expect_now


def test_merge_additive_schema_evolution(spark, tmp_path):
    """A merge batch with a NEW column evolves the table additively — the
    reference's ALTER TABLE ADD COLUMN IF NOT EXISTS pattern
    (postgres_writer.py:94-101): old rows surface NULL for the new
    column (including rows in buckets the merge never rewrote), new rows
    carry values, and the committed manifest schema includes the column
    so every later read resolves it."""
    from global_market_index_etl_spark.operators.storage import (
        merge_into_parquet,
        read_table,
        write_bucketed_table,
    )

    path = str(tmp_path / "evolve")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, close double"
    )
    write_bucketed_table(base, path, ["k"], n_buckets=4)

    # updates add close_usd and touch only even keys (≈ half the buckets)
    batch = spark.createDataFrame(
        [(i, float(i), i * 1.1) for i in range(0, 40, 2)],
        "k long, close double, close_usd double",
    )
    merge_into_parquet(spark, path, batch, ["k"])

    back = read_table(spark, path)
    assert set(back.columns) == {"k", "close", "close_usd"}
    got = {r.k: r.close_usd for r in back.collect()}
    assert len(got) == 40
    for i in range(40):
        if i % 2 == 0:
            assert got[i] is not None and abs(got[i] - i * 1.1) < 1e-9
        else:
            assert got[i] is None  # untouched bucket, old file, new schema


def test_concurrent_merges_true_thread_race(spark, tmp_path):
    """FOUR writers racing from real threads — no deterministic
    interleaving hook, the genuine OCC race on a shared local table
    (round-6 verdict item #5). Mixed contention: two writers on disjoint
    bucket halves, two sweeping every bucket with overlapping keys.
    Asserts: every merge completes inside the retry budget (a budget
    overflow raises), each writer commits exactly one version, no rows
    are lost, untouched keys keep their original values, and replaying
    the committed versions IN COMMIT ORDER via time travel reproduces
    the final state exactly — i.e. the interleaved history is equivalent
    to SOME serial execution (the OCC correctness criterion)."""
    import threading

    from global_market_index_etl_spark.operators.storage import (
        table_versions,
    )

    path = str(tmp_path / "tbl")
    target, _ = _orders_fixture(spark)
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=8)

    moduli = {"A": 5, "B": 7, "C": 9, "D": 11}
    batches = {
        tag: target.filter(F.col("o_orderkey") % m == 0).withColumn(
            "o_orderstatus", F.lit(tag)
        )
        for tag, m in moduli.items()
    }

    errors = []

    def writer(tag):
        try:
            merge_into_parquet(
                spark, path, batches[tag], ["o_orderkey"],
                retain_versions=10,
            )
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append((tag, exc))

    threads = [
        threading.Thread(target=writer, args=(tag,)) for tag in moduli
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # each writer committed exactly one version on top of the base
    assert table_versions(spark, path) == [1, 2, 3, 4, 5]

    base = {r.o_orderkey: r.o_orderstatus for r in target.collect()}
    final = _snapshot(spark, path)
    assert len(final) == len(base)  # no rows lost, none invented

    # recover the commit order from the version history: the keys that
    # changed between consecutive versions identify which writer's batch
    # that commit applied
    def status_at(version):
        return {
            r.o_orderkey: r.o_orderstatus
            for r in read_table(spark, path, version=version).collect()
        }

    prev = status_at(1)
    assert prev == base
    expected = dict(base)
    seen_tags = []
    for v in (2, 3, 4, 5):
        cur = status_at(v)
        changed_tags = {cur[k] for k in cur if cur[k] != prev[k]}
        assert len(changed_tags) == 1, (v, changed_tags)
        tag = changed_tags.pop()
        seen_tags.append(tag)
        # serial replay: apply that writer's full batch
        m = moduli[tag]
        for k in expected:
            if k % m == 0:
                expected[k] = tag
        assert {k: cur[k] for k in cur} == expected, f"version {v}"
        prev = cur
    assert sorted(seen_tags) == ["A", "B", "C", "D"]
    assert {k: s for k, (_, s) in final.items()} == expected


def test_table_versions_absent_vs_listing_failure(spark, tmp_path, monkeypatch):
    """Path-absent maps to [] — but a listing failure over an EXISTING root
    must PROPAGATE, never read as "no table" (round-8 fix: scd2_stream's
    bootstrap would otherwise overwrite a live history on a transient IO
    error)."""
    from global_market_index_etl_spark.operators import storage as st

    missing = str(tmp_path / "never-written")
    assert st.table_versions(spark, missing) == []

    real_fs = st._fs

    class _FlakyFS:
        def __init__(self, fs):
            self._fs = fs

        def exists(self, p):
            return True  # root exists…

        def listStatus(self, p):  # …but listing transiently fails
            raise IOError("transient listing failure")

    def flaky(spark_, path_):
        jvm, fs = real_fs(spark_, path_)
        return jvm, _FlakyFS(fs)

    monkeypatch.setattr(st, "_fs", flaky)
    with pytest.raises(IOError):
        st.table_versions(spark, missing)
