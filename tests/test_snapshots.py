"""Checkpoint/resume semantics: kill after k partition-group commits,
restart, assert the final committed table is identical to a single-shot
run (north_rule resumability; SURVEY.md §5 item 5)."""

import pandas as pd
import pytest
from conftest import _jobs_in

from batch_geocode_spark import datagen
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.snapshots import SnapshotTable, write_snapshotted


@pytest.fixture(scope="module")
def best_df(spark):
    images = datagen.images_to_spark(spark, 300, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    return best.cache()


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas().drop(columns=["bucket"], errors="ignore")
    return pdf.sort_values("image_id").reset_index(drop=True)


def test_crash_resume_equals_single_shot(spark, best_df, tmp_path_factory):
    single = SnapshotTable(str(tmp_path_factory.mktemp("single")))
    write_snapshotted(best_df, single, n_buckets=8, group_size=8)

    crashy = SnapshotTable(str(tmp_path_factory.mktemp("crashy")))
    with pytest.raises(RuntimeError, match="injected failure"):
        write_snapshotted(best_df, crashy, n_buckets=8, group_size=2, fail_after_groups=2)
    # crash left a committed prefix; some rows visible, not all
    partial = crashy.committed_buckets()
    assert 0 < len(partial) < 8

    # resume: same call, committed buckets skipped
    final = write_snapshotted(best_df, crashy, n_buckets=8, group_size=2)
    assert len(crashy.committed_buckets()) == 8
    pd.testing.assert_frame_equal(
        _sorted_pdf(single.read(spark)), _sorted_pdf(crashy.read(spark))
    )
    # lineage: child snapshots reference parents, ids increase
    hist = crashy.history()
    assert [h["snapshot_id"] for h in hist] == list(range(len(hist)))
    assert all(h["parent_id"] == h["snapshot_id"] - 1 for h in hist[1:])
    # per-partition row-count metrics recorded and conserved
    assert final["total_rows"] == best_df.count()


def test_uncommitted_buckets_invisible(spark, best_df, tmp_path_factory):
    t = SnapshotTable(str(tmp_path_factory.mktemp("vis")))
    with pytest.raises(RuntimeError):
        write_snapshotted(best_df, t, n_buckets=8, group_size=3, fail_after_groups=1)
    visible = t.read(spark).count()
    committed_rows = sum(t.committed_buckets().values())
    assert visible == committed_rows < best_df.count()


def test_idempotent_rerun_after_complete(spark, best_df, tmp_path_factory):
    t = SnapshotTable(str(tmp_path_factory.mktemp("idem")))
    write_snapshotted(best_df, t, n_buckets=4, group_size=4)
    snap1 = t.current()
    write_snapshotted(best_df, t, n_buckets=4, group_size=4)  # no pending work
    assert t.current()["snapshot_id"] == snap1["snapshot_id"]
    assert t.read(spark).count() == best_df.count()


def test_sparse_empty_buckets_readable(spark, tmp_path_factory):
    """Regression (ADVICE r1): zero-count buckets produce no bucket=N
    dir; read() must skip them instead of raising PATH_NOT_FOUND."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("sparse")))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "image_id string, v int")
    write_snapshotted(df, t, n_buckets=32, group_size=32)
    assert len(t.committed_buckets()) == 32
    got = t.read(spark)
    assert got.count() == 2


def test_all_empty_table_readable(spark, tmp_path_factory):
    """A committed-but-empty table reads back as an empty DataFrame via
    the manifest schema (no data files exist at all)."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("empty")))
    df = spark.createDataFrame([], "image_id string, v int")
    write_snapshotted(df, t, n_buckets=4, group_size=4)
    got = t.read(spark)
    assert got.count() == 0
    assert "image_id" in got.columns and "v" in got.columns


def test_namespaced_appends_accumulate_and_replay_idempotent(spark, tmp_path_factory):
    """Append mode: per-namespace writes accumulate (no clobbering
    across batches) and a replayed namespace is a no-op."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path_factory.mktemp("ns")))
    df1 = spark.createDataFrame([("a", 1)], "cell string, n int")
    df2 = spark.createDataFrame([("a", 2), ("b", 5)], "cell string, n int")
    write_snapshotted(df1, t, key_col="cell", n_buckets=4, group_size=4, namespace="batch-0")
    write_snapshotted(df2, t, key_col="cell", n_buckets=4, group_size=4, namespace="batch-1")
    per_cell = (
        t.read(spark).groupBy("cell").agg(F.sum("n").alias("n"))
        .toPandas().set_index("cell")["n"]
    )
    assert per_cell["a"] == 3 and per_cell["b"] == 5
    snap_before = t.current()["snapshot_id"]
    # replay of batch-1 (streaming checkpoint re-delivery): committed
    # buckets for that namespace are skipped -> nothing changes
    write_snapshotted(df2, t, key_col="cell", n_buckets=4, group_size=4, namespace="batch-1")
    assert t.current()["snapshot_id"] == snap_before
    assert t.read(spark).agg(F.sum("n")).collect()[0][0] == 8


def test_compact_and_vacuum(spark, tmp_path_factory):
    """Maintenance pair: compaction rewrites N append namespaces into
    one (fewer files, same rows, atomic flip, pre-compaction time
    travel intact), vacuum then expires old snapshots and removes the
    orphaned directories."""
    import glob
    import os

    from pyspark.sql import functions as F

    from batch_geocode_spark.snapshots import compact_table

    t = SnapshotTable(str(tmp_path_factory.mktemp("compact")))
    for b in range(3):  # three streaming-style appends
        df = spark.createDataFrame(
            [(f"c{i}", b * 100 + i) for i in range(20)], "cell string, n int"
        )
        write_snapshotted(df, t, key_col="cell", n_buckets=8, group_size=8,
                          namespace=f"batch-{b}")
    before = t.read(spark).groupBy("cell").agg(F.sum("n").alias("n")).toPandas()
    files_before = len(glob.glob(os.path.join(t.data_dir, "**", "*.parquet"),
                                 recursive=True))
    pre_compact_snap = t.current()["snapshot_id"]

    compact_table(spark, t, key_col="cell", n_buckets=4)
    after = t.read(spark).groupBy("cell").agg(F.sum("n").alias("n")).toPandas()
    a = after.set_index("cell")["n"].sort_index()
    b_ = before.set_index("cell")["n"].sort_index()
    assert a.equals(b_)
    files_after = len(glob.glob(os.path.join(t.data_dir, "ns=compact-*", "**",
                                             "*.parquet"), recursive=True))
    assert files_after < files_before
    # pre-compaction snapshot still time-travels (dirs not yet reclaimed)
    old = t.read(spark, snapshot_id=pre_compact_snap)
    assert old.count() == 60

    res = t.vacuum(keep_snapshots=1)
    assert res["removed_dirs"], "orphaned batch dirs must be reclaimed"
    assert res["removed_manifests"]
    # current view unchanged after vacuum
    post = t.read(spark).groupBy("cell").agg(F.sum("n").alias("n")).toPandas()
    assert post.set_index("cell")["n"].sort_index().equals(b_)
    # no stray batch namespaces remain on disk
    assert not glob.glob(os.path.join(t.data_dir, "ns=batch-*"))


def test_vacuum_rejects_keeping_no_snapshot(tmp_path):
    """``keep_snapshots`` below 1 raises instead of slicing the history
    wrong: ``hist[-0:]`` is the whole list (silently keeps everything),
    and a negative value expires the current manifest. Spark-free."""
    t = SnapshotTable(str(tmp_path))
    for i in range(3):
        t.commit({i: 10}, job_id=f"j{i}")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_snapshots"):
            t.vacuum(keep_snapshots=bad)
    assert [s["snapshot_id"] for s in t.history()] == [0, 1, 2]
    assert t.current()["snapshot_id"] == 2


def test_schema_evolution_merge_read(spark, tmp_path_factory):
    """Additive column evolution: a later append namespace carries an
    extra column; the read has the union schema with nulls for older
    rows, a narrower write after it keeps the column, and a time-travel
    read of the snapshot before it has no such column."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("evolve")))
    v1 = spark.createDataFrame([("a", 1)], "cell string, n int")
    v2 = spark.createDataFrame([("b", 2, "x")], "cell string, n int, tag string")
    v3 = spark.createDataFrame([("c", 3)], "cell string, n int")
    write_snapshotted(v1, t, key_col="cell", n_buckets=2, group_size=2, namespace="b0")
    pre_evolution = t.current()["snapshot_id"]
    write_snapshotted(v2, t, key_col="cell", n_buckets=2, group_size=2, namespace="b1")
    write_snapshotted(v3, t, key_col="cell", n_buckets=2, group_size=2, namespace="b2")
    got = t.read(spark).toPandas().set_index("cell")
    assert "tag" in got.columns
    assert got.loc["b", "tag"] == "x"
    for older in ("a", "c"):
        assert got.loc[older, "tag"] is None or got.loc[older, "tag"] != got.loc[older, "tag"]
    old = t.read(spark, snapshot_id=pre_evolution)
    assert "tag" not in old.columns
    assert [r["cell"] for r in old.collect()] == ["a"]


def test_plain_compaction_reads_like_a_plain_write(spark, tmp_path_factory):
    """A compaction replaces the table's schema instead of merging it: a
    namespaced table compacted to the plain layout reads back with
    exactly the columns of a plain write (no all-null ``ns``)."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.snapshots import compact_table

    df = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "image_id string, v int")
    plain = SnapshotTable(str(tmp_path_factory.mktemp("plain_ref")))
    write_snapshotted(df, plain, n_buckets=4)
    t = SnapshotTable(str(tmp_path_factory.mktemp("ns_to_plain")))
    for b in range(2):
        write_snapshotted(df.filter(F.col("v") % 2 == b), t, n_buckets=4, namespace=f"b{b}")
    assert "ns" in t.read(spark).columns

    compact_table(spark, t, key_col="image_id", n_buckets=4, layout="plain")
    got = t.read(spark)
    assert got.columns == plain.read(spark).columns == ["image_id", "v", "bucket"]
    assert sorted(got.collect()) == sorted(plain.read(spark).collect())


def test_snapshot_call_job_counts(spark, tmp_path_factory):
    """Jobs per call on a 20-row, 4-bucket table. A single-group write
    is its one write; four groups are a checkpoint plus four writes. An
    upsert of 4 rows checkpoints its input once, collects the affected
    buckets from it, checkpoints the merge (broadcasting the incoming
    keys) and writes: 5 jobs, where deriving the input twice took 8. A
    read runs no schema-inference job, so reading and counting takes 2,
    and a plain compaction checkpoints and writes."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.snapshots import compact_table, upsert_snapshotted

    base = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "image_id string, v int")
    one = SnapshotTable(str(tmp_path_factory.mktemp("jobs_one")))
    four = SnapshotTable(str(tmp_path_factory.mktemp("jobs_four")))
    assert _jobs_in(spark, "snap-write-one",
                    lambda: write_snapshotted(base, one, n_buckets=4, group_size=4)) <= 1
    assert _jobs_in(spark, "snap-write-four",
                    lambda: write_snapshotted(base, four, n_buckets=4, group_size=1)) <= 5

    up = spark.createDataFrame(
        [("k0", 100), ("k1", 101), ("k3", 5), ("new", 7)], "image_id string, v int"
    )
    assert _jobs_in(spark, "snap-upsert", lambda: upsert_snapshotted(up, one, n_buckets=4)) <= 6
    assert _jobs_in(spark, "snap-read-count", lambda: one.read(spark).count()) <= 2
    assert one.read(spark).count() == 21

    ns = SnapshotTable(str(tmp_path_factory.mktemp("jobs_ns")))
    for b in range(2):
        write_snapshotted(base.filter(F.col("v") % 2 == b), ns, n_buckets=4, namespace=f"b{b}")
    assert _jobs_in(
        spark, "snap-compact-plain",
        lambda: compact_table(spark, ns, key_col="image_id", n_buckets=4, layout="plain"),
    ) <= 2
    assert ns.read(spark).count() == 20


def test_oversized_upsert_fails_before_writing(spark, tmp_path_factory, monkeypatch):
    """The upsert broadcasts its incoming keys, so it caps them first: an
    input above ``MAX_UPSERT_ROWS`` raises and commits nothing."""
    from batch_geocode_spark import snapshots as S

    t = SnapshotTable(str(tmp_path_factory.mktemp("upsert_cap")))
    base = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "image_id string, v int")
    write_snapshotted(base, t, n_buckets=4)
    before = t.current()
    monkeypatch.setattr(S, "MAX_UPSERT_ROWS", 3)
    up = spark.createDataFrame([(f"k{i}", -i) for i in range(4)], "image_id string, v int")
    with pytest.raises(ValueError, match="3 rows"):
        S.upsert_snapshotted(up, t, n_buckets=4)
    assert t.current() == before
    assert sorted(t.read(spark).drop("bucket").collect()) == sorted(base.collect())


def test_upsert_with_bucket_pruning(spark, tmp_path_factory):
    """MERGE-analog: incoming keys overwrite, new keys insert, and ONLY
    the buckets containing incoming keys are rewritten (pruning
    asserted via directory mtimes)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from batch_geocode_spark.snapshots import bucket_expr, upsert_snapshotted

    t = SnapshotTable(str(tmp_path_factory.mktemp("upsert")))
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(200)], "image_id string, v int"
    )
    write_snapshotted(base, t, key_col="image_id", n_buckets=16, group_size=16)
    mtimes_before = {
        d: os.path.getmtime(d) for d in glob.glob(os.path.join(t.data_dir, "bucket=*"))
    }

    up = spark.createDataFrame(
        [("k0", 1000), ("k1", 1001), ("new1", 2000)], "image_id string, v int"
    )
    snap = upsert_snapshotted(up, t, key_col="image_id", n_buckets=16)
    got = t.read(spark).toPandas().set_index("image_id")["v"]
    assert got["k0"] == 1000 and got["k1"] == 1001 and got["new1"] == 2000
    assert got["k5"] == 5  # untouched key intact
    assert len(got) == 201
    assert snap["total_rows"] == 201
    # pruning: only the affected buckets' dirs were rewritten
    affected = {
        int(r["b"]) for r in up.select(bucket_expr("image_id", 16).alias("b")).collect()
    }
    for d, mt in mtimes_before.items():
        b = int(d.rsplit("=", 1)[1])
        if b not in affected:
            assert os.path.getmtime(d) == mt, f"bucket {b} rewritten needlessly"

    # wrong n_buckets is rejected (keys would hash to different buckets)
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_snapshotted(up, t, key_col="image_id", n_buckets=8)


def test_all_empty_read_ignores_uncommitted_dirs(spark, tmp_path_factory):
    """Regression (ADVICE r2): the all-empty-buckets fallback must not
    scan data_dir — stray parquet left by a crashed writer (uncommitted
    bucket dirs) would leak into the 'committed rows only' view."""
    import os

    t = SnapshotTable(str(tmp_path_factory.mktemp("emptyleak")))
    df = spark.createDataFrame([], "image_id string, v int")
    write_snapshotted(df, t, n_buckets=4, group_size=4)
    # simulate a crashed writer: a data file on disk, never committed
    stray = spark.createDataFrame([("zombie", 99)], "image_id string, v int")
    stray.coalesce(1).write.parquet(os.path.join(t.data_dir, "bucket=0"))
    got = t.read(spark)
    assert got.count() == 0
    assert {"image_id", "v"} <= set(got.columns)


def test_compact_plain_layout_enables_upsert(spark, tmp_path_factory):
    """compact_table(layout='plain') is the bridge from an
    append-namespaced delta log to an upsertable table (ADVICE r2: the
    namespace layout previously had NO path to upsert at all)."""
    from batch_geocode_spark.snapshots import compact_table, upsert_snapshotted

    t = SnapshotTable(str(tmp_path_factory.mktemp("ns2plain")))
    for b in range(2):
        df = spark.createDataFrame(
            [(f"k{i}", b * 100 + i) for i in range(b * 10, b * 10 + 10)],
            "image_id string, v int",
        )
        write_snapshotted(df, t, key_col="image_id", n_buckets=4, group_size=4,
                          namespace=f"batch-{b}")
    # namespaced layout rejects upsert with the compact hint
    up = spark.createDataFrame([("k0", -1)], "image_id string, v int")
    with pytest.raises(ValueError, match="compact_table"):
        upsert_snapshotted(up, t, key_col="image_id", n_buckets=4)

    compact_table(spark, t, key_col="image_id", n_buckets=4, layout="plain")
    assert all("/" not in k for k in t.committed_buckets())
    assert t.read(spark).count() == 20

    upsert_snapshotted(up, t, key_col="image_id", n_buckets=4)
    got = t.read(spark).toPandas().set_index("image_id")["v"]
    assert got["k0"] == -1 and got["k5"] == 5 and len(got) == 20


@pytest.mark.parametrize("group_size", [2, 8])
def test_write_snapshotted_single_derivation(spark, tmp_path_factory, group_size):
    """The upstream derivation runs ONCE per call: several groups write
    from one checkpoint of the bucketed frame, and a single group is one
    write whose bucket counts are observed on the write itself (no
    second pass to count them)."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def derive(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(400)], "image_id string, v int"
    ).repartition(4)
    derived = base.mapInPandas(derive, schema="image_id string, v int")

    t = SnapshotTable(str(tmp_path_factory.mktemp("oncederive")))
    write_snapshotted(derived, t, key_col="image_id", n_buckets=8, group_size=group_size)
    assert t.read(spark).count() == 400
    assert acc.value == 400, f"derivation ran {acc.value / 400:.1f}x, expected once"


def test_upsert_tombstone_delete(spark, tmp_path_factory):
    """MERGE-style DELETE: tombstoned keys are removed (bucket-pruned),
    deleting a missing key is a no-op, and the tombstone column never
    lands in storage."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.snapshots import upsert_snapshotted

    t = SnapshotTable(str(tmp_path_factory.mktemp("tomb")))
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(100)], "image_id string, v int"
    )
    write_snapshotted(base, t, key_col="image_id", n_buckets=8, group_size=8)

    mixed = spark.createDataFrame(
        [
            ("k0", 0, True),      # delete existing
            ("k1", 1111, False),  # update
            ("new1", 2000, False),  # insert
            ("ghost", 0, True),   # delete missing -> no-op
        ],
        "image_id string, v int, deleted boolean",
    )
    snap = upsert_snapshotted(
        mixed, t, key_col="image_id", n_buckets=8, tombstone_col="deleted"
    )
    got = t.read(spark).toPandas().set_index("image_id")["v"]
    assert "k0" not in got.index and "ghost" not in got.index
    assert got["k1"] == 1111 and got["new1"] == 2000 and got["k5"] == 5
    assert len(got) == 100  # 100 - 1 deleted + 1 inserted
    assert snap["total_rows"] == 100
    assert "deleted" not in t.read(spark).columns


def test_tile_pyramid_snapshot_mass_conservation(spark, best_df, tmp_path_factory):
    """VERDICT r2 optional item: chain density_rollup 9->6->3 into ONE
    snapshotted pyramid table; per-level mass must equal the base."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.operators import rollups as R
    from batch_geocode_spark.operators import tiles as T

    dens = T.cell_density(best_df, res=9)
    pyr = R.tile_pyramid(dens, levels=(9, 6, 3))
    t = SnapshotTable(str(tmp_path_factory.mktemp("pyramid")))
    write_snapshotted(
        pyr.withColumn("key", F.concat_ws(":", "res", "cell")),
        t, key_col="key", n_buckets=8, group_size=8,
    )
    got = (
        t.read(spark).groupBy("res").agg(F.sum("n_images").alias("mass"))
        .toPandas().set_index("res")["mass"]
    )
    base_mass = best_df.count()
    assert set(got.index) == {9, 6, 3}
    assert all(got[r] == base_mass for r in (9, 6, 3))
    # finer level has at least as many distinct tiles
    n_cells = (
        t.read(spark).groupBy("res").count().toPandas().set_index("res")["count"]
    )
    assert n_cells[9] >= n_cells[6] >= n_cells[3]


def test_tile_pyramid_rejects_non_strict_levels(spark, best_df):
    """ADVICE r3: a duplicated level would add an identity rollup leg
    and double that resolution's mass — the guard must catch (9, 9, 3),
    not just increasing sequences."""
    import pytest
    from batch_geocode_spark.operators import rollups as R
    from batch_geocode_spark.operators import tiles as T

    dens = T.cell_density(best_df, res=9)
    for bad in [(9, 9, 3), (9, 3, 3), (3, 6), ()]:
        with pytest.raises(ValueError):
            R.tile_pyramid(dens, levels=bad)


def test_manifest_stats_bucket_skipping(spark, tmp_path_factory):
    """Iceberg-style data skipping: per-batch namespaces with disjoint
    ts ranges write min/max stats into the manifest; a pruned read
    scans ONLY the batches whose range intersects the predicate, and
    the surviving rows (after the real filter) equal the unpruned
    filter. Buckets without stats are never skipped, and a rewritten
    bucket drops its stale stats."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("stats_skip")))
    for i, ns in enumerate(["b0", "b1", "b2"]):
        df = spark.createDataFrame(
            [(f"k{i}_{j}", i * 10 + j % 10) for j in range(40)],
            "image_id string, ts long",
        )
        write_snapshotted(
            df, t, n_buckets=4, namespace=ns, stats_cols=["ts"]
        )
    snap = t.current()
    assert all(k.split("/")[0] in {"b0", "b1", "b2"} for k in snap["column_stats"])
    # predicate ts in [12, 15] intersects ONLY batch b1 (ts 10-19)
    live = t.live_bucket_keys(snap, prune={"ts": (12, 15)})
    assert live and all(k.startswith("b1/") for k in live)
    got = (
        t.read(spark, prune={"ts": (12, 15)})
        .filter("ts >= 12 and ts <= 15")
        .orderBy("image_id")
        .toPandas()
    )
    want = (
        t.read(spark)
        .filter("ts >= 12 and ts <= 15")
        .orderBy("image_id")
        .toPandas()
    )
    assert got.equals(want) and len(got) > 0
    # no stats -> never skipped (conservative)
    nostats = SnapshotTable(str(tmp_path_factory.mktemp("stats_none")))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "image_id string, ts long")
    write_snapshotted(df, nostats, n_buckets=2)
    s2 = nostats.current()
    assert t and nostats.live_bucket_keys(s2, prune={"ts": (100, 200)}) == \
        nostats.live_bucket_keys(s2)
    # a rewrite WITHOUT stats drops the bucket's stale entry
    rewrites = {k: 1 for k in snap["buckets"] if k.startswith("b1/")}
    t.commit(rewrites, "rewrite-job")
    after = t.current()
    assert not any(k.startswith("b1/") for k in after["column_stats"])
    assert any(k.startswith("b0/") for k in after["column_stats"])


def test_stats_prune_type_mismatch_keeps_bucket(spark, tmp_path_factory):
    """Incomparable stats/bound types (string stats vs numeric bounds,
    or vice versa) must fall back to the 'never skipped' conservatism
    instead of raising TypeError out of read() (ADVICE r6)."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("stats_mismatch")))
    df = spark.createDataFrame(
        [(f"k{j}", f"s{j}") for j in range(10)], "image_id string, tag string"
    )
    write_snapshotted(df, t, n_buckets=2, stats_cols=["tag"])
    snap = t.current()
    # string-typed committed stats, numeric caller bounds
    assert t.live_bucket_keys(snap, prune={"tag": (100, 200)}) == \
        t.live_bucket_keys(snap)
    got = t.read(spark, prune={"tag": (100, 200)}).count()
    assert got == 10


def test_snapshotted_write_leaves_session_overwrite_mode(spark, best_df, tmp_path_factory):
    """Snapshotted writes ask for dynamic partition overwrite per write:
    the session conf stays as it was, so a later plain partitioned
    overwrite in the caller's session still replaces the directory."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    t = SnapshotTable(str(tmp_path_factory.mktemp("conf_snap")))
    write_snapshotted(best_df, t, n_buckets=4, group_size=2)
    assert spark.conf.get(key) == before

    out = str(tmp_path_factory.mktemp("plain_overwrite")) + "/t"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string")
    df.write.partitionBy("p").parquet(out)
    df.filter("p = 'a'").write.mode("overwrite").partitionBy("p").parquet(out)
    assert [r["p"] for r in spark.read.parquet(out).collect()] == ["a"]


def _manifest_vs_groupby(spark, t, stats_cols=()):
    """Assert the current manifest's ``buckets``, ``total_rows`` and
    ``column_stats`` against a groupBy over the committed rows; returns
    (manifest, {bucket key: reference row})."""
    from pyspark.sql import functions as F

    snap = t.current()
    df = t.read(spark)
    b = F.col("bucket").cast("string")
    key = F.concat_ws("/", "ns", b) if "ns" in df.columns else b
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    ref = {r["key"]: r for r in df.groupBy(key.alias("key")).agg(*aggs).collect()}
    assert set(ref) <= set(snap["buckets"])
    assert snap["buckets"] == {k: (ref[k]["n"] if k in ref else 0) for k in snap["buckets"]}
    assert snap["total_rows"] == df.count() == sum(snap["buckets"].values())
    for k, st in snap.get("column_stats", {}).items():
        assert st == {c: [ref[k][f"lo_{c}"], ref[k][f"hi_{c}"]] for c in st}, k
    return snap, ref


def test_manifests_match_a_groupby_of_the_committed_rows(spark, tmp_path_factory):
    """Every writer's manifest (counts observed on the write) equals a
    groupBy of what it committed: plain and namespaced writes with
    stats and an empty bucket, an upsert with a tombstone, and a
    compaction to each layout."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.snapshots import (
        bucket_expr,
        compact_table,
        upsert_snapshotted,
    )

    rows = spark.createDataFrame(
        [(f"k{i}", i, f"t{i % 13:02d}") for i in range(200)],
        "image_id string, v int, tag string",
    )
    no_b3 = rows.filter(bucket_expr("image_id", 8) != 3)  # bucket 3 stays empty

    plain = SnapshotTable(str(tmp_path_factory.mktemp("mf_plain")))
    write_snapshotted(no_b3, plain, n_buckets=8, group_size=3, stats_cols=["v", "tag"])
    snap, ref = _manifest_vs_groupby(spark, plain, ["v", "tag"])
    assert snap["buckets"]["3"] == 0 and "3" not in snap["column_stats"]
    assert set(snap["column_stats"]) == set(ref) and len(ref) == 7

    mixed = spark.createDataFrame(
        [("k0", 0, "x", True), ("k1", -1, "y", False), ("new", 999, "z", False),
         ("ghost", 0, "g", True)],
        "image_id string, v int, tag string, deleted boolean",
    )
    upsert_snapshotted(mixed, plain, n_buckets=8, tombstone_col="deleted")
    snap, _ = _manifest_vs_groupby(spark, plain, ["v", "tag"])
    keys = {r["image_id"] for r in no_b3.select("image_id").collect()}
    assert snap["total_rows"] == len((keys - {"k0"}) | {"k1", "new"})

    ns = SnapshotTable(str(tmp_path_factory.mktemp("mf_ns")))
    for b in range(2):
        part = no_b3.filter(F.col("v") % 2 == b)
        write_snapshotted(part, ns, n_buckets=8, group_size=8, namespace=f"b{b}",
                          stats_cols=["v"])
    snap, ref = _manifest_vs_groupby(spark, ns, ["v"])
    assert snap["buckets"]["b0/3"] == snap["buckets"]["b1/3"] == 0
    assert set(snap["column_stats"]) == set(ref) and len(ref) == 14

    compact_table(spark, ns, key_col="image_id", n_buckets=4)
    snap, _ = _manifest_vs_groupby(spark, ns)
    assert len(snap["buckets"]) == 4 and snap["total_rows"] == no_b3.count()
    compact_table(spark, ns, key_col="image_id", n_buckets=4, layout="plain")
    snap, _ = _manifest_vs_groupby(spark, ns)
    assert set(snap["buckets"]) == {"0", "1", "2", "3"}
    assert snap["total_rows"] == no_b3.count()
