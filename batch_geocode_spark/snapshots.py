"""Snapshot/manifest checkpoint-resume layer (north_rule).

No Iceberg jars are available in this environment, so the engine
implements the same *semantics* over partitioned parquet + a JSON
manifest commit log:

- data laid out as ``data/bucket=N/*.parquet`` where bucket =
  pmod(xxhash64(key), n_buckets) — deterministic per row key, so a
  re-run produces identical partitioning (required for idempotence;
  never monotonically_increasing_id, see SURVEY.md §1.4).
- append-style writers (streaming micro-batches) pass ``namespace``:
  data lands under ``data/ns=<namespace>/bucket=N`` and manifest keys
  become ``<namespace>/N``, so batches never overwrite each other and
  a replayed batch (same namespace) is idempotent — dynamic partition
  overwrite only touches that batch's own partitions.
- a snapshot = JSON manifest listing committed buckets with per-bucket
  row counts + lineage (parent snapshot id, job id) + the row schema.
  One builder (``SnapshotTable._commit``) writes every manifest
  temp-then-rename; ``CURRENT`` is updated last → atomic commit.
- reads use the manifest schema, so no job infers one from parquet
  footers (a manifest without one cannot be read). A commit stores
  the union of its parent's schema and the writer's (additive
  evolution: older rows read new columns as null);
  a compaction stores the schema of the rows it rewrote.
- the per-bucket counts (and ``stats_cols`` min/max) are taken by a
  ``DataFrame.observe`` on the write itself (``_write_buckets``): no
  writer reads its rows a second time to count them.
- writes use Spark dynamic partition overwrite, so a crash mid-group
  leaves partially-written bucket dirs that the retry simply overwrites.
- resume = read CURRENT → committed bucket set → process only pending
  buckets → commit a child snapshot.
- ``upsert_snapshotted`` takes at most ``MAX_UPSERT_ROWS`` input rows
  (more raise ``ValueError``): upsert in smaller batches.

Reference contrast: the reference has no checkpointing at all — a crash
restarts the whole CSV (SURVEY.md §4 'checkpoint/resume' row).

Swap-in path for real Iceberg: replace SnapshotTable with a catalog
table and ``df.writeTo(tbl).overwritePartitions()``; the job logic
(bucket groups, resume filter) is unchanged.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from batch_geocode_spark.operators import collect_capped


# rows of one upsert call: its keys are collected to the driver and
# broadcast to the anti-join
MAX_UPSERT_ROWS = 1_000_000


def bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _schema(schema_json: str) -> StructType:
    return StructType.fromJson(json.loads(schema_json))


def _schema_union(parent: str | None, writer: str | None) -> str | None:
    """The parent's columns in their order, each as the writer has it
    if the writer has it, then the writer's new columns: the schema of
    a lineage whose writers add columns over time."""
    if parent is None or writer is None:
        return writer or parent
    old, new = _schema(parent), _schema(writer)
    fields = [new[f.name] if f.name in new.names else f for f in old.fields]
    return StructType(fields + [f for f in new.fields if f.name not in old.names]).json()


class SnapshotTable:
    """A directory-backed table with an atomic snapshot commit log."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # ------------------------------------------------------------- manifest
    def _load(self, name: str) -> dict:
        with open(os.path.join(self.manifest_dir, name)) as f:
            return json.load(f)

    def current(self) -> dict | None:
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return self._load(f.read().strip())

    def committed_buckets(self) -> dict[str, int]:
        """bucket key -> row count across the whole committed lineage.

        Keys are ``"N"`` for plain writes or ``"<namespace>/N"`` for
        namespaced (append-mode) writes."""
        snap = self.current()
        return {str(k): int(v) for k, v in (snap or {}).get("buckets", {}).items()}

    def commit(
        self,
        new_buckets: dict[int | str, int],
        job_id: str,
        extra: dict | None = None,
        schema_json: str | None = None,
        new_stats: dict | None = None,
    ) -> dict:
        """Commit ``new_buckets`` on top of the lineage: the snapshot
        lists the parent's buckets updated with these, and its schema is
        the union of the parent's and the writer's (additive evolution:
        columns an older bucket lacks read as null)."""
        parent = self.current()
        buckets = dict((parent or {}).get("buckets", {}))
        buckets.update({str(b): int(n) for b, n in new_buckets.items()})
        # per-bucket min/max column stats (data skipping): a REWRITTEN
        # bucket's old stats are stale, so every committed bucket drops
        # its entry unless this commit supplies fresh ones — skipping
        # stays conservative (no stats ⇒ never skipped) by construction
        stats = dict((parent or {}).get("column_stats", {}))
        for b in new_buckets:
            stats.pop(str(b), None)
        for b, s in (new_stats or {}).items():
            stats[str(b)] = s
        schema = _schema_union((parent or {}).get("schema"), schema_json)
        return self._commit(parent, buckets, job_id, extra or {}, schema, stats)

    def _commit(
        self,
        parent: dict | None,
        buckets: dict[str, int],
        job_id: str,
        metrics: dict,
        schema: str | None,
        stats: dict,
    ) -> dict:
        """Write the child snapshot of ``parent`` (the current snapshot):
        the manifest temp-then-rename, then ``CURRENT`` — the atomic
        flip. Every manifest, a compaction's too, is built here."""
        snap = {
            "snapshot_id": (parent["snapshot_id"] + 1) if parent else 0,
            "parent_id": parent["snapshot_id"] if parent else None,
            "job_id": job_id,
            "committed_at": time.time(),
            "buckets": buckets,
            "total_rows": int(sum(buckets.values())),
            "column_stats": stats,
            "metrics": metrics,
            # row schema (JSON): what ``read`` reads the files with
            "schema": schema,
        }
        name = f"snapshot-{snap['snapshot_id']:06d}.json"
        tmp = os.path.join(self.manifest_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1)
        os.replace(tmp, os.path.join(self.manifest_dir, name))
        cur_tmp = os.path.join(self.manifest_dir, ".CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(name)
        os.replace(cur_tmp, os.path.join(self.manifest_dir, "CURRENT"))
        return snap

    def vacuum(self, keep_snapshots: int = 1) -> dict:
        """Expire all but the last ``keep_snapshots`` manifests and
        delete data directories no kept snapshot references — the
        expire_snapshots + remove_orphan_files maintenance pair. Returns
        {'removed_dirs': [...], 'removed_manifests': [...]}.
        ``keep_snapshots`` below 1 raises ``ValueError``: the current
        snapshot is always kept."""
        import shutil

        if keep_snapshots < 1:
            raise ValueError(f"keep_snapshots must be >= 1, got {keep_snapshots}")
        hist = self.history()
        if not hist:
            return {"removed_dirs": [], "removed_manifests": []}
        kept, expired = hist[-keep_snapshots:], hist[:-keep_snapshots]
        referenced = {
            os.path.relpath(self._bucket_path(str(k)), self.data_dir)
            for snap in kept
            for k in snap.get("buckets", {})
        }
        # every bucket dir on disk: bucket=N and ns=X/bucket=N
        on_disk = []
        for entry in sorted(os.listdir(self.data_dir)):
            p = os.path.join(self.data_dir, entry)
            if not os.path.isdir(p):
                continue
            if entry.startswith("bucket="):
                on_disk.append(entry)
            elif entry.startswith("ns="):
                on_disk.extend(
                    f"{entry}/{sub}"
                    for sub in sorted(os.listdir(p))
                    if sub.startswith("bucket=")
                )
        removed_dirs = []
        for rel in on_disk:
            if rel not in referenced:
                shutil.rmtree(os.path.join(self.data_dir, rel))
                removed_dirs.append(rel)
        # prune now-empty ns= parents
        for entry in sorted(os.listdir(self.data_dir)):
            p = os.path.join(self.data_dir, entry)
            if entry.startswith("ns=") and os.path.isdir(p) and not os.listdir(p):
                os.rmdir(p)
        removed_manifests = []
        for snap in expired:
            name = f"snapshot-{snap['snapshot_id']:06d}.json"
            path = os.path.join(self.manifest_dir, name)
            if os.path.exists(path):
                os.remove(path)
                removed_manifests.append(name)
        return {"removed_dirs": removed_dirs, "removed_manifests": removed_manifests}

    def history(self) -> list[dict]:
        names = sorted(
            n for n in os.listdir(self.manifest_dir) if n.startswith("snapshot-")
        )
        return [self._load(n) for n in names]

    # ----------------------------------------------------------------- read
    def _bucket_path(self, key: str) -> str:
        if "/" in key:
            ns, b = key.split("/", 1)
            return os.path.join(self.data_dir, f"ns={ns}", f"bucket={b}")
        return os.path.join(self.data_dir, f"bucket={key}")

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Committed rows only (uncommitted bucket dirs are invisible).

        ``prune`` enables manifest-stats data skipping (the Iceberg
        min/max file-skipping analog at bucket granularity): for each
        ``{col: (lo, hi)}`` entry, buckets whose committed [min, max]
        range (written via ``write_snapshotted(stats_cols=...)``) is
        DISJOINT from [lo, hi] are not scanned at all. Skipping is an
        optimization, not a filter — returned rows still need the real
        predicate applied; buckets without stats are always kept.

        Files are read with the snapshot's manifest ``schema``, so no job
        infers one from their footers. That schema is the union of every
        committed writer's (``commit``): when appenders add columns over
        time, older rows read them as null. A compaction replaces it.
        A manifest committed without a schema raises ``ValueError``.

        Zero-count buckets are committed in the manifest but produce no
        directory under dynamic partition overwrite, so they are skipped
        when assembling the path list (sparse/skewed inputs would
        otherwise raise PATH_NOT_FOUND). An all-empty committed table
        reads back as an empty DataFrame of the manifest schema.

        ``snapshot_id`` time-travels: buckets visible as of that commit.
        NOTE: bucket dirs are overwritten in place, so time travel is
        exact for append-style jobs (each bucket committed once per
        lineage) — the common resume case; a full Iceberg catalog would
        version data files too.
        """
        snap = self.current() if snapshot_id is None else self.snapshot(snapshot_id)
        if snap is None:
            raise ValueError(f"no committed snapshot in {self.root}")
        if not snap.get("buckets"):
            raise ValueError(f"no committed snapshot in {self.root}")
        paths = [
            self._bucket_path(k)
            for k in self.live_bucket_keys(snap, prune=prune)
        ]
        if snap.get("schema") is None:
            raise ValueError(f"committed table in {self.root} carries no schema")
        schema = _schema(snap["schema"])
        if not paths:
            # a truly empty frame — scanning data_dir here would surface
            # uncommitted bucket dirs left by a crashed writer, violating
            # the committed-rows-only invariant exactly when it matters
            return spark.createDataFrame([], schema)
        reader = spark.read.option("basePath", self.data_dir).schema(schema)
        return reader.parquet(*paths)

    def live_bucket_keys(
        self, snap: dict, prune: dict[str, tuple] | None = None
    ) -> list[str]:
        """Bucket keys a read must scan: committed, non-empty, and —
        with ``prune`` — not provably disjoint from the predicate
        ranges per the manifest min/max stats (exposed separately so
        tests can assert exactly WHICH buckets skipping eliminates)."""
        stats = snap.get("column_stats", {})
        keys = []
        for k, n in sorted(snap.get("buckets", {}).items()):
            if int(n) <= 0:
                continue
            st = stats.get(str(k))
            if prune and st:
                skip = False
                for col, (lo, hi) in prune.items():
                    rng = st.get(col)
                    try:
                        if (
                            rng is not None
                            and rng[0] is not None
                            and rng[1] is not None
                            and (rng[1] < lo or rng[0] > hi)
                        ):
                            skip = True
                            break
                    except TypeError:
                        # committed stats and caller bounds of
                        # incomparable types (e.g. string stats vs
                        # numeric bounds): fall back to the documented
                        # "no stats => never skipped" conservatism
                        # instead of crashing the read (ADVICE r6)
                        continue
                if skip:
                    continue
            keys.append(str(k))
        return keys

    def snapshot(self, snapshot_id: int) -> dict:
        return self._load(f"snapshot-{snapshot_id:06d}.json")


def _write_buckets(
    bucketed: DataFrame,
    table: SnapshotTable,
    part_cols: list[str],
    buckets: list[int],
    key_of,
    stats_cols: list[str] | tuple = (),
) -> tuple[dict[str, int], dict[str, dict]]:
    """Dynamic-overwrite ``bucketed`` (rows of ``buckets`` only) into
    ``table`` and return what the manifest records of the write:
    ``{key_of(b): rows}`` for every bucket in ``buckets`` (0 when empty),
    and ``{key_of(b): {col: [min, max]}}`` over ``stats_cols`` for the
    non-empty ones. Both come from one ``Observation`` on the write
    itself, so no second pass reads the rows again."""
    if not buckets:  # nothing to write (an upsert of no rows)
        return {}, {}
    b = F.col("bucket")
    aggs = [F.count_if(b == i).alias(f"n{i}") for i in buckets]
    for k, c in enumerate(stats_cols):
        for i in buckets:
            v = F.when(b == i, F.col(c))
            aggs += [F.min(v).alias(f"lo{k}_{i}"), F.max(v).alias(f"hi{k}_{i}")]
    obs = Observation()
    bucketed.observe(obs, *aggs).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*part_cols).parquet(table.data_dir)
    got = obs.get
    counts = {key_of(i): int(got[f"n{i}"]) for i in buckets}
    stats = {
        key_of(i): {
            c: [got[f"lo{k}_{i}"], got[f"hi{k}_{i}"]] for k, c in enumerate(stats_cols)
        }
        for i in buckets
        if stats_cols and got[f"n{i}"]
    }
    return counts, stats


def upsert_snapshotted(
    df: DataFrame,
    table: SnapshotTable,
    key_col: str = "image_id",
    n_buckets: int = 32,
    job_id: str | None = None,
    tombstone_col: str | None = None,
) -> dict:
    """Keyed upsert (MERGE INTO analog) with BUCKET PRUNING: only the
    buckets that contain an incoming key are read, merged (incoming row
    wins on key conflict), and rewritten — at 10^12 rows an upsert of a
    few thousand keys touches a handful of bucket directories, never
    the table. Plain-layout tables only (append-namespace tables are
    delta logs; run ``compact_table(..., layout='plain')`` first — the
    namespace→plain rewrite that makes a table upsertable).
    ``n_buckets`` must match the value the table was written with — it
    is validated against the manifest.

    ``tombstone_col`` enables MERGE-style DELETE: incoming rows whose
    (boolean) tombstone is true remove that key from the table instead
    of inserting; the column itself never lands in storage. Deleting a
    key that does not exist is a no-op — the full WHEN MATCHED THEN
    DELETE contract, still bucket-pruned.

    ``df`` is derived once, into a checkpoint, and may hold at most
    ``MAX_UPSERT_ROWS`` rows: its keys are broadcast to the anti-join
    that drops the replaced rows, so a larger input raises
    ``ValueError`` instead."""
    spark = df.sparkSession
    job_id = job_id or f"upsert-{uuid.uuid4().hex[:8]}"
    cur = table.current()
    if cur is not None:
        if any("/" in k for k in cur["buckets"]):
            raise ValueError(
                "upsert requires a plain-layout table "
                "(run compact_table(layout='plain') first)"
            )
        manifest_n = cur.get("metrics", {}).get("n_buckets")
        if manifest_n is not None and int(manifest_n) != n_buckets:
            raise ValueError(
                f"table was written with n_buckets={manifest_n}, got {n_buckets}"
            )

    # the caller's frame is derived ONCE: the affected buckets, the
    # anti-join keys and the incoming rows all come from this checkpoint
    staged = df.withColumn("bucket", bucket_expr(key_col, n_buckets)).localCheckpoint()
    touched = collect_capped(
        staged.select("bucket"), MAX_UPSERT_ROWS, "the upsert input",
        "upsert it in smaller batches",
    )
    affected = sorted(int(b) for b in touched["bucket"].unique())
    incoming = staged
    if tombstone_col is not None:
        flag = F.coalesce(F.col(tombstone_col).cast("boolean"), F.lit(False))
        incoming = staged.filter(~flag).drop(tombstone_col)
    merged = incoming
    if cur is not None:
        old = table.read(spark).filter(F.col("bucket").isin(affected))
        # broadcast: the capped collect above bounds the incoming keys
        keep = old.join(F.broadcast(staged.select(key_col)), key_col, "left_anti")
        # materialize BEFORE overwriting: the merge plan reads the very
        # bucket directories the write replaces (classic self-overwrite
        # hazard). The checkpoint holds only the affected buckets — small
        # by design.
        merged = keep.select(*incoming.columns).unionByName(incoming).localCheckpoint()
    counts, _ = _write_buckets(merged, table, ["bucket"], affected, str)
    return table.commit(
        counts,
        job_id,
        extra={"upsert_buckets": affected, "n_buckets": n_buckets},
        schema_json=incoming.schema.json(),
    )


def compact_table(
    spark: SparkSession,
    table: SnapshotTable,
    key_col: str,
    n_buckets: int = 32,
    job_id: str | None = None,
    layout: str = "namespace",
) -> dict:
    """Small-file compaction (Iceberg rewrite_data_files analog):
    streaming appends leave one file set per (batch, bucket); this job
    reads every committed row, rewrites it compacted, and commits a
    REPLACING snapshot. Readers flip atomically to the compacted
    layout; pre-compaction snapshots stay time-travelable until
    ``table.vacuum()`` reclaims their directories.

    ``layout='namespace'`` (default) writes under one fresh
    ``ns=compact-N`` namespace — append-log style. ``layout='plain'``
    rewrites to the plain ``bucket=N`` layout, which is the bridge from
    an append-namespaced delta log to an UPSERTABLE table
    (``upsert_snapshotted`` requires plain layout); the rows are
    materialized (localCheckpoint) before the overwrite because the
    target bucket dirs may be the very dirs being read."""
    cur = table.current()
    if cur is None:
        raise ValueError(f"nothing to compact in {table.root}")
    if layout not in ("namespace", "plain"):
        raise ValueError(f"unknown layout {layout!r}")
    df = table.read(spark).drop("ns", "bucket")
    bucketed = df.withColumn("bucket", bucket_expr(key_col, n_buckets))
    if layout == "namespace":
        ns = f"compact-{cur['snapshot_id'] + 1}"
        bucketed = bucketed.withColumn("ns", F.lit(ns))
        part_cols = ["ns", "bucket"]
        key_of = lambda b: f"{ns}/{b}"  # noqa: E731
    else:
        bucketed = bucketed.localCheckpoint()
        part_cols = ["bucket"]
        key_of = str
    counts, _ = _write_buckets(
        bucketed, table, part_cols, list(range(n_buckets)), key_of
    )
    # a REPLACING snapshot: only the compacted buckets, and the schema
    # of the rewritten rows (a plain rewrite drops ``ns``), no stats; the
    # parent is re-read so a commit made meanwhile is not overwritten
    return table._commit(
        table.current(),
        counts,
        job_id or f"compact-{cur['snapshot_id'] + 1}",
        {"compacted_from": cur["snapshot_id"], "n_buckets": n_buckets, "replace": True},
        bucketed.schema.json(),
        {},
    )


def write_snapshotted(
    df: DataFrame,
    table: SnapshotTable,
    key_col: str = "image_id",
    n_buckets: int = 32,
    group_size: int = 8,
    job_id: str | None = None,
    fail_after_groups: int | None = None,
    namespace: str | None = None,
    metrics: dict | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` into ``table`` in bucket groups, committing a snapshot
    (with per-bucket row counts + lineage) after each group.

    ``namespace`` enables append mode: data lands under
    ``data/ns=<namespace>/bucket=N`` so successive writers (e.g.
    streaming micro-batches, one namespace per batch) accumulate instead
    of overwriting each other, while a REPLAY of the same namespace is
    still idempotent (its committed buckets are skipped, its dirs are
    the only ones dynamic-partition-overwrite touches). A table should
    be written either always-plain or always-namespaced.

    ``fail_after_groups`` injects a crash after N commits (tests).
    Resume = call again with the same args: committed buckets are
    skipped, pending ones recomputed and committed as child snapshots.

    ``stats_cols`` records per-bucket min/max for the named columns in
    the manifest (numeric or string, JSON-representable) — the data
    the read side's ``prune`` uses for bucket skipping. Counts and stats
    are observed on the group's write itself (``_write_buckets``), so
    neither adds a job.
    """
    job_id = job_id or uuid.uuid4().hex[:12]

    bucketed = df.withColumn("bucket", bucket_expr(key_col, n_buckets))
    part_cols = ["bucket"]
    if namespace is not None:
        if "/" in namespace or "=" in namespace:
            raise ValueError(f"invalid namespace {namespace!r} (no '/' or '=')")
        bucketed = bucketed.withColumn("ns", F.lit(namespace))
        part_cols = ["ns", "bucket"]

    def key_of(b: int) -> str:
        return str(b) if namespace is None else f"{namespace}/{b}"

    done = set(table.committed_buckets())
    pending = [b for b in range(n_buckets) if key_of(b) not in done]
    groups = [pending[i : i + group_size] for i in range(0, len(pending), group_size)]
    schema_json = bucketed.schema.json()

    # materialize the (pending rows of the) derivation ONCE: each group
    # commit below filters + writes, and without a checkpoint every
    # write re-runs the full upstream DAG (n_buckets / group_size
    # rescans). A single group is one write, so it needs none. The
    # per-group commit stays the crash-resume granularity; only the
    # recomputation is gone.
    source = bucketed
    if len(groups) > 1:
        source = bucketed.filter(
            F.col("bucket").isin([int(b) for b in pending])
        ).localCheckpoint()

    last = table.current() or {}
    for gi, group in enumerate(groups):
        part = source.filter(F.col("bucket").isin([int(b) for b in group]))
        counts, stats = _write_buckets(
            part, table, part_cols, group, key_of, stats_cols or ()
        )
        last = table.commit(
            counts,
            job_id,
            extra={
                "group_index": gi,
                "group": list(group),
                "namespace": namespace,
                "n_buckets": n_buckets,
                **(metrics or {}),
            },
            schema_json=schema_json,
            new_stats=stats,
        )
        if fail_after_groups is not None and gi + 1 >= fail_after_groups:
            raise RuntimeError(f"injected failure after {gi + 1} group commits")
    return last
