"""LakeTable — a minimal snapshot-based table format on parquet.

The sandbox has no Iceberg/Delta jars, so the engine ships its own small
lakehouse layer with the properties the CDC sink needs (all public, standard
lakehouse ideas — snapshot isolation via an atomically-swapped metadata
pointer, immutable data files, copy-on-write row rewrite, schema evolution by
metadata, O(1) commit):

- **Snapshots**: JSON roots ``metadata/v{N:08d}.json``, each written whole
  under a temp name and published with ``os.link`` — the link IS the commit
  (it fails when ``v{N}`` exists: optimistic concurrency, the losing writer
  retries), so no reader ever sees a torn root. ``version-hint.txt`` is
  swapped afterwards via ``os.replace`` but is only a hint: readers roll
  forward from it while ``v{N+1}`` exists, so a writer that dies between
  the link and the swap neither loses its commit nor wedges the table.
- **Bucketed layout**: rows are hash-bucketed on a bucket key (``conv_id``)
  into ``num_buckets`` buckets. MERGE rewrites only the buckets a batch
  touches (copy-on-write); untouched buckets' files are carried forward by
  reference. At 100 TB this is what keeps a 1 GB microbatch from rewriting
  the table: cost ∝ touched-bucket bytes, not table bytes.
- **Schema evolution**: every column has a field id (Iceberg's rule: ids
  are never reused) and each file group records the schema it was written
  with; reads harmonize per group by id (the stored column with the same
  id, cast to the current type; NULL when the group has none), so ADD,
  DROP, RENAME and type widening never rewrite a file.
  (Reference analog: schema-version gate Loader.py:448-493 and the
  ``other_details`` open-schema escape hatch Loader.py:495-524.)
- **Fences**: the snapshot embeds a map of applied (epoch_id → max_lsn,
  per-partition offsets). Fence-check + data commit land in ONE atomic
  snapshot swap ⇒ replaying a committed epoch is a no-op (exactly-once;
  reference analog: 0-row re-load, tests/test_Loader.py:341-343).
- **Lineage**: per-commit row counts / lsn ranges / snapshot id stored in the
  snapshot and queryable as a DataFrame (reference analog: post-load meta
  refresh Loader.py:1245-1281).
- **Zone maps**: each file entry carries per-file min/max stats for the lsn /
  tombstone / event-time / sort-lead columns, harvested from the parquet
  footers at write time. ``scan(filters=...)`` skips files whose range can't
  match, and ``vacuum_tombstones`` rewrites only buckets that may hold a
  qualifying tombstone (Iceberg-manifest / Delta-add-file-stats analog).

Scale notes: metadata is O(num_buckets + files), independent of row count.
On a real deployment the JSON pointer swap would live on a consistent store
(HDFS rename / a catalog service); the protocol is unchanged.
"""

from __future__ import annotations

import copy
import glob
import json
import os
import uuid
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.lake.evolution import (
    SchemaCompatibilityError,
    check_schema_compatibility,
)

BUCKET_COL = "__bucket"
LAST_LSN_COL = "_last_lsn"  # row-version column (same name as schemas.py —
DELETED_COL = "_deleted"    # defined here too to avoid a circular import)
_HINT = "version-hint.txt"
# version collisions ``LakeTable.commit`` retries before raising CommitConflict
_COMMIT_RETRIES = 10
# key-salt split of the hot write: a bucket writes to at most this many files
_SALTS = 4

# ---------------------------------------------------------------- zone maps
# Per-file min/max column statistics ("zone maps") harvested from the parquet
# footers at write time and stored on each snapshot file entry. They are what
# real lakehouse formats (Iceberg manifests, Delta add-file stats) carry so a
# predicate can skip whole files without opening them — the last big
# read-amplification lever beyond bucket pruning (reference analog: the DB
# index that served the watermark point-lookup, Loader.py:1090-1100).


def _stat_jsonable(v):
    """Footer stat value → JSON-storable comparable, or None if the type
    isn't safely comparable across the JSON round-trip (binary, decimal)."""
    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime):
        # naive isoformat is zero-padded → lexicographic order == time order
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "isoformat"):  # date
        return v.isoformat()
    return None


def _harvest_file_stats(path: str, cols: list[str]) -> tuple[dict, int]:
    """({col: {"min": v, "max": v}}, num_rows) aggregated over a parquet
    file's row-group footer statistics. A column missing stats in ANY row
    group is dropped entirely (conservative: no stats → file is never
    skipped); the exact row count always comes from the footer. Runs in
    EXECUTOR tasks (see ``_harvest_stats_job``) — the write commit ships only
    the metadata-sized stats dicts back to the driver, exactly as Iceberg
    write tasks return per-file stats in their commit messages."""
    import pyarrow.parquet as pq

    agg: dict[str, dict] = {}
    bad: set[str] = set()
    md = pq.ParquetFile(path).metadata
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            name = col.path_in_schema
            if name not in cols or name in bad:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                agg.pop(name, None)
                continue
            mn, mx = _stat_jsonable(st.min), _stat_jsonable(st.max)
            if mn is None or mx is None:
                bad.add(name)
                agg.pop(name, None)
                continue
            cur = agg.get(name)
            if cur is None:
                agg[name] = {"min": mn, "max": mx}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
    return agg, int(md.num_rows)


def _harvest_stats_job(spark: SparkSession, paths: list[str], cols: list[str]) -> dict:
    """Distributed zone-map harvest: footer reads run in executor tasks, the
    driver receives only {path: {col: {min,max}}} — O(files × stat-cols) tiny
    dicts, never file bytes. This keeps the commit path free of driver-side
    per-file work: at 1000 executors × object storage, N footer opens happen
    where the files live instead of serializing through one driver loop.

    ``parallelize`` + ``mapPartitions`` is the one sanctioned RDD use
    (per-partition imperative IO); the work unit is a file PATH, not rows.
    ``_harvest_file_stats`` is resolved by module import INSIDE the task, so
    the job always runs this module's real harvest in the worker process —
    which lets tests stub the driver's copy to pin that the driver never
    harvests."""
    sc = spark.sparkContext
    n_slices = max(1, min(len(paths), sc.defaultParallelism))
    cols = list(cols)

    def part(it):
        from battetl_spark.lake.table import _harvest_file_stats as harvest

        for p in it:
            yield p, harvest(p, cols)

    return dict(sc.parallelize(paths, n_slices).mapPartitions(part).collect())


def _norm_filter_value(val, stat_sample):
    """Filter literal → the stat's comparison domain (datetime literals vs
    isoformat-string stats); None when the types aren't comparable (then the
    file is conservatively kept)."""
    if isinstance(stat_sample, str):
        if isinstance(val, datetime):
            return val.replace(tzinfo=None).isoformat()
        return val if isinstance(val, str) else None
    if isinstance(stat_sample, bool):
        return val if isinstance(val, bool) else None
    if isinstance(stat_sample, (int, float)):
        return val if isinstance(val, (int, float)) and not isinstance(val, bool) else None
    return None


def _file_may_match(entry: dict, filters) -> bool:
    """Can this file contain a row satisfying ALL (col, op, value) filters,
    judging only by its zone-map stats? Missing stats → True (never skip on
    ignorance)."""
    stats = entry.get("stats") or {}
    for col, op, val in filters:
        s = stats.get(col)
        if not s:
            continue
        v = _norm_filter_value(val, s["min"])
        if v is None:
            continue
        mn, mx = s["min"], s["max"]
        if (
            (op == ">" and not mx > v)
            or (op == ">=" and not mx >= v)
            or (op == "<" and not mn < v)
            or (op == "<=" and not mn <= v)
            or (op in ("=", "==") and not mn <= v <= mx)
        ):
            return False
    return True


_FILTER_OPS = {
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    "=": lambda c, v: c == v,
    "==": lambda c, v: c == v,
}


class CommitConflict(Exception):
    pass


def _is_fenced(snap: dict, epoch_id: int) -> bool:
    """Epoch already applied? Either folded under the fence floor (see
    ``compact_fences``) or present in the per-epoch fence map."""
    return int(epoch_id) <= int(snap.get("fence_floor", -1)) or str(
        epoch_id
    ) in snap["fences"]


def _bucket_differs(snap_a: dict, snap_b: dict, bucket) -> bool:
    """Did this bucket's file list change between two snapshots? Fast path:
    equal manifest POINTERS prove equal entries (manifests are immutable) —
    an O(1) string compare instead of an O(entries) list compare. Different
    pointers fall back to the entry compare (a rewrite can reproduce
    identical content under a new manifest)."""
    b = str(bucket)
    pa, pb = snap_a.get("manifests"), snap_b.get("manifests")
    if pa is not None and pb is not None and pa.get(b) == pb.get(b) and pa.get(b):
        return False
    return snap_a["files"].get(b) != snap_b["files"].get(b)


def _fence_gate(snap: dict, fence: dict | None) -> bool:
    """Exactly-once gate: False if ``fence``'s epoch is already applied (the
    commit declines), else record it in the same snapshot as the data."""
    if fence is not None:
        if _is_fenced(snap, fence["epoch_id"]):
            return False
        snap["fences"][str(fence["epoch_id"])] = {
            k: v for k, v in fence.items() if k != "epoch_id"
        }
    return True


def _add_entries(snap: dict, new_files: dict[str, list[dict]], **tags) -> None:
    """Append new file entries, tagged with ``tags``, to their buckets
    (replacing the lists: hydrated lists are shared with the cache)."""
    for b, entries in new_files.items():
        snap["files"][b] = snap["files"].get(b, []) + [{**e, **tags} for e in entries]


def _push_schema(snap: dict, struct: T.StructType) -> None:
    """Record ``struct`` as a new schema id and make it current. A field
    without a ``field_id`` is a new column and takes the next id from the
    ``last_field_id`` counter, so a dropped or renamed-away column's id is
    never reused."""
    fields = []
    for f in struct.fields:
        if "field_id" not in f.metadata:
            snap["last_field_id"] += 1
            f = T.StructField(f.name, f.dataType, f.nullable,
                              {**f.metadata, "field_id": snap["last_field_id"]})
        fields.append(f)
    sid = str(max(map(int, snap["schemas"]), default=0) + 1)
    snap["schemas"][sid] = json.loads(T.StructType(fields).json())
    snap["schema"] = snap["schemas"][sid]
    snap["current_schema_id"] = sid


def _check_alterable(snap: dict, name: str, verb: str) -> None:
    protected = {snap["bucket_key"], *(snap.get("key_cols") or []),
                 *(snap.get("sort_cols") or []),
                 *(snap.get("properties", {}).get("protected_cols") or [])}
    if name.startswith("_") or name in protected:
        raise ValueError(
            f"column {name!r} is a key/bucket/sort/internal column "
            f"and cannot be {verb}"
        )


def bucket_expr(bucket_key: str, num_buckets: int):
    """Deterministic bucket id for a key — xxhash64-based so any engine stage
    (dedup, merge, scan pruning) derives the same bucket without metadata."""
    return F.pmod(F.xxhash64(F.col(bucket_key)), F.lit(num_buckets)).cast("int")


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta_dir = os.path.join(self.path, "metadata")
        self._data_dir = os.path.join(self.path, "data")
        # immutable manifest files (uuid-named, write-once) → safe to cache
        # per instance; worst case under concurrency is a duplicate read.
        # Bounded LRU (insertion-ordered dict, move-to-end on hit): a
        # long-lived CdcStream writer otherwise holds one superseded entry
        # dict per commit forever — manifests are immutable, so evicting and
        # re-reading on miss is always safe
        self._manifest_cache: dict[str, dict] = {}
        self._manifest_cache_cap = 64

    # ------------------------------------------------------------------ setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        num_buckets: int = 16,
        bucket_key: str = "conv_id",
        key_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        properties: dict | None = None,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(t._meta_dir, exist_ok=False)
        os.makedirs(t._data_dir, exist_ok=True)
        snap = {
            "version": 1,
            "snapshot_id": 1,
            "parent": None,
            "schemas": {},
            "last_field_id": 0,
            "num_buckets": num_buckets,
            "bucket_key": bucket_key,
            "key_cols": key_cols or [],
            "sort_cols": sort_cols or key_cols or [],
            "files": {},  # bucket(str) -> [{"path": rel, "schema_id": str}]
            "fences": {},  # epoch_id(str) -> {"max_lsn": int, "partitions": {...}}
            "lineage": [],  # this commit's lineage rows
            "properties": properties or {},
        }
        _push_schema(snap, T.StructType([  # fields numbered 1..n
            T.StructField(f.name, f.dataType, f.nullable,
                          {k: v for k, v in f.metadata.items() if k != "field_id"})
            for f in schema.fields
        ]))
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        t.snapshot()  # raises if absent
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", _HINT))

    # ------------------------------------------------------------- snapshots
    #
    # Manifest-split metadata (Iceberg's snapshot → manifest-list → manifest
    # shape): the root ``v{N}.json`` carries everything EXCEPT file entries —
    # for those it holds only a manifest pointer map (stored inverted as
    # {manifest-path → [bucket ids]}, see ``_expand_manifest_index``). The
    # entries themselves (paths + zone-map stats, the part that grows with
    # file count) live in immutable ``manifests/m-{uuid}.json`` files, one
    # written per commit covering ONLY the buckets that commit touched.
    # Unchanged buckets keep their previous pointer, so per-commit metadata
    # writes are O(touched-bucket entries + num_buckets pointer strings) —
    # never O(table files). Reads hydrate ``snap["files"]`` through a cache
    # of the immutable manifests. Hydrated entry lists are shared with the
    # cache: mutators must REPLACE lists (the codebase convention), never
    # mutate them in place — ``commit`` deepcopies before ``mutate`` for
    # exactly this reason.
    def snapshot(self) -> dict:
        """The current snapshot. The hint only says where to start looking:
        roll forward while the next root exists (its writer may have died
        before swapping the hint), or fall back to the newest retained root
        when the hinted one has been vacuumed."""
        with open(os.path.join(self._meta_dir, _HINT)) as f:
            v = int(f.read().strip())
        if not os.path.exists(self._root(v)):
            v = self._versions()[-1]
        while os.path.exists(self._root(v + 1)):
            v += 1
        return self._open(v)

    def _root(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version:08d}.json")

    def _versions(self) -> list[int]:
        """Retained snapshot versions, oldest first."""
        return sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self._meta_dir, "v*.json"))
        )

    def _open(self, version: int) -> dict:
        with open(self._root(version)) as f:
            return self._hydrate(json.load(f))

    def _roots(self):
        """Retained snapshot roots as stored (not hydrated), oldest first."""
        for v in self._versions():
            with open(self._root(v)) as f:
                yield json.load(f)

    def _read_manifest(self, rel: str, written: dict | None = None) -> dict:
        """Manifest via the bounded LRU (``written``: one just written)."""
        m = self._manifest_cache.pop(rel, written)  # pop+reinsert = move to end
        if m is None:
            with open(os.path.join(self._meta_dir, rel)) as f:
                m = json.load(f)
        self._manifest_cache[rel] = m
        while len(self._manifest_cache) > self._manifest_cache_cap:
            self._manifest_cache.pop(next(iter(self._manifest_cache)))
        return m

    def _hydrate(self, snap: dict) -> dict:
        """Materialize ``snap["files"]`` from the root's manifest pointers.
        Roots store the pointer map INVERTED — {manifest-path: [bucket
        ids]} — because most buckets share a few manifests, so the inverted
        form is O(#manifests × path + num_buckets × int) instead of
        O(num_buckets × path): 233 KB → ~20 KB per root at 4096 buckets
        (measured). In memory the {bucket → path} form is what the reuse /
        diff logic wants, so expand on load."""
        snap["manifests"] = {
            str(b): p for p, bs in snap.pop("manifests_inv").items() for b in bs
        }
        snap["files"] = {
            b: self._read_manifest(rel)[b] for b, rel in snap["manifests"].items()
        }
        return snap

    def _write_snapshot(self, snap: dict) -> None:
        files = snap.get("files", {})
        ptrs = dict(snap.get("manifests") or {})
        changed: dict[str, list] = {}
        for b, entries in files.items():
            rel = ptrs.get(b)
            if rel is not None and self._read_manifest(rel).get(b) == entries:
                continue  # unchanged bucket: reuse its manifest pointer
            changed[b] = entries
        if changed:
            os.makedirs(os.path.join(self._meta_dir, "manifests"), exist_ok=True)
            rel = os.path.join("manifests", f"m-{uuid.uuid4().hex}.json")
            with open(os.path.join(self._meta_dir, rel), "w") as f:
                json.dump(changed, f)
            self._read_manifest(rel, changed)
            for b in changed:
                ptrs[b] = rel
        snap["manifests"] = {b: p for b, p in ptrs.items() if b in files}
        inv: dict[str, list[int]] = {}
        for b, mp in snap["manifests"].items():
            inv.setdefault(mp, []).append(int(b))
        root = {k: v for k, v in snap.items() if k not in ("files", "manifests")}
        root["manifests_inv"] = {mp: sorted(bs) for mp, bs in inv.items()}
        tmp = os.path.join(self._meta_dir, f".root.{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                json.dump(root, f)
            # the commit point: publish the whole root, or FileExistsError
            # when another writer took this version first
            os.link(tmp, self._root(snap["version"]))
        finally:
            os.remove(tmp)
        tmp = os.path.join(self._meta_dir, f".hint.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(snap["version"]))
        os.replace(tmp, os.path.join(self._meta_dir, _HINT))

    def commit(self, mutate) -> dict | None:
        """Optimistic commit: mutate(copy-of-current, lineage emptied) -> new
        snapshot dict, or None to decline (then returns None). Retries on
        version collision."""
        for _ in range(_COMMIT_RETRIES):
            cur = self.snapshot()
            new = mutate(copy.deepcopy({**cur, "lineage": []}))
            if new is None:
                return None
            new["version"] = cur["version"] + 1
            new["snapshot_id"] = new["version"]
            new["parent"] = cur["version"]
            try:
                self._write_snapshot(new)
                return new
            except FileExistsError:
                continue
        raise CommitConflict(f"commit lost {_COMMIT_RETRIES} races at {self.path}")

    # ---------------------------------------------------------------- schema
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.snapshot()["schema"])

    @property
    def num_buckets(self) -> int:
        return self.snapshot()["num_buckets"]

    @property
    def bucket_key(self) -> str:
        return self.snapshot()["bucket_key"]

    def evolve_schema(self, incoming: T.StructType) -> T.StructType:
        """Gate + apply schema evolution (adds / safe widenings) atomically.

        Raises SchemaCompatibilityError on incompatible changes — the
        pipeline errors cleanly with no partial commit (FIXTURES.md F6).
        A field matched by name keeps its id; an added one gets a fresh id,
        so a name re-added after a drop or rename reads NULL in old files.
        """
        evolved = None

        def mutate(snap):
            nonlocal evolved
            cur = T.StructType.fromJson(snap["schema"])
            evolved = check_schema_compatibility(cur, incoming)
            if evolved.json() == cur.json():
                return None  # no-op
            _push_schema(snap, evolved)
            return snap

        self.commit(mutate)
        return evolved

    def rename_column(self, old: str, new: str) -> T.StructType:
        """Rename a column by metadata only — no file rewrite (Iceberg
        RENAME COLUMN analog). The field keeps its id under the new name,
        so scan reads old files' bytes, stored under the old name, through
        the id; renames chain. Key/bucket/sort/internal columns are
        refused; the target name must be free.

        A later batch still carrying the OLD name evolves it back as a NEW
        column with a fresh id (old files read NULL for it, exactly like a
        dropped name being re-added) — producers are expected to switch to
        the new name; a non-nullable renamed column forces that at the
        gate. Returns the evolved schema."""

        def mutate(snap):
            cur = T.StructType.fromJson(snap["schema"])
            names = [f.name for f in cur.fields]
            if old not in names:
                raise ValueError(f"column {old!r} does not exist")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            if not new or new.startswith("_"):
                raise ValueError(f"invalid target column name {new!r}")
            _check_alterable(snap, old, "renamed")
            _push_schema(snap, T.StructType([
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old else f
                for f in cur.fields
            ]))
            # remap name-bearing properties: a zone-mapped column keeps its
            # stats under the new name (otherwise _stats_cols filters the
            # stale old name out and file skipping silently stops)
            props = dict(snap.get("properties") or {})
            listed = list(props.get("stats_cols", []) or [])
            if old in listed:
                props["stats_cols"] = [new if c == old else c for c in listed]
                snap["properties"] = props
            return snap

        return T.StructType.fromJson(self.commit(mutate)["schema"])

    def drop_column(self, name: str) -> T.StructType:
        """Drop a column by metadata only — no file rewrite (Iceberg DROP
        COLUMN analog). Existing files keep the bytes; the column simply
        leaves the current schema, so scans stop selecting it and incoming
        batches no longer carry it through ``_project``. Key, bucket, sort
        and engine-internal (``_``-prefixed) columns are refused.

        The column's field id is retired with it: re-adding the same name
        later (explicitly, or implicitly by a batch that still carries the
        column — it evolves back in) creates a NEW column with a fresh id,
        so files written before the re-add read NULL for it, never the
        dropped predecessor's stored values. Returns the evolved schema."""

        def mutate(snap):
            cur = T.StructType.fromJson(snap["schema"])
            if name not in {f.name for f in cur.fields}:
                raise ValueError(f"column {name!r} does not exist")
            _check_alterable(snap, name, "dropped")
            _push_schema(
                snap, T.StructType([f for f in cur.fields if f.name != name])
            )
            return snap

        return T.StructType.fromJson(self.commit(mutate)["schema"])

    # ------------------------------------------------------------------ read
    def scan(
        self,
        buckets: list[int] | None = None,
        snap: dict | None = None,
        include_deleted: bool = False,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Read current rows (optionally only the given buckets), harmonized
        to the current schema by field id: each file group's column with a
        current field's id is read under the current name, cast to the
        current type; a field no column of the group holds reads NULL.
        Per-group reads keep the parquet vectorized reader on the exact
        written schema (no cross-file type confusion).

        Tombstone rows (``_deleted = true``) are filtered unless
        ``include_deleted`` — merge reads them for late-event fencing.

        ``filters`` is a list of ``(col, op, value)`` with op in
        ``> >= < <= =``: each is applied BOTH as zone-map file skipping
        (files whose per-file min/max range cannot satisfy every predicate
        are never opened — read cost ∝ qualifying-file bytes; a file's
        stats are read under the name it stores the column's field id) AND
        as a row filter, so the semantics are exact regardless of which
        files carry stats. A ``ts``- or ``_last_lsn``-bounded scan of a
        100 TB table touches only the files whose range overlaps.

        Merge-on-read: buckets holding DELTA files (``merge_apply(mode=
        'mor')`` appends batch winners without reading the bucket) are
        resolved here — one winner per key by (lsn, base-beats-delta-on-tie)
        — before tombstone/row filters. PER-FILE zone-map skipping is
        disabled for those buckets (dropping one file could remove the true
        winner and wrongly promote an older row past the filter), but the
        WHOLE bucket is skipped when no file in it — base or delta, stats
        over their union of ranges — can satisfy every predicate: any
        resolved winner is a row of the bucket, so if zone maps prove no
        bucket row matches, no winner can survive the post-resolve row
        filter either. A 100-TB MOR-heavy table thus keeps file skipping on
        its hottest (delta-bearing) buckets at bucket granularity until
        compaction restores per-file skipping. Clean (all-base) buckets keep
        the fast path: no resolve aggregation, per-file skipping."""
        snap = snap or self.snapshot()
        cur_schema = T.StructType.fromJson(snap["schema"])
        wanted = list(
            snap["files"].items()
            if buckets is None
            else ((str(b), snap["files"].get(str(b), [])) for b in buckets)
        )
        for col, op, _ in filters or []:
            if op not in _FILTER_OPS:
                raise ValueError(f"unsupported filter op {op!r} on {col!r}")

        field_names = {f.name for f in cur_schema.fields}
        ftypes = {f.name: f.dataType for f in cur_schema.fields}
        field_ids = {f.name: f.metadata["field_id"] for f in cur_schema.fields}

        def may_match(e):  # zone maps are keyed by the name the file stores
            stored = {f["metadata"]["field_id"]: f["name"]
                      for f in snap["schemas"][e["schema_id"]]["fields"]}
            return _file_may_match(
                e, [(stored.get(field_ids.get(c)), op, v) for c, op, v in filters]
            )

        def read_union(groups):  # {sid: [paths]} -> harmonized union | None
            parts = []
            for sid, paths in groups.items():
                g_schema = T.StructType.fromJson(snap["schemas"][sid])
                # a column is its field id: each current field reads the
                # group's column holding the same id, or NULL if none does
                stored = {f.metadata["field_id"]: F.col(f.name) for f in g_schema.fields}
                df = self.spark.read.schema(g_schema).parquet(*paths)
                parts.append(df.select(*[
                    stored.get(f.metadata["field_id"], F.lit(None))
                    .cast(f.dataType).alias(f.name)
                    for f in cur_schema.fields
                ]))
            return reduce(lambda a, b: a.unionByName(b), parts) if parts else None

        clean: dict[str, list[str]] = {}
        # delta-bearing buckets: base files + delta files grouped per
        # (schema, commit-seq) so the resolve can prefer the EARLIEST commit
        # on lsn ties (deterministic; CoW-parity)
        base_g: dict[str, list[str]] = {}
        delta_g: dict[tuple, list[str]] = {}  # (sid, seq) -> paths
        for _, entries in wanted:
            has_delta = any(e.get("delta") for e in entries)
            if (
                has_delta
                and filters
                and not any(may_match(e) for e in entries)
            ):
                continue  # bucket-granular skip: no file (base OR delta) in
                # this bucket can hold a matching row, so no resolved winner
                # can pass the row filter — safe to drop the whole bucket
            for e in entries:
                full = os.path.join(self.path, e["path"])
                if not has_delta:
                    if filters and not may_match(e):
                        continue  # zone-map skip: range proves no row matches
                    clean.setdefault(e["schema_id"], []).append(full)
                elif e.get("delta"):
                    delta_g.setdefault(
                        (e["schema_id"], int(e.get("seq", 1))), []
                    ).append(full)
                else:
                    base_g.setdefault(e["schema_id"], []).append(full)

        out = read_union(clean)
        if delta_g or base_g:
            key_cols = snap["key_cols"]
            if not key_cols or LAST_LSN_COL not in field_names:
                raise ValueError(
                    "delta files require a keyed CDC table to resolve"
                )
            parts = []
            base_df = read_union(base_g)
            if base_df is not None:
                parts.append(base_df.withColumn("__seq", F.lit(0)))
            for (sid, seq), paths in delta_g.items():
                d = read_union({sid: paths})
                parts.append(d.withColumn("__seq", F.lit(seq)))
            merged = reduce(lambda a, b: a.unionByName(b), parts)
            non_key = [f.name for f in cur_schema.fields if f.name not in key_cols]
            # max lsn wins; on a tie the EARLIEST-applied row wins (base
            # __seq=0 beats any delta; older delta beats newer) — a replayed
            # or duplicate event at the applied lsn is a no-op, exactly as
            # in the CoW resolve
            order = F.struct(F.col(LAST_LSN_COL), (-F.col("__seq")).alias("__prio"))
            resolved = (
                merged.groupBy(*key_cols)
                .agg(F.max_by(F.struct(*non_key), order).alias("__w"))
                .select(
                    *key_cols, *[F.col(f"__w.{c}").alias(c) for c in non_key]
                )
                .select(*[f.name for f in cur_schema.fields])
            )
            out = resolved if out is None else out.unionByName(resolved)
        if out is None:
            return self.spark.createDataFrame([], cur_schema)
        if not include_deleted and "_deleted" in field_names:
            out = out.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        for col, op, val in filters or []:
            lit = F.lit(val)
            if col in ftypes:
                lit = lit.cast(ftypes[col])  # e.g. datetime literal vs ntz col
            out = out.filter(_FILTER_OPS[op](F.col(col), lit))
        return out

    def count_rows(self, _debug: bool = False):
        """Exact VISIBLE row count, metadata-first (the Iceberg/Delta
        count-star pushdown): per-file footer row counts were harvested at
        write time (``nrows``), so a file provably free of tombstones — its
        ``_deleted`` zone map shows no True, or the table has no tombstone
        column at all — contributes without being opened. Only files that
        MIGHT hold tombstones (or predate nrows harvesting) are scanned,
        and only delta-bearing buckets pay a resolve. On a 100-TB table
        count(*) is then O(metadata) + O(the exceptional files), not a
        full scan. Returns an int; ``_debug`` returns
        (total, n_meta_files, n_slow_files, n_slow_buckets) for tests."""
        snap = self.snapshot()
        has_tombstones = DELETED_COL in {f["name"] for f in snap["schema"]["fields"]}
        total = 0
        n_meta = 0
        slow_buckets: list[int] = []
        slow_paths: list[str] = []
        for b, entries in snap["files"].items():
            if any(e.get("delta") for e in entries):
                slow_buckets.append(int(b))
                continue
            for e in entries:
                nr = e.get("nrows")
                st = (e.get("stats") or {}).get(DELETED_COL)
                clean = (not has_tombstones) or (
                    st is not None and st["max"] is False
                )
                if nr is not None and clean:
                    total += int(nr)
                    n_meta += 1
                else:
                    slow_paths.append(os.path.join(self.path, e["path"]))
        if slow_buckets:
            total += self.scan(slow_buckets, snap).count()
        if slow_paths:
            df = self.spark.read.parquet(*slow_paths)
            if has_tombstones and DELETED_COL in df.columns:
                df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            total += df.count()
        if _debug:
            return total, n_meta, len(slow_paths), len(slow_buckets)
        return total

    # ----------------------------------------------------------------- write
    def _write_data(
        self, df: DataFrame, shuffle: bool = True, rewrite: tuple | None = None
    ) -> dict[str, list[str]]:
        """Write rows (must carry BUCKET_COL) into a fresh commit dir,
        one hive-style subdir per bucket; returns {bucket: [rel paths]}.

        sortWithinPartitions enforces the stable-ordering invariant
        (per-turn text equality under stable turn ordering) at rest.

        ``rewrite=(tasks, lead_sort, max_records_per_file)`` is compaction's
        shape: instead of the key-salt split, each bucket flows through ONE
        of ``tasks`` tasks, sorted by the ``lead_sort`` Columns ahead of the
        sort columns, and the writer rolls a new file every
        ``max_records_per_file`` records (None: one file per bucket). A
        clustering lead makes a bucket's files hold CONTIGUOUS, DISJOINT
        ranges of the lead, so its zone maps actually skip (the salt split
        gives every file the bucket's full value range; see ``compact``).
        """
        snap = self.snapshot()
        sort_cols = snap["sort_cols"] or []
        commit_dir = f"commit-{uuid.uuid4().hex}"
        out = os.path.join(self._data_dir, commit_dir)
        # Hash-partition on (bucket, small key-salt): each (bucket, salt)
        # combo lands in exactly one task, so a bucket writes to <= SALTS
        # files, a hot bucket splits across SALTS tasks, and rows balance by
        # the hash — with NO sampling pass (repartitionByRange samples its
        # child, executing the whole upstream merge pipeline twice; measured
        # 17% slower). Hash by bucket alone idles ~40% of cores (collisions);
        # hash by (bucket, full key) writes n_out × B tiny files.
        tasks, lead_sort, per_file = rewrite or (None, [], None)
        if rewrite:
            w = df.repartition(tasks, F.col(BUCKET_COL))
        elif shuffle:
            n_out = max(1, df.sparkSession.sparkContext.defaultParallelism * 2)
            lead = (sort_cols or [BUCKET_COL])[0]
            # seeded independently of bucket_expr: pmod(xxhash64(key), B) and
            # pmod(xxhash64(key), S) are correlated when S divides B (the salt
            # would collapse to bucket % S and never split a bucket)
            salt = F.pmod(F.xxhash64(F.col(lead), F.lit(0x5A17)), F.lit(_SALTS))
            w = df.repartition(n_out, F.col(BUCKET_COL), salt)
        else:
            # caller guarantees rows are already usefully partitioned (e.g.
            # rebucket: child bucket is a refinement of the parent the task
            # read) — partitionBy fans each task into its buckets' dirs
            w = df
        if sort_cols or lead_sort:
            w = w.sortWithinPartitions(BUCKET_COL, *lead_sort, *sort_cols)
        writer = w.write.partitionBy(BUCKET_COL).mode("overwrite")
        if per_file:
            writer = writer.option("maxRecordsPerFile", int(per_file))
        writer.parquet(out)
        stat_cols = self._stats_cols(snap, df.columns)
        paths = glob.glob(os.path.join(out, f"{BUCKET_COL}=*", "*.parquet"))
        # zone-map harvest runs as ONE distributed job over the written file
        # paths (executor-side footer reads); only the stats dicts come back
        all_stats: dict[str, tuple] = {}
        if stat_cols and paths:
            all_stats = _harvest_stats_job(self.spark, paths, stat_cols)
        files: dict[str, list[dict]] = {}
        for p in paths:
            b = os.path.basename(os.path.dirname(p)).split("=", 1)[1]
            entry = {"path": os.path.relpath(p, self.path)}
            harvested = all_stats.get(p)
            if harvested is not None:
                stats, nrows = harvested
                if stats:
                    entry["stats"] = stats
                entry["nrows"] = nrows
            files.setdefault(b, []).append(entry)
        return files

    def _stats_cols(self, snap: dict, df_cols: list[str]) -> list[str]:
        """Columns to zone-map: the row-version lsn, the tombstone flag, the
        event-time column, and the sort-lead key (plus any extras from the
        ``stats_cols`` table property)."""
        lead = (snap.get("sort_cols") or [None])[0]
        cand = {LAST_LSN_COL, DELETED_COL, "ts", lead}
        cand |= set(snap.get("properties", {}).get("stats_cols", []) or [])
        return sorted(c for c in cand if c and c in df_cols and c != BUCKET_COL)

    def replace_buckets(
        self,
        df: DataFrame,
        buckets: list[int],
        fence: dict | None = None,
        lineage: list[dict] | None = None,
        base_snapshot: dict | None = None,
        rewrite: tuple | None = None,
    ) -> dict | None:
        """Copy-on-write commit: the given buckets' contents become exactly
        ``df`` (which must carry BUCKET_COL); all other buckets carry over.
        ``fence`` = {"epoch_id": int, "max_lsn": int, ...} recorded atomically
        with the data swap.

        ``base_snapshot`` is the snapshot ``df`` was COMPUTED from. Passing it
        turns the optimistic retry into true conflict detection: if any
        replaced bucket's file list changed between base and commit time
        (a concurrent writer landed first), the commit raises CommitConflict
        instead of silently overwriting the winner's rows with data derived
        from a stale scan. Disjoint-bucket concurrent commits still compose.
        Files written under the base schema are tagged with the BASE
        schema_id (a concurrent evolve_schema must not re-tag them — old
        files are harmonized on read, never relabeled).

        ``rewrite`` is compaction's file layout (see ``_write_data``); the
        default is the hot salted write.

        Returns None (no commit) when ``fence``'s epoch is already applied —
        exactly-once replay no-op; callers must treat it as not-applied.
        """
        new_files = self._write_data(df, rewrite=rewrite)

        replaced = {int(b) for b in buckets}
        sid = (base_snapshot or self.snapshot())["current_schema_id"]

        def mutate(snap):
            if not _fence_gate(snap, fence):
                return None  # already committed — exactly-once replay no-op
            if base_snapshot is not None and snap["version"] != base_snapshot["version"]:
                for b in replaced:
                    if _bucket_differs(snap, base_snapshot, b):
                        raise CommitConflict(
                            f"bucket {b} changed since snapshot version "
                            f"{base_snapshot['version']} (now {snap['version']}); "
                            "re-run the merge against the current snapshot"
                        )
            for b in replaced:
                snap["files"][str(b)] = []
            _add_entries(snap, new_files, schema_id=sid)  # stray b: appended
            snap["lineage"] = lineage or []
            return snap

        # a declined (fenced) commit leaves orphan files for vacuum_files
        return self.commit(mutate)

    def append_delta_buckets(
        self,
        df: DataFrame,
        fence: dict | None = None,
        lineage: list[dict] | None = None,
        schema_id: str | None = None,
    ) -> dict | None:
        """Merge-on-read commit: append ``df`` (batch winners carrying
        BUCKET_COL, ``_last_lsn`` and ``_deleted``) as DELTA files on their
        buckets, WITHOUT reading or rewriting any existing file. Write cost
        ∝ batch bytes — the ingest-side answer to CoW's touched-bucket
        rewrite at 100 TB; reads of delta-bearing buckets pay a per-key LWW
        resolve until ``compact()`` folds deltas back into base files.

        Append-only metadata mutation: concurrent delta appends to the same
        bucket commute (the optimistic commit retry re-applies the append on
        the fresh list), so no conflict detection is needed. The fence is
        honored exactly like replace_buckets: a replayed epoch returns None
        and commits nothing."""
        snap = self.snapshot()
        if not snap["key_cols"] or LAST_LSN_COL not in {
            f["name"] for f in snap["schema"]["fields"]
        }:
            raise ValueError("merge-on-read requires a keyed CDC table")
        new_files = self._write_data(df)

        def mutate(s):
            if not _fence_gate(s, fence):
                return None  # exactly-once replay no-op
            # "seq" = the committing snapshot's version: scan's resolve uses
            # it to break delta-vs-delta lsn ties deterministically in favor
            # of the FIRST-applied commit (parity with CoW's current-row-wins
            # tie rule; max_by alone would pick an arbitrary winner)
            _add_entries(
                s, new_files, schema_id=schema_id or s["current_schema_id"],
                delta=True, seq=s["version"] + 1,
            )
            s["lineage"] = lineage or []
            return s

        return self.commit(mutate)

    def append(self, df: DataFrame) -> dict:
        """Append-only commit (seeding / fact-append use; reference analog:
        chunked INSERT Loader.py:1149-1205 — here one distributed write).

        Refused while any bucket holds MOR delta files: an appended row
        landing in a delta-bearing bucket would silently enter that bucket's
        read-time LWW resolve (and could lose to a delta and vanish), while
        the identical append into a clean bucket would surface both rows —
        visibility must not depend on unrelated MOR activity. Fold deltas
        with compact() first, or route the rows through merge_apply."""
        snap = self.snapshot()
        if snap["key_cols"] and any(
            e.get("delta") for entries in snap["files"].values() for e in entries
        ):
            raise ValueError(
                "append() into a table with outstanding MOR delta files is "
                "ambiguous — run compact() to fold deltas, or use merge_apply"
            )
        bexpr = bucket_expr(snap["bucket_key"], snap["num_buckets"])
        new_files = self._write_data(df.withColumn(BUCKET_COL, bexpr))

        def mutate(s):
            _add_entries(s, new_files, schema_id=s["current_schema_id"])
            return s

        return self.commit(mutate)

    # ----------------------------------------------------------- fence/meta
    def has_fence(self, epoch_id: int) -> bool:
        return _is_fenced(self.snapshot(), epoch_id)

    def fences(self) -> dict:
        return self.snapshot()["fences"]

    def fence_floor(self) -> int:
        """Highest epoch folded into the fence floor (-1 if none): every
        epoch ≤ floor is fenced without a per-epoch map entry."""
        return int(self.snapshot().get("fence_floor", -1))

    def compact_fences(self) -> dict | None:
        """Fold the maximal CONTIGUOUS fenced epoch prefix into a single
        ``fence_floor`` watermark, dropping those epochs' map entries.

        The fence map otherwise grows one entry per epoch forever — at
        10^10 events / 10^5 epochs that is megabytes of fence JSON copied
        into every snapshot root, the same O(history) metadata leak the
        manifest split removed for file lists. Folding is unconditionally
        safe: only epochs whose every predecessor is also fenced fold, so
        ``has_fence`` answers identically before and after (a gap epoch —
        never applied — stops the fold and is never spuriously fenced).
        Per-epoch fence payloads (max_lsn, partition offsets) are dropped
        for folded epochs; the lineage history in older snapshots keeps
        them until vacuum. Returns the new snapshot, or None if nothing
        folded. Safe to call periodically from a maintenance loop."""
        def mutate(snap):
            floor = int(snap.get("fence_floor", -1))
            fenced = {int(k) for k in snap["fences"]}
            new_floor = floor
            while new_floor + 1 in fenced:
                new_floor += 1
            if new_floor == floor:
                return None
            snap["fence_floor"] = new_floor
            snap["fences"] = {
                k: v for k, v in snap["fences"].items() if int(k) > new_floor
            }
            return snap

        return self.commit(mutate)

    # ------------------------------------------------------------ time travel
    def snapshot_at(self, version: int | str) -> dict:
        """Snapshot by version number, or by TAG NAME (str)."""
        if isinstance(version, str):
            tags = self.snapshot().get("tags") or {}
            if version not in tags:
                raise ValueError(f"tag {version!r} does not exist")
            version = int(tags[version])
        if not os.path.exists(self._root(version)):
            raise ValueError(f"snapshot version {version} does not exist")
        return self._open(version)

    def scan_at(self, version: int | str, include_deleted: bool = False) -> DataFrame:
        """Time travel: read the table as of an earlier snapshot — by
        version number or tag name (data files are immutable; UNTAGGED
        history lives until vacuum_files drops it, tagged versions are
        vacuum-protected)."""
        return self.scan(snap=self.snapshot_at(version), include_deleted=include_deleted)

    # ------------------------------------------------------------------- tags
    def tag(self, name: str, version: int | None = None, replace: bool = False) -> int:
        """Pin an immutable named tag to a snapshot version (default: the
        current one) — the reproducible-training-dataset primitive (Iceberg
        tag analog): a run records ``table.tag("train-v3")`` and every later
        job reads ``scan_at("train-v3")`` byte-identically, regardless of
        subsequent ingest, compaction, or vacuum. Tags live in the snapshot
        root (transactional with everything else; the tag commit itself is
        metadata-only and reuses all manifest pointers) and ``vacuum_files``
        retains every tagged version's metadata + data files. Returns the
        tagged version."""
        state: dict = {}

        def mutate(snap):
            v = snap["version"] if version is None else int(version)
            if version is not None and not os.path.exists(self._root(v)):
                raise ValueError(f"snapshot version {v} does not exist")
            tags = dict(snap.get("tags") or {})
            if name in tags and not replace:
                if int(tags[name]) == v:
                    state["version"] = v
                    return None  # already pinned there — idempotent no-op
                raise ValueError(
                    f"tag {name!r} already pins v{tags[name]} (replace=True to move)"
                )
            tags[name] = v
            snap["tags"] = tags
            state["version"] = v
            return snap

        self.commit(mutate)
        return state["version"]

    def tags(self) -> dict[str, int]:
        return {k: int(v) for k, v in (self.snapshot().get("tags") or {}).items()}

    def delete_tag(self, name: str) -> None:
        def mutate(snap):
            tags = dict(snap.get("tags") or {})
            if name not in tags:
                return None
            del tags[name]
            snap["tags"] = tags
            return snap

        self.commit(mutate)

    def rollback(self, version: int) -> dict:
        """Roll the table back to an earlier snapshot's state as a NEW
        commit (history preserved — the rollback itself is undoable).
        Fences are kept from the CURRENT snapshot: epochs applied since
        ``version`` stay fenced, so a stream resuming after rollback does
        not double-apply them. So is the field-id counter: the schema
        returns to ``version``'s, but a column added after the rollback
        never takes the id of one the rollback abandoned (a rename undone
        and its new name re-added reads NULL in old files)."""
        old = self.snapshot_at(version)

        def mutate(snap):
            snap["files"] = old["files"]
            # carrying the old manifest pointers lets _write_snapshot reuse
            # them: a rollback commit writes NO new manifests
            snap["manifests"] = old["manifests"]
            snap["schema"] = old["schema"]
            snap["schemas"] = {**old["schemas"], **snap["schemas"]}
            snap["current_schema_id"] = old["current_schema_id"]
            return snap

        return self.commit(mutate)

    def changes_between(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Change-data-feed: the rows inserted/updated/deleted between two
        snapshots, as current-schema rows plus a ``_change_type`` column
        ('insert' | 'update' | 'delete'; delete rows carry the key columns
        and the tombstone LSN). Lets downstream consumers tail the table
        incrementally instead of re-diffing full states.

        Scale shape: the snapshot metadata says exactly which buckets' file
        lists differ between the two versions, so only CHANGED buckets are
        scanned on either side — diff cost ∝ changed-bucket bytes, never
        table bytes."""
        old_snap = self.snapshot_at(v_from)
        new_snap = self.snapshot() if v_to is None else self.snapshot_at(v_to)

        # validation FIRST: a non-CDC table must raise loudly regardless of
        # whether any bucket changed (an append-only table with real changes
        # must never silently return an empty feed)
        def names(snap):
            return {f["name"] for f in snap["schema"]["fields"]}

        key_cols = new_snap["key_cols"]
        if not key_cols:
            raise ValueError(
                "changes_between requires a keyed CDC table (key_cols is "
                "empty); append-only tables have no row identity to diff on"
            )
        for snap, v in ((old_snap, v_from), (new_snap, v_to)):
            if LAST_LSN_COL not in names(snap):
                raise ValueError(
                    f"changes_between requires a CDC table (no {LAST_LSN_COL} "
                    f"column at version {v}); append-only tables have no row "
                    "version to diff on"
                )

        changed = sorted(
            int(b)
            for b in set(old_snap["files"]) | set(new_snap["files"])
            if _bucket_differs(old_snap, new_snap, b)
        )
        if not changed:
            return self.spark.createDataFrame(
                [], T.StructType(
                    list(T.StructType.fromJson(new_snap["schema"]).fields)
                    + [T.StructField("_change_type", T.StringType(), False)]
                )
            )

        def dead_expr(snap):
            if DELETED_COL in names(snap):
                return F.coalesce(F.col(DELETED_COL), F.lit(False))
            return F.lit(False)

        old = self.scan(changed, old_snap, include_deleted=True).select(
            *[F.col(c).alias(f"__o_{c}") for c in key_cols],
            F.col(LAST_LSN_COL).alias("__o_lsn"),
            dead_expr(old_snap).alias("__o_dead"),
        )
        new = self.scan(changed, new_snap, include_deleted=True)
        cond = reduce(
            lambda a, b: a & b,
            [new[c].eqNullSafe(F.col(f"__o_{c}")) for c in key_cols],
        )
        j = new.join(old, cond, "full_outer")
        new_dead = (
            F.coalesce(F.col(DELETED_COL), F.lit(False))
            if DELETED_COL in new.columns
            else F.lit(False)
        )
        new_lsn = F.col(LAST_LSN_COL)
        was_live = F.col("__o_lsn").isNotNull() & ~F.col("__o_dead")
        change = (
            F.when(~was_live & new_lsn.isNotNull() & ~new_dead, "insert")
            .when(was_live & new_lsn.isNotNull() & new_dead, "delete")
            .when(
                was_live
                & new_lsn.isNotNull()
                & ~new_dead
                & (new_lsn > F.col("__o_lsn")),
                "update",
            )
            .otherwise(F.lit(None))
        )
        out_cols = [f.name for f in T.StructType.fromJson(new_snap["schema"]).fields]
        return (
            j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*[new[c] for c in out_cols], "_change_type")
        )

    # ------------------------------------------------------------ maintenance
    def compact(
        self,
        min_files_per_bucket: int = 4,
        cluster_by: str | list[str] | None = None,
        files_per_bucket: int = 1,
    ) -> dict | None:
        """Rewrite buckets whose file count reached the threshold
        (copy-on-write; snapshot-atomic). Long-running CDC streams accrete
        one file per bucket per commit — compaction bounds read
        amplification. Returns the new snapshot, or None if nothing to do.

        Every compaction is ONE rewrite shape (``_write_data``'s
        ``rewrite``): each crowded bucket flows through one task, sorted by
        a lead key ahead of the sort columns. Plain compaction has no lead
        key and writes one file per bucket.

        ``cluster_by``: clustered compaction (Delta OPTIMIZE ZORDER /
        Iceberg sort-compaction analog). The hot write path salt-splits a
        bucket's files by KEY hash, so every file spans the bucket's full
        ``ts``/sort range and zone maps rarely skip. A column name leads the
        sort with that column; a LIST of 2+ columns leads it with the Morton
        interleave of the columns' quantized ranks (``lake.zorder``, Delta
        OPTIMIZE ZORDER BY), whose quantization ranges come from one
        partial-aggregated pass over the rows being rewritten. Either way
        the writer rolls files by record count, so each crowded bucket
        becomes ``files_per_bucket`` files holding contiguous DISJOINT
        ranges of the lead — range-tight in every listed dimension, with no
        sampling pass. A range-filtered scan of a 100 TB table then opens
        only the files whose range overlaps. The clustering columns are
        persisted into the ``stats_cols`` table property first, so this and
        every FUTURE write harvests their min/max."""
        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by or [])
        snap = self.snapshot()
        schema = T.StructType.fromJson(snap["schema"])
        if len(cols) > 1:
            from battetl_spark.lake.zorder import check_zorderable

            check_zorderable(schema, cols)
        elif cols and cols[0] not in schema.fieldNames():
            raise ValueError(f"cluster_by column {cols[0]!r} not in schema")
        harvested = self._stats_cols(snap, cols)
        for c in cols:
            if c not in harvested:
                self._ensure_stats_col(c)
        crowded = [
            int(b) for b, entries in snap["files"].items()
            if len(entries) >= min_files_per_bucket
        ]
        if not crowded:
            return None
        rows = self.scan(crowded, snap, include_deleted=True).withColumn(
            BUCKET_COL, bucket_expr(snap["bucket_key"], snap["num_buckets"])
        )
        lead, per_file = [], None
        try:
            if cols:
                rows = rows.persist()  # sized and ranged, then written
                mx = rows.groupBy(BUCKET_COL).count().agg(F.max("count")).first()[0]
                per_file = -(-int(mx or 1) // max(1, files_per_bucket))
                lead = [F.col(cols[0])]
                if len(cols) > 1:
                    from battetl_spark.lake.zorder import _types, column_ranges, zorder_key

                    mins, maxs = column_ranges(rows, cols)
                    lead = [zorder_key(cols, mins, maxs, types=_types(rows.schema, cols))]
            # base_snapshot makes a racing merge abort THIS rewrite
            # (CommitConflict) instead of resurrecting pre-merge rows
            return self.replace_buckets(
                rows, crowded, base_snapshot=snap,
                rewrite=(len(crowded), lead, per_file),
            )
        finally:
            rows.unpersist()

    def _ensure_stats_col(self, col: str) -> None:
        """Persist ``col`` into the ``stats_cols`` table property (no-op
        commit when already harvested) so zone maps exist for it on this
        and every future write."""
        def mutate(s):
            if self._stats_cols(s, [col]):
                return None  # already harvested — nothing to commit
            props = s.setdefault("properties", {})
            props["stats_cols"] = list(props.get("stats_cols", []) or []) + [col]
            return s

        self.commit(mutate)

    def rebucket(self, new_num_buckets: int) -> dict:
        """Grow the bucket count in one snapshot-atomic rewrite — the first
        maintenance operation a table seeded small needs at 100× growth.

        ``pmod(xxhash64(k), M)`` with ``old_N | M`` REFINES the old
        bucketing: every row of old bucket b lands in one of its children
        ``{b, b+old_N, …, b+(f−1)·old_N}`` (f = M/old_N), never in another
        parent's child. The split is bucket-local, so the rewrite runs with
        NO shuffle: each task fans the parent rows it read into their child
        directories via ``partitionBy`` — one read+write pass of the table,
        zero exchanges (pinned by ``test_rebucket_plan_no_shuffle``). At
        100 TB the pass parallelizes per-file and writes stay node-local.

        Power-of-two factor required (any multiple satisfies the
        congruence; 2^k keeps successive splits composable). MOR deltas are
        folded (scan resolves them) and tombstones carried. The commit is
        conflict-detected against ANY concurrent commit — the state the
        rewrite read must still be current, else ``CommitConflict`` (retry
        the whole operation). Fences, schema history and properties carry
        forward: a resuming stream keeps its exactly-once guarantees over
        the new layout, and CDF across the transition reports no spurious
        changes (row versions are untouched)."""
        snap = self.snapshot()
        old_n = int(snap["num_buckets"])
        factor = new_num_buckets // old_n if old_n else 0
        if (
            new_num_buckets <= old_n
            or old_n * factor != new_num_buckets
            or factor & (factor - 1)
        ):
            raise ValueError(
                f"rebucket target {new_num_buckets} must be old bucket count "
                f"({old_n}) × a power of two"
            )
        rows = self.scan(snap=snap, include_deleted=True).withColumn(
            BUCKET_COL, bucket_expr(snap["bucket_key"], new_num_buckets)
        )
        new_files = self._write_data(rows, shuffle=False)

        def mutate(s):
            if s["version"] != snap["version"]:
                raise CommitConflict(
                    f"table changed during rebucket (snapshot "
                    f"{snap['version']} → {s['version']}); retry rebucket"
                )
            s["num_buckets"] = int(new_num_buckets)
            s["files"] = {}
            _add_entries(s, new_files, schema_id=s["current_schema_id"])
            return s

        return self.commit(mutate)

    def vacuum_tombstones(self, below_lsn: int) -> dict | None:
        """Drop tombstones with _last_lsn < below_lsn (older than the
        source's max reorder horizon — late events below this LSN can no
        longer arrive, so the fence rows are dead weight).

        Zone-map pruned: a bucket is rewritten only if at least one of its
        files MAY hold a qualifying tombstone (file stats show
        max(_deleted) = true AND min(_last_lsn) < below_lsn). Buckets whose
        every file provably has no qualifying tombstone carry forward
        untouched — maintenance cost ∝ qualifying-bucket bytes, not table
        bytes. Files without stats are conservatively rewritten."""
        if DELETED_COL not in {f.name for f in self.schema.fields}:
            return None

        def may_hold(entry: dict) -> bool:
            stats = entry.get("stats") or {}
            d, l = stats.get(DELETED_COL), stats.get(LAST_LSN_COL)
            has_tombstone = d is None or bool(d["max"])
            old_enough = l is None or l["min"] < below_lsn
            return has_tombstone and old_enough

        return self._drop_where(
            may_hold,
            F.coalesce(F.col(DELETED_COL), F.lit(False))
            & (F.col(LAST_LSN_COL) < F.lit(below_lsn)),
        )

    def _drop_where(self, may_hold, drop) -> dict | None:
        """Delete the rows matching Column ``drop``, rewriting only buckets
        with a file entry that ``may_hold`` one (a zone-map test); the rest
        carry forward. Returns the new snapshot, or None if none may."""
        snap = self.snapshot()
        buckets = sorted(
            int(b)
            for b, entries in snap["files"].items()
            if any(may_hold(e) for e in entries)
        )
        if not buckets:
            return None
        kept = (
            self.scan(buckets, snap, include_deleted=True)
            .filter(~drop)
            .withColumn(BUCKET_COL, bucket_expr(snap["bucket_key"], snap["num_buckets"]))
        )
        return self.replace_buckets(kept, buckets, base_snapshot=snap)

    def vacuum_files(self, keep_snapshots: int = 2) -> list[str]:
        """Delete data files referenced by NO retained snapshot and drop
        metadata older than the last ``keep_snapshots`` versions. TAGGED
        versions (see ``tag``) are always retained — metadata, manifests and
        data files — so a pinned training dataset survives any vacuum. Safe
        order: metadata first (readers can no longer reach old versions),
        then unreferenced files. Returns deleted file paths."""
        versions = self._versions()
        tagged = {
            int(v) for v in (self.snapshot().get("tags") or {}).values()
        }
        retained = sorted(set(versions[-keep_snapshots:]) | (tagged & set(versions)))
        live: set[str] = set()
        live_manifests: set[str] = set()
        for v in retained:
            s = self.snapshot_at(v)
            live_manifests |= set((s.get("manifests") or {}).values())
            for entries in s["files"].values():
                for e in entries:
                    live.add(os.path.join(self.path, e["path"]))
        for v in versions:
            if v not in retained:
                os.remove(self._root(v))
        # manifests referenced by no retained root follow their snapshots out
        for p in glob.glob(os.path.join(self._meta_dir, "manifests", "m-*.json")):
            rel = os.path.relpath(p, self._meta_dir)
            if rel not in live_manifests:
                os.remove(p)
                self._manifest_cache.pop(rel, None)
        deleted = []
        for p in glob.glob(os.path.join(self._data_dir, "commit-*", "**", "*.parquet"),
                           recursive=True):
            if p not in live:
                os.remove(p)
                deleted.append(p)
        return deleted

    def epoch_lineage(self, epoch_id: int) -> tuple[list[dict], bool]:
        """This epoch's lineage rows (plus ``snapshot_id``) from the retained
        snapshot roots — the commit that fenced the epoch embedded them
        atomically with the data.

        Returns ``(rows, fencing_commit_seen)``: the second flag is True
        when the PROVABLE fencing commit is still retained (the earliest
        retained snapshot carrying the fence, whose parent is retained and
        does NOT carry it) — if that commit has no lineage for the epoch,
        lineage collection was simply off when it ran, not vacuumed away."""
        epoch = int(epoch_id)
        retained, fenced_versions = set(), set()
        for root in self._roots():
            retained.add(root["version"])
            if str(epoch) in root["fences"]:
                fenced_versions.add(root["version"])
            rows = [
                {**r, "snapshot_id": root["snapshot_id"]}
                for r in root["lineage"]
                if r["epoch_id"] == epoch
            ]
            if rows:
                return rows, True
        fencing_seen = any(
            v - 1 in retained and v - 1 not in fenced_versions
            for v in fenced_versions
        )
        return [], fencing_seen

    def lineage_df(self) -> DataFrame:
        """All lineage rows across all retained snapshots, as a DataFrame."""
        return lineage_frame(self.spark, [
            {**r, "snapshot_id": root["snapshot_id"]}
            for root in self._roots()
            for r in root["lineage"]
        ])


def lineage_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Snapshot lineage rows (plus ``snapshot_id``) → LINEAGE_SCHEMA frame."""
    from battetl_spark.schemas import LINEAGE_SCHEMA

    rows = [{**r, "committed_at": datetime.fromisoformat(r["committed_at"])}
            for r in rows]
    return spark.createDataFrame(
        [tuple(r[n] for n in LINEAGE_SCHEMA.fieldNames()) for r in rows],
        LINEAGE_SCHEMA,
    )


def utc_now_iso() -> str:
    return datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
