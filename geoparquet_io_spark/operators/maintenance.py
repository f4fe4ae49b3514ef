"""Dataset maintenance at scale: file-skipping manifests and compaction.

Two operational primitives a 100 TB GeoParquet lake needs that the
single-file reference never faced:

- **Manifest / file skipping**: one pooled driver read of every footer
  (sources/geoparquet.py:read_footers) producing a tiny (file, rows,
  bytes, bbox) table.  A spatial query then prunes at
  FILE granularity before Spark ever lists row groups — the Iceberg/
  Delta zone-map idea expressed over plain GeoParquet footers.  This
  repo's writer stamps every file's footer with the bbox of the rows
  written to it (sources/geoparquet.py:write, from the covering column;
  reference invariant core/partition_common.py:657-705), so a file's
  manifest row bounds exactly that file.  The manifest is built on the
  driver as a local relation: pruning with it starts no Spark job.
- **Compaction**: bin small files up to a target size in one
  repartition + rewrite, preserving footer geo metadata.  Small-file
  proliferation is the classic lake failure mode (every file = one
  task + one footer read).
"""

from __future__ import annotations

import glob as _glob
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoparquet_io_spark.meta import GeoMeta, bbox_2d
from geoparquet_io_spark.sources.geoparquet import dataset_files, read_footers

MANIFEST_SCHEMA = T.StructType([
    T.StructField("file", T.StringType(), False),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("mtime_ns", T.LongType()),
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
])


def _local_frame(spark: SparkSession, rows: list[tuple],
                 schema: T.StructType) -> DataFrame:
    """``rows`` as a DataFrame built from an Arrow table, which Spark
    plans as a LocalRelation: actions on it start no Spark job, where a
    ``createDataFrame(rows, schema)`` RDD scan starts one per action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)))


def build_manifest(spark: SparkSession, path: str,
                   files: list[str] | None = None) -> DataFrame:
    """Footer read -> manifest DataFrame (one row per file).

    Every footer is read on the driver, once, through
    :func:`read_footers` (pooled, no Spark job), when this is called.
    bbox columns are NULL when a footer has no geo bbox.  Persist the
    result next to the dataset and refresh incrementally on ingest
    (``files`` restricts the read to an explicit list — the
    :func:`refresh_manifest` increment).
    """
    if files is None:
        files = dataset_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    rows = []
    for f, md in zip(files, read_footers(files)):
        g = GeoMeta.from_footer(md.metadata)
        # planar view of a 2D or 3D footer bbox; float(): footer JSON
        # may hold integers, which a DoubleType field refuses
        bb = bbox_2d(g.primary.bbox) if g is not None else None
        xmin, ymin, xmax, ymax = map(float, bb) if bb else (None,) * 4
        st = os.stat(f)
        rows.append((f, md.num_rows, st.st_size, st.st_mtime_ns,
                     xmin, ymin, xmax, ymax))
    return _local_frame(spark, rows, MANIFEST_SCHEMA)


def prune_files(manifest: DataFrame,
                bbox: tuple[float, float, float, float]) -> tuple[list[str], list[str]]:
    """Split manifest files into (kept, skipped) for a query bbox.
    Files without a footer bbox are conservatively KEPT (pruning must
    never lose rows).  Only file NAMES reach the driver."""
    xmin, ymin, xmax, ymax = bbox
    overlap = (F.col("xmax") >= xmin) & (F.col("xmin") <= xmax) \
        & (F.col("ymax") >= ymin) & (F.col("ymin") <= ymax)
    keep = overlap | F.col("xmin").isNull()
    rows = manifest.select("file", keep.alias("keep")).collect()
    kept = [r["file"] for r in rows if r["keep"]]
    skipped = [r["file"] for r in rows if not r["keep"]]
    return kept, skipped


def read_pruned(spark: SparkSession, path: str,
                bbox: tuple[float, float, float, float],
                manifest: DataFrame | None = None):
    """Read only the files whose footer bbox can intersect ``bbox`` —
    file-granularity skipping BEFORE Spark's row-group pruning.  Returns
    (GeoTable, report) where report counts scanned vs skipped files.
    Apply the exact bbox filter on the result (`.extract(bbox=...)`) —
    pruning is conservative, not exact."""
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.sources.geoparquet import read

    if manifest is None:
        manifest = build_manifest(spark, path)
    kept, skipped = prune_files(manifest, bbox)
    report = {"files_total": len(kept) + len(skipped),
              "files_scanned": len(kept), "files_skipped": len(skipped)}
    if not kept:
        # degenerate: nothing can match; keep the dataset schema with an
        # always-false filter so callers still get the right columns
        gt = read(spark, path)
        return GeoTable(gt.df.filter(F.lit(False)), gt.geo), report
    # geo metadata from the KEPT files' own footers: a full read(path)
    # here re-listed the whole dataset root and swept every footer —
    # minutes of driver latency on a million-file lake when pruning
    # kept 3 files, defeating the point of skipping (r8 review)
    from geoparquet_io_spark.sources.geoparquet import read_footer_geo

    return GeoTable(spark.read.parquet(*kept),
                    read_footer_geo(kept)), report


def compact(spark: SparkSession, in_path: str, out_path: str,
            target_file_mb: float = 256.0,
            compression: str = "zstd",
            zorder: list[str] | None = None) -> dict:
    """Compact a small-file dataset into ~``target_file_mb`` files:
    one repartition (count derived from actual on-disk bytes) + one
    rewrite through the footer-preserving GeoParquet writer.  Returns a
    report dict.  Non-geo datasets compact the same way (geo metadata
    simply absent).

    ``zorder``: cluster the rewrite along a multi-column Z-order key
    (Delta's ``OPTIMIZE ... ZORDER BY``) — same file count, but each
    output file covers a narrow band of EVERY listed column, so min/max
    skipping works for predicates on any of them
    (operators/sorts.py:zorder_by, equi-depth buckets)."""
    from geoparquet_io_spark.sources.geoparquet import read, write

    files = dataset_files(in_path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {in_path!r}")
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    gt = read(spark, in_path)
    if zorder:
        from geoparquet_io_spark.operators.sorts import zorder_by

        df = zorder_by(gt.df, zorder, method="range",
                       num_partitions=n_out)
    else:
        df = gt.df.repartition(n_out)
    written = write(df, out_path, geo=gt.geo, compression=compression)
    return {
        "files_before": len(files),
        "files_after": len(written),
        "bytes_before": total_bytes,
        "bytes_after": sum(os.path.getsize(f) for f in written),
        "target_file_mb": target_file_mb,
    }


def refresh_manifest(spark: SparkSession, manifest: DataFrame,
                     path: str) -> tuple[DataFrame, dict]:
    """Incrementally refresh a persisted manifest against the dataset's
    current file listing: read the footers of ONLY added/resized files,
    drop removed rows, keep everything else untouched.  On a 100 TB lake
    a daily ingest adds a handful of files — re-reading a million
    untouched footers (what ``build_manifest`` would do) is the wrong
    cost model; this is the metadata-maintenance increment.

    Returns (fresh manifest DataFrame, report) where report mirrors
    :func:`manifest_staleness` plus ``files_swept``.  Names/sizes drive
    the diff (driver-side, names only); only the changed files' footers
    are read, through :func:`build_manifest`."""
    stale = manifest_staleness(manifest, path)
    to_sweep = sorted(set(stale["files_added"]) | set(stale["files_resized"]))
    drop = set(stale["files_removed"]) | set(stale["files_resized"])
    kept = manifest.filter(~F.col("file").isin(sorted(drop))) if drop \
        else manifest
    if to_sweep:
        # sweep restricted to the changed files only — unchanged footers
        # are never re-read.  allowMissingColumns: a manifest persisted
        # before mtime_ns existed still refreshes (old rows get NULL)
        swept = build_manifest(spark, path, files=to_sweep)
        fresh = kept.unionByName(swept, allowMissingColumns=True)
    else:
        fresh = kept
    report = {k: v for k, v in stale.items()}
    report["files_swept"] = len(to_sweep)
    return fresh, report


SNAPSHOT_DIR = "_snapshots"


def _snapshot_dir(path: str) -> str:
    return os.path.join(path, SNAPSHOT_DIR)


def _snapshot_file(path: str, version: int) -> str:
    return os.path.join(_snapshot_dir(path), f"v{version:06d}.json")


# parse cache for snapshot version files: a committed v*.json is
# immutable (commit writes a NEW version file, never edits one), so
# (size, mtime) safely keys its parsed form.  The streaming sink reads
# the history every micro-batch for its replay guards and
# commit_snapshot re-reads it per optimistic attempt — without the
# cache that is O(versions x member files) json parsing twice per tiny
# batch, growing with the table's lifetime.  Listing stays fresh on
# every call; only the per-file PARSE is cached.
_SNAPSHOT_PARSE_CACHE: dict = {}


def snapshot_history(path: str) -> list[dict]:
    """All committed snapshots of a dataset, oldest first (empty list if
    none).  Each record: version, note, n_files, n_rows, n_bytes.
    Returned records are deep COPIES of the parse-cache entries — a
    caller mutating a returned record (or one returned through
    rollback_to/compact) must not silently corrupt every subsequent
    history read in the process (r8 ADVICE).  Module-internal readers
    that never mutate (commit_snapshot's membership derivation, the
    streaming sink's per-micro-batch chain walk) use
    :func:`_snapshot_history_shared` instead: records embed the full
    per-file membership list, so copying every version each micro-batch
    would re-introduce the O(versions x member-files) per-call cost the
    parse cache exists to amortize."""
    import copy

    return [copy.deepcopy(r) for r in _snapshot_history_shared(path)]


def _snapshot_history_shared(path: str) -> list[dict]:
    """Cache-backed history read returning SHARED records — read-only
    by contract; every public surface goes through the copying
    :func:`snapshot_history` wrapper."""
    import json

    out = []
    d = _snapshot_dir(path)
    if not os.path.isdir(d):
        return out
    for f in sorted(_glob.glob(os.path.join(d, "v*.json"))):
        try:
            st = os.stat(f)
            key = (f, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is not None and key in _SNAPSHOT_PARSE_CACHE:
            out.append(_SNAPSHOT_PARSE_CACHE[key])
            continue
        with open(f) as fh:
            rec = json.load(fh)
        if key is not None:
            # FIFO-evict one entry at the bound: clearing wholesale
            # would re-parse the entire history on the next call
            # (thrash) the moment a table passes the cap
            if len(_SNAPSHOT_PARSE_CACHE) >= 4096:
                _SNAPSHOT_PARSE_CACHE.pop(
                    next(iter(_SNAPSHOT_PARSE_CACHE)))
            _SNAPSHOT_PARSE_CACHE[key] = rec
        out.append(rec)
    # order by the COMMITTED version, not the filename: v%06d overflows
    # to 7 digits at version 1,000,000 and lexicographic order would put
    # v1000000 before v999999, wedging version allocation forever
    out.sort(key=lambda r: r["version"])
    return out


def commit_snapshot(spark: SparkSession, path: str,
                    files: list[str] | None = None,
                    note: str = "",
                    epoch_id: int | None = None,
                    reuse: dict | None = None,
                    delete_files: list[str] | None = None,
                    delete_key: str | None = None) -> dict:
    """Commit an immutable snapshot VERSION of a dataset — the
    Iceberg/Delta time-travel idea over plain parquet: a snapshot is a
    JSON membership list (relative path, rows, bytes per file) under
    ``<path>/_snapshots/``; readers of version N see exactly N's files
    regardless of later appends, rewrites, or compactions.

    ``files=None`` (the append/INSERT default) commits the PRIOR
    snapshot's membership plus any on-disk parquet file no snapshot has
    ever referenced (the newly appended batch).  Files referenced only
    by OLDER versions — pre-compaction originals, pre-``apply_deletes``
    data — are retained for time travel but are NOT swept back into the
    new version (they were logically replaced).  With no history at all,
    every on-disk file is the bootstrap membership.  A logical REPLACE
    (compaction, dedup rewrite) passes the new file set explicitly —
    old files stay on disk for time travel until :func:`vacuum`.

    ``delete_files=None`` (default) INHERITS the prior snapshot's
    merge-on-read delete files and key — an append between a
    ``delete_where`` and its ``apply_deletes`` keeps the deletes in
    force.  Note the equality-delete scope is the whole snapshot:
    appending a row whose key was deleted keeps it invisible until
    :func:`apply_deletes` folds the deletes in (fold first to
    re-insert).  Pass ``delete_files=[]`` to explicitly clear (what
    ``apply_deletes`` does after folding).

    Scale shape: footer row counts come from one pooled driver read of
    the footers not already known (:func:`read_footers`, no Spark job,
    whatever the file count).  The snapshot JSON is
    published via ``os.link`` from a private tmp file — atomic for
    readers (never a torn file) AND exclusive for writers: two
    concurrent committers racing to the same version number cannot
    clobber each other; the loser's link fails and it retries with the
    next version (optimistic-concurrency, the Iceberg commit model).

    ``epoch_id``: pass a stream's micro-batch epoch for exactly-once
    commits under foreachBatch replay — a retried epoch finds an
    existing snapshot recording the same ``epoch_id`` and returns it
    unchanged instead of committing a duplicate version.

    ``reuse``: a prior snapshot record (e.g. the stream's previous
    version).  Members whose size AND mtime match that record's entry
    reuse its row count instead of re-opening the footer — the
    incremental-commit path: per-batch cost is O(new files), not
    O(total files) (an append-only stream otherwise degrades to O(N^2)
    footer reads over its life).
    """
    import json
    import time

    reused = {}
    if reuse:
        for r in reuse.get("files", []):
            if "mtime_ns" in r:
                reused[os.path.join(path, r["file"])] = r
    os.makedirs(_snapshot_dir(path), exist_ok=True)
    # (n_rows, n_bytes, mtime_ns) per file, validated by size+mtime —
    # retries after a lost race re-derive membership from FRESH history
    # but never re-read a footer they already read
    stat_cache: dict[str, tuple[int, int, int]] = {}

    def _stat_members(members: list[str]) -> None:
        todo = []
        for f in members:
            st = os.stat(f)
            c = stat_cache.get(f)
            if c is not None and c[1] == st.st_size and c[2] == st.st_mtime_ns:
                continue
            r = reused.get(f)
            if r and st.st_size == r["n_bytes"] \
                    and st.st_mtime_ns == r["mtime_ns"]:
                stat_cache[f] = (r["n_rows"], r["n_bytes"], r["mtime_ns"])
            else:
                todo.append((f, st))
        for (f, st), md in zip(todo, read_footers([f for f, _ in todo])):
            stat_cache[f] = (md.num_rows, st.st_size, st.st_mtime_ns)

    for _attempt in range(64):
        # EVERY attempt derives membership and inherited deletes from
        # the history as of now: after a lost race the winner's files
        # and delete state must be honored, or the losing committer
        # would publish a version that silently drops them (lost
        # update / delete resurrection)
        hist = _snapshot_history_shared(path)
        if epoch_id is not None:
            for h in hist:
                if h.get("epoch_id") == epoch_id:
                    return h
        prior = hist[-1] if hist else None
        if files is not None:
            # dedupe: a duplicated path would double-count n_rows and
            # read back every one of its rows twice
            members = sorted(set(files))
        elif prior is None:
            members = dataset_files(path)  # bootstrap: all on disk
        else:
            # prior membership + never-before-referenced files (new
            # appends).  Files only OLDER snapshots reference were
            # logically replaced — sweeping them back in would
            # resurrect deleted/rewritten rows.  rewrite-* staging dirs
            # are EXCLUDED: apply_deletes/merge_into write a full table
            # copy there before their explicit REPLACE commit — a sweep
            # landing in that window would absorb the copy as "new
            # appends" and permanently duplicate every live row.
            ever = {os.path.abspath(os.path.join(path, r["file"]))
                    for h in hist for r in h["files"]}
            prior_files = [os.path.join(path, r["file"])
                           for r in prior["files"]]
            new_files = [
                f for f in dataset_files(path)
                if os.path.abspath(f) not in ever
                and not os.path.relpath(f, path).startswith("rewrite-")]
            members = sorted(set(prior_files) | set(new_files))
        dels, dkey = delete_files, delete_key
        if dels is None and prior is not None:
            # inherit merge-on-read deletes still in force ([] clears)
            dels = [os.path.join(path, r["file"])
                    for r in prior.get("delete_files", [])]
            if dels and dkey is None:
                dkey = prior.get("delete_key")
        missing = [f for f in members if not os.path.isfile(f)]
        if missing:
            raise FileNotFoundError(
                f"snapshot members missing: {missing[:3]}")
        _stat_members(members)
        rel = [{"file": os.path.relpath(f, path),
                "n_rows": int(stat_cache[f][0]),
                "n_bytes": int(stat_cache[f][1]),
                "mtime_ns": stat_cache[f][2]}
               for f in members]
        del_rel = []
        for f in sorted(dels or []):
            st = os.stat(f)
            del_rel.append({"file": os.path.relpath(f, path),
                            "n_bytes": st.st_size,
                            "mtime_ns": st.st_mtime_ns})
        if del_rel and not dkey:
            raise ValueError("delete_files requires delete_key")
        version = (hist[-1]["version"] + 1) if hist else 1
        rec = {
            "version": version,
            "note": note,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
            "n_files": len(rel),
            "n_rows": sum(r["n_rows"] for r in rel),
            "n_bytes": sum(r["n_bytes"] for r in rel),
            "files": rel,
        }
        if epoch_id is not None:
            rec["epoch_id"] = epoch_id
        if del_rel:
            rec["delete_files"] = del_rel
            rec["delete_key"] = dkey
        target = _snapshot_file(path, version)
        # pid alone collides for two THREADS of one driver committing
        # concurrently (both would write the same tmp inode and publish
        # a torn JSON) — a uuid makes every attempt's tmp private
        import uuid as _uuid

        tmp = f"{target}.{os.getpid()}.{_uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh, indent=1)
        try:
            os.link(tmp, target)  # atomic publish + exclusive create
            return rec
        except FileExistsError:
            if files is not None:
                # an EXPLICIT membership was computed against a history
                # that just changed; retrying would publish it anyway
                # and silently drop whatever the race winner added
                # (lost update).  The caller must re-derive and re-run.
                raise RuntimeError(
                    "commit_snapshot: lost an optimistic-commit race "
                    f"while committing an explicit file list to "
                    f"{path!r}; re-run the operation against the new "
                    "latest snapshot (explicit-files commits cannot be "
                    "auto-merged)") from None
            continue  # files=None: re-derive from fresh history
        finally:
            os.unlink(tmp)
    raise RuntimeError(
        f"commit_snapshot: could not allocate a version under {path!r} "
        f"after 64 attempts (pathological commit contention)")


def read_snapshot(spark: SparkSession, path: str,
                  version: int | None = None):
    """Time-travel read: a GeoTable over exactly the files of snapshot
    ``version`` (default: latest).  Verifies each member still exists
    with its recorded size AND mtime (snapshots committed before
    mtime recording skip the mtime check) — a silently-overwritten
    file, even a same-size overwrite, is a HARD error (the snapshot
    contract is immutability; vacuumed files fail loudly rather than
    returning partial data)."""
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.sources.geoparquet import read_footer_geo

    hist = _snapshot_history_shared(path)
    if not hist:
        raise FileNotFoundError(f"no snapshots under {path!r}")
    by_v = {h["version"]: h for h in hist}
    if version is None:
        version = hist[-1]["version"]
    if version not in by_v:
        raise KeyError(f"unknown snapshot version {version}; "
                       f"have {sorted(by_v)}")
    rec = by_v[version]
    members = []
    for r in rec["files"]:
        f = os.path.join(path, r["file"])
        if not os.path.isfile(f):
            raise FileNotFoundError(
                f"snapshot v{version} member missing (vacuumed?): {f}")
        st = os.stat(f)
        if st.st_size != r["n_bytes"]:
            raise RuntimeError(
                f"snapshot v{version} member changed on disk: {f} "
                f"({st.st_size} bytes, recorded {r['n_bytes']})")
        if "mtime_ns" in r and st.st_mtime_ns != r["mtime_ns"]:
            raise RuntimeError(
                f"snapshot v{version} member rewritten on disk "
                f"(same size, different mtime): {f}")
        members.append(f)
    if not members:
        # a legally-committed EMPTY version (e.g. a REPLACE after
        # deleting every row): spark.read.parquet with zero paths
        # raises UNABLE_TO_INFER_SCHEMA — take the schema from the
        # nearest earlier version that still has files
        for h in reversed(hist[:hist.index(rec) + 1]):
            if h["files"]:
                f0 = os.path.join(path, h["files"][0]["file"])
                if os.path.isfile(f0):
                    sch = spark.read.parquet(f0).schema
                    return GeoTable(
                        spark.createDataFrame([], sch),
                        read_footer_geo([f0]))
        raise RuntimeError(
            f"snapshot v{version} is empty and no earlier version "
            "carries a schema to read it with")
    # geo metadata from the members' own footers (driver-side, no job,
    # per-file bboxes unioned); members may live in nested rewrite dirs
    # the root reader can't see
    geo = read_footer_geo(members)
    df = spark.read.parquet(*members)
    dels = rec.get("delete_files", [])
    if dels:
        # merge-on-read: equality-delete files (Iceberg's equality-delete
        # flavor) anti-join the data scan on the recorded key.  Delete
        # files get the same immutability verification as data members.
        dfiles = []
        for r in dels:
            f = os.path.join(path, r["file"])
            if not os.path.isfile(f):
                raise FileNotFoundError(
                    f"snapshot v{version} delete file missing: {f}")
            st = os.stat(f)
            if st.st_size != r["n_bytes"] or st.st_mtime_ns != r["mtime_ns"]:
                raise RuntimeError(
                    f"snapshot v{version} delete file changed on disk: {f}")
            dfiles.append(f)
        key = rec["delete_key"]
        deleted = spark.read.parquet(*dfiles).select(key).distinct()
        df = df.join(deleted, key, "left_anti")
    return GeoTable(df, geo)


def delete_where(spark: SparkSession, path: str, condition,
                 key_column: str, note: str = "") -> dict:
    """Merge-on-read DELETE: mark rows matching ``condition`` as deleted
    without rewriting any data file (the Iceberg equality-delete model).

    The matching keys are written (distributed) as a parquet delete-file
    set under ``<path>/_deletes/``; a new snapshot is committed carrying
    the SAME data files plus the cumulative delete-file list.  Readers
    of the new version anti-join the scan on the key; readers of older
    versions still see the rows — deletes time-travel like everything
    else.  Cost: one filtered scan + small write, never a table rewrite;
    :func:`apply_deletes` folds them in later (compaction).

    ``key_column`` must be a row-unique key (the delete matches ALL rows
    sharing a key, exactly like Iceberg equality deletes).
    """
    import uuid

    hist = _snapshot_history_shared(path)
    if not hist:
        raise RuntimeError("delete_where needs a committed snapshot")
    prior = hist[-1]
    if prior.get("delete_key") not in (None, key_column):
        raise ValueError(
            f"dataset already has deletes keyed on "
            f"{prior['delete_key']!r}; cannot mix with {key_column!r}")
    gt = read_snapshot(spark, path)   # deletes-so-far already applied
    cond = F.expr(condition) if isinstance(condition, str) else condition
    keys = gt.df.filter(cond).select(key_column).distinct()
    ddir = os.path.join(path, "_deletes", f"d-{uuid.uuid4().hex[:12]}")
    keys.write.parquet(ddir)
    new_parts = dataset_files(ddir)
    prior_dels = [os.path.join(path, r["file"])
                  for r in prior.get("delete_files", [])]
    return commit_snapshot(
        spark, path,
        files=[os.path.join(path, r["file"]) for r in prior["files"]],
        note=note or f"delete_where({key_column})",
        reuse=prior,
        delete_files=prior_dels + new_parts,
        delete_key=key_column)


def apply_deletes(spark: SparkSession, path: str,
                  note: str = "apply_deletes") -> dict:
    """Fold accumulated merge-on-read deletes into data files: rewrite
    the live rows into a fresh file set and commit a REPLACE snapshot
    with an empty delete list.  Old files and delete files stay on disk
    for time travel until :func:`vacuum`."""
    import uuid

    hist = snapshot_history(path)
    if not hist:
        raise RuntimeError("apply_deletes needs a committed snapshot")
    if not hist[-1].get("delete_files"):
        return hist[-1]     # nothing to fold
    from geoparquet_io_spark.sources.geoparquet import write as _gpq_write

    gt = read_snapshot(spark, path)
    out = os.path.join(path, f"rewrite-{uuid.uuid4().hex[:12]}")
    # footer-preserving writer: the rewrite keeps CRS/bbox/encoding geo
    # metadata exactly as compact() does (geo=None writes plain parquet)
    new_files = sorted(_gpq_write(gt.df, out, geo=gt.geo))
    return commit_snapshot(spark, path, files=new_files, note=note,
                           delete_files=[])


def vacuum(path: str, keep_versions: list[int] | None = None,
           dry_run: bool = False, min_age_seconds: float = 3600.0) -> dict:
    """Delete data files not referenced by any KEPT snapshot (default:
    keep every committed snapshot — then only never-committed stragglers
    are removed).  Pass ``keep_versions`` to expire history first, e.g.
    ``keep_versions=[latest]`` after a compaction rewrite.  Refuses to
    run on a dataset with no snapshots (it would delete everything).
    Names-only driver work; expired snapshot JSONs are removed too.

    ``min_age_seconds`` (default 1 h) is the Iceberg/Delta-style grace
    window: an unreferenced file younger than it is SPARED — it may
    belong to an in-flight append whose ``commit_snapshot`` hasn't run
    yet; deleting it would destroy the writer's data mid-commit.  Pass
    0 only when no writer can be active."""
    import time

    hist = _snapshot_history_shared(path)
    if not hist:
        raise RuntimeError("refusing to vacuum: no snapshots committed")
    keep = set(keep_versions) if keep_versions is not None \
        else {h["version"] for h in hist}
    unknown = keep - {h["version"] for h in hist}
    if unknown:
        raise KeyError(f"unknown versions in keep_versions: {sorted(unknown)}")
    referenced = set()
    for h in hist:
        if h["version"] in keep:
            for r in h["files"] + h.get("delete_files", []):
                referenced.add(os.path.abspath(os.path.join(path, r["file"])))
    removed_files, removed_snapshots, spared_files = [], [], []
    now = time.time()
    sweep = dataset_files(path) + _glob.glob(
        os.path.join(path, "_deletes", "**", "*.parquet"), recursive=True)
    for f in sweep:
        if os.path.abspath(f) not in referenced:
            try:
                age = now - os.stat(f).st_mtime
            except FileNotFoundError:
                continue                    # raced away already
            if age < min_age_seconds:
                spared_files.append(f)      # possible in-flight append
                continue
            removed_files.append(f)
            if not dry_run:
                os.remove(f)
    for h in hist:
        if h["version"] not in keep:
            removed_snapshots.append(h["version"])
            if not dry_run:
                os.remove(_snapshot_file(path, h["version"]))
    return {
        "dry_run": dry_run,
        "kept_versions": sorted(keep),
        "removed_snapshots": removed_snapshots,
        "files_removed": removed_files,
        "files_spared_young": spared_files,
        "files_kept": len(referenced),
    }


def manifest_staleness(manifest: DataFrame, path: str) -> dict:
    """Compare a persisted manifest against the dataset's CURRENT file
    listing: files added/removed/modified since the sweep.  A stale
    manifest prunes incorrectly (a new file it never saw would be
    silently skipped by file-list reads), so ingest jobs should refresh
    or incrementally extend it; this is the audit.  Modification is
    detected by size AND mtime (a same-size in-place rewrite — fixed
    width data, padding tools — changes only the mtime; size alone
    would report 'fresh' over a stale bbox).  Names/stat only — no data
    read.  Manifests persisted before mtime_ns existed fall back to
    size-only for that file."""
    current = {f: os.stat(f) for f in dataset_files(path)}
    has_mtime = "mtime_ns" in manifest.columns
    sel = ["file", "n_bytes"] + (["mtime_ns"] if has_mtime else [])
    recorded = {r["file"]: r for r in manifest.select(*sel).collect()}
    added = sorted(set(current) - set(recorded))
    removed = sorted(set(recorded) - set(current))

    def _modified(f):
        r = recorded[f]
        if current[f].st_size != r["n_bytes"]:
            return True
        if has_mtime and r["mtime_ns"] is not None:
            return current[f].st_mtime_ns != r["mtime_ns"]
        return False

    modified = sorted(f for f in set(current) & set(recorded)
                      if _modified(f))
    return {
        "fresh": not (added or removed or modified),
        "files_added": added,
        "files_removed": removed,
        "files_resized": modified,
    }


def changes_between(spark: SparkSession, path: str, key_column: str,
                    from_version: int, to_version: int | None = None
                    ) -> DataFrame:
    """Change data feed between two snapshot versions (the Delta CDF /
    Iceberg changelog idea, computed from the membership lists): every
    row of the TO snapshot plus a ``_change`` column —

    - ``insert``: key absent at FROM;
    - ``update_postimage``: key present at FROM but any non-key column
      changed (row-hash comparison);
    - plus one row per ``delete``: key present at FROM, absent at TO
      (non-key columns carry the FROM-side values, the preimage).

    Unchanged rows are omitted.  Shape: two snapshot scans + keyed
    anti/inner joins — no windows, no full sort; AQE picks broadcast
    when one side is small.
    """
    old = read_snapshot(spark, path, from_version).df
    new = read_snapshot(spark, path, to_version).df
    cols = new.columns
    if set(cols) != set(old.columns):
        raise ValueError("changes_between requires identical schemas "
                         f"({sorted(old.columns)} vs {sorted(cols)})")
    payload = [c for c in cols if c != key_column]
    # null-safe row hash (merge.row_hash_expr): xxhash64 SKIPS null
    # inputs, so (x, NULL) -> (NULL, x) would hash identically and the
    # update would vanish from the feed
    from geoparquet_io_spark.operators.merge import row_hash_expr

    o = old.select(key_column, row_hash_expr(payload).alias("__h_old"))
    nh = new.withColumn("__h_new", row_hash_expr(payload))
    joined = nh.join(o, key_column, "left")
    inserted = joined.filter(F.col("__h_old").isNull()) \
        .select(*cols, F.lit("insert").alias("_change"))
    updated = joined.filter(F.col("__h_old").isNotNull()
                            & (F.col("__h_old") != F.col("__h_new"))) \
        .select(*cols, F.lit("update_postimage").alias("_change"))
    deleted = old.join(new.select(key_column), key_column, "left_anti") \
        .select(*cols, F.lit("delete").alias("_change"))
    return inserted.unionByName(updated).unionByName(deleted)


def merge_into(spark: SparkSession, path: str, changes: DataFrame,
               keys, op_column: str = "op", delete_op: str = "D",
               note: str = "merge_into") -> dict:
    """Snapshot-level MERGE INTO: apply a keyed changelog (upserts +
    deletes, operators/merge.py:merge_upsert semantics) to the latest
    snapshot and commit the result as a REPLACE version.

    This completes the lakehouse DML triad over plain parquet:
    INSERT = append + commit_snapshot, DELETE = delete_where
    (merge-on-read), UPDATE/UPSERT = merge_into (copy-on-write — the
    changelog's blast radius is a full logical rewrite here; partition
    the dataset and merge per partition when only some partitions
    change).  Old versions stay readable until :func:`vacuum`.
    """
    import uuid

    from geoparquet_io_spark.operators.merge import merge_upsert

    hist = _snapshot_history_shared(path)
    if not hist:
        raise RuntimeError("merge_into needs a committed snapshot")
    from geoparquet_io_spark.sources.geoparquet import write as _gpq_write

    base_gt = read_snapshot(spark, path)
    merged = merge_upsert(base_gt.df, changes, keys, op_column=op_column,
                          delete_op=delete_op)
    out = os.path.join(path, f"rewrite-{uuid.uuid4().hex[:12]}")
    # footer-preserving rewrite (geo metadata survives the MERGE), and the
    # base snapshot already had its merge-on-read deletes applied — the
    # replace version starts with a clean delete list
    new_files = sorted(_gpq_write(merged, out, geo=base_gt.geo))
    return commit_snapshot(spark, path, files=new_files, note=note,
                           delete_files=[])


# ---------------------------------------------------------------------------
# Column zone maps (generalized file skipping)
# ---------------------------------------------------------------------------

def build_column_manifest(spark: SparkSession, path: str,
                          columns: list[str],
                          files: list[str] | None = None) -> DataFrame:
    """Footer read -> per-file ZONE MAP for arbitrary
    columns: (file, n_rows, col, min, max, null_count), min/max as
    strings with a type tag (numeric values compare numerically in
    :func:`prune_files_where`).  The generalization of the bbox
    manifest: parquet row-group statistics aggregated to file level, no
    data pages read — the Iceberg/Delta column-stats idea over plain
    parquet.  Footers are read on the driver, once, through
    :func:`read_footers` (no Spark job), when this is called."""
    from decimal import Decimal

    if files is None:
        files = dataset_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    schema = T.StructType([
        T.StructField("file", T.StringType(), False),
        T.StructField("n_rows", T.LongType()),
        T.StructField("column", T.StringType()),
        T.StructField("vmin", T.StringType()),
        T.StructField("vmax", T.StringType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("numeric", T.BooleanType()),
    ])
    rows = []
    for f, md in zip(files, read_footers(files)):
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        for col in columns:
            if col not in idx:
                rows.append((f, md.num_rows, col, None, None, None, None))
                continue
            vmin = vmax = None
            nulls = 0
            numeric = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                try:
                    # pyarrow raises ArrowNotImplementedError for
                    # physical types it can't cast (e.g.
                    # FIXED_LEN_BYTE_ARRAY decimals from other writers)
                    # — degrade to no-stats, which keeps the file
                    # (conservative), instead of failing the whole read
                    mn, mx = st.min, st.max
                except Exception:
                    ok = False
                    break
                # DECIMAL stats come back as decimal.Decimal — they must
                # be tagged numeric, or the pruner would compare '2.50'
                # vs '10' as strings and wrongly skip files (lost rows)
                numeric = isinstance(mn, (int, float, Decimal)) \
                    and not isinstance(mn, bool)
                if vmin is None or (mn < vmin):
                    vmin = mn
                if vmax is None or (mx > vmax):
                    vmax = mx
                nulls += st.null_count or 0
            # str() round-trips int/float (== repr in py3) and keeps
            # Decimal exact ('2.50', not "Decimal('2.50')")
            rows.append((
                f, md.num_rows, col,
                None if vmin is None else str(vmin),
                None if vmax is None else str(vmax),
                nulls, numeric,
            ) if ok else (f, md.num_rows, col, None, None, None, None))
    return _local_frame(spark, rows, schema)


def prune_files_where(manifest: DataFrame,
                      predicates: list[tuple]) -> tuple[list[str], list[str]]:
    """Split zone-mapped files into (kept, skipped) for an AND of range
    predicates ``(column, op, value)`` with op in <, <=, >, >=, =.
    A file is skipped only when its [min, max] interval PROVES no row
    can match; missing stats keep the file (pruning must never lose
    rows).  Only names + tiny stats rows reach the driver."""
    from decimal import Decimal, InvalidOperation

    valid_ops = {"<", "<=", ">", ">=", "="}
    bad = [op for _, op, _ in predicates if op not in valid_ops]
    if bad:
        # a typo'd op ('==', '!=') must not silently disable pruning
        raise ValueError(
            f"unsupported predicate op(s) {sorted(set(bad))}; "
            f"supported: {sorted(valid_ops)}")
    rows = manifest.collect()
    by_file: dict[str, dict] = {}
    for r in rows:
        by_file.setdefault(r["file"], {})[r["column"]] = r
    kept, skipped = [], []
    for f, stats in by_file.items():
        drop = False
        for col, op, val in predicates:
            st = stats.get(col)
            if st is None or st["vmin"] is None:
                continue                      # no stats -> cannot prune
            if st["numeric"]:
                # Decimal compares EXACTLY (stats may be decimal-typed
                # or wider than float53); fall back to float only if
                # parsing fails
                try:
                    lo, hi = Decimal(st["vmin"]), Decimal(st["vmax"])
                    v = Decimal(str(val))
                except (InvalidOperation, ValueError):
                    try:
                        lo, hi = float(st["vmin"]), float(st["vmax"])
                        v = float(val)
                    except (TypeError, ValueError):
                        # non-numeric predicate value against a numeric
                        # stats column: cannot compare -> conservatively
                        # KEEP the file (pruning must never lose rows)
                        continue
            else:
                lo, hi, v = st["vmin"], st["vmax"], str(val)
            if ((op == "=" and (v < lo or v > hi))
                    or (op in (">", ">=") and (hi < v or (op == ">" and hi == v)))
                    or (op in ("<", "<=") and (lo > v or (op == "<" and lo == v)))):
                drop = True
                break
        (skipped if drop else kept).append(f)
    return sorted(kept), sorted(skipped)


def read_pruned_where(spark: SparkSession, path: str,
                      predicates: list[tuple],
                      manifest: DataFrame | None = None):
    """Read only the files whose zone maps can satisfy the predicates —
    file-granularity skipping BEFORE Spark's row-group pruning, for
    ARBITRARY columns (the non-spatial sibling of :func:`read_pruned`).
    Returns (DataFrame, report).  Apply the exact filter on the result;
    pruning is conservative."""
    if manifest is None:
        manifest = build_column_manifest(
            spark, path, sorted({c for c, _, _ in predicates}))
    kept, skipped = prune_files_where(manifest, predicates)
    report = {"files_total": len(kept) + len(skipped),
              "files_scanned": len(kept), "files_skipped": len(skipped)}
    if not kept:
        sample = spark.read.parquet(path)
        return sample.filter(F.lit(False)), report
    return spark.read.parquet(*kept), report
