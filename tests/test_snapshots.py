"""Snapshot versioning / time-travel / vacuum over plain parquet
(operators/maintenance.py: commit_snapshot, read_snapshot, vacuum)."""

import os

import pytest
from pyspark.sql import functions as F

from geoparquet_io_spark.operators.maintenance import (
    commit_snapshot,
    read_snapshot,
    snapshot_history,
    vacuum,
)
from geoparquet_io_spark.sources.geoparquet import dataset_files


def _write_batch(spark, path, lo, hi):
    (spark.range(lo, hi).withColumn("v", F.col("id") * 2)
     .coalesce(1).write.mode("append").parquet(path))


def test_append_commit_time_travel(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 100)
    rec1 = commit_snapshot(spark, p, note="batch1")
    _write_batch(spark, p, 100, 250)
    rec2 = commit_snapshot(spark, p, note="batch2")
    assert (rec1["version"], rec2["version"]) == (1, 2)
    assert rec1["n_rows"] == 100 and rec2["n_rows"] == 250
    # time travel: v1 sees only the first batch, latest sees both
    assert read_snapshot(spark, p, 1).df.count() == 100
    assert read_snapshot(spark, p).df.count() == 250
    # an uncommitted straggler is invisible to every snapshot
    _write_batch(spark, p, 250, 300)
    assert read_snapshot(spark, p).df.count() == 250
    hist = snapshot_history(p)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["note"] == "batch1"


def test_tampered_member_is_hard_error(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 50)
    commit_snapshot(spark, p)
    f = dataset_files(p)[0]
    with open(f, "ab") as fh:
        fh.write(b"junk")
    with pytest.raises(RuntimeError, match="changed on disk"):
        read_snapshot(spark, p, 1)


def test_replace_commit_and_vacuum(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 100)
    _write_batch(spark, p, 100, 200)
    commit_snapshot(spark, p)  # v1: two files
    # logical REPLACE: compacted rewrite into the same dataset dir
    old_files = dataset_files(p)
    df = spark.read.parquet(*old_files).coalesce(1)
    sub = str(tmp_path / "ds" / "compacted")
    df.write.parquet(sub)
    new_files = dataset_files(sub)
    rec2 = commit_snapshot(spark, p, files=new_files, note="compacted")
    assert rec2["n_files"] == len(new_files)
    assert read_snapshot(spark, p, 2).df.count() == 200
    assert read_snapshot(spark, p, 1).df.count() == 200  # still readable
    # expire v1 -> old files removed, v2 intact
    rep = vacuum(p, keep_versions=[2], min_age_seconds=0)
    assert sorted(rep["files_removed"]) == sorted(old_files)
    assert rep["removed_snapshots"] == [1]
    assert read_snapshot(spark, p, 2).df.count() == 200
    with pytest.raises(KeyError):
        read_snapshot(spark, p, 1)


def test_vacuum_dry_run_and_guards(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 10)
    with pytest.raises(RuntimeError, match="no snapshots"):
        vacuum(p)
    commit_snapshot(spark, p)
    _write_batch(spark, p, 10, 20)  # uncommitted straggler
    rep = vacuum(p, dry_run=True, min_age_seconds=0)
    assert len(rep["files_removed"]) == 1
    assert all(os.path.isfile(f) for f in rep["files_removed"])
    rep2 = vacuum(p, min_age_seconds=0)
    assert rep2["files_removed"] == rep["files_removed"]
    assert not any(os.path.isfile(f) for f in rep2["files_removed"])
    with pytest.raises(KeyError):
        vacuum(p, keep_versions=[99])


def test_snapshot_preserves_geo_roundtrip(spark, tmp_path):
    """Snapshots over a GeoParquet dataset keep the footer geo metadata
    flowing through read_snapshot (GeoTable, not a bare DataFrame)."""
    from geoparquet_io_spark.queries import _events_points
    from tests.conftest import SF_SMOKE

    gt = _events_points(spark, SF_SMOKE)
    p = str(tmp_path / "geo_ds")
    gt.write(p)
    commit_snapshot(spark, p)
    back = read_snapshot(spark, p)
    assert back.geo is not None and back.geo.primary is not None
    assert back.df.count() == gt.df.count()


def test_streaming_ingest_commits_snapshots(spark, tmp_path):
    """foreachBatch sink with snapshot=True: every micro-batch becomes a
    committed, time-travelable version; pinned readers never see a
    half-written epoch."""
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.streaming.events import (
        read_events_stream, write_geoparquet_stream)
    from tests.conftest import SF_SMOKE

    gt = _events_points(spark, SF_SMOKE)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half = gt.df.filter("event_id % 2 = 0")
    half.write.parquet(src)
    stream = read_events_stream(spark, src, schema=gt.df.schema)
    q = write_geoparquet_stream(stream, out, gt.geo, checkpoint=ckpt,
                                snapshot=True)
    q.awaitTermination(120)
    hist1 = snapshot_history(out)
    assert len(hist1) >= 1
    n1 = read_snapshot(spark, out).df.count()
    assert n1 == half.count()
    # second drop of input -> new epoch -> new snapshot; v1 unchanged
    gt.df.filter("event_id % 2 = 1").write.mode("append").parquet(src)
    q2 = write_geoparquet_stream(
        read_events_stream(spark, src, schema=gt.df.schema), out, gt.geo,
        checkpoint=ckpt, snapshot=True)
    q2.awaitTermination(120)
    hist2 = snapshot_history(out)
    assert len(hist2) == len(hist1) + 1
    assert read_snapshot(spark, out, hist1[-1]["version"]).df.count() == n1
    assert read_snapshot(spark, out).df.count() == gt.df.count()


def test_commit_snapshot_epoch_replay_is_idempotent(spark, tmp_path):
    """A retried foreachBatch epoch (same epoch_id) must NOT commit a
    duplicate version — exactly-once for the streaming snapshot sink."""
    p = str(tmp_path / "ds")
    spark.range(10).write.parquet(p)
    r1 = commit_snapshot(spark, p, epoch_id=0, note="epoch=0")
    r2 = commit_snapshot(spark, p, epoch_id=0, note="epoch=0")
    assert r2["version"] == r1["version"]
    assert len(snapshot_history(p)) == 1
    r3 = commit_snapshot(spark, p, epoch_id=1, note="epoch=1")
    assert r3["version"] == r1["version"] + 1


def test_commit_snapshot_version_race_loser_retries(spark, tmp_path):
    """If another committer lands the version first (simulated by
    pre-creating the target file), os.link fails and the commit retries
    with the next version instead of clobbering."""
    import json

    p = str(tmp_path / "ds")
    spark.range(5).write.parquet(p)
    first = commit_snapshot(spark, p, note="v1")
    # simulate a racing committer that already owns v2
    racer = dict(first, version=2, note="racer")
    d = os.path.join(p, "_snapshots")
    with open(os.path.join(d, "v000002.json"), "w") as fh:
        json.dump(racer, fh)
    rec = commit_snapshot(spark, p, note="loser retries")
    assert rec["version"] == 3
    hist = snapshot_history(p)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[1]["note"] == "racer"  # never clobbered


def test_read_snapshot_detects_same_size_overwrite(spark, tmp_path):
    """Immutability check must catch a SAME-SIZE rewrite (mtime check),
    not just a size change."""
    import glob

    import pytest

    p = str(tmp_path / "ds")
    spark.range(100).write.parquet(p)
    commit_snapshot(spark, p)
    f = glob.glob(os.path.join(p, "*.parquet"))[0]
    data = open(f, "rb").read()
    with open(f, "wb") as fh:  # same bytes, same size — new mtime
        fh.write(data)
    os.utime(f, ns=(os.stat(f).st_atime_ns, os.stat(f).st_mtime_ns + 10**9))
    with pytest.raises(RuntimeError, match="rewritten"):
        read_snapshot(spark, p)


def test_commit_snapshot_reuse_skips_footer_reads(spark, tmp_path):
    """Incremental commit: files matching the prior record's size+mtime
    reuse its stats; totals still correct after an append."""
    p = str(tmp_path / "ds")
    spark.range(50).repartition(2).write.parquet(p)
    v1 = commit_snapshot(spark, p)
    spark.range(50, 70).repartition(1).write.mode("append").parquet(p)
    v2 = commit_snapshot(spark, p, files=dataset_files(p), reuse=v1)
    assert v2["n_rows"] == 70
    assert v2["n_files"] == v1["n_files"] + 1
    # the reused members carry identical stats records
    old = {r["file"]: r for r in v1["files"]}
    for r in v2["files"]:
        if r["file"] in old:
            assert r == old[r["file"]]


def test_commit_snapshot_many_new_files_reads_footers_without_jobs(
        spark, tmp_path):
    """70 new members (more than the old 64-file cutover to an executor
    sweep) are counted from their footers on the driver: right totals,
    no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ds")
    os.makedirs(p)
    for i in range(70):
        pq.write_table(pa.table({"id": list(range(i % 5 + 1))}),
                       os.path.join(p, f"part-{i:03d}.parquet"))
    sc = spark.sparkContext
    group = "commit-snapshot-70"
    sc.setJobGroup(group, "commit_snapshot footer read")
    try:
        rec = commit_snapshot(spark, p)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert rec["n_files"] == 70
    assert rec["n_rows"] == spark.read.parquet(p).count()


# --- merge-on-read deletes (equality-delete files) -------------------------

def _fresh_ds(spark, tmp_path, n=100):
    from geoparquet_io_spark.operators.maintenance import commit_snapshot

    p = str(tmp_path / "ds_del")
    spark.range(n).selectExpr("id", "id * 10 AS v") \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p, note="base")
    return p


def test_delete_where_merge_on_read(spark, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (
        delete_where, read_snapshot, snapshot_history)

    p = _fresh_ds(spark, tmp_path)
    rec = delete_where(spark, p, "id % 10 = 0", "id")
    assert rec["delete_key"] == "id" and rec["delete_files"]
    # latest sees 90 rows; v1 time-travels to the full 100
    assert read_snapshot(spark, p).df.count() == 90
    assert read_snapshot(spark, p, 1).df.count() == 100
    # data files identical across versions (no rewrite happened)
    h = snapshot_history(p)
    assert [r["file"] for r in h[0]["files"]] == \
        [r["file"] for r in h[1]["files"]]
    # second delete accumulates
    delete_where(spark, p, "id < 5", "id")
    assert read_snapshot(spark, p).df.count() == 86  # -10 -4 (0 in both)
    rows = {r["id"] for r in read_snapshot(spark, p).df.collect()}
    assert not rows & ({0, 10, 20} | {1, 2, 3, 4})


def test_apply_deletes_rewrites_and_clears(spark, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (
        apply_deletes, delete_where, read_snapshot, snapshot_history)

    p = _fresh_ds(spark, tmp_path)
    delete_where(spark, p, "id >= 50", "id")
    rec = apply_deletes(spark, p)
    assert "delete_files" not in rec
    assert rec["n_rows"] == 50
    assert read_snapshot(spark, p).df.count() == 50
    # time travel across the REPLACE still works
    assert read_snapshot(spark, p, 1).df.count() == 100
    assert read_snapshot(spark, p, 2).df.count() == 50
    # idempotent when nothing to fold
    assert apply_deletes(spark, p)["version"] == rec["version"]
    assert len(snapshot_history(p)) == 3


def test_delete_files_are_immutable_and_vacuum_aware(spark, tmp_path):
    import glob
    import os

    from geoparquet_io_spark.operators.maintenance import (
        apply_deletes, delete_where, read_snapshot, vacuum)

    p = _fresh_ds(spark, tmp_path)
    delete_where(spark, p, "id = 7", "id")
    # tampering with a delete file is a hard error
    df = glob.glob(os.path.join(p, "_deletes", "**", "*.parquet"),
                   recursive=True)[0]
    st = os.stat(df)
    with open(df, "ab") as fh:
        fh.write(b"x")
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="delete file changed"):
            read_snapshot(spark, p)
    finally:
        # restore for the remainder (truncate the extra byte)
        with open(df, "rb+") as fh:
            fh.truncate(st.st_size)
        os.utime(df, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert read_snapshot(spark, p).df.count() == 99
    # vacuum keeping all versions must NOT remove referenced delete files
    out = vacuum(p, min_age_seconds=0)
    assert not out["files_removed"]
    # expire v1+v2, keep only the folded REPLACE -> delete files removed
    rec = apply_deletes(spark, p)
    out = vacuum(p, keep_versions=[rec["version"]], min_age_seconds=0)
    assert any("_deletes" in f for f in out["files_removed"])
    assert read_snapshot(spark, p).df.count() == 99


def test_delete_where_key_mismatch_guard(spark, tmp_path):
    import pytest as _pytest

    from geoparquet_io_spark.operators.maintenance import delete_where

    p = _fresh_ds(spark, tmp_path)
    delete_where(spark, p, "id = 1", "id")
    with _pytest.raises(ValueError, match="keyed on"):
        delete_where(spark, p, "v = 20", "v")


def test_changes_between_insert_update_delete(spark, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (apply_deletes,
                                                           changes_between,
                                                           commit_snapshot,
                                                           delete_where)

    p = str(tmp_path / "cdf")
    spark.range(10).selectExpr("id", "id * 10 AS v") \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)                       # v1: ids 0-9
    spark.range(10, 13).selectExpr("id", "id * 10 AS v") \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)                       # v2: + ids 10-12
    delete_where(spark, p, "id < 2", "id")          # v3: - ids 0,1
    apply_deletes(spark, p)                         # v4: REPLACE
    ch = {(r["id"], r["_change"])
          for r in changes_between(spark, p, "id", 1, 4).collect()}
    assert ch == ({(i, "insert") for i in (10, 11, 12)}
                  | {(0, "delete"), (1, "delete")})
    # update detection: rewrite with one changed payload value
    from geoparquet_io_spark.operators.maintenance import read_snapshot

    cur = read_snapshot(spark, p).df
    import glob
    import os
    import uuid

    out = os.path.join(p, f"rewrite-{uuid.uuid4().hex[:8]}")
    cur.selectExpr("id", "CASE WHEN id = 5 THEN 999 ELSE v END AS v") \
        .write.parquet(out)
    commit_snapshot(spark, p,
                    files=sorted(glob.glob(os.path.join(out, "*.parquet"))))
    ch2 = {(r["id"], r["_change"], r["v"])
           for r in changes_between(spark, p, "id", 4, 5).collect()}
    assert ch2 == {(5, "update_postimage", 999)}


def test_delete_cli(spark, tmp_path, capsys):
    import json as _json

    from geoparquet_io_spark.cli import main as cli_main
    from geoparquet_io_spark.operators.maintenance import commit_snapshot

    p = str(tmp_path / "clidel")
    spark.range(50).selectExpr("id", "id * 2 AS v") \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)
    assert cli_main(["delete", p, "--where", "id >= 40", "--key", "id"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["delete_key"] == "id" and out["version"] == 2
    assert cli_main(["delete", p, "--apply"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["folded"] and out["n_rows"] == 40


def test_merge_into_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.maintenance import (commit_snapshot,
                                                           merge_into,
                                                           read_snapshot)

    p = str(tmp_path / "mrg")
    spark.range(10).selectExpr("id", "id * 10 AS v") \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)
    changes = spark.createDataFrame(
        [(3, 333, "U"), (42, 420, "U"), (7, 0, "D")], ["id", "v", "op"])
    rec = merge_into(spark, p, changes, "id")
    assert rec["version"] == 2 and rec["n_rows"] == 10  # 10 - 1 + 1
    cur = {r["id"]: r["v"] for r in read_snapshot(spark, p).df.collect()}
    assert cur[3] == 333 and cur[42] == 420 and 7 not in cur
    assert cur[0] == 0 and len(cur) == 10
    # v1 unchanged (time travel across the MERGE)
    old = {r["id"]: r["v"] for r in read_snapshot(spark, p, 1).df.collect()}
    assert old[3] == 30 and 42 not in old and old[7] == 70


def test_insert_after_delete_keeps_deletes(spark, tmp_path):
    """The documented INSERT flow (append + bare commit_snapshot) between
    a delete_where and its apply_deletes must keep the deletes in force:
    delete files are inherited, never silently dropped."""
    from geoparquet_io_spark.operators.maintenance import (
        delete_where, read_snapshot, snapshot_history)

    p = _fresh_ds(spark, tmp_path)                       # ids 0..99
    delete_where(spark, p, "id % 10 = 0", "id")          # 90 live
    spark.range(100, 110).selectExpr("id", "id * 10 AS v") \
        .write.mode("append").parquet(p)
    rec = commit_snapshot(spark, p, note="insert batch")
    assert rec.get("delete_key") == "id" and rec.get("delete_files")
    cur = read_snapshot(spark, p).df
    assert cur.count() == 100                            # 90 + 10, not 110
    ids = {r["id"] for r in cur.collect()}
    assert not ids & {0, 10, 20, 90}
    assert {100, 109} <= ids
    # history: base(100) -> delete(90) -> insert(100)
    assert [h["version"] for h in snapshot_history(p)] == [1, 2, 3]


def test_commit_after_apply_deletes_no_resurrection(spark, tmp_path):
    """A bare commit_snapshot after apply_deletes must NOT sweep the
    pre-rewrite originals back in (they are referenced only by older
    versions — logically replaced, retained for time travel)."""
    from geoparquet_io_spark.operators.maintenance import (
        apply_deletes, delete_where, read_snapshot)

    p = _fresh_ds(spark, tmp_path)                       # ids 0..99
    delete_where(spark, p, "id >= 60", "id")             # 60 live
    apply_deletes(spark, p)                              # rewrite dir
    rec = commit_snapshot(spark, p, note="noop recommit")
    assert rec["n_rows"] == 60
    assert read_snapshot(spark, p).df.count() == 60      # not 160
    # and an append after the fold-in lands cleanly with no deletes
    spark.range(200, 210).selectExpr("id", "id * 10 AS v") \
        .write.mode("append").parquet(p)
    rec2 = commit_snapshot(spark, p, note="append")
    assert rec2["n_rows"] == 70 and not rec2.get("delete_files")
    assert read_snapshot(spark, p).df.count() == 70


def test_rewrites_preserve_geo_footer(spark, tmp_path):
    """apply_deletes and merge_into rewrite through the footer-preserving
    GeoParquet writer — geo metadata (CRS/encoding) survives DML."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.maintenance import (
        apply_deletes, delete_where, merge_into, read_snapshot)
    from geoparquet_io_spark.queries import _events_points
    from tests.conftest import SF_SMOKE

    gt = _events_points(spark, SF_SMOKE)
    p = str(tmp_path / "geo_dml")
    gt.write(p)
    commit_snapshot(spark, p)
    n = gt.df.count()
    delete_where(spark, p, "event_id % 2 = 0", "event_id")
    apply_deletes(spark, p)
    back = read_snapshot(spark, p)
    assert back.geo is not None and back.geo.primary is not None
    assert back.df.count() == n - read_snapshot(spark, p, 1).df.filter(
        "event_id % 2 = 0").count()
    changes = back.df.limit(1).withColumn("op", F.lit("D")) \
        .select("event_id", *[c for c in back.df.columns
                              if c != "event_id"], "op")
    merge_into(spark, p, changes, "event_id")
    after = read_snapshot(spark, p)
    assert after.geo is not None and after.geo.primary is not None


# -- r6 review-fix regressions ----------------------------------------------

def test_vacuum_grace_spares_young_unreferenced_files(spark, tmp_path):
    """An unreferenced file younger than min_age_seconds is SPARED — it
    may be an in-flight append whose commit hasn't run yet; with the
    grace disabled it is removed as before."""
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 50)
    commit_snapshot(spark, p)
    _write_batch(spark, p, 50, 80)          # in-flight: NOT committed
    rep = vacuum(p)                          # default 1 h grace
    assert rep["files_removed"] == []
    assert len(rep["files_spared_young"]) >= 1
    # the in-flight append can still commit afterwards
    rec2 = commit_snapshot(spark, p)
    assert rec2["n_rows"] == 80
    rep2 = vacuum(p, min_age_seconds=0)
    assert rep2["files_spared_young"] == []


def test_commit_snapshot_lost_race_rederives_membership(spark, tmp_path,
                                                        monkeypatch):
    """Optimistic-concurrency lost update: when the link loses the race,
    the retry must re-derive membership AND inherited deletes from the
    WINNER's history — not from pre-race state — or the winner's files
    silently vanish from the lineage."""
    import json

    from geoparquet_io_spark.operators.maintenance import (
        _snapshot_file, snapshot_history)

    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 50)
    commit_snapshot(spark, p, note="v1")
    files_v1 = set(dataset_files(p))
    _write_batch(spark, p, 50, 90)           # loser's append (file b)
    loser_new = set(dataset_files(p)) - files_v1

    calls = {"n": 0}
    real_link = os.link

    def racing_link(src, dst):
        if calls["n"] == 0:
            calls["n"] = 1
            # the WINNER commits v2 concurrently: prior membership plus
            # a file the loser has never seen
            (spark.range(1000, 1100).withColumn("v", F.col("id"))
             .coalesce(1).write.mode("append").parquet(p))
            winner_new = (set(dataset_files(p)) - files_v1
                          - loser_new)
            hist = snapshot_history(p)
            rec = dict(hist[-1])
            rec["version"] = 2
            rec["files"] = list(hist[-1]["files"])
            for f in sorted(winner_new):
                st = os.stat(f)
                rec["files"].append({
                    "file": os.path.relpath(f, p),
                    "n_rows": 100, "n_bytes": st.st_size,
                    "mtime_ns": st.st_mtime_ns})
            with open(_snapshot_file(p, 2), "w") as fh:
                json.dump(rec, fh)
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    rec3 = commit_snapshot(spark, p, note="loser-append")
    assert rec3["version"] == 3
    members = {r["file"] for r in rec3["files"]}
    # the loser's OWN append is in
    for f in loser_new:
        assert os.path.relpath(f, p) in members
    # and so is EVERY winner file (the lost-update bug dropped these)
    hist = snapshot_history(p)
    v2_members = {r["file"] for r in hist[1]["files"]}
    assert v2_members <= members


def test_explicit_files_commit_race_raises_not_lost_update(
        spark, tmp_path, monkeypatch):
    """A commit with an EXPLICIT files= list that loses the version race
    (another committer links the version between this one's history
    read and its os.link) must raise — the membership was computed
    against a stale history, and retrying would silently drop the
    winner's files (r8 review)."""
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 5)
    commit_snapshot(spark, p, note="v1")
    files = dataset_files(p)
    real_link, raced = os.link, []

    def lose_once(src, dst):
        if not raced:
            raced.append(1)
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", lose_once)
    with pytest.raises(RuntimeError, match="explicit-files"):
        commit_snapshot(spark, p, files=files, note="loser")
    # files=None committers auto-retry through the same lost race
    raced.clear()
    rec = commit_snapshot(spark, p, note="sweep retries")
    assert rec["version"] == 2


def test_commit_snapshot_dedupes_explicit_files(spark, tmp_path):
    """A duplicated path in files= must not double-count stats or read
    back duplicated rows."""
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 7)
    f = dataset_files(p)
    rec = commit_snapshot(spark, p, files=f + f, note="dup list")
    assert rec["n_files"] == len(f)
    assert read_snapshot(spark, p, rec["version"]).count() == 7


def test_empty_replace_snapshot_is_readable(spark, tmp_path):
    """files=[] (e.g. a REPLACE after deleting every row) must commit
    AND read back as an empty frame with the prior version's schema —
    not UNABLE_TO_INFER_SCHEMA."""
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 5)
    commit_snapshot(spark, p, note="v1")
    rec = commit_snapshot(spark, p, files=[], note="all rows deleted")
    gt = read_snapshot(spark, p, rec["version"])
    assert gt.count() == 0
    assert set(gt.df.columns) == {"id", "v"}


def test_sweep_never_absorbs_rewrite_staging(spark, tmp_path):
    """A files=None sweep landing between a rewrite-* staging write and
    its explicit REPLACE commit must NOT absorb the staged copy as new
    appends — that would duplicate every live row forever (r8 review)."""
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 6)
    commit_snapshot(spark, p, note="v1")
    # simulate apply_deletes/merge_into mid-flight: full copy staged
    stage = os.path.join(p, "rewrite-deadbeef0123")
    spark.read.parquet(p).write.parquet(stage)
    rec = commit_snapshot(spark, p, note="concurrent sweep")
    assert rec["n_rows"] == 6                        # not 12
    assert all(not r["file"].startswith("rewrite-") for r in rec["files"])
    assert read_snapshot(spark, p, rec["version"]).count() == 6


def test_snapshot_history_orders_by_version_not_filename(spark, tmp_path):
    """v%06d overflows to 7 digits at version 1,000,000 where the
    lexicographic filename order inverts — history must sort by the
    committed version field (r8 review)."""
    import json

    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 3)
    first = commit_snapshot(spark, p, note="v1")
    d = os.path.join(p, "_snapshots")
    for v in (999999, 1000000):
        with open(os.path.join(d, f"v{v:06d}.json"), "w") as fh:
            json.dump(dict(first, version=v, note=f"v{v}"), fh)
    hist = snapshot_history(p)
    assert [h["version"] for h in hist] == [1, 999999, 1000000]
    rec = commit_snapshot(spark, p, note="next")
    assert rec["version"] == 1000001


def test_snapshot_history_returns_copies(spark, tmp_path):
    """Returned records are COPIES of the parse-cache entries: a caller
    mutating one (incl. nested lists) must not corrupt every subsequent
    history read in the process (r8 ADVICE — rollback_to/compact return
    these records directly to users)."""
    p = str(tmp_path / "ds")
    _write_batch(spark, p, 0, 3)
    commit_snapshot(spark, p, note="v1")
    h1 = snapshot_history(p)[0]
    clean_note, clean_files = h1["note"], [dict(f) for f in h1["files"]]
    h1["note"] = "VANDALIZED"
    h1["files"].append({"path": "phantom.parquet", "rows": 9})
    if h1["files"][0:1]:
        h1["files"][0]["rows"] = -1
    h2 = snapshot_history(p)[0]
    assert h2["note"] == clean_note
    assert h2["files"] == clean_files
