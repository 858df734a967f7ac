"""Snapshot opens are free: a table open submits no Spark job, and one
catalog opens each (version, table) at most once.

``_layout.json`` records every table's schema at write time, so
``FsTables`` hands it to ``spark.read.schema`` instead of running the
footer-inference job, and the session lists a bucketed table's ``pb=``
directories on the driver instead of in a parallel listing job."""

from __future__ import annotations

import contextlib
import json
import os
import uuid

import pytest

from dudb_spark.cli import main
from dudb_spark.model import FsTables
from dudb_spark.sources.catalog import SnapshotCatalog

# the find query's own jobs; opening its two tables adds none
FIND_JOB_BUDGET = 3


@contextlib.contextmanager
def spark_jobs(spark):
    """Collects the ids of the Spark jobs submitted inside the block (by
    this thread, which is where reader jobs run)."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _snapshot(spark, fs_dir, db, layout):
    src = FsTables(spark, fs_dir)
    cat = SnapshotCatalog(spark, db)
    cat.write_snapshot(src.prefixes, src.entries, src.errors,
                       layout=layout, path_buckets=8)
    return cat


def _open_all(cat):
    t = cat.tables()
    frames = [t.prefixes, t.entries, t.errors,
              t.read_raw("prefixes"), t.read_raw("entries")]
    spill = cat.spill_index()
    return frames + ([spill] if spill is not None else [])


@pytest.mark.parametrize("layout", ["bucketed", "plain"])
def test_open_submits_no_spark_jobs(spark, fs_dir, tmp_path, layout):
    db = str(tmp_path / "db")
    _snapshot(spark, fs_dir, db, layout)
    cat = SnapshotCatalog(spark, db)
    with spark_jobs(spark) as jobs:
        frames = _open_all(cat)
    assert jobs == []
    # the frames are real: same rows as the written tables
    assert frames[0].count() == FsTables(spark, fs_dir).prefixes.count()

    # the counter does see reader jobs: an open without the recorded
    # schema runs the footer-inference job
    with spark_jobs(spark) as jobs:
        spark.read.parquet(cat.tables().path("prefixes"))
    assert jobs

    # a compacted version opens job-free too
    cat.compact(n_files=2)
    assert cat.layout()["layout"] == "plain"
    with spark_jobs(spark) as jobs:
        _open_all(SnapshotCatalog(spark, db))
    assert jobs == []


def test_recorded_schemas_equal_inference(spark, fs_dir, tmp_path):
    db = str(tmp_path / "db")
    cat = _snapshot(spark, fs_dir, db, "bucketed")
    v1 = cat.latest_version()
    cat.compact(n_files=2)
    for v in (v1, cat.latest_version()):
        schemas = cat.layout(v)["schemas"]
        t = cat.tables(v)
        want = {"prefixes", "entries", "errors"} | (
            {"hlinks"} if v == v1 else set())
        assert set(schemas) == want
        for name in schemas:
            opened = (cat.spill_index(v) if name == "hlinks"
                      else t.read_raw(name))
            inferred = spark.read.parquet(f"{cat.root}/{v}/{name}.parquet")
            assert opened.schema == inferred.schema, (v, name)
    assert cat.tables(v1).read_raw("prefixes").columns[-1] == "pb"


def test_version_without_recorded_schemas_opens(spark, fs_dir, tmp_path):
    db = str(tmp_path / "db")
    cat = _snapshot(spark, fs_dir, db, "bucketed")
    meta_path = os.path.join(cat.latest_path(), "_layout.json")
    want = {n: cat.tables().read(n) for n in ("prefixes", "entries")}
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["schemas"]  # written before schemas were recorded
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    t = SnapshotCatalog(spark, db).tables()
    for name, df in want.items():
        assert t.read(name).schema == df.schema
        assert t.read(name).count() == df.count()
    os.remove(meta_path)  # ... or before any layout metadata
    t = SnapshotCatalog(spark, db).tables()
    assert "pb" not in t.prefixes.columns
    assert t.prefixes.count() == want["prefixes"].count()


def test_tables_memoized_per_catalog(spark, fs_dir, tmp_path):
    db = str(tmp_path / "db")
    cat = _snapshot(spark, fs_dir, db, "plain")
    v1 = cat.latest_version()
    t = cat.tables()
    assert cat.tables() is t and cat.tables(v1) is t
    assert t.read_raw("prefixes") is t.read_raw("prefixes")
    # the memo is the catalog's own: another catalog opens afresh
    assert SnapshotCatalog(spark, db).tables() is not t

    # `latest` is resolved on every call, never from the memo
    cat.write_snapshot(t.prefixes, t.entries)
    v2 = cat.latest_version()
    assert v2 != v1 and cat.tables() is not t
    assert cat.tables() is cat.tables(v2)

    # prune drops the handles of the versions it deletes
    assert cat.prune(keep=1) == [v1]
    assert v1 not in cat._tables and v2 in cat._tables
    with pytest.raises(FileNotFoundError):
        cat.tables(v1)


def test_find_job_budget(spark, tmp_path, capsys):
    """`find` over the CLI's default bucketed layout: the open adds no
    job, so the whole command stays within a small fixed budget (the
    query's own jobs).  Opening both tables used to add four: a
    listing and a footer job per table."""
    root = tmp_path / "data"
    want = []
    for i in range(60):  # enough directories to fill > 32 buckets
        (root / f"d{i:02d}").mkdir(parents=True)
        for name in ("x.log", "y.txt"):
            (root / f"d{i:02d}" / name).write_text(name)
        want.append(f"{root}/d{i:02d}/x.log")
    db = str(tmp_path / "db")
    main(["analyze", "--db", db, str(root)])
    cat = SnapshotCatalog(spark, db)
    assert cat.layout()["layout"] == "bucketed"
    # more bucket directories than Spark's default listing threshold
    pb_dirs = os.listdir(cat.tables().path("prefixes"))
    assert sum(d.startswith("pb=") for d in pb_dirs) > 32
    capsys.readouterr()
    with spark_jobs(spark) as jobs:
        main(["find", "--db", db, str(root), "name=*.log"])
    assert sorted(capsys.readouterr().out.split()) == want
    assert len(jobs) <= FIND_JOB_BUDGET, len(jobs)


def test_stats_load_is_job_free(spark, tmp_path, capsys):
    from dudb_spark.cli import _load_stats

    root = tmp_path / "data"
    (root / "a").mkdir(parents=True)
    (root / "a/x.log").write_text("x")
    db, sd = str(tmp_path / "db"), str(tmp_path / "stats")
    main(["analyze", "--db", db, str(root)])
    main(["stats", "compute", "--db", db, "--stats-dir", sd, str(root)])
    capsys.readouterr()
    with spark_jobs(spark) as jobs:
        res = _load_stats(spark, sd)
    assert jobs == []
    base = os.path.join(sd, open(os.path.join(sd, "latest")).read().strip())
    for name in ("per_prefix", "per_user", "per_group"):
        inferred = spark.read.parquet(f"{base}/{name}.parquet")
        assert getattr(res, name).schema == inferred.schema, name
    assert res.meta["snapshot_version"] == SnapshotCatalog(
        spark, db).latest_version()


def test_delta_and_logs_open_job_free(spark, fs_dir, tmp_path):
    """A delta version opens its feed with the schema `write_delta`
    recorded, and `logs()` opens the log table with the model's; neither
    runs the footer-inference job."""
    from datetime import datetime, timezone

    from dudb_spark.model import driver_frame
    from dudb_spark.sources.fsds import _WATCH_DDL

    db = str(tmp_path / "db")
    cat = _snapshot(spark, fs_dir, db, "bucketed")
    now = datetime(2026, 1, 1, tzinfo=timezone.utc)
    feed = driver_frame(spark, [
        ("added", "/tree", "new", "/tree/new", False, 1, 1, 0o100644, now,
         0, 0, 1, 99, None, 0),
    ], _WATCH_DDL)
    cat.write_delta(feed, root="/tree")
    cat.append_log(now, now, {"operation": "analyze", "files": 1})
    v = cat.latest_version()
    assert cat.delta_meta(v)["schema"]
    fresh = SnapshotCatalog(spark, db)
    with spark_jobs(spark) as jobs:
        t = fresh.tables(v)
        logs = fresh.logs()
    assert jobs == []
    assert t.entries.where("path = '/tree/new'").count() == 1
    assert logs.schema == spark.read.parquet(
        f"{db}/scan_logs.parquet").schema
    assert logs.first()["summary"]["files"] == 1

    # a delta written before the feed schema was recorded still opens
    meta_path = os.path.join(db, v, "_delta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    old = SnapshotCatalog(spark, db).tables(v)
    assert old.entries.where("path = '/tree/new'").count() == 1
