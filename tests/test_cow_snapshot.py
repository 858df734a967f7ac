"""Copy-on-write snapshot versions and Arrow-staged driver rows.

An incremental ``analyze`` rewrites only the layout buckets of the paths
its merge touched and hard-links every other bucket from the previous
version (``SnapshotCatalog.write_snapshot(base=...)``).  These tests hold
it to a full write of the same merge: row for row and bucket for bucket,
through seeded rounds of churn; check the cases that must fall back to a
full write; and check that pruning the base keeps the new version whole.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from dudb_spark.cli import main
from dudb_spark.model import (
    ENTRIES_SCHEMA,
    ERRORS_SCHEMA,
    PREFIXES_SCHEMA,
    SCAN_LOGS_SCHEMA,
    driver_frame,
    path_bucket,
)
from dudb_spark.operators.ingest import merge_scan
from dudb_spark.operators.stats import compute_stats
from dudb_spark.sources.catalog import SnapshotCatalog
from dudb_spark.sources.crawler import crawl_local

BUCKETS = 8
TABLES = ("prefixes", "entries")


def _staged(spark, root):
    prows, erows, _ = crawl_local(root, concurrent_scans=4)
    return (driver_frame(spark, prows, PREFIXES_SCHEMA),
            driver_frame(spark, erows, ENTRIES_SCHEMA))


def _data_files(cat, version, table):
    d = os.path.join(cat.root, version, f"{table}.parquet")
    return {
        os.path.join(b, f): os.path.join(d, b, f)
        for b in os.listdir(d) if b.startswith("pb=")
        for f in os.listdir(os.path.join(d, b))
    }


def _linked(cat, version):
    """Bucket files of ``version`` that share an inode with another
    directory entry (a hard link from or to another version)."""
    return [p for t in TABLES for p in _data_files(cat, version, t).values()
            if os.stat(p).st_nlink > 1]


def _raw_rows(cat, version=None):
    """Every stored row of the version, with its ``pb`` bucket."""
    v = version or cat.latest_version()
    t = SnapshotCatalog(cat.spark, cat.root).tables(v)
    out = {name: Counter(map(tuple, t.read_raw(name).collect()))
           for name in TABLES}
    out["hlinks"] = Counter(map(tuple, cat.spill_index(v).collect()))
    return out


def _stats_rows(cat):
    t = SnapshotCatalog(cat.spark, cat.root).tables()
    res = compute_stats(t.prefixes, t.entries)
    return [Counter(map(tuple, df.collect()))
            for df in (res.per_prefix, res.per_user, res.per_group)]


def _merge_and_write(spark, cat, staged, root, force, cow):
    prev_v = cat.latest_version()
    prev = cat.tables(prev_v)
    res = merge_scan(prev.prefixes, prev.entries, *staged, root=root,
                     force=force, path_buckets=BUCKETS if cow else None)
    base = None
    if cow:
        assert cat.shares_buckets(prev_v, BUCKETS, res.prefixes,
                                  res.entries)
        base = (prev_v, res.changed_buckets)
    cat.write_snapshot(res.prefixes, res.entries, layout="bucketed",
                       path_buckets=BUCKETS, base=base)
    res.release()
    return res


def _make_tree(root, rng):
    for i in range(5):
        for j in range(rng.randint(0, 3)):
            d = os.path.join(root, f"d{i}", f"s{j}")
            os.makedirs(d)
            for k in range(rng.randint(0, 3)):
                with open(os.path.join(d, f"f{k}"), "w") as f:
                    f.write("x" * rng.randint(0, 50))
        os.makedirs(os.path.join(root, f"d{i}"), exist_ok=True)
        with open(os.path.join(root, f"d{i}", "top"), "w") as f:
            f.write("t")
    # a hard link across directories: the spill index's business
    os.link(os.path.join(root, "d0", "top"), os.path.join(root, "d1", "hl"))


def _dirs(root):
    return sorted(dp for dp, _, _ in os.walk(root))


def _churn(root, rng, step):
    """One round of churn; returns (merge root, force) for the round."""
    dirs = _dirs(root)
    op = step % 7
    if op == 0:  # add, modify and delete files
        d = rng.choice(dirs)
        with open(os.path.join(d, f"new{step}"), "w") as f:
            f.write("n" * step)
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(root)
                 for f in fs]
        with open(rng.choice(files), "a") as f:
            f.write("more")
        os.remove(rng.choice([p for p in files if os.path.exists(p)]))
    elif op == 1:  # add directories
        d = os.path.join(rng.choice(dirs), f"nd{step}", "inner")
        os.makedirs(d)
        with open(os.path.join(d, "f"), "w") as f:
            f.write("f")
    elif op == 2:  # delete a leaf directory
        leaves = [d for d in dirs[1:]
                  if not any(e.is_dir() for e in os.scandir(d))]
        shutil.rmtree(rng.choice(leaves))
    elif op == 3:  # delete a non-leaf directory (or a leaf, if none)
        inner = [d for d in dirs[1:]
                 if any(e.is_dir() for e in os.scandir(d))]
        shutil.rmtree(rng.choice(inner or dirs[1:]))
    elif op == 4:  # chmod a directory
        d = rng.choice(dirs[1:])
        os.chmod(d, 0o700 if os.stat(d).st_mode & 0o077 else 0o755)
    elif op == 5:  # churn under a subtree, analyzed from that subtree
        sub = rng.choice([d for d in dirs[1:] if d.count("/")
                          == root.count("/") + 1])
        with open(os.path.join(sub, f"sub{step}"), "w") as f:
            f.write("s")
        return sub, False
    else:  # --force: every directory is rewritten
        return root, True
    return root, False


@pytest.mark.parametrize("seed", [3, 11])
def test_cow_versions_equal_full_writes(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / "data")
    _make_tree(root, rng)
    cow = SnapshotCatalog(spark, str(tmp_path / "cow"))
    full = SnapshotCatalog(spark, str(tmp_path / "full"))
    staged = _staged(spark, root)
    for cat in (cow, full):
        cat.write_snapshot(*staged, layout="bucketed", path_buckets=BUCKETS)
    shared = 0
    for step in range(7):
        mroot, force = _churn(root, rng, step)
        staged = _staged(spark, mroot)
        res = _merge_and_write(spark, cow, staged, mroot, force, cow=True)
        _merge_and_write(spark, full, staged, mroot, force, cow=False)
        got, want = _raw_rows(cow), _raw_rows(full)
        if force:  # every directory is touched, so is every bucket
            assert {r[-1] for r in got["prefixes"]} <= set(
                res.changed_buckets)
        for name in want:
            assert got[name] == want[name], (seed, step, name)
        v = cow.latest_version()
        assert (cow.layout(v)["prefix_rows"]
                == full.layout(full.latest_version())["prefix_rows"])
        shared += len(_linked(cow, v))
    assert shared  # the rounds did share bucket files
    assert _stats_rows(cow) == _stats_rows(full)


def _analyze(db, root, *extra):
    main(["analyze", "--db", db, *extra, root])


def _tree(tmp_path):
    root = tmp_path / "data"
    for i in range(12):
        (root / f"d{i}").mkdir(parents=True)
        (root / f"d{i}" / "f").write_text(str(i))
    return str(root)


def _touch_one(root):
    with open(os.path.join(root, "d3", "g"), "w") as f:
        f.write("g")


def test_incremental_analyze_shares_unchanged_buckets(spark, tmp_path,
                                                      capsys):
    root, db = _tree(tmp_path), str(tmp_path / "db")
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    cat = SnapshotCatalog(spark, db)
    v1 = cat.latest_version()
    _touch_one(root)
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    v2 = cat.latest_version()
    # one directory changed: its bucket is rewritten, the rest shared
    assert _linked(cat, v2)
    new = [p for t in TABLES
           for p in _data_files(cat, v2, t).values()
           if os.stat(p).st_nlink == 1]
    assert new
    want = _raw_rows(cat, v2)

    # no churn: every bucket file of the new version is the old one's
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    v3 = cat.latest_version()
    for t in TABLES:
        old, cur = _data_files(cat, v2, t), _data_files(cat, v3, t)
        assert set(cur) == set(old)
        assert all(os.path.samefile(cur[k], old[k]) for k in cur)

    # prune removes the versions the newest one shares files with
    assert cat.prune(keep=1) == [v1, v2]
    assert _raw_rows(cat, v3) == want
    capsys.readouterr()


def test_copies_where_linking_fails(spark, tmp_path, capsys, monkeypatch):
    import errno
    import filecmp

    root, db = _tree(tmp_path), str(tmp_path / "db")
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    _touch_one(root)

    def no_link(src, dst):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(os, "link", no_link)
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    monkeypatch.undo()
    cat = SnapshotCatalog(spark, db)
    v1, v2 = cat.versions()
    assert _linked(cat, v2) == []
    copied = 0
    for t in TABLES:
        old, cur = _data_files(cat, v1, t), _data_files(cat, v2, t)
        for k in set(old) & set(cur):  # the shared buckets' files
            assert filecmp.cmp(old[k], cur[k], shallow=False)
            copied += 1
    assert copied
    assert sum(_raw_rows(cat, v2)["prefixes"].values()) == 13
    capsys.readouterr()


def _assert_full_write(cat):
    v = cat.latest_version()
    assert _data_files(cat, v, "prefixes") and _data_files(cat, v,
                                                           "entries")
    assert _linked(cat, v) == []


def test_plain_base_writes_everything(spark, tmp_path, capsys):
    root, db = _tree(tmp_path), str(tmp_path / "db")
    _analyze(db, root, "--layout", "plain")
    _touch_one(root)
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    _assert_full_write(SnapshotCatalog(spark, db))
    capsys.readouterr()


def test_other_width_writes_everything(spark, tmp_path, capsys):
    root, db = _tree(tmp_path), str(tmp_path / "db")
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    _touch_one(root)
    _analyze(db, root, "--path-buckets", str(2 * BUCKETS))
    cat = SnapshotCatalog(spark, db)
    _assert_full_write(cat)
    assert cat.layout()["path_buckets"] == 2 * BUCKETS
    capsys.readouterr()


def test_delta_base_writes_everything(spark, tmp_path, capsys):
    from dudb_spark.sources.fsds import _WATCH_DDL

    root, db = _tree(tmp_path), str(tmp_path / "db")
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    cat = SnapshotCatalog(spark, db)
    cat.write_delta(driver_frame(spark, [], _WATCH_DDL), root=root)
    assert cat.is_delta(cat.latest_version())
    _touch_one(root)
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    _assert_full_write(cat)
    capsys.readouterr()


def test_other_recorded_schemas_write_everything(spark, tmp_path, capsys):
    root, db = _tree(tmp_path), str(tmp_path / "db")
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    cat = SnapshotCatalog(spark, db)
    v = cat.latest_version()
    meta_path = os.path.join(cat.root, v, "_layout.json")
    with open(meta_path) as f:
        meta = json.load(f)
    # the same columns recorded in another order: still readable, but
    # not the schema a new write would record
    cols = meta["schemas"]["prefixes"].split(", ")
    meta["schemas"]["prefixes"] = ", ".join([cols[1], cols[0]] + cols[2:])
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    t = SnapshotCatalog(spark, db).tables()
    assert not cat.shares_buckets(
        v, BUCKETS, t.prefixes.select(*PREFIXES_SCHEMA.names), t.entries)
    _touch_one(root)
    _analyze(db, root, "--path-buckets", str(BUCKETS))
    _assert_full_write(cat)
    capsys.readouterr()


def test_base_needs_bucketed_layout(spark, fs_dir, tmp_path):
    from dudb_spark.model import FsTables

    src = FsTables(spark, fs_dir)
    cat = SnapshotCatalog(spark, str(tmp_path / "db"))
    cat.write_snapshot(src.prefixes, src.entries, layout="bucketed",
                       path_buckets=BUCKETS)
    with pytest.raises(ValueError):
        cat.write_snapshot(src.prefixes, src.entries,
                           base=(cat.latest_version(), []))


def test_path_bucket_is_the_pb_directory(spark, fs_dir, tmp_path):
    from dudb_spark.model import FsTables

    src = FsTables(spark, fs_dir)
    cat = SnapshotCatalog(spark, str(tmp_path / "db"))
    cat.write_snapshot(src.prefixes, src.entries, layout="bucketed",
                       path_buckets=BUCKETS)
    t = cat.tables()
    for table, probe in (("prefixes", "path"), ("entries", "parent")):
        raw = t.read_raw(table)
        rows = raw.select(
            probe, "pb", path_bucket(F.col(probe), BUCKETS).alias("h"),
            F.input_file_name().alias("file"),
        ).collect()
        assert len({r["pb"] for r in rows}) > 1
        for r in rows:
            assert r["h"] == r["pb"], (table, r[probe])
            assert f"/pb={r['h']}/" in r["file"]


def _no_python_worker(df):
    return "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


def test_staged_rows_stay_in_the_jvm(spark, tmp_path):
    root = _tree(tmp_path)
    prows, erows, _ = crawl_local(root)
    prows.append(dict(prows[0], path="/", parent=None, depth=0,
                      device=2**63 - 1, inode=2**63 - 2))
    errrows = [{"path": "/x", "at": datetime.now(timezone.utc),
                "detail": "denied"}]
    start = datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc)
    log = [{"start": start, "stop": start,
            "summary": {"operation": "analyze", "files": 3}}]
    for rows, schema in ((prows, PREFIXES_SCHEMA), (erows, ENTRIES_SCHEMA),
                         (errrows, ERRORS_SCHEMA), ([], ERRORS_SCHEMA),
                         (log, SCAN_LOGS_SCHEMA)):
        df = driver_frame(spark, rows, schema)
        assert df.schema == schema
        assert _no_python_worker(df)
        listed = spark.createDataFrame(rows, schema)
        assert not _no_python_worker(listed)  # the check tells them apart
        assert df.collect() == listed.collect()
    root_row = driver_frame(spark, prows[-1:], PREFIXES_SCHEMA).first()
    assert root_row["parent"] is None and root_row["inode"] == 2**63 - 2

    # the log row lands as written; mtimes stay the same instant
    cat = SnapshotCatalog(spark, str(tmp_path / "db"))
    cat.append_log(start, start, {"operation": "analyze", "files": 3,
                                  "not_a_field": 1})
    (got,) = cat.logs().collect()
    assert got["start"] == start.astimezone().replace(tzinfo=None)
    assert got["summary"]["files"] == 3
    staged_p = driver_frame(spark, prows[:-1], PREFIXES_SCHEMA)
    assert sorted(r["mtime"] for r in staged_p.collect()) == sorted(
        r["mtime"].astimezone().replace(tzinfo=None) for r in prows[:-1])
