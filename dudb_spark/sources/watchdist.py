"""Distributed watch loop: the fswatch dir-signature sweep as a Spark
job (round-10 verdict item 1).

:class:`~dudb_spark.sources.fsds.FsWatchReader`'s steady state is
getdents-free — one lstat per known directory per batch — but those
lstats run on the DRIVER, so per-batch driver work is O(directories)
(written design ceiling ~10M dirs, PARITY S1/X4).  This module moves
that last driver-proportional cost onto executors:

- the known-dir state lives in a versioned PARQUET ARTIFACT
  (``<state_dir>/dirs_v<N>``), never in driver memory and never shipped
  from the driver — each batch's sweep job READS it executor-side
  (the same move as catalog.watch_seed for file rows, round-9);
- the sweep is ``mapInPandas`` over that artifact: each executor lstats
  its slice of directories (the reference's "thousands of simultaneous
  stat requests", README.md:12–14 / analyze.go:104's concurrent walker,
  here scheduled by Spark) and returns ONLY the dirs whose signature
  moved — so the driver receives churn, not the tree;
- the driver then scandirs exactly the sig-changed dirs plus any new
  subtree (churn-proportional, the same phase-2 contract as
  ``_scan_pruned``), diffs file rows against the STORED SNAPSHOT
  (``parent IN (…)`` pushed-down read of the catalog — which
  ``--apply`` keeps current), and lands the batch via the normal
  apply_changes path;
- the artifact advances by a churn-sized anti-join ∪ union REWRITE on
  executors (write-new-version + drop-old, crash-safe like the seed
  artifact) — and only on batches with directory churn.  An idle batch
  writes nothing and collects zero rows.

Driver work per batch is therefore O(churn) + one root lstat + constant
job orchestration — sublinear in directory count (the bench pins it:
idle-batch driver syscalls are 1 lstat + 0 scandirs at every tree
size).  Total work is still O(dirs) lstats per batch, but
executor-parallel: on a 1000-executor cluster against a parallel
filesystem this is exactly the reference walker's concurrency applied
to change detection, and wall-clock per batch is O(dirs / executors ×
RTT).  Trees past the FsWatchReader ceiling stop being a ceiling: add
executors.

Semantics match the seeded pruned stream (J1-consistent, eventual on
dir churn): a directory's child name-set can only change if its own
(mtime, mode) moved (POSIX bumps dir mtime on entry add/remove/rename);
in-place file edits under an untouched dir mtime defer until the dir
next churns; dir rows themselves are exact every batch.  Distributed
mode REQUIRES ``--db --apply``: the stored snapshot is both the seed
and the per-batch file-row baseline, so there is no second log-
structured file snapshot to maintain.  Restart = reseed from the
latest snapshot version, emitting the changes since it (at-least-once
across restarts, exactly-once within a run — the stream's contract).

Reference anchors: analyze.go:104–123 (concurrent walker),
analyze.go:236–242 (unchanged-skip applied here to enumeration).
"""

from __future__ import annotations

import os as _os
import re
import stat as stat_mod
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dudb_spark.model import driver_frame
from dudb_spark.sources.fsds import _DDL, _FIELDS, _WATCH_DDL

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

# sweep output: churn-only rows shipped executor→driver.  Timestamps
# ride as epoch MICROS longs (exact integers end to end — the float
# round-trip through timestamp() would not be bit-stable).
_SWEEP_DDL = (
    "status string, rescan boolean, path string, "
    + ", ".join(
        f"cur_{f} {'string' if f in ('parent', 'name') else 'long'}"
        for f in _FIELDS if f not in ("path", "is_dir", "mtime")
    )
    + ", cur_is_dir boolean, cur_mtime_us long, cur_error string, "
    + ", ".join(
        f"prev_{f} {'string' if f in ('parent', 'name') else 'long'}"
        for f in _FIELDS if f not in ("path", "is_dir", "mtime")
    )
    + ", prev_is_dir boolean, prev_mtime_us long, prev_error string"
)


def _dt_us(dt) -> int | None:
    if dt is None:
        return None
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _us_dt(us) -> datetime | None:
    if us is None:
        return None
    return _EPOCH + timedelta(microseconds=int(us))


def _sweep_partition(pdfs):
    """Executor side: lstat every directory in the slice; yield ONLY
    signature changes.  Row classification mirrors
    FsWatchReader._scan_pruned phase 1 (fsds.py): gone / error /
    type-flip / sig-changed, with ``rescan`` true when the listing may
    have changed (mtime or mode moved, or an error state flipped)."""
    import pandas as pd

    from dudb_spark.sources.crawler import _entry_row

    plain = [f for f in _FIELDS if f not in ("path", "is_dir", "mtime")]

    for pdf in pdfs:
        out: list[dict] = []
        mt_us = pdf["mtime"].astype("int64", errors="ignore")
        for i in range(len(pdf)):
            path = pdf["path"].iloc[i]
            prev_err = pdf["error"].iloc[i]
            prev_err = None if (prev_err is None or prev_err != prev_err) \
                else prev_err
            try:
                prev_mtime_us = (
                    None if pd.isna(pdf["mtime"].iloc[i])
                    else int(mt_us.iloc[i]) // 1000  # ns → µs
                )
            except (TypeError, ValueError):
                prev_mtime_us = None

            def prev_cols():
                d = {}
                for f in plain:
                    v = pdf[f].iloc[i]
                    if v is None or v != v:
                        d[f"prev_{f}"] = None
                    elif f in ("parent", "name"):
                        d[f"prev_{f}"] = str(v)
                    else:
                        d[f"prev_{f}"] = int(v)
                pid = pdf["is_dir"].iloc[i]
                d["prev_is_dir"] = None if pid is None or pid != pid \
                    else bool(pid)
                d["prev_mtime_us"] = prev_mtime_us
                d["prev_error"] = prev_err
                return d

            try:
                st = _os.lstat(path)
            except FileNotFoundError:
                out.append({"status": "gone", "rescan": False,
                            "path": path, **prev_cols()})
                continue
            except OSError as e:
                if prev_err == str(e):
                    continue  # unchanged error state
                out.append({
                    "status": "error", "rescan": False, "path": path,
                    "cur_error": str(e), **prev_cols(),
                })
                continue
            if not stat_mod.S_ISDIR(st.st_mode):
                # type flip: leaves dir-space (the parent's rescan
                # re-adds it as a file row)
                out.append({"status": "gone", "rescan": False,
                            "path": path, **prev_cols()})
                continue
            er = _entry_row(
                _os.path.dirname(path), _os.path.basename(path), st, True
            )
            cur_mtime_us = _dt_us(er["mtime"])
            sig_same = (
                prev_err is None
                and pdf["is_dir"].iloc[i]
                and int(er["size"]) == pdf["size"].iloc[i]
                and int(er["mode"]) == pdf["mode"].iloc[i]
                and cur_mtime_us == prev_mtime_us
                and int(er["uid"]) == pdf["uid"].iloc[i]
                and int(er["gid"]) == pdf["gid"].iloc[i]
            )
            if sig_same:
                continue
            rescan = (
                cur_mtime_us != prev_mtime_us
                or int(er["mode"]) != pdf["mode"].iloc[i]
                or prev_err is not None
            )
            row = {"status": "changed", "rescan": bool(rescan),
                   "path": path, **prev_cols()}
            for f in plain:
                row[f"cur_{f}"] = (
                    str(er[f]) if f in ("parent", "name") else int(er[f])
                )
            row["cur_is_dir"] = True
            row["cur_mtime_us"] = cur_mtime_us
            row["cur_error"] = None
            out.append(row)
        yield pd.DataFrame(
            out,
            columns=[n.split(" ")[0].strip()
                     for n in _SWEEP_DDL.split(", ")],
        )


def _row_from_cur(d: dict) -> tuple:
    """Sweep-row dict → the watch row tuple (fields + error)."""
    out = []
    for f in _FIELDS:
        if f == "mtime":
            out.append(_us_dt(d.get("cur_mtime_us")))
        elif f == "path":
            out.append(d["path"])
        elif f == "is_dir":
            out.append(d.get("cur_is_dir"))
        else:
            out.append(d.get(f"cur_{f}"))
    return tuple(out) + (d.get("cur_error"),)


def _row_from_prev(d: dict) -> tuple:
    out = []
    for f in _FIELDS:
        if f == "mtime":
            out.append(_us_dt(d.get("prev_mtime_us")))
        elif f == "path":
            out.append(d["path"])
        elif f == "is_dir":
            out.append(d.get("prev_is_dir"))
        else:
            out.append(d.get(f"prev_{f}"))
    return tuple(out) + (d.get("prev_error"),)


class DistributedWatcher:
    """Driver loop for ``watch --lstat-mode distributed`` (see module
    doc).  One instance per run; ``batch()`` performs one sweep +
    rescan + diff and returns the emission rows (churn-sized, already
    on the driver) — the CLI prints them and lands them through the
    same ``_watch_land`` as the stream."""

    _SIG = tuple(
        _FIELDS.index(f) for f in
        ("is_dir", "size", "mode", "mtime", "uid", "gid")
    )
    _ERR_I = len(_FIELDS)

    def __init__(
        self, spark: SparkSession, cat, prefix: str, state_dir: str,
        exclude: str | None = None,
    ):
        self.spark = spark
        self.cat = cat
        self.prefix = prefix.rstrip("/") or "/"
        self.state_dir = state_dir
        self.exclude = exclude
        _os.makedirs(state_dir, exist_ok=True)
        self._ver = 0
        self._n_dirs = 0  # maintained incrementally; no count() jobs
        self._rootsig: tuple | None = None
        self._first = True
        self.last_batch_stats: dict[str, int] = {}
        self._seed_artifact()

    # -- artifact ---------------------------------------------------------

    def _dirs_path(self, ver: int) -> str:
        return _os.path.join(self.state_dir, f"dirs_v{ver}")

    def _seed_artifact(self) -> None:
        """dirs_v0 from the stored snapshot's dir rows — one executor
        job, O(1) driver work (the count rides the write metrics)."""
        from dudb_spark.operators.find import subtree_pred

        ent = self.cat.tables().entries
        dirs = ent.where(
            F.col("is_dir")
            & (subtree_pred(F.col("parent"), self.prefix)
               | (F.col("path") == self.prefix))
        ).select(*_FIELDS).withColumn("error", F.lit(None).cast("string"))
        dest = self._dirs_path(0)
        obs_df = dirs.withColumn("__one", F.lit(1))
        from pyspark.sql import Observation

        obs = Observation()
        obs_df.observe(obs, F.count("__one").alias("n")).drop(
            "__one"
        ).write.mode("overwrite").parquet(dest)
        self._n_dirs = int(obs.get["n"])
        self._ver = 0

    def _dirs_df(self) -> DataFrame:
        return self.spark.read.schema(_DDL).parquet(
            self._dirs_path(self._ver)
        )

    def _advance_artifact(
        self, drop_paths: list[str], add_rows: list[tuple]
    ) -> None:
        """New artifact version = old − drop ∪ add (executor-side
        rewrite; the driver ships only churn).  Crash between write and
        old-version removal leaves both on disk; the monotone version
        counter makes the newest win on restart within a run, and a
        fresh run reseeds from the snapshot anyway."""
        if not drop_paths and not add_rows:
            return
        old = self._dirs_df()
        drops = self.spark.createDataFrame(
            [(p,) for p in drop_paths] or [(None,)], "path string"
        )
        nxt = old.join(F.broadcast(drops), "path", "left_anti")
        if add_rows:
            nxt = nxt.unionByName(
                self.spark.createDataFrame(add_rows, _DDL)
            )
        nv = self._ver + 1
        nxt.write.mode("overwrite").parquet(self._dirs_path(nv))
        import shutil

        shutil.rmtree(self._dirs_path(self._ver), ignore_errors=True)
        self._ver = nv

    # -- one batch ---------------------------------------------------------

    def _rootsig_now(self):
        try:
            rst = _os.lstat(self.prefix)
            return (rst.st_mtime, rst.st_mode)
        except OSError:
            return None

    def _walk_rescan(self, rescan: list[str], known_dirs: set[str]):
        """Driver phase 2 (churn-proportional): scandir the sig-changed
        dirs, walking NEW subtrees exhaustively — the same contract as
        FsWatchReader._scan_pruned phase 2."""
        from dudb_spark.sources.crawler import _entry_row

        pats = [re.compile(self.exclude)] if self.exclude else []
        listings: dict[str, dict[str, tuple]] = {}
        new_dirstat: dict[str, tuple] = {}
        dead_dirs: list[str] = []
        n_scandirs = 0
        n_file_stats = 0
        queued = set(rescan)
        level = list(rescan)
        while level:
            nxt: list[str] = []
            for d in level:
                listing: dict[str, tuple] = {}
                listings[d] = listing
                try:
                    with _os.scandir(d) as it:
                        dents = sorted(it, key=lambda e: e.name)
                    n_scandirs += 1
                except OSError as e:
                    listings.pop(d, None)
                    dead_dirs.append(d)
                    if d != self.prefix:
                        new_dirstat[d] = self._error_row(d, str(e))
                    continue
                for de in dents:
                    child = f"{d.rstrip('/')}/{de.name}"
                    if any(x.search(child) for x in pats):
                        continue
                    try:
                        is_dirtype = de.is_dir(follow_symlinks=False)
                    except OSError:
                        is_dirtype = False
                    if is_dirtype:
                        try:
                            st = de.stat(follow_symlinks=False)
                        except OSError as e:
                            new_dirstat[child] = self._error_row(
                                child, str(e)
                            )
                            dead_dirs.append(child)
                            continue
                        er = _entry_row(d, de.name, st, True)
                        new_dirstat[child] = (
                            tuple(er[f] for f in _FIELDS) + (None,)
                        )
                        if (
                            not stat_mod.S_ISLNK(st.st_mode)
                            and child not in known_dirs
                            and child not in queued
                        ):
                            queued.add(child)
                            nxt.append(child)
                    else:
                        try:
                            st = de.stat(follow_symlinks=False)
                            n_file_stats += 1
                        except OSError as e:
                            listing[child] = self._error_row(
                                child, str(e)
                            )
                            continue
                        er = _entry_row(
                            d, de.name, st, stat_mod.S_ISDIR(st.st_mode)
                        )
                        listing[child] = (
                            tuple(er[f] for f in _FIELDS) + (None,)
                        )
            level = nxt
        return listings, new_dirstat, dead_dirs, n_scandirs, n_file_stats

    def _error_row(self, path: str, detail: str) -> tuple:
        row = [None] * len(_FIELDS)
        row[_FIELDS.index("parent")] = _os.path.dirname(path) or None
        row[_FIELDS.index("name")] = _os.path.basename(path)
        row[_FIELDS.index("path")] = path
        return tuple(row) + (detail,)

    def _prev_file_rows(self, dirs: set[str]) -> dict[str, tuple]:
        """Stored file-space rows for exactly ``dirs`` — a pushed-down
        ``parent IN (…)`` read of the snapshot (churn-sized output)."""
        if not dirs:
            return {}
        ent = self.cat.tables().entries
        rows = (
            ent.where((~F.col("is_dir")) & F.col("parent").isin(list(dirs)))
            .select(*_FIELDS)
            .collect()
        )
        return {
            r["path"]: tuple(r[f] for f in _FIELDS) + (None,)
            for r in rows
        }

    def batch(self, gen: int) -> list[tuple]:
        """One sweep+diff pass.  Returns watch-feed tuples
        (op, *fields, error, gen) sorted by path — churn-sized by
        construction."""
        stats = {
            "driver_lstats": 1, "dirs_swept": self._n_dirs,
            "sweep_rows": 0, "dirs_listed": 0, "files_statted": 0,
        }
        rootsig = self._rootsig_now()

        sweep = [
            r.asDict()
            for r in self._dirs_df().mapInPandas(
                _sweep_partition, schema=_SWEEP_DDL
            ).collect()
        ]
        stats["sweep_rows"] = len(sweep)

        gone = {d["path"] for d in sweep if d["status"] == "gone"}
        if gone:
            # lineage force-drop (symlink-replaced ancestor): descendants
            # of a gone dir leave dir-space even when their own lstat
            # resolves through the symlink.  Executor-side prefix match
            # against the artifact; output is churn-sized (a gone
            # subtree's dirs are all churn).
            gdf = self.spark.createDataFrame(
                [(g + "/",) for g in gone], "p string"
            )
            desc = (
                self._dirs_df().alias("d")
                .join(
                    F.broadcast(gdf),
                    F.col("d.path").startswith(F.col("p")),
                )
                .select("d.*")
                .collect()
            )
            for r in desc:
                if r["path"] not in gone:
                    gone.add(r["path"])
                    sweep.append({
                        "status": "gone", "rescan": False,
                        "path": r["path"],
                        **{f"prev_{f}": r[f] for f in _FIELDS
                           if f not in ("path", "mtime")},
                        "prev_mtime_us": _dt_us(r["mtime"]),
                        "prev_error": r["error"],
                    })

        rescan = [d["path"] for d in sweep
                  if d["status"] in ("changed", "error") and d["rescan"]
                  and d["path"] not in gone]
        err_dirs = [d for d in sweep if d["status"] == "error"]
        if self._first or rootsig != self._rootsig:
            if self.prefix not in rescan:
                rescan.append(self.prefix)

        known = gone | {d["path"] for d in sweep}
        # known_dirs for new-subtree detection: a rescanned dir's child
        # dir that is NOT in the artifact is new.  Membership must not
        # require the full dir set on the driver — ask the artifact for
        # just the rescanned dirs' immediate children (churn-sized).
        child_known: set[str] = set()
        if rescan:
            child_known = {
                r["path"]
                for r in self._dirs_df()
                .where(F.col("parent").isin(rescan))
                .select("path")
                .collect()
            }
        listings, new_dirstat, dead_dirs, n_scan, n_fstat = \
            self._walk_rescan(rescan, child_known | set(rescan) | gone)
        stats["dirs_listed"] = n_scan
        stats["files_statted"] = n_fstat

        # -- emissions (same merge semantics as FsWatchReader.read) ----
        emit: dict[str, list] = {}

        def add(op: str, row: tuple):
            emit.setdefault(row[_FIELDS.index("path")], []).append(
                (op, row)
            )

        prev_known: dict[str, tuple] = {}
        sweep_paths: set[str] = set()
        for d in sweep:
            prev_known[d["path"]] = _row_from_prev(d)
            sweep_paths.add(d["path"])
        for d in sweep:
            p = d["path"]
            if p in gone and d["status"] == "gone":
                add("deleted", _row_from_prev(d))
            elif d["status"] == "error":
                add("changed", self._error_row(p, d["cur_error"]))
            elif d["status"] == "changed":
                add("changed", _row_from_cur(d))
        for p, row in new_dirstat.items():
            if p in sweep_paths or p in gone:
                continue  # the sweep's verdict already emitted
            if p in child_known:
                # known dir re-encountered by the walk with an unmoved
                # signature (the sweep stayed silent on it): no emission
                continue
            add("added", row)

        dead_set = set(dead_dirs)
        gone_dirs = gone | dead_set
        prev_rows = self._prev_file_rows(set(listings) | gone_dirs)
        for dpath, listing in listings.items():
            for p, row in listing.items():
                pv = prev_rows.get(p)
                if pv is None:
                    add("added", row)
                elif self._differs(row, pv):
                    add("changed", row)
        for p, pv in prev_rows.items():
            d = pv[_FIELDS.index("parent")]
            if (d in gone_dirs) or (
                d in listings and p not in listings[d]
            ):
                add("deleted", pv)

        out = []
        for p in sorted(emit):
            ops = emit[p]
            if len(ops) == 2 and {o for o, _ in ops} == {
                "added", "deleted"
            }:
                row = next(r for o, r in ops if o == "added")
                out.append(("changed",) + row + (gen,))
            else:
                for op, row in ops:
                    out.append((op,) + row + (gen,))

        # -- artifact advance (only on dir churn) -----------------------
        drop = sorted(gone_dirs | {p for p in sweep_paths
                                   if p not in gone})
        adds: list[tuple] = []
        for d in sweep:
            if d["status"] == "changed":
                adds.append(_row_from_cur(d))
            elif d["status"] == "error":
                adds.append(self._error_row(d["path"], d["cur_error"]))
        seen_add = {r[_FIELDS.index("path")] for r in adds}
        for p, row in new_dirstat.items():
            if p in gone_dirs or p in seen_add or p in sweep_paths:
                continue
            if p in child_known:
                continue  # known, sig unmoved — not churn
            adds.append(row)  # genuinely new dir
        if drop or adds:
            self._advance_artifact(drop, adds)
            # exact dir count: one metadata-cheap executor count on the
            # fresh artifact, churn batches only (idle batches skip it)
            self._n_dirs = self._dirs_df().count()
        self._rootsig = rootsig
        self._first = False
        stats["rows_emitted"] = len(out)
        self.last_batch_stats = stats
        return out

    def _differs(self, a: tuple, b: tuple) -> bool:
        return (
            tuple(a[i] for i in self._SIG) != tuple(b[i] for i in self._SIG)
            or a[self._ERR_I] != b[self._ERR_I]
        )

    def diff_frame(self, rows: list[tuple]) -> DataFrame:
        """Emission tuples → the watch-feed frame ``_watch_land``
        consumes (op + entries schema + error + gen), Arrow-staged so
        the scans of ``apply_changes`` need no Python worker."""
        return driver_frame(self.spark, rows, _WATCH_DDL)
