"""The workloads: inputs (:func:`prepare`), the measured flows
(:data:`RUNNERS`) and the per-layer roll-up of a traced run
(:func:`layer_metrics`).

Every workload is a closed loop with one client: the next command starts
when the previous one returned.  Each run has the same shape:

1. ``prepare`` builds the seeded inputs (untimed, before Spark starts).
2. Set-up seeds the DB through the program (timed into ``setup_s``); its
   operations also warm the JIT for the measured ones.
3. ``query_snapshot`` adds one untimed warm-up ``find``.
4. Measured cycles of the workload's operations until ``--seconds`` have
   passed (at least one cycle); every result is checked.
"""

from __future__ import annotations

import json
import os
from glob import glob

import numpy as np

import gen
import oracle
from spans import dir_size

SIZES = {
    # (directories, files)
    "analyze_tree": {"full": (300, 3_000), "tiny": (300, 600)},
    "query_snapshot": {"full": (800, 20_000), "tiny": (60, 1_500)},
}
SNAP_ROOT = "/data/proj"
PATH_BUCKETS = 64  # the CLI's default bucketed layout
# one churned directory per ~250: with the deleted leaf, its parent, the
# new directory and its host that touches < 2% of a 300-directory tree,
# below the CLI's refold gate, so the incremental closure runs
LOW_CHURN = 0.004
REPORT_N = 20


WORKLOAD_IDS = {"analyze_tree": 1, "query_snapshot": 2}


def prepare(workload: str, seed: int, scale: str, work: str) -> dict:
    rng = np.random.default_rng([seed, WORKLOAD_IDS[workload]])
    n_dirs, n_files = SIZES[workload][scale]
    if workload == "analyze_tree":
        t = gen.build_tree(rng, os.path.join(work, "tree"), n_dirs, n_files,
                           max_size=1 << 20)
        locked = gen.materialize(t)
        return {"tree": t, "rng": rng, "locked": locked}
    t = gen.build_tree(rng, SNAP_ROOT, n_dirs, n_files)
    staged = os.path.join(work, "staged0")
    os.makedirs(staged)
    gen.write_staged_scan(t, staged)
    cols = oracle.columns(t)
    return {"tree": t, "staged": staged, "cols": cols,
            "finds": find_mix(t, cols, rng)}


def _loop(seconds: float, cycle) -> list[float]:
    """Run ``cycle()`` (returns its measured seconds) until ``seconds``
    of measured time have passed, at least once."""
    cycles: list[float] = []
    while not cycles or sum(cycles) < seconds:
        cycles.append(cycle())
    return cycles


# --------------------------------------------------------------------------
# analyze_tree
# --------------------------------------------------------------------------


def _scan_expect(t: gen.Tree):
    vis = t.visible_dirs()
    vset = set(vis)
    files = [f for f, a in enumerate(t.f_alive) if a and t.f_dir[f] in vset]
    return set(vis), len(files), sum(t.f_size[f] for f in files)


def _check_analyze(bench, sink, want: dict, what: str) -> None:
    try:
        got = json.loads(sink.text().strip().splitlines()[-1])
    except (ValueError, IndexError):
        bench.check(False, f"{what}: no summary printed")
        return
    for k, v in want.items():
        bench.check_equal(got.get(k), v, f"{what} {k}")


def _check_snapshot_files(bench, db: str, n_prefixes: int, n_files: int,
                          file_bytes: int, what: str) -> None:
    """Row counts and file bytes of the latest snapshot (pyarrow)."""
    import pyarrow.parquet as pq

    with open(os.path.join(db, "latest")) as f:
        out = os.path.join(db, f.read().strip())
    p = pq.read_table(os.path.join(out, "prefixes.parquet"),
                      columns=["path"])
    e = pq.read_table(os.path.join(out, "entries.parquet"),
                      columns=["is_dir", "size"]).to_pandas()
    files = e[~e["is_dir"]]
    bench.check_equal(p.num_rows, n_prefixes, f"{what} prefix rows")
    bench.check_equal(len(files), n_files, f"{what} file rows")
    bench.check_equal(int(files["size"].sum()), file_bytes,
                      f"{what} file bytes")


def run_analyze_tree(bench, fx: dict, seconds: float) -> dict:
    t, rng, locked = fx["tree"], fx["rng"], fx["locked"]
    db = bench.path("db")
    argv = ["analyze", "--db", db, t.root]
    vis, n_files, _ = _scan_expect(t)
    n_err = 0 if t.d_readable[locked] else 1

    sd = bench.path("stats")
    stats_argv = ["stats", "compute", "--db", db, "--stats-dir", sd, t.root]

    # set-up: the cold analyze builds the initial snapshot, the first
    # stats compute the stats the rounds keep fresh
    cold, sink = bench.cli_op(argv, measured=False)
    _check_analyze(bench, sink, {"prefixes_started": len(vis),
                                 "files": n_files, "errors": n_err}, "cold")
    seed_stats, sink = bench.cli_op(stats_argv, measured=False)
    _check_tree_stats(bench, sink, t, locked, "stats seed")
    rounds = [0]
    times: dict[str, list[float]] = {"analyze": [], "incr": []}

    def cycle() -> float:
        rounds[0] += 1
        stamp = gen.BASE_MTIME + gen.YEAR + 1000 * rounds[0]
        ch = gen.churn(t, rng, LOW_CHURN, stamp, protect={locked})
        after, n_f, _ = _scan_expect(t)
        want = oracle.merge_summary(vis, after, ch, n_f)
        want["errors"] = n_err
        if bench.rec is not None:
            bench.rec.useful_parents = {
                t.d_path[d] for d in (ch.changed | ch.added) & after}
        wall, sink = bench.cli_op(argv)
        _check_analyze(bench, sink, want, f"round {rounds[0]}")
        vis.clear()
        vis.update(after)
        inc, sink = bench.cli_op(stats_argv[:2] + ["--incremental"]
                                 + stats_argv[2:])
        _check_tree_stats(bench, sink, t, locked,
                          f"stats round {rounds[0]}")
        times["analyze"].append(wall or 0.0)
        times["incr"].append(inc or 0.0)
        return (wall or 0.0) + (inc or 0.0)

    cycles = _loop(seconds, cycle)
    _, n_files, fbytes = _scan_expect(t)
    _check_snapshot_files(bench, db, len(vis), n_files, fbytes, "final")
    return {
        "seed_s": (cold or 0.0) + (seed_stats or 0.0),
        "primary": times["analyze"],
        "cycles": cycles,
        "db_bytes_per_entry": _bytes_per_entry(db),
        "flows": {"analyze_cold_s": cold,
                  "stats_seed_s": seed_stats,
                  "analyze_incr_p50_s": float(np.median(times["analyze"])),
                  "stats_incr_p50_s": float(np.median(times["incr"])),
                  "rounds": len(cycles)},
    }


def _check_tree_stats(bench, sink, t: gen.Tree, locked: int,
                      what: str) -> None:
    """Stats totals of an on-disk tree: the filesystem decides directory
    sizes, inodes and symlink modes, so only the file-side counters that
    the model fixes are compared."""
    try:
        got = json.loads(sink.text().strip().splitlines()[-1])["totals"]
    except (ValueError, IndexError, KeyError):
        bench.check(False, f"{what}: no stats printed")
        return
    vis = t.visible_dirs()
    vset = set(vis)
    files = [f for f, a in enumerate(t.f_alive) if a and t.f_dir[f] in vset]
    first: dict[int, str] = {}
    for f in files:
        p = t.file_path(f)
        k = t.f_inode[f]
        if k not in first or p < first[k]:
            first[k] = p
    links = len(files) - len(first)
    fbytes = sum(t.f_size[f] for f in files if first[t.f_inode[f]]
                 == t.file_path(f))
    for k, v in (("prefixes", len(vis)), ("sub_prefixes", len(vis) - 1
                                          + (0 if t.d_readable[locked] else 1)),
                 ("files", len(first)), ("hardlinks", links),
                 ("bytes", fbytes + got.get("prefix_bytes", 0))):
        bench.check_equal(got.get(k), v, f"{what} {k}")


# --------------------------------------------------------------------------
# query_snapshot
# --------------------------------------------------------------------------


def _seed_snapshot(bench, fx: dict, db: str):
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = bench.spark
    staged = fx["staged"]

    def write():
        return SnapshotCatalog(spark, db).write_snapshot(
            spark.read.parquet(os.path.join(staged, "prefixes.parquet")),
            spark.read.parquet(os.path.join(staged, "entries.parquet")),
            None, layout="bucketed", path_buckets=PATH_BUCKETS)

    wall, _ = bench.lib_op("seed.write_snapshot", write, measured=False)
    return wall or 0.0


def find_mix(t: gen.Tree, c: oracle.Cols, rng) -> list[tuple[str, object]]:
    """A seeded mix of (root, expression) over three root sizes: one
    directory, a mid subtree (~2-10% of the tree) and the whole tree.
    Every operand family and ``!``/``&&``/``||`` appear."""
    T, N, A, O = oracle.Term, oracle.Not, oracle.And, oracle.Or
    # one directory with some files; a mid subtree by entry share
    counts = np.bincount([t.f_dir[f] for f in range(len(t.f_dir))],
                         minlength=len(t.d_path))
    leafish = [d for d in range(1, len(t.d_path)) if 5 <= counts[d] <= 200]
    one = t.d_path[leafish[int(rng.integers(0, len(leafish)))]]
    total = len(c.f_path)
    mids = []
    for d in range(1, len(t.d_path)):
        share = oracle.under(c.f_dirpath, t.d_path[d]).sum() / total
        if 0.02 <= share <= 0.10:
            mids.append(d)
        if len(mids) >= 8:
            break
    mid = t.d_path[mids[int(rng.integers(0, len(mids)))]] if mids else one
    whole = t.root
    uid = int(rng.choice(gen.UIDS[1:5]))
    gid = int(rng.choice(gen.GIDS[1:4]))
    day = f"2023-{int(rng.integers(2, 12)):02d}-01"
    digit = int(rng.integers(0, 10))
    return [
        (one, A(O(T("type", "f"), T("type", "x")), N(T("name", "*.log")))),
        (mid, O(O(A(O(T("iname", "*.jpg"), T("type", "l")),
                    T("newer", day)),
                  A(T("type", "d"), T("dir-larger", "20"))),
                T("user", str(uid)))),
        (whole, A(T("re", f"/d0{digit}[0-9]+/f"), T("group", str(gid)))),
        # broad: most of the tree's files, so row printing shows
        (whole, A(N(T("name", "*.py")), N(T("type", "d")))),
    ]


def _check_stats(bench, sink, c: oracle.Cols, what: str) -> str | None:
    import pyarrow.parquet as pq

    try:
        got = json.loads(sink.text().strip().splitlines()[-1])
    except (ValueError, IndexError):
        bench.check(False, f"{what}: no stats printed")
        return None
    tot, users, groups = oracle.stats(c)
    for k, v in tot.items():
        bench.check_equal(got["totals"].get(k), v, f"{what} total {k}")
    for table, want in (("per_user", users), ("per_group", groups)):
        df = pq.read_table(os.path.join(got["stats"], f"{table}.parquet")
                           ).to_pandas()
        agg = df.groupby("id")[list(oracle.COUNTERS[:-1])].sum()
        have = {int(i): {k: int(r[k]) for k in agg.columns}
                for i, r in agg.iterrows()}
        bench.check_equal(have, want, f"{what} {table}")
    return got["stats"]


def _check_report(bench, sink, c: oracle.Cols, what: str) -> None:
    try:
        out = json.loads(sink.text().strip().splitlines()[-1])["report"]
    except (ValueError, IndexError, KeyError):
        bench.check(False, f"{what}: no report printed")
        return
    md = os.path.join(out, "markdown", "report.md")
    bench.check(os.path.getsize(md) > 0 if os.path.exists(md) else False,
                f"{what}: markdown report missing")
    rows = []
    for p in glob(os.path.join(out, "json", "*.json")):
        with open(p) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    got = {r["prefix"] for r in rows}
    want = set(oracle.top_prefixes_by_bytes(c, REPORT_N))
    bench.check(want <= got and len(rows) <= 5 * REPORT_N,
                f"{what}: json report lacks top-{REPORT_N} by bytes")
    bench.check(len(glob(os.path.join(out, "tsv", "*.csv"))) > 0,
                f"{what}: tsv report missing")


def run_query_snapshot(bench, fx: dict, seconds: float) -> dict:
    """The read path on one seeded snapshot: the find mix, then
    ``stats compute`` and ``reports generate``."""
    db = bench.path("db")
    seed_s = _seed_snapshot(bench, fx, db)
    c = fx["cols"]

    def find(i: int, measured: bool = True) -> float:
        root, e = fx["finds"][i]
        wall, sink = bench.cli_op(["find", "--db", db, root, e.render()],
                                  keep=False, measured=measured)
        bench.check_equal(sink.lines, oracle.find_count(c, root, e),
                          f"find {root} {e.render()!r}")
        return wall or 0.0

    find(2, measured=False)  # warm-up

    times: dict[str, list[float]] = {k: [] for k in (
        "find", "find_total", "stats", "report")}
    n = [0]

    def cycle() -> float:
        n[0] += 1
        fs = [find(i) for i in range(len(fx["finds"]))]
        sd = bench.path(f"stats{n[0]}")
        st, sink = bench.cli_op(["stats", "compute", "--db", db,
                                 "--stats-dir", sd, SNAP_ROOT])
        _check_stats(bench, sink, c, "stats compute")
        rp, sink = bench.cli_op(["reports", "generate", "--stats-dir", sd,
                                 "--reports-dir", bench.path(f"rep{n[0]}")])
        _check_report(bench, sink, c, "reports generate")
        for k, v in (("find_total", sum(fs)), ("stats", st), ("report", rp)):
            times[k].append(v or 0.0)
        times["find"] += fs
        return sum(fs) + (st or 0.0) + (rp or 0.0)

    cycles = _loop(seconds, cycle)
    flows = {k: float(np.median(v)) for k, v in times.items()}
    return {
        "seed_s": seed_s,
        "primary": times["find"],
        "cycles": cycles,
        "db_bytes_per_entry": _bytes_per_entry(db),
        "flows": {
            "find_p50_s": flows["find"],
            "find_total_s": flows["find_total"],
            "stats_compute_s": flows["stats"],
            "report_generate_s": flows["report"],
        },
    }


RUNNERS = {
    "analyze_tree": run_analyze_tree,
    "query_snapshot": run_query_snapshot,
}


def _bytes_per_entry(db: str) -> float:
    """Size of the latest snapshot version over its prefix + entry rows."""
    import pyarrow.parquet as pq

    with open(os.path.join(db, "latest")) as f:
        out = os.path.join(db, f.read().strip())
    rows = sum(
        pq.read_metadata(p).num_rows
        for t in ("prefixes", "entries")
        for p in glob(os.path.join(out, f"{t}.parquet", "**", "*.parquet"),
                      recursive=True)
    )
    return dir_size(out)[1] / max(rows, 1)


# --------------------------------------------------------------------------
# traced run: per-layer roll-up
# --------------------------------------------------------------------------


def layer_metrics(bench, res: dict) -> dict:
    """Per-layer metrics over the measured operations of a traced run,
    per measured cycle."""
    rec = bench.rec
    measured_ops = {i + 1 for i, o in enumerate(bench.op_log)
                    if o["measured"]}
    spans = [s for s in rec.spans if s.op in measured_ops]
    n = max(len(res["cycles"]), 1)
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def self_s(name):
        return sum(s.self_s for s in by.get(name, ())) / n

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in by.get(name, ()))

    def written(name, key):
        return attr(name, key) / n

    cli_spans = [s for s in spans if s.parent is None]
    statted = attr("sources.crawler.crawl_local", "entries_statted")
    useful = attr("sources.crawler.crawl_local", "entries_useful")
    pfx = attr("operators.ingest.merge_scan", "prefixes")
    unch = attr("operators.ingest.merge_scan", "parent_unchanged")
    find_roots = [s for s in cli_spans if s.name == "cli.find"]
    refolds = by.get("operators.incremental.refold_recommended", ())
    m = {
        "sources.crawler.crawl_local.self_s":
            (self_s("sources.crawler.crawl_local"), "s"),
        "sources.crawler.entries_statted": (statted / n, "count"),
        "sources.crawler.stat_useful_ratio":
            (useful / statted if statted else 0.0, "ratio"),
        "session.create_dataframe.self_s":
            (self_s("session.create_dataframe"), "s"),
        "session.jobs": (sum(s.jobs for s in spans) / n, "count"),
        "session.stages": (sum(s.stages for s in spans) / n, "count"),
        "session.tasks": (sum(s.tasks for s in spans) / n, "count"),
        "session.failed_tasks":
            (sum(s.failed_tasks for s in spans) / n, "count"),
        "sources.catalog.write_snapshot.self_s":
            (self_s("sources.catalog.write_snapshot"), "s"),
        "sources.catalog.tables.self_s":
            (self_s("sources.catalog.tables"), "s"),
        "sources.catalog.append_log.self_s":
            (self_s("sources.catalog.append_log"), "s"),
        "sources.catalog.files_written":
            (written("sources.catalog.write_snapshot", "files"), "count"),
        "sources.catalog.bytes_written":
            (written("sources.catalog.write_snapshot", "bytes"), "B"),
        "operators.ingest.merge_scan.self_s":
            (self_s("operators.ingest.merge_scan"), "s"),
        "operators.ingest.unchanged_ratio":
            (unch / pfx if pfx else 0.0, "ratio"),
        "functions.boolexpr.compile_expr.self_s":
            (self_s("functions.boolexpr.compile_expr"), "s"),
        "operators.find.find.self_s": (self_s("operators.find.find"), "s"),
        "operators.find.first_row_s": (
            float(np.median([s.attrs["first_row_s"] for s in find_roots
                             if "first_row_s" in s.attrs]))
            if any("first_row_s" in s.attrs for s in find_roots) else 0.0,
            "s"),
        "operators.find.rows_returned":
            (sum(s.attrs.get("rows", 0) for s in find_roots) / n, "count"),
        "operators.stats.compute_stats.self_s":
            (self_s("operators.stats.compute_stats"), "s"),
        "operators.stats.StatsResult.save.self_s":
            (self_s("operators.stats.StatsResult.save"), "s"),
        "operators.incremental.incremental_stats.self_s":
            (self_s("operators.incremental.incremental_stats"), "s"),
        "operators.incremental.refold_recommended":
            (sum(s.attrs.get("refold", False) for s in refolds) / n,
             "count"),
        "operators.incremental.touched_dirs":
            (sum(s.attrs.get("touched_dirs", 0) for s in refolds) / n,
             "count"),
        "reports.sinks.write_reports.self_s":
            (self_s("reports.sinks.write_reports"), "s"),
        "reports.sinks.bytes_written":
            (written("reports.sinks.write_reports", "bytes"), "B"),
        "cli.self_s": (sum(s.self_s for s in cli_spans
                           if s.name.startswith("cli.")) / n, "s"),
        "cli.find.self_s": (self_s("cli.find"), "s"),
        "trace.op_total_s": (float(np.median(res["cycles"])), "s"),
    }
    return m
