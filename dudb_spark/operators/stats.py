"""``stats compute`` — grouped totals + top-N rankings, Spark-native.

Reference semantics (stats/totals.go:150–209 ComputeTotals, and
internal/reports/report_stats.go:231–245 AllStats.Update):

Per directory record, gated by ``Matcher.Prefix``:

1. ``prefixes = 1`` for every matching directory.
2. If the directory itself is a hardlink duplicate (same device+inode seen
   before): ``hardlink_dirs = 1`` and **nothing else** — its own size and
   all its entries are skipped (totals.go:157–160 early return), and no
   per-user/per-group contribution is recorded (the per-id maps are built
   after the early return).
3. Otherwise its own size lands in ``bytes`` AND ``prefix_bytes`` (and the
   calculator output in ``storage_bytes``), attributed to the *directory's*
   uid/gid (totals.go:161–167).
4. Each child entry gated by ``Matcher.Entry``:
   - subdir → ``sub_prefixes += 1``, attributed to the **parent directory's**
     uid/gid (totals.go:173–177: the outer ``xattr`` is in scope, not the
     child's) — child sizes are NOT added.
   - file that is a hardlink duplicate → ``hardlinks += 1`` only, attributed
     to the entry's uid/gid (totals.go:179–183).
   - other file → ``files += 1``, ``bytes += size``,
     ``storage_bytes += calc(size, blocks)``, entry's uid/gid
     (totals.go:185–189).

Top-N (report_stats.go:58–95): five bounded heaps per scope — bytes,
storage_bytes, prefix_bytes, files, and sub_prefixes ("Prefixes" heap is
keyed on the children count) — globally, per-user, per-group, plus
by-user/by-group heaps over per-id totals (Finalize, report_stats.go:222–229).

Spark design
------------
One narrow **contribution** DataFrame — TWO CASE-projection passes (the
prefix records; the parent-joined entries), each emitting every counter
column in a single scan — then a single shuffle with ``GROUPING SETS
((prefix), (prefix,uid), (prefix,gid))`` produces all three grains
(partial aggregation happens map-side; the stream/fold/heap machinery of
the reference collapses into Catalyst's partial+final HashAggregate).
An earlier five-branch union re-executed the entries join once per
branch — the fusion is one scan of the entry set instead of three.  Top-N never materialises a full sort:
``orderBy(desc(metric)).limit(n)`` compiles to TakeOrderedAndProject, and
per-id rankings use a ``row_number`` window over rows already pre-aggregated
per (id, prefix) — the skew-mitigation noted in SURVEY.md §7.

Hardlink canonicalisation: the reference counts the *walk-order* first
sighting of a (device, inode) pair as the real file (internal/hardlinks/
hardlinks.go:31–43).  Walk order is not a distributed concept, so this
engine deterministically picks the lexicographically-first path as the
canonical link (documented intentional divergence; counts match whenever a
link set lives wholly inside the scanned subtree).  Directory hardlinks are
deduped among directory records, file hardlinks among file entries of
non-duplicate matching directories.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from itertools import count
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dudb_spark.functions.boolexpr import compile_expr
from dudb_spark.functions.calculators import identity
from dudb_spark.model import schema_ddl
from dudb_spark.operators.find import subtree_pred

METRICS = ("bytes", "storage_bytes", "prefix_bytes", "files", "sub_prefixes")

# observation-name uniquifier — see the comment at the observe() call
_OBS_IDS = count()

_ZERO = {
    "files": 0,
    "prefixes": 0,
    "sub_prefixes": 0,
    "bytes": 0,
    "storage_bytes": 0,
    "prefix_bytes": 0,
    "hardlinks": 0,
    "hardlink_dirs": 0,
}


@dataclass
class StatsOptions:
    root: str = ""
    expr: str = ""
    calculator: Callable = identity
    # config.go:29 `count_hardlinks_as_files`: when True every link counts as
    # a full file and no dedup happens (stats.go:126 wires the inverse).
    count_hardlinks_as_files: bool = False
    compile_opts: dict = field(default_factory=dict)


def _dup_flag(
    df: DataFrame,
    enabled: bool,
    order_col: str = "path",
    extra_partition: list[str] | None = None,
):
    """rows beyond the lexicographically-first path per (device,inode).
    ``extra_partition`` isolates sub-universes sharing one frame (the
    fused entry pass partitions by is_dir so directory entries can never
    join a file group)."""
    if not enabled:
        return df.withColumn("_is_dup", F.lit(False))
    w = Window.partitionBy(
        *(extra_partition or []), "device", "inode"
    ).orderBy(order_col)
    return df.withColumn("_is_dup", F.row_number().over(w) > 1)


class StatsResult:
    """Summary tables of one ``stats compute`` run (the Spark-native stand-in
    for the gob ``.idustats`` snapshot, stats.go:31–36)."""

    def __init__(self, per_prefix, per_user, per_group, meta: dict):
        self.per_prefix = per_prefix  # prefix + 8 counters
        self.per_user = per_user  # prefix, id + counters (id-visible rows)
        self.per_group = per_group
        self.meta = meta  # {root, expr, calculator, ...}

    # --- global totals (Heaps.Total* fields) ---------------------------

    def totals(self) -> DataFrame:
        aggs = [F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in _ZERO]
        return self.per_prefix.agg(*aggs)

    def by_id(self, dim: str = "user") -> DataFrame:
        """Per-id grand totals (AllStats.userTotals/groupTotals)."""
        src = self.per_user if dim == "user" else self.per_group
        aggs = [F.sum(c).alias(c) for c in _ZERO if c != "hardlink_dirs"]
        return src.groupBy("id").agg(*aggs)

    # --- top-N (bounded; TakeOrderedAndProject, never a full sort) ------

    def top_prefixes(self, metric: str, n: int) -> DataFrame:
        assert metric in METRICS, metric
        return (
            self.per_prefix.select("prefix", metric)
            .orderBy(F.desc(metric), "prefix")
            .limit(n)
        )

    def top_ids(self, metric: str, n: int, dim: str = "user") -> DataFrame:
        """ByUser/ByGroup heaps (report_stats.go:222–229)."""
        assert metric in METRICS, metric
        return self.by_id(dim).select("id", metric).orderBy(F.desc(metric), "id").limit(n)

    def per_id_top_prefixes(self, metric: str, n: int, dim: str = "user") -> DataFrame:
        """PerIDStats.ByPrefix: top-N prefixes per user/group.  Input is
        pre-aggregated per (id, prefix) so the window partition size is the
        number of directories one id owns, not the number of files."""
        assert metric in METRICS, metric
        src = self.per_user if dim == "user" else self.per_group
        w = Window.partitionBy("id").orderBy(F.desc(metric), "prefix")
        return (
            src.select("id", "prefix", metric)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n)
        )

    def merged_top(self, n: int) -> DataFrame:
        """Heaps.Merge (report_stats.go:128–167): one row per prefix that
        appears in ANY of the five top-N rankings.

        Scale path: each ranking is an ``orderBy(desc).limit(n)`` frame —
        TakeOrderedAndProject, i.e. a bounded per-partition heap + driver
        merge, never a global sort — and the ≤5n candidate prefixes come
        back as a broadcast left-semi join.  An unpartitioned rank window
        here would funnel every per-prefix row through one task, which is
        exactly the hazard documented in operators/prefix.py.

        The per-prefix summary is localCheckpoint'ed first (eager, one
        job): it is the REDUCED frame — one row per directory, orders of
        magnitude under the entry count — and six consumers (five ranking
        frames + the probe side) would otherwise each re-run the whole
        entries×prefixes fold, since Catalyst only reuses identical
        Exchanges within one plan, not across the union/broadcast
        boundary.  Measured 1.5× faster at sf0.1 even on the small local
        fixture; at scale it turns six folds into one."""
        pp = self.per_prefix.select(
            "prefix", *METRICS, "prefixes", "hardlinks", "hardlink_dirs"
        ).localCheckpoint()
        tops = [
            pp.select("prefix", F.col(m).alias("_v"))
            .orderBy(F.desc("_v"), "prefix")
            .limit(n)
            .select("prefix")
            for m in METRICS
        ]
        cand = tops[0]
        for t in tops[1:]:
            cand = cand.union(t)
        return pp.join(F.broadcast(cand.distinct()), "prefix", "left_semi")

    def save(self, out_dir: str, meta: dict | None = None) -> None:
        """Persist summary tables (S10 stand-in for the .idustats snapshot)
        and ``meta.json``: ``meta`` (default :attr:`meta`) plus each
        table's schema, so loading them needs no inference job."""
        schemas = {}
        for name in ("per_prefix", "per_user", "per_group"):
            df = getattr(self, name)
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
            schemas[name] = schema_ddl(df.schema)
        meta = dict(self.meta if meta is None else meta, schemas=schemas)
        with open(f"{out_dir}/meta.json", "w") as f:
            json.dump(meta, f)


def compute_stats(
    prefixes: DataFrame, entries: DataFrame, opts: StatsOptions | None = None
) -> StatsResult:
    opts = opts or StatsOptions()
    dedup = not opts.count_hardlinks_as_files
    calc = opts.calculator

    p_pred = compile_expr(
        opts.expr, mode="prefix", empty_value=True, **opts.compile_opts
    )
    e_pred = compile_expr(opts.expr, mode="entry", empty_value=True, **opts.compile_opts)

    # -- matching directory records, with dir-level hardlink dedup -------
    # A10 analog: named observation metrics ride the job for free (no extra
    # pass); a listener or .observedMetrics exposes prefixes/bytes scanned,
    # replacing the reference's progress tracker (progress.go:37–316)
    pfx = prefixes.where(subtree_pred(F.col("path"), opts.root) & p_pred)
    # the observation name must be unique per fold within a PLAN, not just
    # per live object: id(opts) recycles freed addresses, and two folds
    # composed into one query (the incremental stitch path) intermittently
    # collided on the name -> "multiple definitions of observed metrics"
    # AnalysisException.  A process-monotonic counter can't collide.
    pfx = pfx.observe(
        f"dudb_stats_prefixes_{next(_OBS_IDS)}",
        F.count(F.lit(1)).alias("prefixes_scanned"),
        F.sum("size").alias("prefix_bytes_scanned"),
    )
    pfx = _dup_flag(pfx, dedup)

    pfx_ok = pfx.where(~F.col("_is_dup"))

    # -- entries of surviving directories, gated by the entry predicate --
    # (ComputeTotals evaluates entries only for matching, non-dup prefixes)
    parent_side = pfx_ok.select(
        F.col("path").alias("parent"),
        F.col("uid").alias("_puid"),
        F.col("gid").alias("_pgid"),
    )
    ent = entries.join(parent_side, "parent").where(e_pred)

    # file-hardlink dedup window over ONE frame holding both dir and file
    # entry rows: is_dir joins the partition key so directory entries can
    # never enter a file group (their flags are computed but unused —
    # sub_prefixes counts regardless of dup state)
    ent = _dup_flag(ent, dedup, extra_partition=["is_dir"])

    storage = calc(F.col("size"), F.col("blocks"))

    # TWO contribution branches, each a single CASE-projection pass, so
    # the prefix frame and the entries-join execute ONCE apiece.  The
    # earlier shape — five filtered projections unioned (pfx_ok/pfx_dup/
    # dirs/dup files/files) — re-executed the join lineage per branch:
    # measured ~2× the whole fold's cost at local scale, and at 100 TB
    # it is the difference between one and three scans of the entry set.
    # Semantics per branch (totals.go:157–189):
    #  - non-dup dir record: prefixes + own size into bytes/storage/
    #    prefix_bytes, dir-owner attribution
    #  - dup dir record: prefixes + hardlink_dirs, NO id attribution
    #  - subdir entry: sub_prefixes, PARENT-owner attribution
    #  - dup file entry: hardlinks only
    #  - file entry: files + bytes + storage
    dup = F.col("_is_dup")
    pfx_c = pfx.select(
        F.col("path").alias("prefix"),
        F.when(~dup, F.col("uid")).cast("long").alias("uid"),
        F.when(~dup, F.col("gid")).cast("long").alias("gid"),
        F.lit(0).cast("long").alias("files"),
        F.lit(1).cast("long").alias("prefixes"),
        F.lit(0).cast("long").alias("sub_prefixes"),
        F.when(~dup, F.col("size")).otherwise(0).cast("long").alias("bytes"),
        F.when(~dup, calc(F.col("size"), F.col("blocks")))
        .otherwise(0).cast("long").alias("storage_bytes"),
        F.when(~dup, F.col("size")).otherwise(0).cast("long")
        .alias("prefix_bytes"),
        F.lit(0).cast("long").alias("hardlinks"),
        F.when(dup, 1).otherwise(0).cast("long").alias("hardlink_dirs"),
    )
    isd = F.col("is_dir")
    ent_c = ent.select(
        F.col("parent").alias("prefix"),
        F.when(isd, F.col("_puid")).otherwise(F.col("uid"))
        .cast("long").alias("uid"),
        F.when(isd, F.col("_pgid")).otherwise(F.col("gid"))
        .cast("long").alias("gid"),
        F.when(~isd & ~dup, 1).otherwise(0).cast("long").alias("files"),
        F.lit(0).cast("long").alias("prefixes"),
        F.when(isd, 1).otherwise(0).cast("long").alias("sub_prefixes"),
        F.when(~isd & ~dup, F.col("size")).otherwise(0).cast("long")
        .alias("bytes"),
        F.when(~isd & ~dup, storage).otherwise(0).cast("long")
        .alias("storage_bytes"),
        F.lit(0).cast("long").alias("prefix_bytes"),
        F.when(~isd & dup, 1).otherwise(0).cast("long").alias("hardlinks"),
        F.lit(0).cast("long").alias("hardlink_dirs"),
    )
    contrib = pfx_c.unionByName(ent_c.select(*pfx_c.columns))

    # -- one shuffle, three grains ---------------------------------------
    sums = ", ".join(f"sum({c}) AS {c}" for c in _ZERO)
    contrib.createOrReplaceTempView("_dudb_contrib")
    grains = contrib.sparkSession.sql(
        f"""
        SELECT prefix, uid, gid, grouping(uid) AS _gu, grouping(gid) AS _gg,
               {sums}
        FROM _dudb_contrib
        GROUP BY GROUPING SETS ((prefix), (prefix, uid), (prefix, gid))
        """
    )

    per_prefix = grains.where((F.col("_gu") == 1) & (F.col("_gg") == 1)).select(
        "prefix", *_ZERO
    )
    # id grains: NULL ids are exactly the duplicate-dir rows — invisible to
    # the per-id maps in the reference (totals.go:157–160 vs 164–167)
    per_user = (
        grains.where((F.col("_gu") == 0) & F.col("uid").isNotNull())
        .select("prefix", F.col("uid").alias("id"), *_ZERO)
    )
    per_group = (
        grains.where((F.col("_gg") == 0) & F.col("gid").isNotNull())
        .select("prefix", F.col("gid").alias("id"), *_ZERO)
    )

    meta = {
        "root": opts.root,
        "expression": opts.expr,
        "count_hardlinks_as_files": opts.count_hardlinks_as_files,
    }
    return StatsResult(per_prefix, per_user, per_group, meta)
