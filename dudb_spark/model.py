"""Table schemas — the engine's data model.

The reference stores one nested, varint-encoded record per directory in a
key-value store (reference: internal/prefixinfo/prefixinfo.go:17–32, keyed by
path in BadgerDB buckets, internal/database/badgerdb/badgerdb.go:54–72).  The
Spark-native model normalises that into flat columnar tables (SURVEY.md §1.5):

- ``prefixes``  — one row per directory (the prefixinfo.T header fields)
- ``entries``   — one row per directory child, files AND subdirs (the
  exploded ``entries`` array + parallel inode/block arrays + uid/gid maps,
  prefixinfo.go:28–32; Parquet dictionary/RLE encoding replaces the
  hand-rolled id bitmaps)
- ``errors``    — per-path scan errors (types.go:13–17)
- ``scan_logs`` — one row per ingest run (types.go:24–27; summary struct =
  anaylzeSummary, progress.go:19–35)
- ``users``/``groups`` — tiny id→name dims, broadcast at report time
  (internal/usernames/usergroups.go:26–60)

All tables are plain Parquet directories.  At cluster scale ``prefixes`` and
``entries`` would be written bucketed/sorted by ``path`` so subtree queries
prune row groups via min/max stats; locally we rely on predicate pushdown.
"""

from __future__ import annotations

from datetime import timezone
from functools import lru_cache

from pyspark.sql import functions as F
from pyspark.sql import types as T

PREFIXES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("parent", T.StringType(), True),  # NULL for root
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("blocks", T.LongType(), False),
        T.StructField("mode", T.LongType(), False),  # Go fs.FileMode is uint32
        T.StructField("is_symlink", T.BooleanType(), False),
        T.StructField("mtime", T.TimestampType(), False),
        T.StructField("uid", T.LongType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("device", T.LongType(), False),
        T.StructField("inode", T.LongType(), False),
        T.StructField("n_entries", T.LongType(), False),
    ]
)

ENTRIES_SCHEMA = T.StructType(
    [
        T.StructField("parent", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("is_dir", T.BooleanType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("blocks", T.LongType(), False),
        T.StructField("mode", T.LongType(), False),  # Go fs.FileMode is uint32
        T.StructField("mtime", T.TimestampType(), False),
        T.StructField("uid", T.LongType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("device", T.LongType(), False),
        T.StructField("inode", T.LongType(), False),
    ]
)

ERRORS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("at", T.TimestampType(), False),
        T.StructField("detail", T.StringType(), False),
    ]
)

SCAN_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("operation", T.StringType(), True),
        T.StructField("command", T.StringType(), True),
        T.StructField("duration_ns", T.LongType(), True),
        T.StructField("prefixes_started", T.LongType(), True),
        T.StructField("prefixes_finished", T.LongType(), True),
        T.StructField("synchronous_scans", T.LongType(), True),
        T.StructField("slow_scans", T.LongType(), True),
        T.StructField("fs_stats", T.LongType(), True),
        T.StructField("fs_stats_total", T.LongType(), True),
        T.StructField("fs_stat_mean_latency", T.LongType(), True),
        T.StructField("files", T.LongType(), True),
        T.StructField("parent_unchanged", T.LongType(), True),
        T.StructField("children_unchanged", T.LongType(), True),
        T.StructField("errors", T.LongType(), True),
        T.StructField("prefixes_deleted", T.LongType(), True),
    ]
)

SCAN_LOGS_SCHEMA = T.StructType(
    [
        T.StructField("start", T.TimestampType(), False),
        T.StructField("stop", T.TimestampType(), False),
        T.StructField("summary", SCAN_SUMMARY_SCHEMA, True),
    ]
)

USERS_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

GROUPS_SCHEMA = T.StructType(
    [
        T.StructField("gid", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

# fs.FileMode type bits we care about (Go's io/fs FileMode layout; the
# reference tests mode bits via Mode/Type accessors, boolexpr/expression.go:
# 216–222).  We store the full uint32 in `mode`; these masks implement the
# `type=f|d|l|x` operand.
MODE_DIR = 1 << 31  # fs.ModeDir
MODE_SYMLINK = 1 << 27  # fs.ModeSymlink
MODE_EXEC_ANY = 0o111  # any execute bit
# The local crawler stores POSIX ``st_mode`` instead (file type in bits
# 12–15).  Go's FileMode never sets those bits, so a value whose type
# field reads as a symlink can only be a POSIX mode.
S_IFMT = 0o170000
S_IFLNK = 0o120000


def schema_ddl(schema: T.StructType) -> str:
    """Compact DDL of ``schema`` with every field nullable — the form
    ``spark.read.parquet`` infers, so passing it to ``spark.read.schema``
    opens the table exactly as inference would, without the footer job."""
    return ", ".join(
        "`{}` {}".format(f.name.replace("`", "``"), f.dataType.simpleString())
        for f in schema.fields
    )


def path_bucket(col, n: int):
    """Layout bucket of a probe path: ``pmod(xxhash64(col), n)`` as int.

    The one definition of the bucketed layout's hash.  The snapshot
    writer partitions by it, the copy-on-write write derives its changed
    buckets from it, and the incremental closure prunes its probes with
    it, so the three always agree on which ``pb=`` directory holds a
    path."""
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


@lru_cache(maxsize=None)
def ddl_struct(ddl: str) -> T.StructType:
    """A DDL schema string parsed into a ``StructType`` (once per
    process and string; parsing needs a running SparkContext)."""
    return T._parse_datatype_string(ddl)


def driver_frame(spark, rows: list, schema):
    """DataFrame from rows built on the driver (dicts by field name, or
    tuples in schema order), staged through a ``pyarrow.Table``.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows as a
    Python RDD, so every job that scans the frame starts Python workers
    to deserialize them.  An Arrow table is shipped to the JVM once and
    scanned there.  ``schema`` is a ``StructType`` or a DDL string.
    Naive datetimes are local time, as ``createDataFrame`` reads them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = ddl_struct(schema)
    aschema = to_arrow_schema(schema)
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(n) for r in rows] for n in schema.names]
    else:
        cols = [list(c) for c in zip(*rows)] or [[] for _ in schema.names]
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, T.TimestampType):
            cols[i] = [
                v if v is None or v.tzinfo else v.astimezone(timezone.utc)
                for v in cols[i]
            ]
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, aschema.types)],
        schema=aschema,
    )
    return spark.createDataFrame(table, schema)


def read_parquet(spark, path: str, ddl: str | None = None):
    """``spark.read.parquet(path)``, opened with ``ddl`` (a schema recorded
    at write time) when there is one, so no inference job runs."""
    return (spark.read.schema(ddl) if ddl else spark.read).parquet(path)


class FsTables:
    """Handle to one ingested filesystem-metadata database (a directory of
    Parquet tables), mirroring the reference's single BadgerDB instance per
    configured prefix (config.go:54–65)."""

    TABLE_NAMES = ("prefixes", "entries", "errors", "scan_logs", "users", "groups")

    def __init__(self, spark, root: str, schemas: dict | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        # table -> DDL recorded at write time (``_layout.json``); tables
        # without one fall back to schema inference
        self.schemas = schemas or {}
        self._raw: dict = {}

    def path(self, table: str) -> str:
        return f"{self.root}/{table}.parquet"

    def read(self, table: str):
        """Logical table view: physical layout columns (the ``pb`` path
        bucket a bucketed snapshot is partitioned by) are dropped so
        consumers see the same schema regardless of storage layout."""
        df = self.read_raw(table)
        return df.drop("pb") if "pb" in df.columns else df

    def read_raw(self, table: str):
        """Physical view: keeps layout columns (``pb``) so layout-aware
        readers — the incremental-stats closure probes — can prune
        partitions.

        Each table is opened once per handle.  With a recorded schema the
        open submits no Spark job: no footer read for inference, and the
        session lists bucket directories on the driver."""
        df = self._raw.get(table)
        if df is None:
            df = self._raw[table] = read_parquet(
                self.spark, self.path(table), self.schemas.get(table)
            )
        return df

    @property
    def prefixes(self):
        return self.read("prefixes")

    @property
    def entries(self):
        return self.read("entries")

    @property
    def errors(self):
        return self.read("errors")

    @property
    def scan_logs(self):
        return self.read("scan_logs")

    @property
    def users(self):
        return self.read("users")

    @property
    def groups(self):
        return self.read("groups")
