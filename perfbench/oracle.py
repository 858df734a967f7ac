"""Expected results, computed from the generator's own arrays.

Nothing here calls Spark or the engine: the find oracle evaluates the
expression on numpy arrays with the engine's documented semantics
(``find``: matching directories under the root plus matching non-directory
entries whose parent is under the root), the stats oracle folds totals
with the engine's lexicographically-first hardlink rule, and the merge
oracle derives the summary counters from what the churn script did.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

from gen import MODE_SYMLINK, Churn, Tree

COUNTERS = ("files", "prefixes", "sub_prefixes", "bytes", "storage_bytes",
            "prefix_bytes", "hardlinks", "hardlink_dirs")


# --------------------------------------------------------------------------
# Columnar views of a tree state
# --------------------------------------------------------------------------


@dataclass
class Cols:
    """Alive directories (``d_*``) and alive files (``f_*``) as arrays."""

    d_path: np.ndarray
    d_name: np.ndarray
    d_mode: np.ndarray
    d_mtime: np.ndarray
    d_uid: np.ndarray
    d_gid: np.ndarray
    d_size: np.ndarray
    d_nent: np.ndarray
    f_dirpath: np.ndarray
    f_path: np.ndarray
    f_name: np.ndarray
    f_mode: np.ndarray
    f_mtime: np.ndarray
    f_uid: np.ndarray
    f_gid: np.ndarray
    f_size: np.ndarray
    f_inode: np.ndarray


def columns(t: Tree) -> Cols:
    dirs = t.alive_dirs()
    dset = set(dirs)
    files = [f for f, a in enumerate(t.f_alive) if a and t.f_dir[f] in dset]
    nent = {d: 0 for d in dirs}
    for d in dirs:
        if d and t.d_parent[d] in nent:
            nent[t.d_parent[d]] += 1
    for f in files:
        nent[t.f_dir[f]] += 1
    P = t.d_path

    def arr(xs, dt=np.int64):
        return np.asarray(xs, dtype=dt)

    return Cols(
        d_path=np.asarray([P[d] for d in dirs], dtype=object),
        d_name=np.asarray([P[d].rsplit("/", 1)[-1] for d in dirs],
                          dtype=object),
        d_mode=arr([t.d_mode[d] for d in dirs]),
        d_mtime=arr([t.d_mtime[d] for d in dirs]),
        d_uid=arr([t.d_uid[d] for d in dirs]),
        d_gid=arr([t.d_gid[d] for d in dirs]),
        d_size=arr([t.d_size[d] for d in dirs]),
        d_nent=arr([nent[d] for d in dirs]),
        f_dirpath=np.asarray([P[t.f_dir[f]] for f in files], dtype=object),
        f_path=np.asarray([t.file_path(f) for f in files], dtype=object),
        f_name=np.asarray([t.f_name[f] for f in files], dtype=object),
        f_mode=arr([t.f_mode[f] for f in files]),
        f_mtime=arr([t.f_mtime[f] for f in files]),
        f_uid=arr([t.f_uid[f] for f in files]),
        f_gid=arr([t.f_gid[f] for f in files]),
        f_size=arr([t.f_size[f] for f in files]),
        f_inode=arr([t.f_inode[f] for f in files]),
    )


def under(paths: np.ndarray, root: str) -> np.ndarray:
    root = root.rstrip("/")
    pre = root + "/"
    return np.fromiter((p == root or p.startswith(pre) for p in paths),
                       dtype=bool, count=len(paths))


# --------------------------------------------------------------------------
# find: an expression AST that renders to the CLI syntax and evaluates on
# the columns
# --------------------------------------------------------------------------


@dataclass
class Term:
    op: str
    value: str

    def render(self) -> str:
        v = self.value
        if any(c in v for c in " ()!&|'\"\\$^[]"):
            v = f"'{v}'"
        return f"{self.op}={v}"


@dataclass
class Not:
    child: object

    def render(self) -> str:
        return f"!({self.child.render()})"


@dataclass
class And:
    left: object
    right: object

    def render(self) -> str:
        return f"({self.left.render()} && {self.right.render()})"


@dataclass
class Or:
    left: object
    right: object

    def render(self) -> str:
        return f"({self.left.render()} || {self.right.render()})"


def _glob_rx(glob: str) -> re.Pattern:
    """Benchmark globs use only ``*``; it never crosses '/'."""
    return re.compile("^" + "[^/]*".join(map(re.escape, glob.split("*")))
                      + "$")


def _match(paths: np.ndarray, rx: re.Pattern, search: bool = False):
    f = rx.search if search else rx.match
    return np.fromiter((f(p) is not None for p in paths), dtype=bool,
                       count=len(paths))


def _day(value: str) -> int:
    dt = datetime.strptime(value, "%Y-%m-%d").replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


def _eval(node, c: Cols, prefix_mode: bool) -> np.ndarray:
    if isinstance(node, Not):
        return ~_eval(node.child, c, prefix_mode)
    if isinstance(node, And):
        return _eval(node.left, c, prefix_mode) & _eval(node.right, c,
                                                         prefix_mode)
    if isinstance(node, Or):
        return _eval(node.left, c, prefix_mode) | _eval(node.right, c,
                                                         prefix_mode)
    d = "d_" if prefix_mode else "f_"
    path = getattr(c, d + "path")
    name = getattr(c, d + "name")
    mode = getattr(c, d + "mode")
    n = len(path)
    op, v = node.op, node.value
    if op == "user":
        return getattr(c, d + "uid") == int(v)
    if op == "group":
        return getattr(c, d + "gid") == int(v)
    if op in ("name", "iname"):
        if op == "iname":
            v = v.lower()
            name = np.asarray([x.lower() for x in name], dtype=object)
            path = np.asarray([x.lower() for x in path], dtype=object)
        rx = _glob_rx(v)
        return _match(name, rx) | _match(path, rx)
    if op == "re":
        return _match(path, re.compile(v), search=True)
    if op == "newer":
        return getattr(c, d + "mtime") > _day(v)
    if op == "type":
        sym = (mode & MODE_SYMLINK) != 0
        if v == "d":
            return np.full(n, prefix_mode)
        if v == "l":
            return sym
        if v == "f":
            return np.full(n, False) if prefix_mode else ~sym
        if v == "x":
            return (mode & 0o111) != 0
    if op == "dir-larger":
        if not prefix_mode:
            return np.full(n, False)
        return c.d_nent > int(v)
    raise ValueError(f"oracle: unsupported term {op}={v}")


def find_count(c: Cols, root: str, expr) -> int:
    """Rows ``find <root> <expr>`` prints."""
    dmask = under(c.d_path, root) & _eval(expr, c, True)
    fmask = under(c.f_dirpath, root) & _eval(expr, c, False)
    return int(dmask.sum() + fmask.sum())


# --------------------------------------------------------------------------
# stats compute (root = tree root, empty expression, identity calculator)
# --------------------------------------------------------------------------


def hardlink_dups(c: Cols) -> np.ndarray:
    """The lexicographically-first path of each (device, inode) group is
    the counted file; every other member is a hardlink."""
    order = np.lexsort((c.f_path.astype(str), c.f_inode))
    dup = np.zeros(len(order), dtype=bool)
    ino = c.f_inode[order]
    dup[order[1:]] = ino[1:] == ino[:-1]
    return dup


def stats(c: Cols) -> tuple[dict, dict, dict]:
    """Totals, per-uid and per-gid counters of a full fold."""
    dup = hardlink_dups(c)
    live = ~dup
    n_sub = len(c.d_path) - 1
    tot = {
        "files": int(live.sum()),
        "prefixes": len(c.d_path),
        "sub_prefixes": n_sub,
        "bytes": int(c.d_size.sum() + c.f_size[live].sum()),
        "prefix_bytes": int(c.d_size.sum()),
        "hardlinks": int(dup.sum()),
        "hardlink_dirs": 0,
    }
    tot["storage_bytes"] = tot["bytes"]

    def per_id(d_id, f_id, sub_id):
        out: dict[int, dict] = {}

        def add(i, k, v):
            row = out.setdefault(int(i), dict.fromkeys(COUNTERS[:-1], 0))
            row[k] += int(v)

        for i, s in zip(d_id, c.d_size):
            add(i, "prefixes", 1)
            add(i, "bytes", s)
            add(i, "storage_bytes", s)
            add(i, "prefix_bytes", s)
        for i in sub_id:
            add(i, "sub_prefixes", 1)
        for i, s, dp in zip(f_id, c.f_size, dup):
            if dp:
                add(i, "hardlinks", 1)
            else:
                add(i, "files", 1)
                add(i, "bytes", s)
                add(i, "storage_bytes", s)
        return out

    # a subdirectory entry counts toward its PARENT directory's owner
    path_uid = dict(zip(c.d_path, c.d_uid))
    path_gid = dict(zip(c.d_path, c.d_gid))
    parents = [p.rsplit("/", 1)[0] for p in c.d_path[1:]]
    users = per_id(c.d_uid, c.f_uid, [path_uid[p] for p in parents])
    groups = per_id(c.d_gid, c.f_gid, [path_gid[p] for p in parents])
    return tot, users, groups


def top_prefixes_by_bytes(c: Cols, n: int) -> list[str]:
    """Top-n directories by bytes (own size + counted files), ties by
    path — one of the rankings ``reports generate`` merges."""
    dup = hardlink_dups(c)
    per = dict(zip(c.d_path, (int(s) for s in c.d_size)))
    for p, s, dp in zip(c.f_dirpath, c.f_size, dup):
        if not dp:
            per[p] += int(s)
    ranked = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    return [p for p, _ in ranked[:n]]


# --------------------------------------------------------------------------
# merge summary counters
# --------------------------------------------------------------------------


def merge_summary(before_visible: set, after_visible: set, ch: Churn,
                  n_files: int) -> dict:
    """``merge_scan`` counters for one churn round."""
    deleted = before_visible & ch.deleted
    changed = (ch.changed & before_visible) - deleted
    added = ch.added & after_visible
    unchanged = before_visible - deleted - changed
    return {
        "prefixes_added": len(added),
        "prefixes_changed": len(changed),
        "prefixes_deleted": len(deleted),
        "parent_unchanged": len(unchanged),
        "prefixes_started": len(added) + len(changed) + len(unchanged),
        "files": n_files,
    }
