"""Seeded input generators for the benchmark.

One in-memory :class:`Tree` model backs every workload.  The same model
can be written to disk (a real tree for ``analyze``) or to Parquet as a
staged scan in the engine's ``prefixes``/``entries`` schema (seeded into
the DB through ``SnapshotCatalog.write_snapshot``).  Churn mutates an
on-disk tree and its model together, so the oracles in ``oracle.py``
always read the expected state from the model's own arrays.

Same seed, same sizes: every generated property (tree shape, file sizes,
owners, mtimes, churn choices) comes from one ``numpy`` Generator.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

# Go io/fs FileMode type bits: the encoding ``dudb_spark.model`` documents
# for the ``mode`` column and the one ``type=d|l`` tests.
MODE_DIR = 1 << 31
MODE_SYMLINK = 1 << 27

BASE_MTIME = 1672531200  # 2023-01-01T00:00:00Z
YEAR = 365 * 86400
DEVICE = 2049
EXTS = ("txt", "log", "dat", "py", "JPG", "csv")
EXT_P = (0.30, 0.20, 0.20, 0.10, 0.10, 0.10)
UIDS = (0, 1000, 1001, 1002, 1003, 1004, 1005, 1006, 1007, 1008, 1009, 1010)
GIDS = (0, 100, 101, 102, 103, 104)


def _skewed(rng, values, n, alpha=1.3):
    w = 1.0 / np.arange(1, len(values) + 1) ** alpha
    return rng.choice(np.asarray(values, dtype=np.int64), size=n, p=w / w.sum())


@dataclass
class Tree:
    """Directories and files of one tree; ``alive`` flags track churn.

    Directory 0 is the root.  Files include symlinks (``mode`` carries
    the symlink bit in snapshot trees) and hardlinks (a file whose
    ``inode`` equals another file's).
    """

    root: str
    # directories
    d_path: list = field(default_factory=list)
    d_parent: list = field(default_factory=list)
    d_size: list = field(default_factory=list)
    d_mode: list = field(default_factory=list)
    d_mtime: list = field(default_factory=list)
    d_uid: list = field(default_factory=list)
    d_gid: list = field(default_factory=list)
    d_inode: list = field(default_factory=list)
    d_alive: list = field(default_factory=list)
    d_readable: list = field(default_factory=list)
    # files
    f_dir: list = field(default_factory=list)
    f_name: list = field(default_factory=list)
    f_size: list = field(default_factory=list)
    f_mode: list = field(default_factory=list)
    f_mtime: list = field(default_factory=list)
    f_uid: list = field(default_factory=list)
    f_gid: list = field(default_factory=list)
    f_inode: list = field(default_factory=list)
    f_alive: list = field(default_factory=list)
    f_link: list = field(default_factory=list)  # symlink target or None
    next_inode: int = 1

    # -- construction ---------------------------------------------------

    def add_dir(self, parent: int, name: str, mtime: int, uid: int,
                gid: int) -> int:
        path = self.root if parent < 0 else f"{self.d_path[parent]}/{name}"
        self.d_path.append(path)
        self.d_parent.append(parent)
        self.d_size.append(4096)
        self.d_mode.append(MODE_DIR | 0o755)
        self.d_mtime.append(int(mtime))
        self.d_uid.append(int(uid))
        self.d_gid.append(int(gid))
        self.d_inode.append(self._inode())
        self.d_alive.append(True)
        self.d_readable.append(True)
        return len(self.d_path) - 1

    def add_file(self, d: int, name: str, size: int, mode: int, mtime: int,
                 uid: int, gid: int, inode: int | None = None,
                 link: str | None = None) -> int:
        self.f_dir.append(d)
        self.f_name.append(name)
        self.f_size.append(int(size))
        self.f_mode.append(int(mode))
        self.f_mtime.append(int(mtime))
        self.f_uid.append(int(uid))
        self.f_gid.append(int(gid))
        self.f_inode.append(self._inode() if inode is None else inode)
        self.f_alive.append(True)
        self.f_link.append(link)
        return len(self.f_dir) - 1

    def _inode(self) -> int:
        self.next_inode += 1
        return self.next_inode

    # -- queries used by churn and oracles ------------------------------

    def file_path(self, f: int) -> str:
        return f"{self.d_path[self.f_dir[f]]}/{self.f_name[f]}"

    def alive_dirs(self) -> list[int]:
        return [d for d, a in enumerate(self.d_alive) if a]

    def visible_dirs(self) -> list[int]:
        """Alive directories a crawl can list (readable, with readable
        ancestors)."""
        vis = np.zeros(len(self.d_path), dtype=bool)
        for d in range(len(self.d_path)):  # parents precede children
            p = self.d_parent[d]
            vis[d] = (self.d_alive[d] and self.d_readable[d]
                      and (p < 0 or vis[p]))
        return [int(d) for d in np.flatnonzero(vis)]

    def files_by_dir(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for f, (d, a) in enumerate(zip(self.f_dir, self.f_alive)):
            if a:
                out.setdefault(d, []).append(f)
        return out


def build_tree(rng: np.random.Generator, root: str, n_dirs: int,
               n_files: int, hardlink_frac: float = 0.004,
               symlink_frac: float = 0.005, max_size: int = 1 << 40) -> Tree:
    """A random recursive directory tree with heavy-tailed files per
    directory, skewed owners, cross-directory hardlinks and symlinks."""
    t = Tree(root)
    d_uid = _skewed(rng, UIDS, n_dirs)
    d_gid = _skewed(rng, GIDS, n_dirs)
    d_mt = BASE_MTIME + rng.integers(0, YEAR, n_dirs)
    t.add_dir(-1, "", d_mt[0], d_uid[0], d_gid[0])
    # parent uniform over earlier directories: a random recursive tree
    # (depth ~ ln n, a few very wide directories near the top)
    parents = (rng.random(n_dirs) * np.arange(n_dirs)).astype(np.int64)
    for i in range(1, n_dirs):
        t.add_dir(int(parents[i]), f"d{i:05d}", d_mt[i], d_uid[i], d_gid[i])

    weights = rng.pareto(1.1, n_dirs) + 0.05
    per_dir = rng.multinomial(n_files, weights / weights.sum())
    f_dir = np.repeat(np.arange(n_dirs), per_dir)
    n = len(f_dir)
    ext = rng.choice(len(EXTS), size=n, p=EXT_P)
    size = np.minimum(rng.lognormal(8.0, 2.5, n).astype(np.int64), max_size)
    exe = rng.random(n) < 0.08
    sym = rng.random(n) < symlink_frac
    uid = _skewed(rng, UIDS, n)
    gid = _skewed(rng, GIDS, n)
    mt = BASE_MTIME + rng.integers(0, YEAR, n)
    for j in range(n):
        name = f"f{j:06d}.{EXTS[ext[j]]}"
        if sym[j]:
            target = f"f{max(j - 1, 0):06d}.{EXTS[ext[max(j - 1, 0)]]}"
            t.add_file(int(f_dir[j]), name, len(target),
                       MODE_SYMLINK | 0o777, mt[j], uid[j], gid[j],
                       link=target)
        else:
            t.add_file(int(f_dir[j]), name, size[j],
                       0o755 if exe[j] else 0o644, mt[j], uid[j], gid[j])
    # cross-directory hardlinks: a second name for an existing file in
    # another directory, sharing its inode and attributes
    regular = [j for j in range(n) if not sym[j]]
    n_links = max(1, int(n * hardlink_frac)) if regular else 0
    for k, j in enumerate(rng.choice(regular, size=n_links, replace=False)
                          if n_links else []):
        j = int(j)
        other = int(rng.integers(0, n_dirs))
        if other == t.f_dir[j]:
            other = (other + 1) % n_dirs
        t.add_file(other, f"hl{k:05d}.{EXTS[ext[j]]}", t.f_size[j],
                   t.f_mode[j], t.f_mtime[j], t.f_uid[j], t.f_gid[j],
                   inode=t.f_inode[j])
    return t


# --------------------------------------------------------------------------
# Staged scans as Parquet (the engine's prefixes/entries schemas)
# --------------------------------------------------------------------------


def _ts(seconds):
    import pyarrow as pa

    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def write_staged_scan(t: Tree, out_dir: str) -> None:
    """Write the tree's ``prefixes`` and ``entries`` to Parquet, as a
    crawl would stage them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirs = t.alive_dirs()
    rootdepth = t.root.count("/")
    kids = t.files_by_dir()
    sub: dict[int, list[int]] = {}
    for d in dirs:
        if d:
            sub.setdefault(t.d_parent[d], []).append(d)
    n_ent = [len(kids.get(d, ())) + len(sub.get(d, ())) for d in dirs]
    P = t.d_path
    pq.write_table(pa.table({
        "path": [P[d] for d in dirs],
        "parent": [os.path.dirname(P[d]) for d in dirs],
        "depth": pa.array([P[d].count("/") - rootdepth for d in dirs],
                          pa.int32()),
        "size": pa.array([t.d_size[d] for d in dirs], pa.int64()),
        "blocks": pa.array([8] * len(dirs), pa.int64()),
        "mode": pa.array([t.d_mode[d] for d in dirs], pa.int64()),
        "is_symlink": pa.array([False] * len(dirs)),
        "mtime": _ts([t.d_mtime[d] for d in dirs]),
        "uid": pa.array([t.d_uid[d] for d in dirs], pa.int64()),
        "gid": pa.array([t.d_gid[d] for d in dirs], pa.int64()),
        "device": pa.array([DEVICE] * len(dirs), pa.int64()),
        "inode": pa.array([t.d_inode[d] for d in dirs], pa.int64()),
        "n_entries": pa.array(n_ent, pa.int64()),
    }), os.path.join(out_dir, "prefixes.parquet"))

    par, name, path, isd = [], [], [], []
    size, mode, mt, uid, gid, ino = [], [], [], [], [], []
    for d in dirs:
        for f in kids.get(d, ()):
            par.append(P[d])
            name.append(t.f_name[f])
            path.append(f"{P[d]}/{t.f_name[f]}")
            isd.append(False)
            size.append(t.f_size[f])
            mode.append(t.f_mode[f])
            mt.append(t.f_mtime[f])
            uid.append(t.f_uid[f])
            gid.append(t.f_gid[f])
            ino.append(t.f_inode[f])
        for c in sub.get(d, ()):
            par.append(P[d])
            name.append(os.path.basename(P[c]))
            path.append(P[c])
            isd.append(True)
            size.append(t.d_size[c])
            mode.append(t.d_mode[c])
            mt.append(t.d_mtime[c])
            uid.append(t.d_uid[c])
            gid.append(t.d_gid[c])
            ino.append(t.d_inode[c])
    n = len(par)
    pq.write_table(pa.table({
        "parent": par,
        "name": name,
        "path": path,
        "is_dir": pa.array(isd, pa.bool_()),
        "size": pa.array(size, pa.int64()),
        "blocks": pa.array([s // 512 for s in size], pa.int64()),
        "mode": pa.array(mode, pa.int64()),
        "mtime": _ts(mt),
        "uid": pa.array(uid, pa.int64()),
        "gid": pa.array(gid, pa.int64()),
        "device": pa.array([DEVICE] * n, pa.int64()),
        "inode": pa.array(ino, pa.int64()),
    }), os.path.join(out_dir, "entries.parquet"))


# --------------------------------------------------------------------------
# Churn
# --------------------------------------------------------------------------


@dataclass
class Churn:
    """What one churn round did, in directory ids (the merge oracle)."""

    changed: set
    added: set
    deleted: set


def churn(t: Tree, rng: np.random.Generator, frac: float, stamp: int,
          protect=()) -> Churn:
    """Mutate ``frac`` of the live directories of an on-disk tree and its
    model: in each, add a file,
    modify one and delete one.  Also delete one leaf directory and add one
    directory.  Every touched directory gets mtime ``stamp`` (the merge
    classifies it as changed); untouched directories keep theirs.
    ``protect``: directory ids never churned or deleted (the unreadable
    directory on disk)."""
    alive = [d for d in t.alive_dirs() if d not in protect]
    cand = [d for d in alive if d != 0]
    k = max(1, int(round(frac * len(alive))))
    picked = [int(x) for x in rng.choice(cand, size=min(k, len(cand)),
                                         replace=False)]
    by_dir = t.files_by_dir()
    inode_refs: dict[int, int] = {}
    for f, a in enumerate(t.f_alive):
        if a:
            inode_refs[t.f_inode[f]] = inode_refs.get(t.f_inode[f], 0) + 1
    changed: set = set()
    for d in picked:
        plain = [f for f in by_dir.get(d, ())
                 if t.f_link[f] is None and inode_refs[t.f_inode[f]] == 1]
        if plain:
            f = plain[int(rng.integers(0, len(plain)))]
            t.f_size[f] = int(rng.integers(0, 1 << 20))
            t.f_mtime[f] = stamp
            p = t.file_path(f)
            os.truncate(p, t.f_size[f])
            os.utime(p, (stamp, stamp))
            if len(plain) > 1:
                g = plain[(plain.index(f) + 1) % len(plain)]
                t.f_alive[g] = False
                os.unlink(t.file_path(g))
        f = t.add_file(d, f"n{stamp}_{d}.txt", int(rng.integers(0, 1 << 16)),
                       0o644, stamp, t.d_uid[d], t.d_gid[d])
        _touch(t, f)
        changed.add(d)

    # delete one leaf directory with its files (a leaf keeps the touched
    # set, and so the refold gate's churn fraction, predictable)
    parents = {t.d_parent[d] for d in alive if d}
    victims = [d for d in cand if d not in changed and d not in parents]
    deleted: set = set()
    if victims:
        v = int(victims[int(rng.integers(0, len(victims)))])
        deleted = {v}
        shutil.rmtree(t.d_path[v])
        t.d_alive[v] = False
        for f in by_dir.get(v, ()):
            t.f_alive[f] = False
        changed.add(t.d_parent[v])

    # add one directory with a few files
    live = [d for d in t.alive_dirs() if d not in protect]
    host = int(live[int(rng.integers(0, len(live)))])
    nd = t.add_dir(host, f"new{stamp}", stamp, t.d_uid[host], t.d_gid[host])
    os.mkdir(t.d_path[nd])
    for i in range(3):
        f = t.add_file(nd, f"a{i}.dat", int(rng.integers(0, 1 << 16)), 0o644,
                       stamp, t.d_uid[host], t.d_gid[host])
        _touch(t, f)
    changed.add(host)

    changed -= deleted
    for d in changed | {nd}:
        t.d_mtime[d] = stamp
        os.utime(t.d_path[d], (stamp, stamp))
    return Churn(changed=changed, added={nd}, deleted=deleted)


# --------------------------------------------------------------------------
# On-disk trees
# --------------------------------------------------------------------------


def _touch(t: Tree, f: int) -> None:
    p = t.file_path(f)
    with open(p, "wb") as fh:
        fh.truncate(t.f_size[f])
    os.chmod(p, t.f_mode[f] & 0o777)
    if os.geteuid() == 0:
        os.chown(p, t.f_uid[f], t.f_gid[f])
    os.utime(p, (t.f_mtime[f], t.f_mtime[f]))


def materialize(t: Tree) -> int:
    """Write the tree to disk and return the id of the directory made
    unreadable (chmod 000); its ``d_readable`` stays True when this
    process can still list it (root).  Model fields the filesystem decides (inodes, directory
    sizes, symlink modes) are not used by the on-disk oracles; owners
    fall back to the current user when ``chown`` is not permitted."""
    can_chown = os.geteuid() == 0
    if not can_chown:
        me, grp = os.getuid(), os.getgid()
        t.d_uid = [me] * len(t.d_uid)
        t.d_gid = [grp] * len(t.d_gid)
        t.f_uid = [me] * len(t.f_uid)
        t.f_gid = [grp] * len(t.f_gid)
    os.makedirs(t.root)
    for d in range(1, len(t.d_path)):
        os.mkdir(t.d_path[d])
    first_by_inode: dict[int, int] = {}
    for f in range(len(t.f_dir)):
        p = t.file_path(f)
        if t.f_link[f] is not None:
            os.symlink(t.f_link[f], p)
            if can_chown:
                os.lchown(p, t.f_uid[f], t.f_gid[f])
            os.utime(p, (t.f_mtime[f], t.f_mtime[f]), follow_symlinks=False)
            continue
        src = first_by_inode.get(t.f_inode[f])
        if src is not None:
            os.link(t.file_path(src), p)
        else:
            first_by_inode[t.f_inode[f]] = f
            _touch(t, f)
    # one directory nobody may read, holding two files
    locked = t.add_dir(0, "locked", BASE_MTIME, t.d_uid[0], t.d_gid[0])
    os.mkdir(t.d_path[locked])
    for i in range(2):
        _touch(t, t.add_file(locked, f"secret{i}.txt", 100, 0o600,
                             BASE_MTIME, t.d_uid[0], t.d_gid[0]))
    for d in reversed(range(len(t.d_path))):  # children before parents
        if can_chown:
            os.chown(t.d_path[d], t.d_uid[d], t.d_gid[d])
        os.utime(t.d_path[d], (t.d_mtime[d], t.d_mtime[d]))
    os.chmod(t.d_path[locked], 0)
    try:
        os.listdir(t.d_path[locked])
    except PermissionError:
        t.d_readable[locked] = False
    return locked


def make_unlocked(path: str) -> None:
    """Restore permissions under ``path`` so it can be removed."""
    for dp, dns, _ in os.walk(path):
        for dn in dns:
            try:
                os.chmod(os.path.join(dp, dn), 0o755)
            except OSError:
                pass
