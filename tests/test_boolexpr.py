"""Expression-language tests, modelled on the reference's predicate tests
(internal/boolexpr/ops_test.go:33–103) plus parser edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dudb_spark.functions.boolexpr import compile_expr, glob_to_regex, parse
from dudb_spark.model import FsTables


def paths(df):
    return [r.path for r in df.collect()]


def test_parse_shapes():
    assert parse("") is None
    assert parse("   ") is None
    node = parse("user=100 && (group=2 || group=3)")
    # structural smoke: And(Term, Or(Term, Term))
    assert type(node).__name__ == "And"
    assert type(node.right).__name__ == "Or"


def test_parse_errors():
    for bad in ("user=1 &&", "(user=1", "user=1 group=2", "&& user=1"):
        with pytest.raises(ValueError):
            parse(bad)


def test_glob_translation():
    assert glob_to_regex("*.log") == "^[^/]*\\.log$"
    assert glob_to_regex("f?-1") == "^f[^/]-1$"
    assert glob_to_regex("[ab]c") == "^[ab]c$"
    # Go matcher semantics: '^' negates, '!' is an ordinary member
    assert glob_to_regex("[^ab]c") == "^[^ab]c$"
    assert glob_to_regex("[!ab]c") == "^[!ab]c$"
    assert glob_to_regex(r"\*x") == "^\\*x$"
    # ErrBadPattern parity: malformed classes fail at compile time
    for bad in ("[", "[]", "[^]", "[]a]", "[a-]", "[-a]", "[z-a]", "a\\"):
        with pytest.raises(ValueError):
            glob_to_regex(bad)


def test_windows_separator(spark):
    """config.go:22 separator parity: with separator='\\' the glob
    metachars stop crossing backslashes, basename splits on '\\', and
    escape syntax is disabled (Go matcher on Windows)."""
    rx = glob_to_regex("*.log", separator="\\")
    assert rx == "^[^\\\\]*\\.log$"
    df = spark.createDataFrame(
        [(r"C:\tree\a.log",), (r"C:\tree\sub\b.log",), (r"C:\tree\c.txt",)],
        ["path"],
    )
    pred = compile_expr("name='*.log'", mode="prefix", separator="\\")
    assert paths(df.where(pred)) == [r"C:\tree\a.log", r"C:\tree\sub\b.log"]
    # name= matches the basename: '\' never crosses into parent dirs
    pred = compile_expr("name='a.*'", mode="prefix", separator="\\")
    assert paths(df.where(pred)) == [r"C:\tree\a.log"]
    # escape disabled: '\t' in the pattern is separator + literal 't'
    pred = compile_expr(r"name='C:\tree\*'", mode="prefix", separator="\\")
    assert len(paths(df.where(pred))) == 2  # a.log, c.txt (not sub\b.log)


def test_entry_predicates(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    ent = t.entries

    # user= / group= equality (ops_test.go:33–63)
    got = ent.where(compile_expr("user=101", "entry")).select("uid").distinct().collect()
    assert [r.uid for r in got] == [101]

    # name= glob on basename
    sel = ent.where(compile_expr("name=f0-*", "entry"))
    assert set(r.name for r in sel.collect()) == {"f0-0", "f0-1", "f0-2"}

    # iname= case-insensitive
    sel = ent.where(compile_expr("iname=F0-0", "entry"))
    assert set(r.name for r in sel.collect()) == {"f0-0"}

    # re= over full path
    sel = ent.where(compile_expr("re=d0-1/f1-0$", "entry"))
    assert paths(sel) == ["/tree/d0-1/f1-0"]

    # type=d / type=f / type=l
    n_dirs = ent.where(compile_expr("type=d", "entry")).count()
    assert n_dirs == ent.where("is_dir").count()
    n_links = ent.where(compile_expr("type=l", "entry")).count()
    assert n_links == 2 * 3  # 2 symlinks per non-leaf dir, 3 non-leaf dirs
    n_files = ent.where(compile_expr("type=f", "entry")).count()
    assert n_files == ent.count() - n_dirs - n_links

    # newer=
    sel = ent.where(compile_expr("newer=2025-01-01T01:00:00Z", "entry"))
    assert sel.count() == ent.where(F.col("mtime") > "2025-01-01 01:00:00").count()

    # boolean combinators
    combo = compile_expr("(user=100 || user=101) && type=f && !name=f0-0", "entry")
    sel = ent.where(combo)
    assert "f0-0" not in {r.name for r in sel.collect()}


def test_prefix_predicates(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    pfx = t.prefixes

    # dir-larger / dir-smaller use n_entries (boolexpr/expression.go:238–240)
    big = pfx.where(compile_expr("dir-larger=3", "prefix"))
    assert set(r.path for r in big.collect()) == {
        r.path for r in pfx.where("n_entries > 3").collect()
    }
    # name= binds to the basename of path in prefix mode
    sel = pfx.where(compile_expr("name=d0-*", "prefix"))
    assert set(r.path for r in sel.collect()) == {"/tree/d0-0", "/tree/d0-1"}


def test_hardlink_operand(spark, fs_dir, tree):
    t = FsTables(spark, fs_dir)
    by_path = {r["path"]: r for r in tree.entry_rows}

    def resolver(p):
        r = by_path[p]
        return r["device"], r["inode"]

    sel = t.entries.where(
        compile_expr("hardlink=/tree/f0-2", "entry", hardlink_resolver=resolver)
    )
    assert sorted(paths(sel)) == [
        "/tree/d0-0/f1-2",
        "/tree/d0-1/f1-2",
        "/tree/f0-2",
    ]


def test_empty_expression_defaults(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    assert t.entries.where(compile_expr("", "entry", empty_value=True)).count() == (
        t.entries.count()
    )
    assert t.entries.where(compile_expr("", "entry", empty_value=False)).count() == 0


def test_type_operand_on_crawled_tree(spark, tmp_path):
    """``crawl_local`` stores POSIX ``st_mode`` where the model's
    fixtures use Go FileMode bits; ``type=l``/``type=f`` read both."""
    import os

    from dudb_spark.model import ENTRIES_SCHEMA, PREFIXES_SCHEMA
    from dudb_spark.operators.find import find
    from dudb_spark.sources.crawler import crawl_local

    root = tmp_path / "tree"
    (root / "d").mkdir(parents=True)
    (root / "f.txt").write_text("x")
    os.symlink("f.txt", root / "link")
    os.symlink("d", root / "dlink")
    prows, erows, _ = crawl_local(str(root))
    p = spark.createDataFrame(prows, PREFIXES_SCHEMA)
    e = spark.createDataFrame(erows, ENTRIES_SCHEMA)

    def names(expr):
        return sorted(os.path.basename(r.path) for r in
                      find(p, e, root=str(root), expr=expr).collect())

    assert names("type=l") == ["dlink", "link"]
    assert names("type=f") == ["f.txt"]
    assert names("!type=l && !type=d") == ["f.txt"]
