"""The predicate expression language, compiled to Catalyst ``Column``s.

Re-implements, against DataFrame columns, the boolean expression language the
reference exposes on ``find``/``stats compute`` (reference: expression.go:
21–45 documents the grammar ``||  &&  !  ( )`` over ``operand=value`` terms;
the operand set is user, group, hardlink from internal/boolexpr/expression.go:
28–45 plus name, iname, re, type, newer, dir-larger, dir-smaller from the
public ``cloudeng.io/file/matcher`` module, with accessors plumbed in
boolexpr/expression.go:204–240).

Design: this is the engine's only hand-written "planner" front-end.  Each
term compiles to a **native Column expression** — never a Python UDF — so the
whole predicate stays inside Catalyst and is pushed down to the Parquet scan
(SURVEY.md §4: the predicate path must be Catalyst-visible).

Two evaluation granularities mirror ``Matcher.Prefix`` / ``Matcher.Entry``
(boolexpr/expression.go:154–196): ``mode="prefix"`` binds against a
``prefixes`` row (directory), ``mode="entry"`` binds against an ``entries``
row (file or subdir).  An empty expression compiles to a configurable
constant (``WithEmptyEntryValue`` parity).

Values containing spaces or metacharacters can be single- or double-quoted:
``re='\\.(log|txt)$'``.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from dudb_spark.model import (
    MODE_DIR,
    MODE_EXEC_ANY,
    MODE_SYMLINK,
    S_IFLNK,
    S_IFMT,
)

# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = _re.compile(
    r"""\s*(?:
        (?P<lpar>\()
      | (?P<rpar>\))
      | (?P<or>\|\|)
      | (?P<and>&&)
      | (?P<not>!)
      | (?P<term>[A-Za-z][A-Za-z0-9_-]*=(?:'[^']*'|"[^"]*"|[^\s()!&|]*))
    )""",
    _re.VERBOSE,
)


def _tokenize(expr: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if not m or m.end() == pos:
            rest = expr[pos:].strip()
            if not rest:
                break
            raise ValueError(f"syntax error in expression at: {rest!r}")
        pos = m.end()
        kind = m.lastgroup
        tokens.append((kind, m.group(kind)))
    return tokens


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------


@dataclass
class Term:
    operand: str
    value: str


@dataclass
class Not:
    child: object


@dataclass
class And:
    left: object
    right: object


@dataclass
class Or:
    left: object
    right: object


def parse(expr: str):
    """Parse an expression string into an AST (None for empty input)."""
    tokens = _tokenize(expr)
    if not tokens:
        return None
    pos = 0

    def peek():
        return tokens[pos] if pos < len(tokens) else (None, None)

    def take(kind):
        nonlocal pos
        k, v = peek()
        if k != kind:
            raise ValueError(f"expected {kind}, got {v!r}")
        pos += 1
        return v

    def parse_or():
        node = parse_and()
        while peek()[0] == "or":
            take("or")
            node = Or(node, parse_and())
        return node

    def parse_and():
        node = parse_unary()
        while peek()[0] == "and":
            take("and")
            node = And(node, parse_unary())
        return node

    def parse_unary():
        k, v = peek()
        if k == "not":
            take("not")
            return Not(parse_unary())
        if k == "lpar":
            take("lpar")
            node = parse_or()
            take("rpar")
            return node
        if k == "term":
            take("term")
            operand, _, value = v.partition("=")
            if len(value) >= 2 and value[0] in "'\"" and value[-1] == value[0]:
                value = value[1:-1]
            return Term(operand, value)
        if k is None:
            raise ValueError("unexpected end of expression")
        raise ValueError(f"unexpected token {v!r}")

    node = parse_or()
    if pos != len(tokens):
        raise ValueError(f"trailing tokens: {tokens[pos:]}")
    return node


# --------------------------------------------------------------------------
# Glob → Java-regex translation with Go path.Match semantics (what the
# reference's matcher library implements; documented at pkg.go.dev/path
# #Match): * and ? do not cross path separators, '[^...]' is a NEGATED
# class (caret, not fnmatch's bang — a leading '!' is an ordinary member),
# ']' first in a class is a member, '\x' escapes x everywhere, and
# malformed patterns (unterminated class, empty class, bare '-' range
# endpoint, reversed range, trailing backslash) are ErrBadPattern —
# surfaced here as ValueError at expression-compile time rather than a
# silent never-match.
# --------------------------------------------------------------------------

_GLOB_SPECIAL = ".^$+{}()|\\[]"
_ESCAPED_SPECIAL = _GLOB_SPECIAL + "*?"  # '\x' can escape glob metachars too
_CLASS_SPECIAL = "\\^]-[&"


class BadGlob(ValueError):
    pass


def _class_esc(c: str) -> str:
    return "\\" + c if c in _CLASS_SPECIAL else c


def _class_member(glob: str, j: int, esc_ok: bool = True) -> tuple[str, int]:
    """One range endpoint at ``glob[j]``: '\\x' escapes (unless escaping is
    disabled for a backslash separator); bare '-' or ']' is ErrBadPattern
    (Go getEsc)."""
    if j >= len(glob) or glob[j] in "-]":
        raise BadGlob(f"bad glob pattern {glob!r}")
    if glob[j] == "\\" and esc_ok:
        j += 1
        if j >= len(glob):
            raise BadGlob(f"bad glob pattern {glob!r}")
    return glob[j], j + 1


def glob_to_regex(glob: str, separator: str = "/") -> str:
    """Translate to a Java regex.  ``separator`` is the configured path
    separator (reference config.go:22 ``separator:``, default '/'); when it
    is a backslash (Windows trees) the escape syntax is disabled and '\\'
    is an ordinary separator character, exactly as Go's matcher does on
    Windows."""
    not_sep = "[^" + _class_esc(separator) + "]"
    out = []
    i = 0
    while i < len(glob):
        c = glob[i]
        if c == "*":
            out.append(not_sep + "*")
            i += 1
        elif c == "?":
            out.append(not_sep)
            i += 1
        elif c == "\\" and separator != "\\":
            if i + 1 >= len(glob):
                raise BadGlob(f"bad glob pattern {glob!r}")
            nxt = glob[i + 1]
            out.append("\\" + nxt if nxt in _ESCAPED_SPECIAL else nxt)
            i += 2
        elif c == "[":
            j = i + 1
            negated = j < len(glob) and glob[j] == "^"
            if negated:
                j += 1
            members = []
            closed = False
            while j < len(glob):
                # ']' closes a non-empty class; with no members yet it
                # falls through to _class_member, which rejects it — the
                # Go matcher's ErrBadPattern for '[]...' and '[^]...'
                if glob[j] == "]" and members:
                    closed = True
                    j += 1
                    break
                lo, j = _class_member(glob, j, esc_ok=separator != "\\")
                if j < len(glob) and glob[j] == "-":
                    hi, j = _class_member(glob, j + 1, esc_ok=separator != "\\")
                    if hi < lo:
                        raise BadGlob(f"bad glob pattern {glob!r}")
                    members.append(_class_esc(lo) + "-" + _class_esc(hi))
                else:
                    members.append(_class_esc(lo))
            if not closed:
                raise BadGlob(f"bad glob pattern {glob!r}")
            neg = "^" if negated else ""
            out.append("[" + neg + "".join(members) + "]")
            i = j
        elif c in _GLOB_SPECIAL:
            out.append("\\" + c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "^" + "".join(out) + "$"


def _parse_time(value: str) -> datetime:
    """RFC3339 / date-only parsing for ``newer=`` (reference util.go:20–43)."""
    for fmt in (
        "%Y-%m-%dT%H:%M:%S%z",
        "%Y-%m-%dT%H:%M:%S",
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%d",
    ):
        try:
            dt = datetime.strptime(value, fmt)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return dt
        except ValueError:
            continue
    raise ValueError(f"cannot parse time {value!r}")


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------

# Resolvers let the CLI layer plug in OS-specific lookups, mirroring the
# reference's parser options (user/group name→id via the OS user db,
# expression.go:28–41; hardlink= stats the argument once on the driver,
# hardlinks_op.go:38–48).
UserResolver = Callable[[str], int]
HardlinkResolver = Callable[[str], tuple[int, int]]


def _default_id_resolver(value: str) -> int:
    try:
        return int(value)
    except ValueError:
        raise ValueError(
            f"cannot resolve {value!r}: provide a numeric id or pass a resolver"
        ) from None


class ExprCompiler:
    """Compiles parsed expressions into ``Column`` predicates.

    ``mode="prefix"``: binds path/size/mtime/uid/gid/... of a directory row;
    ``name`` means the basename of ``path``; ``is_dir`` is always true;
    ``dir-larger/dir-smaller`` test ``n_entries``.

    ``mode="entry"``: binds an entries row; ``dir-larger/dir-smaller`` are
    unsupported at this granularity (the reference plumbs NumEntries only for
    prefix evaluation, boolexpr/expression.go:238–240) and evaluate false.
    """

    def __init__(
        self,
        mode: str = "entry",
        user_resolver: UserResolver | None = None,
        group_resolver: UserResolver | None = None,
        hardlink_resolver: HardlinkResolver | None = None,
        separator: str = "/",
    ):
        if mode not in ("prefix", "entry"):
            raise ValueError(mode)
        self.mode = mode
        self.user_resolver = user_resolver or _default_id_resolver
        self.group_resolver = group_resolver or _default_id_resolver
        self.hardlink_resolver = hardlink_resolver
        # reference config.go:22: per-prefix path separator ('\' for
        # Windows trees); affects basename extraction and glob compilation
        self.separator = separator

    # column bindings ---------------------------------------------------

    def _name(self) -> Column:
        if self.mode == "entry":
            return F.col("name")
        return F.element_at(
            F.split(F.col("path"), _re.escape(self.separator)), -1
        )

    def _is_dir(self) -> Column:
        if self.mode == "entry":
            return F.col("is_dir")
        return F.lit(True)

    @staticmethod
    def _is_symlink() -> Column:
        """Symlink test over either stored ``mode`` encoding: Go's
        fs.ModeSymlink bit, or a POSIX ``st_mode`` (the local crawler's)
        whose type field is S_IFLNK."""
        mode = F.col("mode")
        return (mode.bitwiseAND(F.lit(MODE_SYMLINK)) != 0) | (
            mode.bitwiseAND(F.lit(S_IFMT)) == F.lit(S_IFLNK)
        )

    # term compilation --------------------------------------------------

    def term(self, t: Term) -> Column:
        op, v = t.operand, t.value
        if op == "user":
            return F.col("uid") == F.lit(self.user_resolver(v))
        if op == "group":
            return F.col("gid") == F.lit(self.group_resolver(v))
        if op == "name":
            rx = glob_to_regex(v, self.separator)
            # matcher semantics: glob applies to basename OR the full path
            return self._name().rlike(rx) | F.col("path").rlike(rx)
        if op == "iname":
            rx = glob_to_regex(v.lower(), self.separator)
            return F.lower(self._name()).rlike(rx) | F.lower(F.col("path")).rlike(rx)
        if op == "re":
            return F.col("path").rlike(v)
        if op == "type":
            if v == "d":
                return self._is_dir()
            if v == "l":
                return self._is_symlink()
            if v == "f":
                return (
                    (~self._is_dir()) & ~self._is_symlink()
                    if self.mode == "entry"
                    else F.lit(False)
                )
            if v == "x":
                return F.col("mode").bitwiseAND(F.lit(MODE_EXEC_ANY)) != 0
            raise ValueError(f"type={v!r}: expected f|d|l|x")
        if op == "newer":
            return F.col("mtime") > F.lit(_parse_time(v))
        if op == "dir-larger":
            if self.mode != "prefix":
                return F.lit(False)
            return F.col("n_entries") > F.lit(int(v))
        if op == "dir-smaller":
            if self.mode != "prefix":
                return F.lit(False)
            return F.col("n_entries") < F.lit(int(v))
        if op == "hardlink":
            if self.hardlink_resolver is None:
                raise ValueError("hardlink= requires a hardlink_resolver")
            dev, ino = self.hardlink_resolver(v)
            return (F.col("device") == F.lit(dev)) & (F.col("inode") == F.lit(ino))
        raise ValueError(f"unknown operand {op!r}")

    def compile(self, node) -> Column:
        if isinstance(node, Term):
            return self.term(node)
        if isinstance(node, Not):
            return ~self.compile(node.child)
        if isinstance(node, And):
            return self.compile(node.left) & self.compile(node.right)
        if isinstance(node, Or):
            return self.compile(node.left) | self.compile(node.right)
        raise TypeError(f"bad AST node: {node!r}")


def compile_expr(
    expr: str,
    mode: str = "entry",
    empty_value: bool = True,
    user_resolver: UserResolver | None = None,
    group_resolver: UserResolver | None = None,
    hardlink_resolver: HardlinkResolver | None = None,
    separator: str = "/",
) -> Column:
    """Parse + compile an expression to a single ``Column`` predicate.

    Empty/whitespace expressions compile to ``lit(empty_value)``, mirroring
    ``WithEmptyEntryValue`` (boolexpr/expression.go:69–77; find uses true,
    find.go:60).
    """
    node = parse(expr or "")
    if node is None:
        return F.lit(bool(empty_value))
    return ExprCompiler(
        mode,
        user_resolver=user_resolver,
        group_resolver=group_resolver,
        hardlink_resolver=hardlink_resolver,
        separator=separator,
    ).compile(node)
