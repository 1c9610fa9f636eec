"""The SQL lexer and what the router builds on it.

Property tests pin the one quote/comment scanner in ``sqlparse`` (the
mask, top-level scanning, script splitting, the bracket matcher and the
masked-splice primitive) against naive references kept here.  The
engine tests pin that comments never reach a statement parser and that
DML fragments see the same expression dialect as SELECT.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pg_mooncake_spark.engine import MooncakeEngine
from pg_mooncake_spark.sqlparse import (
    _mask_quoted,
    _match_bracket,
    _scan_top,
    _split_statements,
    _strip_comments,
    _sub_masked,
)

# ------------------------------------------------------ naive references


def _ref_classes(s: str) -> list[str]:
    """Per-character class of ``s`` from a char-by-char state machine:
    ``code``, ``delim`` (a quote's own delimiters), ``quoted`` or
    ``comment``."""
    cls = ["code"] * len(s)
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            cls[i] = "delim"
            j = i + 1
            while j < n:
                if s[j] == "\\":
                    for k in range(j, min(j + 2, n)):
                        cls[k] = "quoted"
                    j += 2
                elif s[j] == c and j + 1 < n and s[j + 1] == c:
                    cls[j] = cls[j + 1] = "quoted"
                    j += 2
                elif s[j] == c:
                    cls[j] = "delim"
                    break
                else:
                    cls[j] = "quoted"
                    j += 1
            i = j + 1
        elif s.startswith("--", i):
            j = s.find("\n", i)
            j = n if j < 0 else j
            for k in range(i, j):
                cls[k] = "comment"
            i = j
        elif s.startswith("/*", i) and not s.startswith("/*+", i):
            depth, j = 0, i
            while j < n:
                if s.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif s.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                    if depth == 0:
                        break
                else:
                    j += 1
            for k in range(i, min(j, n)):
                cls[k] = "comment"
            i = j
        else:
            i += 1
    return cls


def _ref_pairs(s: str, opener: str, closer: str) -> dict[int, int]:
    """Matching bracket positions (both directions) by a stack scan."""
    pairs, stack = {}, []
    for i, c in enumerate(s):
        if c == opener:
            stack.append(i)
        elif c == closer and stack:
            j = stack.pop()
            pairs[i], pairs[j] = j, i
    return pairs


_PIECES = ["'", '"', "\\", "--", "/*", "*/", "/*+", "\n", ";", "(", ")",
           "a", "b", " ", "*", "/", "-"]
sql_text = st.lists(st.sampled_from(_PIECES), max_size=40).map("".join)


# ------------------------------------------------------ lexer properties


@settings(max_examples=400, deadline=None)
@given(sql_text)
def test_mask_matches_reference_lexer(s):
    cls = _ref_classes(s)
    m = _mask_quoted(s)
    assert len(m) == len(s)
    want = "".join(
        c if k in ("code", "delim") else " " for c, k in zip(s, cls)
    )
    assert m == want
    # every code character survives the mask
    assert all(m[i] == s[i] for i, k in enumerate(cls) if k == "code")


@settings(max_examples=400, deadline=None)
@given(sql_text)
def test_scan_top_yields_code_at_depth_zero(s):
    cls = _ref_classes(s)
    want, depth = [], 0
    for i, (c, k) in enumerate(zip(s, cls)):
        if k != "code":
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            want.append((i, c))
    assert list(_scan_top(s)) == want


_word = st.sampled_from(["a", "b", "(", ")", "()", "/*+ h */", "-"])
_quoted = st.text(alphabet="ab;-/*\n \\", max_size=6).map(
    lambda t: "'" + t.replace("\\", "\\\\").replace("'", "''") + "'"
)
_block = st.text(alphabet="ab;-'\" \n", max_size=6).map(
    lambda t: f"/*{t}*/"
)
_line = st.text(alphabet="ab;'\"/* ", max_size=6).map(
    lambda t: f"--{t}\n"
)
# a statement: tokens that each close their own quote or comment, and
# no ';' outside a literal or comment
_statement = st.lists(
    st.one_of(_word, _quoted, _block, _line), max_size=6
).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_statement, max_size=5))
def test_split_statements_round_trips(stmts):
    want = [_strip_comments(t).strip() for t in stmts]
    assert _split_statements(";".join(stmts)) == [t for t in want if t]


def test_split_statements_keeps_hints():
    assert _split_statements(
        "SELECT /*+ BROADCAST(t) */ id FROM t; SELECT 1"
    ) == ["SELECT /*+ BROADCAST(t) */ id FROM t", "SELECT 1"]
    assert _split_statements(
        "-- header; not a statement\nSELECT 'a;b' /* c; */ AS x;"
    ) == ["SELECT 'a;b'   AS x"]


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from("()[]ab"), max_size=30).map("".join))
def test_match_bracket_agrees_with_stack_reference(s):
    pairs = {
        **_ref_pairs(s, "(", ")"),
        **_ref_pairs(s, "[", "]"),
    }
    for i, c in enumerate(s):
        if c in "()[]":
            assert _match_bracket(s, i) == pairs.get(i, -1), (s, i)


@settings(max_examples=400, deadline=None)
@given(sql_text)
def test_sub_masked_never_edits_literals_or_comments(s):
    cls = _ref_classes(s)
    out = _sub_masked(r"b", lambda m: "Z" if m.start() % 2 else None, s)
    assert len(out) == len(s)
    for i, (c, k) in enumerate(zip(s, cls)):
        if k != "code" or c != "b":
            assert out[i] == c
        else:
            assert out[i] == ("Z" if i % 2 else "b")
    assert _sub_masked(r"b", "Y", s).count("Y") == sum(
        1 for c, k in zip(s, cls) if k == "code" and c == "b"
    )


# ----------------------------------------------- comments never reach SQL


@pytest.fixture()
def eng(spark, warehouse):
    e = MooncakeEngine(spark, warehouse)
    e.sql("CREATE TABLE t (id int PRIMARY KEY, s text)")
    e.sql(
        "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), "
        "(9, 'z')"
    )
    return e


def _rows(eng) -> dict[int, str]:
    return {r.id: r.s for r in eng.sql("SELECT id, s FROM t").collect()}


class TestComments:
    def test_leading_block_comment_on_delete(self, eng):
        eng.sql("/* purge */ DELETE FROM t WHERE id = 9")
        assert 9 not in _rows(eng)

    def test_line_comment_inside_delete(self, eng):
        eng.sql("DELETE FROM t -- drop it\n WHERE id = 3")
        assert sorted(_rows(eng)) == [1, 2, 4, 9]

    def test_block_comment_inside_update(self, eng):
        eng.sql("UPDATE t /* fix */ SET s = 'q' WHERE id = 1")
        assert _rows(eng)[1] == "q"

    def test_apostrophe_in_comment_does_not_mask_the_rest(self, eng):
        got = eng.sql(
            "SELECT id -- it's the key\n FROM t WHERE s::text = 'b'"
        ).collect()
        assert [r.id for r in got] == [2]

    def test_marker_in_comment_is_not_a_parameter(self, eng):
        got = eng.sql(
            "SELECT id FROM t WHERE id = $1 -- not $2", params=[2]
        ).collect()
        assert [r.id for r in got] == [2]


class TestDmlDialect:
    """DML fragments run the same expression pipeline as SELECT."""

    def test_inert_collate_in_update_where(self, eng):
        eng.sql("UPDATE t SET s = 'y' WHERE s COLLATE \"C\" = 'b'")
        assert _rows(eng)[2] == "y"

    def test_operator_call_in_delete_where(self, eng):
        eng.sql("DELETE FROM t WHERE s OPERATOR(pg_catalog.~) '^c'")
        assert 3 not in _rows(eng)

    def test_current_user_in_update_set(self, eng):
        eng.sql("UPDATE t SET s = current_user WHERE id = 4")
        assert _rows(eng)[4] == "mooncake"
        assert eng.sql("SELECT current_user AS u").collect()[0].u == "mooncake"
