"""Pure SQL-text utilities shared by the statement router and the
lifecycle engine: the SQL lexer (one quote/comment scanner, see
``_lex``) and what derives from it — the quote mask, comment
stripping, statement splitting, top-level keyword/comma scanning, the
masked-splice primitive ``_sub_masked`` and the bracket matcher —
plus Postgres ``$n`` parameter binding, literal rendering,
identifier-aware rewrites, column-constraint parsing, Postgres→Spark
type mapping, and the statement-kind regexes.

Everything here is stateless string/AST work — no SparkSession, no
catalog, no I/O — split out of engine.py in round 13 so the statement
router (sql_router.py) and the lifecycle engine (engine.py) both build
on one parsing layer without importing each other.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from pyspark.sql import types as T

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")

_COL_CONSTRAINT_KWS = (
    "PRIMARY", "NOT", "NULL", "DEFAULT", "CHECK", "UNIQUE",
    "REFERENCES", "CONSTRAINT", "GENERATED",
)

# Postgres type spellings → Spark DDL strings (anything unlisted falls
# through to Spark's own DDL parser, so 'string'/'array<int>' also work)
_PG_TYPES = {
    "int": "int", "integer": "int", "int4": "int",
    "bigint": "long", "int8": "long",
    "smallint": "short", "int2": "short",
    "text": "string", "varchar": "string", "char": "string",
    "character varying": "string", "character": "string",
    "real": "float", "float4": "float",
    "double precision": "double", "float8": "double",
    "boolean": "boolean", "bool": "boolean",
    "bytea": "binary",
    "date": "date",
    "timestamp": "timestamp", "timestamptz": "timestamp",
    "timestamp with time zone": "timestamp",
    "timestamp without time zone": "timestamp",
}

_DML_KIND = re.compile(r"^\s*(INSERT|UPDATE|DELETE|MERGE)\b", re.I)
# TABLE statements only: CREATE/DROP VIEW, CREATE FUNCTION etc. fall
# through to spark.sql untouched
_DDL_KIND = re.compile(
    r"^\s*(CREATE)\s+TABLE\b|^\s*(DROP)\s+TABLE\b"
    r"|^\s*(TRUNCATE)\b|^\s*(ALTER)\s+TABLE\b",
    re.I,
)
_CALL_KIND = re.compile(r"^\s*CALL\s+mooncake\.(\w+)\s*\((.*)\)\s*;?\s*$", re.I | re.S)
_TXN_KIND = re.compile(
    r"^\s*(BEGIN|START|COMMIT|END|ROLLBACK|ABORT|SAVEPOINT|RELEASE)\b", re.I
)
_COPY_KIND = re.compile(r"^\s*COPY\b", re.I)
_EXPLAIN_KIND = re.compile(r"^\s*EXPLAIN\b", re.I)
_PREPARE_KIND = re.compile(
    # the type list may itself contain parens (numeric(10,2))
    r"^\s*PREPARE\s+(\w+)\s*(?:\(((?:[^()]|\([^()]*\))*)\))?\s+AS\s+(.*?);?\s*$",
    re.I | re.S,
)
_EXECUTE_KIND = re.compile(
    r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$", re.I | re.S
)
_DEALLOCATE_KIND = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+|ALL)\s*;?\s*$", re.I
)
_SHOW_TABLES_KIND = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.I)
_SET_KIND = re.compile(
    r"^\s*SET\s+(?:(SESSION|LOCAL)\s+)?"
    r"(?:(TIME\s+ZONE)\s+(.+?)|([A-Za-z_][\w.]*)\s*(?:TO|=)\s*(.+?))"
    r"\s*;?\s*$",
    re.I | re.S,
)
_RESET_KIND = re.compile(
    r"^\s*RESET\s+(ALL|TIME\s+ZONE|[A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_SHOW_GUC_KIND = re.compile(
    r"^\s*SHOW\s+(ALL|TIME\s+ZONE|[A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
# Spark's own multi-word SHOW spellings must keep passing through to
# spark.sql untouched (SHOW DATABASES / VIEWS / PARTITIONS t ...)
_SHOW_SPARK_WORDS = frozenset(
    "DATABASES SCHEMAS VIEWS FUNCTIONS PARTITIONS COLUMNS TBLPROPERTIES "
    "CREATE CATALOGS NAMESPACES TABLES TABLE".split()
)
_DESCRIBE_KIND = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w\".]+)\s*;?\s*$", re.I
)
# a table identifier as it appears in a statement: bare/qualified name or
# a double-quoted (possibly schema-qualified) identifier
_SQL_TABLE = r'((?:"[^"]*"|[A-Za-z_]\w*)(?:\.(?:"[^"]*"|[A-Za-z_]\w*))?)'


# The SQL lexer: one state machine classifies text into code, quoted
# and comment spans.  Quotes are '...' and "..." with doubled-quote and
# backslash escapes (Spark's default string escaping); comments are
# ``--`` to end of line and (nested) ``/* */`` blocks.  A Spark hint
# ``/*+ ... */`` is code.  Every quote- or comment-aware helper below
# derives from these spans.
_LEX_OPEN = re.compile(r"['\"]|--|/\*(?!\+)")
_QUOTE_REST = {
    q: re.compile(rf"(?:[^{q}\\]+|\\.|{q}{q})*({q})?", re.S)
    for q in ("'", '"')
}
_BLOCK_MARK = re.compile(r"/\*|\*/")


def _lex(s: str) -> list[tuple[int, int, str]]:
    """The non-code spans of ``s`` as (start, end, kind), in order:
    kind is ``quote`` (delimiters included), ``unterminated`` (a quote
    running to the end of ``s``) or ``comment``."""
    spans: list[tuple[int, int, str]] = []
    i, n = 0, len(s)
    while True:
        m = _LEX_OPEN.search(s, i)
        if m is None:
            return spans
        a, tok = m.start(), m.group()
        if tok == "--":
            e = s.find("\n", a)
            spans.append((a, n if e < 0 else e, "comment"))
        elif tok == "/*":
            depth, e = 0, n
            for b in _BLOCK_MARK.finditer(s, a):
                depth += 1 if b.group() == "/*" else -1
                if depth == 0:
                    e = b.end()
                    break
            spans.append((a, e, "comment"))
        elif (qm := _QUOTE_REST[tok].match(s, a + 1)).group(1):
            spans.append((a, qm.end(), "quote"))
        else:
            spans.append((a, n, "unterminated"))
        i = spans[-1][1]


def _mask_quoted(s: str) -> str:
    """Return ``s`` with every character inside a quoted region blanked
    to a space (the quote delimiters stay) and every comment blanked
    whole — so positional regex scans (``$n`` parameter markers,
    identifier rewrites) run on the mask and never match inside a
    literal or comment, while spans map 1:1 back to ``s``."""
    out, prev = [], 0
    for a, e, kind in _lex(s):
        start = a if kind == "comment" else a + 1
        stop = e - 1 if kind == "quote" else e
        out.append(s[prev:start])
        out.append(" " * (stop - start))
        prev = stop
    out.append(s[prev:])
    return "".join(out)


def _strip_comments(s: str) -> str:
    """``s`` with each comment replaced by one space (hints stay)."""
    if "--" not in s and "/*" not in s:
        return s
    return _splice(
        s, [(a, e, " ") for a, e, kind in _lex(s) if kind == "comment"]
    )


def _splice(text: str, edits) -> str:
    """Apply (start, end, replacement) edits, sorted by start, to
    ``text``; an edit overlapping an earlier one is dropped."""
    out, prev = [], 0
    for s0, e0, rep in edits:
        if s0 < prev:
            continue
        out.append(text[prev:s0])
        out.append(rep)
        prev = e0
    if not out:
        return text
    out.append(text[prev:])
    return "".join(out)


def _sub_masked(pattern, repl, text: str) -> str:
    """Case-insensitive ``re.sub`` over the quote/comment mask of
    ``text``, spliced into the original — a literal's or comment's
    contents are never edited.  ``repl`` is a string or ``match -> str
    | None`` (None keeps the span); the match is over the mask, so
    groups inside quotes read from ``text`` by position."""
    edits = []
    for m in re.finditer(pattern, _mask_quoted(text), re.I):
        rep = repl(m) if callable(repl) else repl
        if rep is not None:
            edits.append((m.start(), m.end(), rep))
    return _splice(text, edits)


def _match_bracket(masked: str, i: int) -> int:
    """Index of the bracket matching ``masked[i]`` — forward from an
    opening ``(``/``[``, backward from a closing ``)``/``]`` — or -1
    when unbalanced.  ``masked`` is quote-masked text, so brackets in
    literals never count."""
    c = masked[i]
    pair = {"(": ")", "[": "]", ")": "(", "]": "["}[c]
    step = 1 if c in "([" else -1
    depth, n = 0, len(masked)
    while 0 <= i < n:
        ch = masked[i]
        if ch == c:
            depth += 1
        elif ch == pair:
            depth -= 1
            if depth == 0:
                return i
        i += step
    return -1


def _split_statements(s: str) -> list[str]:
    """Split a script on ``;`` outside quotes, after stripping its
    comments (hints stay); blank statements are dropped."""
    s = _strip_comments(s)
    cuts = [m.start() for m in re.finditer(";", _mask_quoted(s))]
    return [t for t in _split_at(s, cuts) if t]


def _split_at(s: str, cuts: list[int]) -> list[str]:
    """The stripped pieces of ``s`` between the ``cuts`` positions."""
    parts, prev = [], 0
    for i in cuts:
        parts.append(s[prev:i].strip())
        prev = i + 1
    parts.append(s[prev:].strip())
    return parts


def _render_literal(v: Any) -> str:
    """Render a Python value as a Spark SQL literal — the engine's bind
    step for ``$n`` parameters (Postgres's extended-protocol bind,
    reference users drive it through every client library).  Values
    only, never identifiers — exactly Postgres's parameter contract."""
    import datetime as _dt
    import math as _math
    from decimal import Decimal as _Dec

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if _math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if _math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, _Dec):
        return f"CAST('{v}' AS DECIMAL(38,18))"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            # dropping the offset would rebind the instant in the session
            # timezone; normalize to UTC and SAY so in the literal (Spark
            # timestamp literals accept a trailing zone id)
            v = v.astimezone(_dt.timezone.utc)
            return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')} UTC'"
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, (list, tuple)):
        return f"array({', '.join(_render_literal(x) for x in v)})"
    if isinstance(v, str):
        body = v.replace("\\", "\\\\").replace("'", "''")
        return f"'{body}'"
    raise TypeError(f"cannot bind a {type(v).__name__} as a SQL parameter")
def _bind_params(query: str, params: Any) -> str:
    """Substitute Postgres ``$1..$n`` markers (outside string literals)
    with rendered literals.  Markers may repeat and appear in any
    order; a marker past the end of ``params`` raises the Postgres
    bind error."""
    mask = _mask_quoted(query)
    spans = [(m.span(), int(m.group(1))) for m in re.finditer(r"\$(\d+)", mask)]
    if not spans:
        return query
    seq = list(params) if isinstance(params, (list, tuple)) else [params]
    need = max(n for _, n in spans)
    if need > len(seq):
        raise ValueError(
            f"bind message supplies {len(seq)} parameters, but "
            f"statement requires {need}"
        )
    if min(n for _, n in spans) < 1:
        raise ValueError("there is no parameter $0")
    # parenthesize: a bare negative literal after a '-' operator would
    # lex as a line comment ("2-$1" bound to -5 → "2--5")
    return _splice(query, [
        (s, e, f"({_render_literal(seq[n - 1])})") for (s, e), n in spans
    ])
def _subst_idents(expr: str, mapping: dict[str, str]) -> str:
    """Replace identifier words in ``expr`` (outside string literals,
    case-insensitive) by ``mapping`` — used to fold UPDATE assignment
    expressions into a CHECK constraint to get its post-image form
    (assignments are simultaneous over the pre-state, so plain
    substitution IS the post-image)."""
    return _sub_masked(
        r"[A-Za-z_][A-Za-z0-9_]*",
        lambda m: mapping.get(m.group(0).lower()), expr,
    )
def _expr_refs(expr: str) -> set[str]:
    """Lower-cased identifier words of ``expr`` outside string literals —
    the shared ref-extraction for constraint/generated column matching
    (column names fold to lowercase at CREATE; expression text is
    stored verbatim, so matching must be case-insensitive)."""
    return {
        w.lower()
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", _mask_quoted(expr))
    }
def _no_gen_on_gen(generated: dict[str, str]) -> None:
    """Postgres refuses a generated column whose expression references
    another generated column — and so must we: the UPDATE recompute
    substitutes only PLAIN assignments into generated expressions, so a
    gen-on-gen chain would silently read the PRE-state of the inner
    column."""
    names = {c.lower() for c in generated}
    for col, expr in generated.items():
        hit = sorted((_expr_refs(expr) & names) - {col.lower()})
        if hit:
            raise ValueError(
                f'cannot use generated column "{hit[0]}" in the '
                f'generation expression of "{col}"'
            )
def _parse_col_constraints(tail: str) -> tuple[str, dict[str, Any]]:
    """Split a column definition's tail (everything after the column
    name) into the type spelling and its constraints: ``text NOT NULL
    DEFAULT 'x' CHECK (length(c) > 0)`` → (``text``, {not_null,
    default, checks, generated}).  Unsupported Postgres constraints
    (UNIQUE / REFERENCES / IDENTITY) refuse loudly rather than silently
    not enforcing."""
    first = len(tail)
    for kw in _COL_CONSTRAINT_KWS:
        i = _find_top_keyword(tail, kw)
        if 0 <= i < first:
            first = i
    type_sql = tail[:first].strip()
    if not type_sql:
        raise ValueError(f"column definition missing a type: {tail!r}")
    rest = tail[first:].strip()
    info: dict[str, Any] = {
        "is_pk": False, "not_null": False, "default": None, "checks": [],
        "generated": None, "identity": None,
    }
    while rest:
        m = re.match(r"PRIMARY\s+KEY\b", rest, re.I)
        if m:
            info["is_pk"] = True
            rest = rest[m.end():].strip()
            continue
        m = re.match(r"NOT\s+NULL\b", rest, re.I)
        if m:
            info["not_null"] = True
            rest = rest[m.end():].strip()
            continue
        m = re.match(r"NULL\b", rest, re.I)
        if m:
            rest = rest[m.end():].strip()
            continue
        m = re.match(r"(UNIQUE|REFERENCES)\b", rest, re.I)
        if m:
            raise ValueError(
                f"{m.group(1).upper()} column constraints are not "
                "supported (NOT NULL / CHECK / DEFAULT / PRIMARY KEY / "
                "GENERATED ... STORED are)"
            )
        gm = re.match(r"GENERATED\s+ALWAYS\s+AS\s*\(", rest, re.I)
        if gm:
            close = _match_bracket(_mask_quoted(rest), gm.end() - 1)
            if close < 0:
                raise ValueError(f"unbalanced GENERATED expression: {rest!r}")
            info["generated"] = rest[gm.end():close].strip()
            after = rest[close + 1:].strip()
            sm = re.match(r"STORED\b", after, re.I)
            if not sm:
                raise ValueError(
                    "only GENERATED ALWAYS AS (expr) STORED is supported "
                    "(virtual generated columns and IDENTITY are not)"
                )
            rest = after[sm.end():].strip()
            continue
        im = re.match(
            r"GENERATED\s+(ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY\s*",
            rest, re.I,
        )
        if im:
            kind = (
                "always" if im.group(1).upper() == "ALWAYS" else "default"
            )
            after = rest[im.end():].strip()
            opts = ""
            if after.startswith("("):
                close = _match_bracket(_mask_quoted(after), 0)
                if close < 0:
                    raise ValueError(
                        f"unbalanced IDENTITY options: {rest!r}"
                    )
                opts = after[1:close].strip()
                after = after[close + 1:].strip()
            info["identity"] = (kind, opts)
            info["not_null"] = True  # identity implies NOT NULL
            rest = after
            continue
        m = re.match(r"GENERATED\b", rest, re.I)
        if m:
            raise ValueError(
                "only GENERATED ALWAYS AS (expr) STORED and "
                "GENERATED ... AS IDENTITY are supported"
            )
        cm = re.match(r"(?:CONSTRAINT\s+(\w+)\s+)?CHECK\s*\(", rest, re.I)
        if cm:
            close = _match_bracket(_mask_quoted(rest), cm.end() - 1)
            if close < 0:
                raise ValueError(f"unbalanced CHECK constraint: {rest!r}")
            info["checks"].append(
                (cm.group(1), rest[cm.end():close].strip())
            )
            rest = rest[close + 1:].strip()
            continue
        m = re.match(r"DEFAULT\b", rest, re.I)
        if m:
            body = rest[m.end():].strip()
            nm = re.match(
                r"NULL(?:\s*::\s*[A-Za-z_]\w*"
                r"(?:\s+(?:varying|precision|with(?:out)?\s+time\s+zone))?"
                r"(?:\([^)]*\))?)?(?!\w)",
                body, re.I,
            )
            if nm:
                # Postgres's DEFAULT NULL (pg_dump spells it with a
                # ::type cast) — identical to declaring no default;
                # special-cased because NULL is also a constraint keyword
                rest = body[nm.end():].strip()
                continue
            end = len(body)
            for kw in _COL_CONSTRAINT_KWS:
                i = _find_top_keyword(body, kw)
                if 0 <= i < end:
                    end = i
            expr = body[:end].strip()
            if not expr:
                raise ValueError(f"DEFAULT needs an expression: {tail!r}")
            info["default"] = expr
            rest = body[end:].strip()
            continue
        raise ValueError(f"cannot parse column constraint: {rest!r}")
    return type_sql, info
def _values_spans(mask: str) -> list[tuple[int, int, int]]:
    """Element spans of a masked ``VALUES (...), (...)`` body:
    (start, end, element_index) per top-level-parenthesized element."""
    spans: list[tuple[int, int, int]] = []
    depth, idx, elem_begin = 0, 0, None
    for i, ch in enumerate(mask):
        if ch == "(":
            depth += 1
            if depth == 1:
                idx, elem_begin = 0, i + 1
        elif ch == ")":
            if depth == 1 and elem_begin is not None:
                spans.append((elem_begin, i, idx))
                elem_begin = None
            depth -= 1
        elif ch == "," and depth == 1:
            spans.append((elem_begin, i, idx))
            idx += 1
            elem_begin = i + 1
    return spans
def _rewrite_values_defaults(
    values_sql: str,
    target: list[str],
    schema: T.StructType,
    defaults: dict[str, str],
) -> str:
    """Rewrite bare ``DEFAULT`` elements inside a ``VALUES (...), (...)``
    list to the positionally-matching column's declared default (or a
    typed NULL — the Postgres fallback when no default is declared), so
    Spark's VALUES parser never sees the keyword."""
    mask = _mask_quoted(values_sql)
    if not re.search(r"\bDEFAULT\b", mask, re.I):
        return values_sql
    edits = []
    by_name = {f.name: f for f in schema.fields}
    for s, e, i in _values_spans(mask):
        if values_sql[s:e].strip().upper() != "DEFAULT":
            continue
        if i >= len(target) or target[i] not in by_name:
            continue  # arity error surfaces downstream with context
        f = by_name[target[i]]
        d = defaults.get(f.name)
        edits.append((s, e, (
            f"CAST(({d}) AS {f.dataType.simpleString()})"
            if d else f"CAST(NULL AS {f.dataType.simpleString()})"
        )))
    return _splice(values_sql, edits)
def _pg_type_to_spark(t: str) -> T.DataType:
    """Resolve a column type as Postgres spells it (reference regress
    DDL: int, text, ...) or as Spark DDL."""
    s = re.sub(r"\s+", " ", t.strip().lower())
    m = re.match(r"(numeric|decimal)\s*(\(\s*\d+\s*(?:,\s*\d+\s*)?\))?$", s)
    if m:
        return T._parse_datatype_string(f"decimal{m.group(2) or '(38,18)'}")
    m = re.match(r"(varchar|char|character varying|character)\s*\(\s*\d+\s*\)$", s)
    if m:
        return T.StringType()
    if s in _PG_TYPES:
        return T._parse_datatype_string(_PG_TYPES[s])
    return T._parse_datatype_string(s)
def _scan_top(s: str):
    """Yield (index, char) for the code characters of ``s`` at
    parenthesis depth 0 — never inside a literal, a quoted identifier
    or a comment, so a comma or keyword there never splits a clause."""
    depth, prev = 0, 0
    # the empty sentinel span closes the last run of code
    for a, e, _ in _lex(s) + [(len(s), len(s), "")]:
        for i in range(prev, a):
            c = s[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0:
                yield i, c
        prev = e
def _find_top_keyword(s: str, word: str) -> int:
    """Index of the first top-level, word-bounded, case-insensitive
    occurrence of ``word`` in ``s``, or -1."""
    w = len(word)
    for i, c in _scan_top(s):
        if c.upper() == word[0] and s[i : i + w].upper() == word:
            before = s[i - 1] if i > 0 else " "
            after = s[i + w] if i + w < len(s) else " "
            if not (before.isalnum() or before == "_") and not (
                after.isalnum() or after == "_"
            ):
                return i
    return -1
def _split_top_commas(s: str) -> list[str]:
    """Split ``s`` on top-level commas (commas inside parens/strings —
    function args, row constructors, literals — do not split)."""
    return _split_at(s, [i for i, c in _scan_top(s) if c == ","])
def parse_table_name(name: str) -> str:
    """Normalize a table identifier the way the reference's ``parse_table``
    does (src/functions.rs:146-163): unquoted identifiers fold to
    lowercase, double-quoted identifiers preserve case/spaces (with ``""``
    as an escaped quote), at most one ``schema.`` qualifier, anything else
    (injection characters, empty parts) rejected loudly.

    Returns the canonical name, e.g. ``Public."My Table"`` → ``public.My
    Table``.
    """
    parts: list[str] = []
    i, n = 0, len(name)
    while i < n:
        if name[i] == '"':
            j = i + 1
            buf = []
            while True:
                if j >= n:
                    raise ValueError(f"unterminated quote in identifier {name!r}")
                if name[j] == '"':
                    if j + 1 < n and name[j + 1] == '"':  # escaped quote
                        buf.append('"')
                        j += 2
                        continue
                    break
                buf.append(name[j])
                j += 1
            part = "".join(buf)
            if not part:
                raise ValueError(f"empty quoted identifier in {name!r}")
            parts.append(part)
            i = j + 1
        else:
            j = i
            while j < n and name[j] != ".":
                j += 1
            part = name[i:j]
            if not _IDENT.match(part):
                raise ValueError(f"invalid table identifier {name!r}")
            parts.append(part.lower())
            i = j
        if i < n:
            if name[i] != ".":
                raise ValueError(f"invalid table identifier {name!r}")
            i += 1
            if i == n:
                raise ValueError(f"trailing '.' in identifier {name!r}")
    if not parts or len(parts) > 2:
        raise ValueError(f"expected [schema.]table, got {name!r}")
    return ".".join(parts)
