"""Postgres sequences: CREATE/ALTER/DROP SEQUENCE, nextval/currval/
setval/lastval, ``serial``/``bigserial`` column spellings, and
``GENERATED ... AS IDENTITY`` columns.

The reference runs inside a real Postgres, so every one of these comes
for free on the heap side (README.md:16 — full-SQL contract: "Run
transactional workloads on your Postgres tables"); a mirror of a table
with a serial primary key, and a pg_dump restore of one, both depend on
them.  Here the sequence OBJECT is engine state: options + position
persist in the warehouse catalog (catalog.py ``__sequences__``), so a
replayed dump's ``SELECT pg_catalog.setval(...)`` survives a session
restart exactly like Postgres.

Semantics kept deliberately Postgres-faithful:

- ``nextval``/``setval`` are NON-transactional: values consumed inside
  a rolled-back block stay consumed (gaps are normal).  The sequence
  OBJECT is transactional: CREATE SEQUENCE in a rolled-back block
  disappears, DROP SEQUENCE is undone (full state restored), ALTER
  SEQUENCE's option changes revert — all via a per-transaction undo
  log unwound on ROLLBACK [TO savepoint].
- ``currval``/``lastval`` are per-session and error before first use.
- serial/identity columns allocate from an owned sequence
  (``<table>_<col>_seq``); DROP TABLE / DROP COLUMN drops owned
  sequences, like Postgres's OWNED BY cascade.

Scale note: bulk ``INSERT ... SELECT`` into a table with a sequence
default assigns values DISTRIBUTED — one tiny O(partitions) count job
computes per-partition offsets, a broadcast map + per-partition
row_number() produces consecutive values with no global shuffle, and
one atomic catalog allocation advances the sequence by the batch size.
Postgres guarantees uniqueness and monotone advancement, not
contiguity, so block allocation is semantics-preserving.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pg_mooncake_spark.sqlparse import parse_table_name

_SEQ_DEFAULTS_BY_TYPE = {
    "smallint": (1, 32767, -32768),
    "integer": (1, 2147483647, -2147483648),
    "bigint": (1, 9223372036854775807, -9223372036854775808),
}

_SEQ_TYPE_ALIASES = {
    "smallint": "smallint", "int2": "smallint",
    "integer": "integer", "int": "integer", "int4": "integer",
    "bigint": "bigint", "int8": "bigint",
}

# serial column type spellings → (storage type, sequence data type)
SERIAL_TYPES = {
    "serial": "integer", "serial4": "integer",
    "bigserial": "bigint", "serial8": "bigint",
    "smallserial": "smallint", "serial2": "smallint",
}

# one nextval('...') call — the argument is a quoted sequence name,
# optionally schema-qualified, optionally cast with ::regclass (the
# pg_dump spelling: nextval('public.t_id_seq'::regclass))
_NEXTVAL_RE = re.compile(
    r"nextval\s*\(\s*'([^']+)'\s*(?:::\s*regclass\s*)?\)", re.I
)

_SEQ_FN_STMT_RE = re.compile(
    # args hold no parens (a quoted name, an integer, a boolean), so
    # [^()]* cannot backtrack a multi-clause SELECT into a false match
    # — `SELECT nextval('s') FROM t` falls through to the generic path
    # and errors loudly there
    r"^\s*SELECT\s+(?:pg_catalog\.)?"
    r"(nextval|currval|setval|lastval)\s*\(([^()]*)\)"
    r"\s*(?:AS\s+(\"[^\"]+\"|[A-Za-z_]\w*)\s*)?;?\s*$",
    re.I | re.S,
)


def _parse_int(tok: str, what: str) -> int:
    try:
        return int(tok)
    except ValueError:
        raise ValueError(f"invalid {what}: {tok!r}")


class SequencesMixin:
    """Sequence statement handlers, mixed into the SQL router."""

    # ------------------------------------------------------- name folding

    def _seq_canon(self, raw: str) -> str:
        """Sequence names share the relation namespace: same folding as
        tables (quoted keeps case, unquoted lowercases, one optional
        schema qualifier)."""
        return parse_table_name(raw.strip())

    def _seq_resolve(self, raw: str) -> str:
        """Resolve a sequence reference to its catalog key, accepting
        the ``public.``-qualified spelling pg_dump emits for a sequence
        created unqualified (and vice versa)."""
        name = self._seq_canon(raw)
        seqs = self.catalog.sequences()
        if name in seqs:
            return name
        if name.startswith("public.") and name[7:] in seqs:
            return name[7:]
        if "." not in name and f"public.{name}" in seqs:
            return f"public.{name}"
        raise ValueError(f'sequence "{name}" does not exist')

    # --------------------------------------------------- txn undo logging

    def _seq_txn_log(self, op: str, name: str, payload: Any = None) -> None:
        """Record one catalog-object undo entry in the open block (no-op
        in autocommit).  Sequence ops: 'create' (undo = drop), 'drop'
        (undo = restore full state), 'alter' (undo = restore OPTION
        fields, keeping last_value/is_called — nextval/setval never
        roll back), 'setpos' (TRUNCATE RESTART IDENTITY).  The same log
        also unwinds schema/extension records ('schema_create' /
        'schema_drop' / 'ext_create' / 'ext_drop') and staged-CREATE
        spec mutations ('spec')."""
        if self._txn is not None:
            self._txn.setdefault("seq_undo", []).append((op, name, payload))

    def _seq_txn_unwind(self, txn: dict, upto: int = 0) -> None:
        """Undo sequence DDL recorded after position ``upto`` (0 = the
        whole block), newest first."""
        undo = txn.get("seq_undo") or []
        for op, name, payload in reversed(undo[upto:]):
            try:
                if op == "create":
                    self.catalog.seq_drop(name)
                elif op == "drop":
                    self.catalog.seq_put(name, payload)
                elif op == "alter":
                    cur = self.catalog.seq_get(name)
                    restored = dict(payload)
                    # position survives the rollback (Postgres: ALTER's
                    # option changes are transactional, nextval is not)
                    restored["last_value"] = cur["last_value"]
                    restored["is_called"] = cur["is_called"]
                    self.catalog.seq_put(name, restored)
                elif op == "setpos":
                    # TRUNCATE ... RESTART IDENTITY: the position reset
                    # rolls back (PG runs it as ALTER SEQUENCE RESTART)
                    lv, ic = payload
                    self.catalog.seq_update(
                        name, last_value=lv, is_called=ic
                    )
                elif op in ("schema_create", "schema_drop",
                            "ext_create", "ext_drop"):
                    from pg_mooncake_spark.admin import _EXTENSIONS, _SCHEMAS
                    kind, what = op.split("_")
                    key = _SCHEMAS if kind == "schema" else _EXTENSIONS
                    if what == "create":
                        self.catalog.named_set_remove(key, name)
                    else:
                        self.catalog.named_set_add(key, name)
                elif op == "spec":
                    # ALTER COLUMN on a block-created table: restore the
                    # staged CREATE spec (name = table canon here)
                    if name in txn.get("created", {}):
                        txn["created"][name] = payload
                        for i, (n2, k2, _) in enumerate(txn["staged"]):
                            if n2 == name and k2 == "create":
                                txn["staged"][i] = (n2, k2, payload)
                                break
            except KeyError:
                pass
        del undo[upto:]

    # ------------------------------------------------------- option parse

    def _seq_parse_options(
        self, opts: str, base: Optional[dict] = None, stmt: str = "CREATE"
    ) -> dict:
        """Parse the CREATE/ALTER SEQUENCE option tail into a state
        dict.  ``base`` (ALTER) supplies existing values; bounds left
        unspecified follow the data type (Postgres defaults)."""
        s = dict(base) if base else {}
        toks = opts.strip()
        data_type = s.get("data_type", "bigint")
        explicit: dict[str, Any] = {}
        restart: Optional[int | bool] = None
        pats = [
            ("as", r"AS\s+(\w+)"),
            ("increment", r"INCREMENT\s+(?:BY\s+)?(-?\d+)"),
            ("minvalue", r"MINVALUE\s+(-?\d+)"),
            ("no_minvalue", r"NO\s+MINVALUE"),
            ("maxvalue", r"MAXVALUE\s+(-?\d+)"),
            ("no_maxvalue", r"NO\s+MAXVALUE"),
            ("start", r"START\s+(?:WITH\s+)?(-?\d+)"),
            ("restart", r"RESTART(?:\s+(?:WITH\s+)?(-?\d+))?"),
            ("cache", r"CACHE\s+(\d+)"),
            ("cycle", r"CYCLE"),
            ("no_cycle", r"NO\s+CYCLE"),
            ("owned_by", r"OWNED\s+BY\s+([\w.\"]+|NONE)"),
        ]
        no_boundary = {
            "no_minvalue", "no_maxvalue", "cycle", "no_cycle", "restart",
            "owned_by",  # its value may end in a quote — \b can't follow
        }
        while toks:
            for key, pat in pats:
                tail = r"\s*" if key in no_boundary else r"\b\s*"
                m = re.match(pat + tail, toks, re.I)
                if m:
                    if key == "as":
                        t = m.group(1).lower()
                        if t not in _SEQ_TYPE_ALIASES:
                            raise ValueError(
                                f"sequence type must be smallint/integer/"
                                f"bigint, got {t!r}"
                            )
                        data_type = _SEQ_TYPE_ALIASES[t]
                        explicit["data_type"] = data_type
                    elif key in ("increment", "minvalue", "maxvalue",
                                 "start"):
                        explicit[key] = _parse_int(m.group(1), key)
                    elif key == "no_minvalue":
                        explicit["minvalue"] = None
                    elif key == "no_maxvalue":
                        explicit["maxvalue"] = None
                    elif key == "restart":
                        restart = (
                            _parse_int(m.group(1), "restart")
                            if m.group(1) else True
                        )
                    elif key == "cache":
                        pass  # cache is a performance hint; inert here
                    elif key == "cycle":
                        explicit["cycle"] = True
                    elif key == "no_cycle":
                        explicit["cycle"] = False
                    elif key == "owned_by":
                        tgt = m.group(1)
                        explicit["owned_by"] = (
                            None if tgt.upper() == "NONE"
                            else self._seq_owner_canon(tgt)
                        )
                    toks = toks[m.end():].strip()
                    break
            else:
                raise ValueError(
                    f"cannot parse {stmt} SEQUENCE option near: {toks!r}"
                )
        if (
            base is not None
            and "data_type" in explicit
            and explicit["data_type"] != s.get("data_type", "bigint")
        ):
            # ALTER SEQUENCE ... AS <type> (ADVICE r16): Postgres
            # re-derives bounds that equal the OLD type's defaults so a
            # bigint-default sequence retyped to smallint doesn't keep
            # maxvalue 2^63-1; explicitly retained bounds outside the
            # new type's range error below.
            old_type = s.get("data_type", "bigint")
            _, old_tmax, old_tmin = _SEQ_DEFAULTS_BY_TYPE[old_type]
            _, new_tmax, new_tmin = _SEQ_DEFAULTS_BY_TYPE[data_type]
            if "minvalue" not in explicit and s.get("minvalue") == old_tmin:
                s["minvalue"] = new_tmin
            if "maxvalue" not in explicit and s.get("maxvalue") == old_tmax:
                s["maxvalue"] = new_tmax
        inc = explicit.get("increment", s.get("increment", 1))
        if inc == 0:
            raise ValueError("INCREMENT must not be zero")
        _, tmax, tmin = _SEQ_DEFAULTS_BY_TYPE[data_type]
        # Postgres: default bounds depend on increment sign
        dmin = 1 if inc > 0 else tmin
        dmax = tmax if inc > 0 else -1
        lo = explicit.get("minvalue", s.get("minvalue"))
        hi = explicit.get("maxvalue", s.get("maxvalue"))
        if lo is None or "minvalue" in explicit and explicit["minvalue"] is None:
            lo = dmin
        if hi is None or "maxvalue" in explicit and explicit["maxvalue"] is None:
            hi = dmax
        for label, bound in (("MINVALUE", lo), ("MAXVALUE", hi)):
            if not (tmin <= bound <= tmax):
                raise ValueError(
                    f"{label} ({bound}) is out of range for sequence "
                    f"data type {data_type}"
                )
        start = explicit.get("start", s.get("start", lo if inc > 0 else hi))
        if not (lo <= start <= hi):
            raise ValueError(
                f"START value ({start}) outside bounds "
                f"[{lo}, {hi}]"
            )
        out = {
            "data_type": data_type,
            "increment": inc,
            "minvalue": lo,
            "maxvalue": hi,
            "start": start,
            "cycle": explicit.get("cycle", s.get("cycle", False)),
            "owned_by": explicit.get("owned_by", s.get("owned_by")),
            "last_value": s.get("last_value", start),
            "is_called": s.get("is_called", False),
        }
        if base is None:
            out["last_value"], out["is_called"] = out["start"], False
        if restart is not None:
            out["last_value"] = (
                out["start"] if restart is True else restart
            )
            out["is_called"] = False
        return out

    def _seq_owner_canon(self, tgt: str) -> list[str]:
        """``OWNED BY table.column`` → structured ``[canon_table,
        column]`` (the last dotted part is the column, the rest the
        table).  Stored as a two-element list — NOT a re-joined dotted
        string — so a table named ``t`` and a table ``t.users`` inside
        a schema named ``t`` can never collide on a string prefix
        (ADVICE r16: DROP/TRUNCATE/RENAME previously matched owners by
        startswith/rsplit over the dotted encoding)."""
        parts = tgt.rsplit(".", 1)
        if len(parts) != 2:
            raise ValueError(
                f"OWNED BY needs table.column (or NONE), got {tgt!r}"
            )
        t, col = parts
        canon = self._canon(t)  # unknown-table error, like Postgres
        col = col.strip('"')
        if col not in {
            f.name for f in self._moontable(canon).schema().fields
        }:
            raise ValueError(
                f'column "{col}" of relation "{canon}" does not exist'
            )
        return [canon, col]

    @staticmethod
    def _seq_owner(st: dict) -> Optional[tuple[str, str]]:
        """The structured ``(table_canon, column)`` owner of a sequence
        state, or None.  Accepts the legacy dotted-string encoding from
        catalogs written before round 17 (ambiguous for dotted table
        names — exactly why the encoding changed — but a best-effort
        rsplit keeps old warehouses readable)."""
        ob = st.get("owned_by")
        if not ob:
            return None
        if isinstance(ob, (list, tuple)) and len(ob) == 2:
            return (ob[0], ob[1])
        t, _, c = str(ob).rpartition(".")
        return (t, c)

    # --------------------------------------------------------- statements
    # Handlers in the router's statement table (sql_router._STATEMENTS):
    # each parses its own statement; None hands it to Spark.

    def _sql_create_sequence(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([\w.\"]+)\s*(.*?);?\s*$",
            query, re.I | re.S,
        )
        if not m:
            return None
        if_not_exists, raw, opts = bool(m.group(1)), m.group(2), m.group(3)
        name = self._seq_canon(raw)
        if name in self.catalog.sequences():
            if if_not_exists:
                return self._dml_result("CREATE SEQUENCE", name, 0)
            raise ValueError(f'relation "{name}" already exists')
        state = self._seq_parse_options(opts, stmt="CREATE")
        self.catalog.seq_put(name, state)
        self._seq_txn_log("create", name)
        return self._dml_result("CREATE SEQUENCE", name, 1)

    def _sql_alter_sequence(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*ALTER\s+SEQUENCE\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s+"
            r"(.*?);?\s*$",
            query, re.I | re.S,
        )
        if not m:
            return None
        if_exists, raw, opts = bool(m.group(1)), m.group(2), m.group(3)
        try:
            name = self._seq_resolve(raw)
        except ValueError:
            if if_exists:
                return self._dml_result("ALTER SEQUENCE", raw, 0)
            raise
        cur = self.catalog.seq_get(name)
        om = re.match(r"OWNER\s+TO\s+[\w\"]+\s*$", opts.strip(), re.I)
        if om:
            # pg_dump emits one per sequence; no roles here — inert
            return self._dml_result("ALTER SEQUENCE", name, 0)
        sm = re.match(
            r'SET\s+SCHEMA\s+("[^"]+"|[A-Za-z_]\w*)\s*$',
            opts.strip(), re.I,
        )
        if sm:
            sch = self._schema_fold(sm.group(1))
            if sch not in self._known_schemas():
                raise ValueError(f'schema "{sch}" does not exist')
            new = f"{sch}.{name.rsplit('.', 1)[-1]}"
            if new == name:
                return self._dml_result("ALTER SEQUENCE", name, 0)
            if new in self.catalog.sequences():
                raise ValueError(f'relation "{new}" already exists')
            self._seq_txn_log("drop", name, dict(cur))
            self.catalog.seq_drop(name)
            self.catalog.seq_put(new, cur)
            self._seq_txn_log("create", new)
            return self._dml_result("ALTER SEQUENCE", new, 1)
        rm = re.match(r"RENAME\s+TO\s+([\w\"]+)\s*$", opts.strip(), re.I)
        if rm:
            new = self._seq_canon(rm.group(1))
            if "." in name and "." not in new:
                new = name.rsplit(".", 1)[0] + "." + new
            if new in self.catalog.sequences():
                raise ValueError(f'relation "{new}" already exists')
            self._seq_txn_log("drop", name, dict(cur))
            self.catalog.seq_drop(name)
            self.catalog.seq_put(new, cur)
            self._seq_txn_log("create", new)
            return self._dml_result("ALTER SEQUENCE", new, 1)
        new_state = self._seq_parse_options(opts, base=cur, stmt="ALTER")
        self._seq_txn_log("alter", name, dict(cur))
        self.catalog.seq_put(name, new_state)
        return self._dml_result("ALTER SEQUENCE", name, 1)

    def _sql_drop_sequence(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?(.+?)"
            r"\s*(?:\b(?:CASCADE|RESTRICT))?\s*;?\s*$",
            query, re.I | re.S,
        )
        if not m:
            return None
        if_exists, names = bool(m.group(1)), m.group(2)
        last, n = "?", 0
        for raw in names.split(","):
            raw = raw.strip()
            if not raw:
                continue
            try:
                name = self._seq_resolve(raw)
            except ValueError:
                if if_exists:
                    continue
                raise
            owner = self._seq_owner(self.catalog.seq_get(name))
            if owner is not None:
                # Postgres refuses with a dependency error: the serial/
                # identity column's nextval default would dangle and
                # every later INSERT would fail (ADVICE r16).  The
                # OWNED-BY cascade (_seq_drop_owned) is the sanctioned
                # path — drop the table or column instead.
                raise ValueError(
                    f'cannot drop sequence "{name}" because column '
                    f'"{owner[1]}" of table "{owner[0]}" requires it '
                    f'(drop table "{owner[0]}" or the column instead)'
                )
            state = self.catalog.seq_drop(name)
            self._seq_txn_log("drop", name, state)
            last, n = name, n + 1
        return self._dml_result("DROP SEQUENCE", last, n)

    def _sql_sequence_function(self, query: str) -> Optional[DataFrame]:
        """``SELECT [pg_catalog.]nextval|currval|setval|lastval(...)
        [AS alias]`` standing alone (the pg_dump spellings); None for
        any other SELECT."""
        fm = _SEQ_FN_STMT_RE.match(query)
        if fm is None:
            return None
        fn, args, alias = fm.group(1).lower(), fm.group(2), fm.group(3)
        col = alias.strip('"') if alias else fn
        parts = [a.strip() for a in args.split(",")] if args.strip() else []

        def _name_arg(tok: str) -> str:
            sm = re.match(
                r"^'([^']+)'\s*(?:::\s*regclass)?$", tok.strip()
            )
            if not sm:
                raise ValueError(
                    f"{fn} needs a quoted sequence name, got {tok!r}"
                )
            return self._seq_resolve(sm.group(1))

        if fn == "nextval":
            if len(parts) != 1:
                raise ValueError("nextval(regclass) takes one argument")
            name = _name_arg(parts[0])
            v = self.catalog.seq_alloc(name, 1)
            self._seq_session_note(name, v)
        elif fn == "currval":
            if len(parts) != 1:
                raise ValueError("currval(regclass) takes one argument")
            name = _name_arg(parts[0])
            cv = getattr(self, "_seq_currval", {}).get(name)
            if cv is None:
                raise ValueError(
                    f'currval of sequence "{name}" is not yet defined '
                    "in this session"
                )
            v = cv
        elif fn == "lastval":
            if parts:
                raise ValueError("lastval() takes no arguments")
            lastused = getattr(self, "_seq_lastused", None)
            if lastused is None:
                raise ValueError(
                    "lastval is not yet defined in this session"
                )
            v = self._seq_currval[lastused]
        else:  # setval
            if len(parts) not in (2, 3):
                raise ValueError(
                    "setval(regclass, bigint[, boolean]) takes 2-3 "
                    "arguments"
                )
            name = _name_arg(parts[0])
            value = _parse_int(parts[1], "setval value")
            is_called = True
            if len(parts) == 3:
                b = parts[2].strip().lower()
                if b not in ("true", "false", "'t'", "'f'"):
                    raise ValueError(
                        f"setval third argument must be a boolean, got "
                        f"{parts[2]!r}"
                    )
                is_called = b in ("true", "'t'")
            st = self.catalog.seq_get(name)
            if not (st["minvalue"] <= value <= st["maxvalue"]):
                raise ValueError(
                    f'setval: value {value} is out of bounds for '
                    f'sequence "{name}" ({st["minvalue"]}..'
                    f'{st["maxvalue"]})'
                )
            self.catalog.seq_update(
                name, last_value=value, is_called=is_called
            )
            self._seq_session_note(name, value)
            v = value
        return self.spark.createDataFrame([(v,)], f"`{col}` bigint")

    def _seq_discard_session(self) -> None:
        """DISCARD SEQUENCES / DISCARD ALL: currval/lastval become
        undefined again (Postgres)."""
        self._seq_currval = {}
        self._seq_lastused = None

    def _seq_session_note(self, name: str, v: int) -> None:
        if not hasattr(self, "_seq_currval"):
            self._seq_currval: dict[str, int] = {}
        self._seq_currval[name] = v
        self._seq_lastused = name

    # ------------------------------------------- INSERT-path integration

    @staticmethod
    def _seq_default_target(default: Optional[str]) -> Optional[str]:
        """The sequence a DEFAULT expression draws from, or None if the
        default is an ordinary Spark-evaluable expression."""
        if not default:
            return None
        m = _NEXTVAL_RE.fullmatch(default.strip())
        return m.group(1) if m else None

    def _seq_materialize_text(self, sql_text: str) -> str:
        """Replace every ``nextval('s')`` occurrence in a VALUES clause
        with an allocated literal (textual order = row order, the
        per-row allocation Postgres performs).  Matches run on a
        quote-masked copy and splice back by span (ADVICE r16: the
        pattern's quoted-name argument could previously bridge TWO
        string literals — ``VALUES ('id=nextval(' || c || ')')`` — and
        corrupt a legitimate row; nextval INSIDE a string literal is
        data, not a call)."""
        from pg_mooncake_spark.sqlparse import _mask_quoted

        masked = _mask_quoted(sql_text)
        out: list[str] = []
        prev = 0
        for m in _NEXTVAL_RE.finditer(masked):
            # the mask blanks literal contents, so re-read the name
            # from the original text at the matched span
            om = _NEXTVAL_RE.match(sql_text, m.start())
            if om is None or om.end() != m.end():
                continue
            name = self._seq_resolve(om.group(1))
            v = self.catalog.seq_alloc(name, 1)
            self._seq_session_note(name, v)
            out.append(sql_text[prev:m.start()])
            out.append(str(v))
            prev = m.end()
        if not out:
            return sql_text
        out.append(sql_text[prev:])
        return "".join(out)

    def _seq_extract_select_items(
        self, sql: str
    ) -> tuple[str, list[tuple[int, str]]]:
        """For an INSERT's SELECT source, pull out select-list items
        that are EXACTLY ``nextval('s') [AS alias]`` (the classic
        migration spelling ``INSERT INTO t SELECT nextval('s'), a, b
        FROM old``): each becomes a typed NULL placeholder in the query
        and a (position, sequence) entry for the caller to assign
        distributed afterwards.  nextval nested inside expressions, or
        under WITH, is left alone — Spark then fails loudly on the
        unresolved function rather than silently mis-assigning."""
        from pg_mooncake_spark.sqlparse import (
            _find_top_keyword,
            _split_top_commas,
        )

        m = re.match(r"^\s*SELECT\s+(DISTINCT\s+)?", sql, re.I)
        if not m or m.group(1) or not _NEXTVAL_RE.search(sql):
            return sql, []
        start = m.end()
        fi = _find_top_keyword(sql[start:], "FROM")
        end = start + fi if fi >= 0 else len(sql)
        items = _split_top_commas(sql[start:end])
        out_items: list[str] = []
        found: list[tuple[int, str]] = []
        item_re = re.compile(
            r"^\s*nextval\s*\(\s*'([^']+)'\s*(?:::\s*regclass\s*)?\)"
            r"\s*(?:AS\s+(\"[^\"]+\"|[A-Za-z_]\w*))?\s*$",
            re.I,
        )
        for i, item in enumerate(items):
            im = item_re.match(item)
            if im:
                name = self._seq_resolve(im.group(1))
                found.append((i, name))
                alias = im.group(2) or f"__seq_item_{i}"
                out_items.append(f"CAST(NULL AS BIGINT) AS {alias}")
            else:
                out_items.append(item)
        if not found:
            return sql, []
        return (
            sql[:start] + ", ".join(out_items) + " " + sql[end:],
            found,
        )

    def _seq_assign_small(
        self, df: DataFrame, colname: str, seqname: str, dtype, n: int
    ) -> DataFrame:
        """Assign ``n`` consecutive sequence values when the row count
        is already known from the statement text (a VALUES source —
        driver-sized by construction, so the single-partition global
        window is fine and avoids the distributed path's count job)."""
        name = self._seq_resolve(seqname)
        if n == 0:
            return df.withColumn(colname, F.lit(None).cast(dtype))
        inc = int(self.catalog.seq_get(name)["increment"])
        first = self.catalog.seq_alloc(name, n)
        self._seq_session_note(name, first + (n - 1) * inc)
        rn = F.row_number().over(
            Window.orderBy(F.monotonically_increasing_id())
        )
        return df.withColumn(
            colname,
            (F.lit(first) + (rn - F.lit(1)) * F.lit(inc)).cast(dtype),
        )

    def _seq_assign_column(
        self, df: DataFrame, colname: str, seqname: str, dtype
    ) -> DataFrame:
        """Assign consecutive sequence values to ``colname`` across a
        distributed batch: localCheckpoint pins partitioning and row
        order, one O(partitions) count job sizes the allocation, a
        broadcast offset map + per-partition row_number() yields
        consecutive values with NO global shuffle, and one atomic
        catalog allocation advances the sequence.  O(batch) work, scale
        matches the write that follows."""
        name = self._seq_resolve(seqname)
        inc = int(self.catalog.seq_get(name)["increment"])
        # pid/ord are MATERIALIZED into the checkpointed rows — a bare
        # spark_partition_id() re-evaluates after the window's own
        # exchange and would mis-group
        pinned = df.withColumn(
            "__seq_ord", F.monotonically_increasing_id()
        ).withColumn(
            "__seq_pid", F.spark_partition_id()
        ).localCheckpoint(eager=True)
        sizes = sorted(
            (r["__seq_pid"], r["n"]) for r in pinned.groupBy("__seq_pid")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        )
        total = sum(n for _, n in sizes)
        if total == 0:
            return pinned.drop("__seq_ord", "__seq_pid")
        first = self.catalog.seq_alloc(name, total)
        self._seq_session_note(name, first + (total - 1) * inc)
        offsets, acc = {}, 0
        for pid, n in sizes:
            offsets[pid] = acc
            acc += n
        off_map = F.create_map(
            *[x for pid, off in offsets.items()
              for x in (F.lit(pid), F.lit(off))]
        )
        rn = F.row_number().over(
            Window.partitionBy("__seq_pid").orderBy("__seq_ord")
        )
        val = (
            F.lit(first)
            + (off_map[F.col("__seq_pid")] + rn - F.lit(1))
            * F.lit(inc)
        )
        return pinned.withColumn(colname, val.cast(dtype)).drop(
            "__seq_ord", "__seq_pid"
        )

    # ------------------------------------------ serial / identity columns

    def _seq_auto_name(self, table_canon: str, col: str) -> str:
        """Postgres's implicit-sequence naming: ``<table>_<col>_seq``
        in the table's schema, numbered on collision."""
        if "." in table_canon:
            schema_part, base_tab = table_canon.rsplit(".", 1)
            prefix = f"{schema_part}."
        else:
            prefix, base_tab = "", table_canon
        base = f"{prefix}{base_tab}_{col}_seq"
        taken = set(self.catalog.sequences())
        name, k = base, 0
        while name in taken:
            k += 1
            name = f"{base}{k}"
        return name

    def _seq_create_owned(
        self, table_canon: str, col: str, storage_type: str,
        options: str = "",
    ) -> str:
        """Create the implicit sequence behind a serial / IDENTITY
        column and return its name.  ``options`` is the IDENTITY
        ``(...)`` tail, which may carry a ``SEQUENCE NAME`` (pg_dump
        emits one for identity columns)."""
        options = options.strip()
        name = None
        nm = re.match(
            r"SEQUENCE\s+NAME\s+([\w.\"]+)\s*", options, re.I
        )
        if nm:
            name = self._seq_canon(nm.group(1))
            options = options[nm.end():].strip()
        if name is None:
            name = self._seq_auto_name(table_canon, col)
        state = self._seq_parse_options(options, stmt="CREATE")
        if state["data_type"] == "bigint" and storage_type != "bigint":
            # bound the sequence by the column's storage type
            t = _SEQ_TYPE_ALIASES.get(storage_type, "bigint")
            _, tmax, tmin = _SEQ_DEFAULTS_BY_TYPE[t]
            if state["maxvalue"] == _SEQ_DEFAULTS_BY_TYPE["bigint"][1]:
                state["maxvalue"] = tmax
            if state["minvalue"] == _SEQ_DEFAULTS_BY_TYPE["bigint"][2]:
                state["minvalue"] = tmin
            state["data_type"] = t
        state["owned_by"] = [table_canon, col]
        if name in self.catalog.sequences():
            if getattr(self, "_txn_replaying", False):
                # idempotent crash replay: the sequence was created by
                # the first (interrupted) replay pass
                return name
            raise ValueError(f'relation "{name}" already exists')
        self.catalog.seq_put(name, state)
        self._seq_txn_log("create", name)
        return name

    def _reap_orphan_sequences(self) -> None:
        """Engine-start housekeeping: drop owned sequences whose owner
        table no longer exists (a crash between an immediate in-block
        sequence creation and the block's COMMIT/ROLLBACK can leak one
        — the table itself was only staged)."""
        tabs = set(self.catalog.list_tables())
        for name, st in self.catalog.sequences().items():
            owner = self._seq_owner(st)
            if owner and owner[0] not in tabs:
                try:
                    self.catalog.seq_drop(name)
                except KeyError:
                    pass

    def _seq_drop_owned(self, table_canon: str, col: Optional[str] = None) -> None:
        """Drop sequences owned by a table (or one of its columns) —
        the OWNED BY cascade DROP TABLE / DROP COLUMN performs."""
        for name, st in self.catalog.sequences().items():
            owner = self._seq_owner(st)
            if owner and owner[0] == table_canon and (
                col is None or owner[1] == col
            ):
                state = self.catalog.seq_drop(name)
                self._seq_txn_log("drop", name, state)
