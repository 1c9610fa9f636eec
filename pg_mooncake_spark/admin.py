"""Administrative / namespace statements a verbatim pg_dump (and the
reference's own bootstrap) replays: CREATE/DROP SCHEMA, CREATE/DROP
EXTENSION, ``SELECT pg_catalog.set_config(...)``, OWNER TO, and
GRANT/REVOKE.

The reference runs inside a real Postgres, which executes all of these
natively — its own bootstrap is ``CREATE SCHEMA mooncake``
(src/sql/bootstrap.sql:1) and its install is ``CREATE EXTENSION
pg_mooncake``.  A single-session analytics engine has no roles, ACLs, or
physical namespaces, so the honest analog is the validated-inert class
already used for LOCK TABLE: parse for real, validate targets for real,
record namespace objects in the catalog, and acknowledge — never
silently no-op an unparseable statement.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame

from pg_mooncake_spark.sqlparse import parse_table_name

_SCHEMAS = "__schemas__"
_EXTENSIONS = "__extensions__"

_SET_CONFIG_RE = re.compile(
    r"^\s*SELECT\s+(?:pg_catalog\.)?set_config\s*\(\s*"
    r"'([^']*)'\s*,\s*(?:'((?:[^']|'')*)'|NULL)\s*,\s*"
    r"(true|false)\s*\)\s*(?:AS\s+(\"[^\"]+\"|[A-Za-z_]\w*)\s*)?;?\s*$",
    re.I | re.S,
)


class AdminMixin:
    """Admin statement handlers, mixed into the SQL router."""

    # Handlers in the router's statement table (sql_router._STATEMENTS):
    # each parses its own statement; None hands it to Spark.

    def _sql_create_extension(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*CREATE\s+EXTENSION\s+(IF\s+NOT\s+EXISTS\s+)?"
            r'("[^"]+"|[A-Za-z_]\w*)'
            r"(?:\s+WITH)?(?:\s+SCHEMA\s+[\w\"]+)?"
            r"(?:\s+VERSION\s+\S+)?(?:\s+CASCADE)?\s*;?\s*$",
            query, re.I,
        )
        if not m:
            return None
        name = m.group(2).strip('"').lower()
        if not self.catalog.named_set_add(_EXTENSIONS, name):
            if not m.group(1):
                raise ValueError(f'extension "{name}" already exists')
        else:
            self._seq_txn_log("ext_create", name)
        return self._dml_result("CREATE EXTENSION", name, 1)

    def _sql_drop_extension(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*DROP\s+EXTENSION\s+(IF\s+EXISTS\s+)?"
            r'("[^"]+"|[A-Za-z_]\w*)\s*(?:CASCADE|RESTRICT)?\s*;?\s*$',
            query, re.I,
        )
        if not m:
            return None
        name = m.group(2).strip('"').lower()
        if not self.catalog.named_set_remove(_EXTENSIONS, name):
            if not m.group(1):
                raise ValueError(f'extension "{name}" does not exist')
        else:
            self._seq_txn_log("ext_drop", name)
        return self._dml_result("DROP EXTENSION", name, 1)

    def _sql_alter_view_owner(self, query: str, *_) -> Optional[DataFrame]:
        """``ALTER [MATERIALIZED] VIEW v OWNER TO r`` — validated-inert."""
        m = re.match(
            r"^\s*ALTER\s+(VIEW|MATERIALIZED\s+VIEW)\s+([\w.\"]+)\s+"
            r"OWNER\s+TO\s+[\w\"]+\s*;?\s*$",
            query, re.I,
        )
        if not m:
            return None
        name = parse_table_name(m.group(2))
        if name not in self.catalog.list_tables():
            raise ValueError(f'relation "{name}" does not exist')
        return self._dml_result("ALTER", name, 0)

    def _sql_grant(self, query: str, *_) -> DataFrame:
        """GRANT / REVOKE: single-session engine, no roles to grant to —
        inert, same class as LOCK TABLE (pg_dump emits one per object)."""
        word = query.strip().split()[0].upper()
        return self._txn_result(word, "privilege statement (inert)")

    # ----------------------------------------------------------- schemas

    @staticmethod
    def _schema_fold(tok: str) -> str:
        return tok[1:-1] if tok.startswith('"') else tok.lower()

    def _known_schemas(self) -> set[str]:
        """Recorded schemas plus the implicit ones: public, mooncake
        (the reference's bootstrap), and every schema a cataloged
        table/sequence already lives in."""
        out = {"public", "mooncake"}
        out.update(self.catalog.named_set(_SCHEMAS))
        for t in self.catalog.list_tables():
            if "." in t:
                out.add(t.rsplit(".", 1)[0])
        for s in self.catalog.sequences():
            if "." in s:
                out.add(s.rsplit(".", 1)[0])
        return out

    def _sql_create_schema(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?"
            r'("[^"]+"|[A-Za-z_]\w*)\s*(?:AUTHORIZATION\s+[\w"]+\s*)?'
            r";?\s*$",
            query, re.I,
        )
        if not m:
            return None
        if_not_exists, name = bool(m.group(1)), self._schema_fold(m.group(2))
        if name in self._known_schemas():
            if if_not_exists:
                return self._dml_result("CREATE SCHEMA", name, 0)
            raise ValueError(f'schema "{name}" already exists')
        self.catalog.named_set_add(_SCHEMAS, name)
        self._seq_txn_log("schema_create", name)
        return self._dml_result("CREATE SCHEMA", name, 1)

    def _sql_drop_schema(self, query: str, *_) -> Optional[DataFrame]:
        m = re.match(
            r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?(.+?)"
            r"\s*(\bCASCADE)?\s*(?:\bRESTRICT)?\s*;?\s*$",
            query, re.I | re.S,
        )
        if not m:
            return None
        if_exists, names, cascade = (
            bool(m.group(1)), m.group(2), bool(m.group(3))
        )
        last, n = "?", 0
        for raw in names.split(","):
            raw = raw.strip()
            if not raw:
                continue
            name = self._schema_fold(raw)
            known = name in self._known_schemas()
            if not known:
                if if_exists:
                    continue
                raise ValueError(f'schema "{name}" does not exist')
            tabs = [
                t for t in self.catalog.list_tables()
                if t.startswith(f"{name}.")
            ]
            seqs = [
                s for s, st in self.catalog.sequences().items()
                if s.startswith(f"{name}.")
            ]
            if (tabs or seqs) and not cascade:
                raise ValueError(
                    f'cannot drop schema "{name}" because other objects '
                    "depend on it (use DROP SCHEMA ... CASCADE)"
                )
            for t in tabs:
                self.drop_table(t)
                self._seq_drop_owned(t)
            for s in seqs:
                try:
                    self.catalog.seq_drop(s)
                except KeyError:
                    pass  # dropped with its owner table above
            if self.catalog.named_set_remove(_SCHEMAS, name):
                self._seq_txn_log("schema_drop", name)
            last, n = name, n + 1
        return self._dml_result("DROP SCHEMA", last, n)

    def _sql_alter_schema(self, query: str, *_) -> Optional[DataFrame]:
        """``ALTER SCHEMA s OWNER TO r`` — validated-inert."""
        m = re.match(
            r"^\s*ALTER\s+SCHEMA\s+(\"[^\"]+\"|[A-Za-z_]\w*)\s+"
            r"OWNER\s+TO\s+[\w\"]+\s*;?\s*$",
            query, re.I,
        )
        if not m:
            return None
        name = self._schema_fold(m.group(1))
        if name not in self._known_schemas():
            raise ValueError(f'schema "{name}" does not exist')
        return self._dml_result("ALTER SCHEMA", name, 0)

    # -------------------------------------------------------- set_config

    def _sql_set_config(self, query: str) -> Optional[DataFrame]:
        """``SELECT pg_catalog.set_config(name, value, is_local)`` — the
        function spelling of SET/SET LOCAL that opens every verbatim
        pg_dump (``set_config('search_path', '', false)``).  Routes
        through the same GUC machinery; returns the new value.  None for
        any other SELECT."""
        m = _SET_CONFIG_RE.match(query)
        if m is None:
            return None
        name = self._guc_name(m.group(1))
        value = None if m.group(2) is None else m.group(2).replace("''", "'")
        self._guc_assign(name, value, m.group(3).lower() == "true")
        col = (m.group(4) or "set_config").strip('"')
        return self.spark.createDataFrame(
            [(self._guc_effective(name),)], f"`{col}` string"
        )
