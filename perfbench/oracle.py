"""Reference results for the benchmark's output checks.

Every registered query carries an ANSI-SQL oracle; DuckDB runs it over the
same parquet files the engine reads. Both sides arrive as Arrow tables and
are reduced to a digest of the canonical form the repository's own oracle
mirror compares (``tests/oracle.py``): columns sorted by name with their
canonical type class, rows normalised and sorted, each value tagged with
its type class. Two results match when their digests are equal, so the
benchmark accepts exactly what that mirror accepts.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa

from tests.oracle import _canon_arrow_type, _canon_rows, _type_tag, duck_connect


def digest(table: pa.Table) -> tuple[str, int]:
    """(sha256 of the canonical form, row count)."""
    names = table.column_names
    header = sorted((n, _canon_arrow_type(table.schema.field(n).type)) for n in names)
    rows = _canon_rows(names, [tuple(r.values()) for r in table.to_pylist()])
    h = hashlib.sha256(repr(header).encode())
    for r in rows:
        h.update(repr(tuple((_type_tag(v), v) for v in r)).encode())
        h.update(b"\n")
    return h.hexdigest(), table.num_rows


class Oracle:
    """DuckDB over the benchmark's parquet tables; one digest per query,
    computed on first use and kept for the rest of the invocation."""

    def __init__(self, data_dir: str):
        self.con = duck_connect(data_dir)
        self._digests: dict[str, tuple[str, int]] = {}

    def expected(self, name: str, sql: str) -> tuple[str, int]:
        if name not in self._digests:
            self._digests[name] = digest(self.con.execute(sql).fetch_arrow_table())
        return self._digests[name]

    def close(self) -> None:
        self.con.close()
