"""Output checks, run once per run outside the timed passes.

Oracle-gated ops compare their row count and an order-insensitive hash
of their values with the registry's DuckDB ``oracle_sql()`` run on the
committed fixture.  The rows-only ``minhash_lsh_pairs`` is checked
against an exact DuckDB oracle of what it approximates: it must return
exactly the pairs of the shingle-Jaccard oracle ``ngram_jaccard_pairs``
(the repo's LSH≡exact pin).

The veneer ops compare with pandas on the same generated data; see
``workloads.py``.
"""

from __future__ import annotations

import hashlib

from tools.check_correctness import norm_rows

# rows-only op -> the exact oracle whose (doc_a, doc_b) pairs it must return
PAIR_ORACLES = {"minhash_lsh_pairs": "ngram_jaccard_pairs"}


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """sha256 of the rows as the correctness tool normalises them
    (columns in name order, cells normalised, rows sorted), so neither
    column nor row order matters."""
    h = hashlib.sha256()
    for row in norm_rows(cols, rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class OracleChecker:
    """DuckDB views over the committed fixture and the expected result of
    each checked op, computed lazily."""

    def __init__(self, fixture_dir: str, tables: list[str]):
        import duckdb

        from mini_pandas_spark.queries import oracle_sql

        self._oracles = oracle_sql()
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'"
            )

    def _oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        rel = self._con.sql(self._oracles[name])
        return list(rel.columns), [tuple(r) for r in rel.fetchall()]

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None if ``rows`` is right for op ``name``, else what is wrong."""
        if name in PAIR_ORACLES:
            ref = PAIR_ORACLES[name]
            got, want = _pairs(cols, rows), _pairs(*self._oracle(ref))
            return None if got == want else (
                f"{len(got)} pairs vs {len(want)} exact pairs of {ref}"
            )
        if name not in self._oracles:
            return f"no oracle for {name}"
        dcols, drows = self._oracle(name)
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} vs {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"row count {len(rows)} vs {len(drows)}"
        if value_hash(cols, rows) != value_hash(dcols, drows):
            return "value hash differs"
        return None

    def close(self) -> None:
        self._con.close()


def _pairs(cols: list[str], rows: list[tuple]) -> set:
    ia, ib = cols.index("doc_a"), cols.index("doc_b")
    return {(r[ia], r[ib]) for r in rows}
