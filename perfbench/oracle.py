"""Result check against each query's DuckDB oracle.

The gate is ``tools/check.py``'s: the same column names, the same
declared types (:func:`type_problems`) and the same row multiset, with
one relaxation: float cells match at relative 1e-9 (every other type
exactly), because an unrounded double sum may legitimately differ from
DuckDB's in the last digits.

DuckDB computes the exact multiset difference (``EXCEPT ALL``) of the
Spark result and the oracle, so a multi-million-row result costs no
Python per-row work when it matches.  Only rows left in the difference
are fetched; they are normalized with :func:`to_multiset` and paired
under the float tolerance.  Oracle results are computed once per
(oracle SQL, corpus) and kept in a DuckDB file, since they depend on
nothing the program under test does.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from tools.check import TABLE_NAMES, to_multiset, type_problems

REL_TOL = 1e-9
#: Rows left after the exact difference beyond which no pairing is tried.
MAX_RESIDUE = 2000


def _cells_close(a, b) -> bool:
    """Compare two cells in ``tools.check.norm`` form (as ``to_multiset``
    yields them): floats at REL_TOL, everything else exactly."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        if len(a) == 2 and a[0] == "float" and b[0] == "float":
            if a[1] == b[1]:
                return True
            if "NaN" in (a[1], b[1]):
                return False
            return math.isclose(float(a[1]), float(b[1]), rel_tol=REL_TOL)
        return len(a) == len(b) and all(_cells_close(x, y) for x, y in zip(a, b))
    return a == b


def _pair_within_tolerance(only_s, only_o) -> bool:
    """Greedy one-to-one pairing of the differing rows under REL_TOL."""
    left = list(only_o.elements())
    for row in only_s.elements():
        for i, cand in enumerate(left):
            if _cells_close(row, cand):
                del left[i]
                break
        else:
            return False
    return not left


def _arrow(pdf, schema) -> pa.Table:
    """The toPandas result as Arrow under the query's declared schema
    (integer columns with nulls come back from pandas as floats)."""
    fields = []
    for f in to_arrow_schema(schema):
        t = f.type
        if pa.types.is_timestamp(t) and t.tz is not None:
            t = pa.timestamp(t.unit)  # session time zone is UTC; DuckDB side is naive
        fields.append(pa.field(f.name, t))
    return pa.Table.from_pandas(pdf, schema=pa.schema(fields), preserve_index=False)


class Oracle:
    """DuckDB views over one corpus plus a persistent result memo."""

    def __init__(self, sf_dir: str, memo_path: str, corpus_key: str) -> None:
        self.corpus_key = corpus_key
        #: set by check() when the match needed the float tolerance
        self.tolerated: str | None = None
        self.con = duckdb.connect(memo_path)
        for t in TABLE_NAMES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(
                    f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )

    def close(self) -> None:
        self.con.close()

    def _expected(self, sql: str) -> str:
        """Name of the memo table holding ``sql``'s result on this corpus."""
        key = hashlib.sha1(
            f"{duckdb.__version__}\0{self.corpus_key}\0{sql}".encode()
        ).hexdigest()[:16]
        table = f"oracle_{key}"
        if not self.con.sql(
            f"SELECT 1 FROM duckdb_tables() WHERE table_name = '{table}'"
        ).fetchall():
            self.con.sql(f"CREATE TABLE {table} AS {sql}")
        return table

    def check(self, sql: str, schema, pdf) -> str | None:
        """Return None when the result matches the oracle, else the reason."""
        self.tolerated = None
        table = self._expected(sql)
        rel = self.con.table(table)
        scols, ocols = list(pdf.columns), rel.columns
        if sorted(scols) != sorted(ocols):
            return f"cols spark={sorted(scols)} oracle={sorted(ocols)}"
        tbad = type_problems(scols, schema, ocols, rel.types)
        if tbad:
            return "types " + "; ".join(tbad)
        n_oracle = rel.aggregate("count(*)").fetchone()[0]
        if len(pdf) != n_oracle:
            return f"rowcount spark={len(pdf)} oracle={n_oracle}"
        otypes = dict(zip(ocols, rel.types))
        cols = sorted(scols)
        # decimals compare as rendered text, so scale differences count
        sel = ", ".join(
            f'CAST("{c}" AS VARCHAR) AS "{c}"'
            if str(otypes[c]).upper().startswith("DECIMAL")
            else f'"{c}"'
            for c in cols
        )
        self.con.register("spark_result", _arrow(pdf, schema))
        try:
            only_s = self.con.sql(
                f"SELECT {sel} FROM spark_result EXCEPT ALL SELECT {sel} FROM {table}"
            ).fetchmany(MAX_RESIDUE + 1)
            only_o = self.con.sql(
                f"SELECT {sel} FROM {table} EXCEPT ALL SELECT {sel} FROM spark_result"
            ).fetchmany(MAX_RESIDUE + 1)
        finally:
            self.con.unregister("spark_result")
        if not only_s and not only_o:
            return None
        if max(len(only_s), len(only_o)) > MAX_RESIDUE:
            return f"values differ in more than {MAX_RESIDUE} rows"
        ms, mo = to_multiset(cols, only_s), to_multiset(cols, only_o)
        ms, mo = ms - mo, mo - ms
        if _pair_within_tolerance(ms, mo):
            self.tolerated = (
                f"{sum(ms.values())} rows equal only at rel {REL_TOL}; "
                f"spark={next(iter(ms), None)} oracle={next(iter(mo), None)}"
            )
            return None
        return (
            f"values differ in {max(sum(ms.values()), sum(mo.values()))} rows; "
            f"spark-only={next(iter(ms), None)} oracle-only={next(iter(mo), None)}"
        )
