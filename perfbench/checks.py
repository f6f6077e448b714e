"""Result checks: canonical rows, digests and the DuckDB references.

Every check runs outside the timed region. A check returns ``None`` when
the output is right and a one-line reason when it is not; the harness
counts the reason as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from tools.verify_local import TABLES, rows_canon


def python_rows(pdf, dtypes: list[tuple[str, str]]) -> list[tuple]:
    """Rows of a ``toPandas`` result as the Python values ``collect()``
    would give: nulls as None, integer columns as int (pandas widens an
    integer column holding nulls to float), arrays as lists."""
    cols = []
    for (_, dtype), series in zip(dtypes, (pdf[c] for c in pdf.columns)):
        values = series.tolist()
        integral = dtype in ("tinyint", "smallint", "int", "bigint")
        out = []
        for v in values:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                out.append(None)
            elif integral:
                out.append(int(v))
            elif hasattr(v, "to_pydatetime"):
                out.append(None if v != v else v.to_pydatetime())
            elif hasattr(v, "tolist"):
                out.append(v.tolist())
            else:
                out.append(v)
        cols.append(out)
    return list(zip(*cols))


def query_result(pdf, dtypes: list[tuple[str, str]]) -> tuple[list[str], list[tuple]]:
    """(column names, rows) of a fetched query result."""
    return [c for c, _ in dtypes], python_rows(pdf, dtypes)


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, canonicalized exactly as the
    correctness gate canonicalizes it (``tools/verify_local.rows_canon``)."""
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for row in rows_canon(cols, rows):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def _approx_row(row: tuple[str, ...]) -> tuple:
    out = []
    for v in row:
        try:
            out.append(float(v))
        except ValueError:
            out.append(v)
    return tuple(out)


def approx_equal(a: list[tuple], b: list[tuple], rel: float = 1e-9) -> bool:
    """Canonical rows equal up to float rounding. Plain-double sums differ
    between engines in the last bits, because each adds in its own order."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(_approx_row(ra), _approx_row(rb)):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel, abs_tol=rel):
                    return False
            elif x != y:
                return False
    return True


class References:
    """DuckDB references for the console queries over the generated
    tables, computed once per checkout and kept beside the tables (they
    depend on the tables only, never on the seed)."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.path = os.path.join(sf_dir, "references.json")
        self._refs: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self._refs = json.load(fh)

    def ensure(self, oracles: dict[str, tuple[str, bool]]) -> None:
        """``oracles`` maps an operation name to (DuckDB SQL, approximate)."""
        missing = {k: v for k, v in oracles.items() if k not in self._refs}
        if not missing:
            return
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, (sql, approx) in missing.items():
                rel = con.sql(sql)
                cols, rows = list(rel.columns), rel.fetchall()
                self._refs[name] = (
                    {"cols": sorted(cols), "rows": [list(r) for r in rows_canon(cols, rows)]}
                    if approx else {"digest": digest(cols, rows)}
                )
        finally:
            con.close()
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._refs, fh)
        os.replace(tmp, self.path)

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        ref = self._refs[name]
        if "digest" in ref:
            got = digest(cols, rows)
            return None if got == ref["digest"] else f"digest {got} != oracle {ref['digest']}"
        if sorted(cols) != ref["cols"]:
            return f"columns {sorted(cols)} != oracle {ref['cols']}"
        want = [tuple(r) for r in ref["rows"]]
        if not approx_equal(rows_canon(cols, rows), want):
            return f"values differ from the oracle ({len(rows)} vs {len(want)} rows)"
        return None
