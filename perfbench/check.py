"""Output check: each op's collected rows against its DuckDB oracle.

Reuses ``tools/check_oracle.py``'s canonicalization (order-insensitive
canonical multisets, column names, declared-type parity), so a row passes
here exactly when it would pass the repository's correctness gate.
"""

from __future__ import annotations

import os
import sys

import duckdb


def check_outputs(records: list[dict], oracles: dict[str, str], sf_dir: str,
                  threads: int, tmp_dir: str) -> list[str]:
    """Compare each distinct op's rows (``records`` from a collecting run
    over ``sf_dir``) with its oracle; return one message per mismatch."""
    saved = list(sys.path)
    from tools import check_oracle as co  # its import prepends a repo path
    from sdu_hadoop_indexer_spark.catalog import TABLES

    sys.path[:] = saved

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):  # corpora hold only documents
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out, seen = [], set()
        for rec in records:
            name = rec["name"]
            if name in seen:
                continue
            seen.add(name)
            if name not in oracles:
                out.append(f"{name}: no oracle")
                continue
            drows = co.duck_rows(con, oracles[name])
            found = co.type_fingerprint_findings(name, con, oracles[name], rec["df"].schema)
            if found:
                out.append(f"{name}: type parity: {found[0]}")
                continue
            srows = rec["rows"]
            scols = sorted(srows[0]) if srows else sorted(rec["df"].columns)
            dcols = sorted(drows[0]) if drows else []
            if drows and scols != dcols:
                out.append(f"{name}: columns spark={scols} duckdb={dcols}")
                continue
            sms, dms = co.rows_to_multiset(srows), co.rows_to_multiset(drows)
            if sms != dms:
                diff = next((i for i, (a, b) in enumerate(zip(sms, dms)) if a != b),
                            min(len(sms), len(dms)))
                out.append(f"{name}: rows spark={len(sms)} duckdb={len(dms)}, "
                           f"first difference at sorted row {diff}")
        return out
    finally:
        con.close()
