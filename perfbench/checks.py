"""Output checks, run outside the timed window.

- Ops with a DuckDB oracle: row count, column names and the
  order-insensitive value hash of ``tools/check_oracle.frame_hash``; on a
  hash mismatch, aligned rows whose floats are within 2 ulp
  (``check_oracle.ulp_match``) still pass.
- Oracle-less ops: rows only, i.e. non-empty with the expected columns.
- Task graphs: equal to the plain-Python value (done by the runner).
"""

from __future__ import annotations

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def check_frame(pdf, oracle_sql: str | None, columns: tuple, con) -> str | None:
    """None if ``pdf`` passes, else what is wrong with it.  Needs
    ``tools/`` on ``sys.path`` (``engine.import_package`` puts it there)."""
    from check_oracle import frame_hash, ulp_match

    if oracle_sql is None:
        missing = [c for c in columns if c not in pdf.columns]
        if missing:
            return f"missing columns {missing}"
        return None if len(pdf) else "no rows"
    odf = con.execute(oracle_sql).df()
    if len(pdf) != len(odf):
        return f"rows {len(pdf)} != oracle {len(odf)}"
    if sorted(pdf.columns) != sorted(odf.columns):
        return f"columns {sorted(pdf.columns)} != oracle {sorted(odf.columns)}"
    if frame_hash(pdf) == frame_hash(odf):
        return None
    ok, _, detail = ulp_match(pdf, odf, 2)
    return None if ok else f"hash mismatch: {detail}"
