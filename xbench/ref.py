"""Correctness references computed by DuckDB over the generated parquet.

None of this runs code from the engine under test. The validation counts
re-derive the flagship rule in SQL; the curation reference replays the
``pipeline_curate`` oracle SQL from ``__spark_entry__.oracle_sql()`` (the
same DuckDB replica the repository's oracle-parity check uses). A reference
is computed once per seed and cached as JSON, keyed by a hash of everything
it depends on, so set-up never pays for it.
"""

from __future__ import annotations

import hashlib
import json
import os

# per-doc violation count under FLAGSHIP_RULE: minItems on spans, then per
# span `required: [kind]`, the kind enum and `offset >= 0`
_VIOLATIONS = """
    (CASE WHEN len(spans) = 0 THEN 1 ELSE 0 END)
    + coalesce((SELECT sum((s.kind IS NULL)::INT
                           + (s.kind IS NOT NULL
                              AND s.kind NOT IN ('text', 'media'))::INT
                           + (s."offset" < 0)::INT)
                FROM unnest(spans) AS u(s)), 0)
"""


def _connect(work: str):
    import duckdb

    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def validation_counts(work: str, docs: str, assets: str) -> dict:
    """The totals run_validation reports for one corpus."""
    con = _connect(work)
    try:
        con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{docs}')")
        n_rows, n_valid, n_viol = con.execute(
            f"SELECT count(*), sum((nv = 0)::INT), sum(nv) "
            f"FROM (SELECT {_VIOLATIONS} AS nv FROM d)").fetchone()
        dups = con.execute(
            "SELECT count(*) FROM (SELECT doc_id FROM d GROUP BY 1 "
            "HAVING count(*) > 1)").fetchone()[0]
        dangling = con.execute(
            f"SELECT count(*) FROM (SELECT unnest(spans).media_ref AS r FROM d) "
            f"WHERE r IS NOT NULL AND r NOT IN "
            f"(SELECT media_ref FROM read_parquet('{assets}'))").fetchone()[0]
    finally:
        con.close()
    return {"n_rows": int(n_rows), "n_valid": int(n_valid),
            "n_violations": int(n_viol), "duplicate_doc_ids": int(dups),
            "dangling_refs": int(dangling)}


def valid_split(work: str, batches: list[str]) -> list[dict]:
    """Running {valid: count} totals after each batch is committed."""
    con = _connect(work)
    out, total = [], {True: 0, False: 0}
    try:
        for path in batches:
            for valid, n in con.execute(
                    f"SELECT nv = 0, count(*) FROM (SELECT {_VIOLATIONS} AS nv "
                    f"FROM read_parquet('{path}')) GROUP BY 1").fetchall():
                total[bool(valid)] += int(n)
            out.append({"true": total[True], "false": total[False]})
    finally:
        con.close()
    return out


def canon_rows(rows) -> list[list]:
    """Order-free, float-rounded form of a result, as the oracle gate
    compares them."""
    def cell(v):
        return round(float(v), 6) if isinstance(v, float) else v
    return sorted([[cell(v) for v in r] for r in rows], key=repr)


def curate_rows(work: str, sf_dir: str, sql: str, columns: list[str]) -> list:
    con = _connect(work)
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet')")
        rel = con.sql(sql)
        idx = [rel.columns.index(c) for c in columns]
        rows = [[r[k] for k in idx] for r in rel.fetchall()]
    finally:
        con.close()
    return canon_rows(rows)


def cached(cache_dir: str, key_parts: list[str], compute):
    """compute() once per distinct key; later runs read the JSON."""
    h = hashlib.sha256("\0".join(key_parts).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{h}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value
