"""Order-independent result fingerprints and the DuckDB oracle check.

A fingerprint is computed the same way for both sides, inside DuckDB:
columns sorted by name, every cell rendered in one canonical text form
(integral numbers as integers, other numbers as doubles, timestamps as
epoch microseconds), each row hashed, and the row hashes summed, so row
order does not matter. Oracle fingerprints are cached per (query, SQL),
since query results do not depend on the row order of their inputs.
"""
import hashlib
import json
import threading
from pathlib import Path

ORACLE_TIMEOUT_S = 60

_INTS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
         "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")


def _canon_sql(col, typ):
    c = '"' + col.replace('"', '""') + '"'
    t = typ.upper()
    if t in _INTS:
        return f"CAST({c} AS VARCHAR)"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        d = f"CAST({c} AS DOUBLE)"
        return (f"CASE WHEN isnan({d}) THEN 'NaN' "
                f"WHEN isfinite({d}) AND {d} = trunc({d}) AND abs({d}) < 9.0e18 "
                f"THEN CAST(CAST({d} AS BIGINT) AS VARCHAR) "
                f"ELSE CAST({d} AS VARCHAR) END")
    if t == "BOOLEAN":
        return f"CAST(CAST({c} AS INTEGER) AS VARCHAR)"
    if t.startswith("TIMESTAMP"):
        return f"CAST(epoch_us({c}) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def fingerprint(con, relation):
    """{"rows", "cols", "sha"} of a table or view named `relation`."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {relation}").fetchall()}
    cols = sorted(types)
    cells = ", ".join(f"coalesce({_canon_sql(c, types[c])}, '\\N')" for c in cols)
    n, acc = con.execute(
        f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {cells}))::HUGEINT), 0) "
        f"FROM {relation}").fetchone()
    return {"rows": n, "cols": cols, "sha": str(acc)}


def connect(table_dir, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{table_dir}/{t}.parquet')")
    return con


def dump_fingerprint(con, dump_dir):
    con.execute(f"CREATE OR REPLACE TEMP VIEW dumped AS "
                f"SELECT * FROM parquet_scan('{dump_dir}/*.parquet')")
    return fingerprint(con, "dumped")


def sql_fingerprint(con, sql, timeout=ORACLE_TIMEOUT_S):
    """Fingerprint of `sql`, or None if it does not finish in `timeout`."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE oracled AS {sql.strip().rstrip(';')}")
        return fingerprint(con, "oracled")
    except Exception as e:  # interrupted or failing oracle SQL
        if "INTERRUPT" in str(e).upper():
            return None
        raise
    finally:
        timer.cancel()


def expected(con, cache_dir, query, sql, scale_sql, dump_dir):
    """The query's expected fingerprint: the primary oracle, else the
    large-SF oracle when it differs, else the engine's own first result,
    marked pinned (not oracled). Cached in `cache_dir`."""
    key = hashlib.sha256(f"v2\n{query}\n{sql}\n{scale_sql}".encode()).hexdigest()[:16]
    path = Path(cache_dir) / f"{query}-{key}.json"
    if path.is_file():
        return json.loads(path.read_text())
    fp = None
    for source, s in (("oracle", sql), ("oracle_scale", scale_sql)):
        if s:
            fp = sql_fingerprint(con, s)
            if fp is not None:
                fp["source"] = source
                break
    if fp is None:
        fp = dump_fingerprint(con, dump_dir)
        fp["source"] = "pinned, not oracled"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(fp, sort_keys=True))
    return fp


def check_query(con, cache_dir, query, info, dump_dir):
    """(expected fingerprint, dumped result's fingerprint, mismatch or None)."""
    got = dump_fingerprint(con, dump_dir)
    want = expected(con, cache_dir, query, info.get("oracle"),
                    info.get("oracle_scale"), dump_dir)
    if (got["rows"], got["cols"], got["sha"]) != (want["rows"], want["cols"], want["sha"]):
        return want, got, (f"fingerprint differs from {want['source']}: rows {got['rows']} "
                           f"vs {want['rows']}, cols {got['cols']} vs {want['cols']}")
    return want, got, None
