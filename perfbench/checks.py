"""Output checks of the benchmark, run after the timed region.

Ingest: conservation, raw rows equal frames sent with every id exactly
once (so no id is in two segments), norm rows equal the generator's closed
form, the runner's per-segment aggregates sum to the closed forms, and the
manifest lists each closed segment once.

Query mix: every oracled query's parquet output hash-matches its DuckDB
oracle, canonicalized as scripts/check_oracle.py does (columns sorted by
name, rows sorted, floats rounded to 4 places, pandas dtypes). A query
without an oracle is checked against the row count pinned in ROWS_ONLY
and reported with an order-insensitive digest of its rows.
"""
import hashlib
import os
import sys
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import duckdb

import analysis as A

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from check_oracle import canon  # noqa: E402  (the repo's own oracle gate)

# row counts of the queries that have no SQL oracle
ROWS_ONLY = {"op_pipeline_sink": 1}


def _glob(d, *parts):
    return str(Path(d, *parts)).replace("'", "''")


def ingest(phase, seed):
    """Check one ingest phase's outputs (the phase map of the run record)."""
    errors = []
    n = phase["frames"]
    out = phase["out_dir"]
    pipe = phase["pipeline"]
    if pipe["error"]:
        errors.append(f"pipeline error: {pipe['error']}")
    if not pipe["conservation"]:
        errors.append("conservation does not hold")
    con = duckdb.connect()
    raw = _glob(out, "seg_*", "msgs", "*.parquet")
    total, distinct, id_sum = con.sql(
        f"SELECT count(*), count(DISTINCT id), sum(id) "
        f"FROM read_parquet('{raw}')").fetchone()
    norm = con.sql(f"SELECT count(*) FROM read_parquet("
                   f"'{_glob(out, 'seg_*', 'msgs_norm', '*.parquet')}')").fetchone()[0]
    want_norm = A.norm_rows_closed_form(n, seed)
    want_sum = n * (n - 1) // 2
    if total != n or distinct != n:
        errors.append(f"raw rows {total} ({distinct} distinct ids), frames sent {n}")
    if int(id_sum or 0) != want_sum:
        errors.append(f"raw id sum {id_sum} != {want_sum}")
    if norm != want_norm:
        errors.append(f"norm rows {norm} != closed form {want_norm}")
    segs = sorted(Path(s).name for s in phase["segments"])
    agg = con.sql(f"SELECT count(*), sum(raw_rows), sum(id_sum), sum(norm_rows) "
                  f"FROM read_parquet('{_glob(out, 'seg_*', '_agg', '*.parquet')}')"
                  ).fetchone()
    if agg[0] != len(segs) or agg[1] != n or int(agg[2]) != want_sum \
            or agg[3] != want_norm:
        errors.append(f"runner aggregates {agg} != ({len(segs)}, {n}, "
                      f"{want_sum}, {want_norm})")
    manifest = sorted(Path(p).name for (p,) in con.sql(
        f"SELECT path FROM read_parquet('{_glob(out, '_manifest', '*.parquet')}')"
    ).fetchall())
    if manifest != segs:
        errors.append(f"manifest lists {manifest}, closed segments are {segs}")
    lost = n - distinct
    duplicated = total - distinct
    failed = min(n, lost + duplicated + (n if pipe["error"] else 0))
    return {"errors": errors, "attempted": n, "failed": failed}


def rows_per_record(phase):
    p = phase["pipeline"]
    return p["norm_inserted"] / max(1, p["raw_inserted"])


def output_bytes(phase):
    """Bytes of the raw and norm tables the sink wrote."""
    root = Path(phase["out_dir"])
    return sum(f.stat().st_size for t in ("msgs", "msgs_norm")
               for f in root.glob(f"seg_*/{t}/*.parquet"))


def digest(cols, rows):
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _connect(rec):
    con = duckdb.connect()
    for t in rec["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{_glob(rec['data_dir'], t + '.parquet', '*.parquet')}')")
    return con


def _check_query(rec, q):
    """(error or None, rows, digest) of one query's output."""
    name = q["name"]
    if q["error"]:
        return f"{name} threw: {q['error']}", None, None
    con = _connect(rec)
    try:
        gcols, grows = canon(con.sql(
            f"SELECT * FROM read_parquet('{_glob(rec['out_dir'], name, '*.parquet')}')"))
    except Exception as e:  # an empty or unreadable result
        return f"{name}: result unreadable: {e}", None, None
    d = digest(gcols, grows)
    if name in rec["oracles"]:
        ecols, erows = canon(con.sql(rec["oracles"][name]))
        if (gcols, grows) != (ecols, erows):
            return (f"{name}: {len(grows)} rows {gcols} differ from the "
                    f"oracle's {len(erows)} rows {ecols}"), len(grows), d
    elif len(grows) != ROWS_ONLY.get(name, -1):
        return (f"{name}: {len(grows)} rows, expected "
                f"{ROWS_ONLY.get(name)}"), len(grows), d
    return None, len(grows), d


def queries(rec):
    """Check every query of a query-mix record, one worker process per core."""
    with ProcessPoolExecutor(os.cpu_count()) as pool:
        results = list(pool.map(_check_query, [rec] * len(rec["queries"]),
                                rec["queries"]))
    errors = [e for e, _, _ in results if e]
    digests = {q["name"]: {"rows": n, "digest": d}
               for q, (_, n, d) in zip(rec["queries"], results) if d}
    return {"errors": errors, "attempted": len(rec["queries"]),
            "failed": len(errors), "digests": digests}
