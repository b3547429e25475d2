"""Output checks, computed independently of the program in DuckDB over the
generated files and the sink the program wrote.

Each check compares an order-independent checksum (row count plus the
wrapping sum of a per-row hash) of the sink against the expected table.
Drains compare per micro-batch: a row belongs to the batch whose key
range (previous committed position, this position] holds it, so a wrong
row is charged to the batch that wrote it.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np

COLUMNS = {
    "documents": ["doc_id", "text", "src"],
    "accounts": ["id", "balance", "name", "version"],
}


def _files(table_dir):
    """Data files as Spark lists them: path parts starting with `_` or `.`
    are hidden unless they are `col=value` partition directories."""
    files = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))
    return [f for f in files
            if not any(p[:1] in "._" and "=" not in p
                       for p in os.path.relpath(f, table_dir).split(os.sep))]


def _scan(table_dir):
    files = _files(table_dir)
    if not files:
        return None
    return "read_parquet([" + ",".join("'" + f.replace("'", "''") + "'" for f in files) + "])"


def _hashes(con, relation, table, key):
    cols = ", ".join(COLUMNS[table])
    if relation is None:
        return np.zeros(0, np.int64), np.zeros(0, np.uint64)
    df = con.execute(f"SELECT {key} AS k, hash({cols}) AS h FROM {relation}").fetchnumpy()
    return df["k"].astype(np.int64), df["h"].astype(np.uint64)


def _groups(keys, hashes, bounds):
    """Per-batch (count, hash sum) with batch i holding keys in
    (bounds[i-1], bounds[i]]; group len(bounds) collects keys past the end."""
    g = np.searchsorted(np.asarray(bounds, np.int64), keys, side="left")
    n = len(bounds) + 1
    counts = np.bincount(g, minlength=n)
    sums = np.zeros(n, np.uint64)
    np.add.at(sums, g, hashes)
    return counts, sums


def digest(counts, sums):
    h = hashlib.sha256()
    h.update(np.asarray(counts, np.int64).tobytes())
    h.update(np.asarray(sums, np.uint64).tobytes())
    return h.hexdigest()[:16]


def expected_relation(workload, src_dir, position):
    """SQL for the rows the sink must hold after committing `position`."""
    if workload == "ingest_dedup":
        return (f"(SELECT * FROM {_scan(os.path.join(src_dir, 'documents.parquet'))} "
                f"WHERE doc_id <= {position} "
                "QUALIFY row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) = 1)")
    return f"(SELECT * FROM {_scan(os.path.join(src_dir, 'accounts.parquet'))})"


def check(workload, src_dir, sink_dir, positions):
    """Compare the sink with its expected table.

    `positions` are the committed positions after each batch (drains).
    Returns (bad_batches, digest): the batches whose rows differ (for the
    queue workload, every batch when the final table differs) and the
    sink's per-batch checksum digest."""
    table = "documents" if workload == "ingest_dedup" else "accounts"
    key = "doc_id" if table == "documents" else "id"
    con = duckdb.connect()
    try:
        if workload == "cdc_queue":
            bounds = []
            exp = expected_relation(workload, src_dir, None)
        else:
            bounds = sorted(set(positions))
            exp = expected_relation(workload, src_dir, bounds[-1] if bounds else -2**62)
        ek, eh = _hashes(con, exp, table, key)
        sk, sh = _hashes(con, _scan(os.path.join(sink_dir, f"{table}.parquet")), table, key)
    finally:
        con.close()
    ec, es = _groups(ek, eh, bounds)
    sc, ss = _groups(sk, sh, bounds)
    bad = int(np.sum((ec != sc) | (es != ss)))
    if workload == "cdc_queue" and bad:
        bad = max(1, len(positions))
    return bad, digest(sc, ss)
