"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical tables, so a run's inputs can be rebuilt from its seed.
The program under test sees only the parquet files written here.

Layout under a work directory `w`:
  w/src/<table>.parquet/        source table(s) the pipeline reads
  w/dest_<phase>/<table>.parquet/  cdc_queue only: the pre-loaded replica
  w/changes_<phase>/            cdc_queue only: staged changelog files and
                                schedule.txt ("<file> <offset seconds>")
  w/queue_<phase>/              cdc_queue only: the live changelog dir,
                                holding the backlog from the start
  w/warm/q<i>/                  cdc_queue only: warm-up changelogs
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. ingest_dedup drains only its first batches, but
# each sequential extract reads every source row past its position, so
# the source size is part of a batch's work.
DOC_ROWS = 250_000
DOC_DUP_SHARE = 0.2
ACCOUNT_ROWS = 50_000
# cdc_queue: changelog entries offered per second (open loop, about half
# of what the seed code sustains on 4 cores) and the delivery tick.
CDC_RATE = 160
# cdc_queue: entries already in the changelog when a run starts, per
# second of run length; drained closed loop before the open-loop schedule.
# Not a multiple of BatchSize, so the drain ends on a short batch.
CDC_BACKLOG_PER_S = 250
CDC_TICK_S = 0.25
CDC_NEW_KEY_SHARE = 0.1
CDC_REMOVE_SHARE = 0.15
CDC_ZIPF_A = 1.1
WARM_ENTRIES = 200
SETUP_REPS = 3

QUEUE_SCHEMA = pa.schema([
    ("sourceDatabase", pa.string()), ("sourceTable", pa.string()),
    ("pkColumn", pa.string()), ("pkValue", pa.string()),
    ("timestampUpdated", pa.timestamp("us", tz="UTC")), ("method", pa.string())])
QUEUE_EPOCH_US = 1_700_000_000_000_000
# entry i of a changelog is stamped QUEUE_EPOCH_US + i * ENTRY_STEP_US, so
# a timestamp read back from an ack names its entry
ENTRY_STEP_US = 1000


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _words(rng, n, lo=3, hi=9):
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(lo, hi, n)
    return ["".join(map(chr, rng.choice(letters, k))) for k in lens]


def _write_parts(table, path, parts, row_group_size=16384):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group_size)


def _case_variant(text, how):
    if how == 0:
        return text.upper()
    if how == 1:
        return text.title()
    return text[:1].upper() + text[1:]


def documents(seed, rows=DOC_ROWS, dup_share=DOC_DUP_SHARE):
    """ingest_dedup source: ASCII documents, `dup_share` of which repeat an
    earlier document's text with only its letter case changed."""
    rng = _rng(seed, 2)
    vocab = np.array(_words(rng, 4000), dtype=object)
    nwords = rng.integers(8, 20, rows)
    flat = vocab[rng.integers(0, len(vocab), int(nwords.sum()))]
    ends = np.cumsum(nwords)
    texts = [" ".join(flat[e - k:e]) for e, k in zip(ends, nwords)]
    dup = rng.random(rows) < dup_share
    dup[0] = False
    # copies reach back up to 30k documents: some land in the same
    # 10k batch as their original, most in a later one
    back = rng.integers(1, 30_000, rows)
    how = rng.integers(0, 3, rows)
    for i in np.flatnonzero(dup):
        texts[i] = _case_variant(texts[max(0, i - int(back[i]))], int(how[i]))
    ids = np.arange(1, rows + 1, dtype=np.int64) * 2 + int(rng.integers(0, 100))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "src": pa.array(np.array(["web", "books", "code", "news"], dtype=object)[
            rng.integers(0, 4, rows)], pa.string()),
    })


def _account_rows(rng, ids, version):
    names = np.array(_words(rng, 300), dtype=object)
    return {
        "id": ids.astype(np.int64),
        "balance": np.round(rng.normal(1000.0, 300.0, len(ids)), 2),
        "name": names[rng.integers(0, len(names), len(ids))],
        "version": np.full(len(ids), version, dtype=np.int32),
    }


def _account_table(cols):
    return pa.table({
        "id": pa.array(cols["id"], pa.int64()),
        "balance": pa.array(cols["balance"], pa.float64()),
        "name": pa.array(cols["name"], pa.string()),
        "version": pa.array(cols["version"], pa.int32()),
    })


def cdc(seed, seconds, base_rows=ACCOUNT_ROWS, rate=CDC_RATE, tick=CDC_TICK_S):
    """cdc_queue inputs: the base table the replica starts from, the change
    entries (Zipf-skewed keys, UPDATE incl. first writes of new keys, and
    REMOVE) — a backlog followed by one changelog file per tick — and the
    source table as it stands after every change, which is what the
    replica must equal at the end.

    Returns (base, final, backlog, files) where backlog is a pyarrow table
    of entries and files a list of (offset seconds, pyarrow table)."""
    rng = _rng(seed, 3)
    base = _account_table(_account_rows(rng, np.arange(1, base_rows + 1), 1))
    nfiles = max(1, int(round(seconds / tick)))
    per_file = max(1, int(round(rate * tick)))
    nb = max(1, int(round(CDC_BACKLOG_PER_S * seconds)))
    n = nb + nfiles * per_file
    keyspace = int(base_rows * (1 + CDC_NEW_KEY_SHARE))
    perm = rng.permutation(keyspace) + 1
    keys = perm[(rng.zipf(CDC_ZIPF_A, n) - 1) % keyspace].astype(np.int64)
    remove = rng.random(n) < CDC_REMOVE_SHARE

    state = {int(k): i for i, k in enumerate(base.column("id").to_numpy())}
    bal = base.column("balance").to_numpy().copy()
    names = base.column("name").to_numpy(zero_copy_only=False).copy()
    vers = base.column("version").to_numpy().copy()
    fresh = _account_rows(rng, keys, 0)
    rows = {k: (float(bal[i]), names[i], int(vers[i])) for k, i in state.items()}
    for j in range(n):
        k = int(keys[j])
        if remove[j]:
            rows.pop(k, None)
        else:
            prev = rows.get(k)
            rows[k] = (float(fresh["balance"][j]), fresh["name"][j],
                       (prev[2] if prev else 0) + 1)
    ks = np.array(sorted(rows), dtype=np.int64)
    final = _account_table({
        "id": ks,
        "balance": np.array([rows[k][0] for k in ks]),
        "name": np.array([rows[k][1] for k in ks], dtype=object),
        "version": np.array([rows[k][2] for k in ks], dtype=np.int32),
    })

    ts = QUEUE_EPOCH_US + np.arange(n, dtype=np.int64) * ENTRY_STEP_US
    entries = _queue_entries(keys, ts, np.where(remove, "REMOVE", "UPDATE"))
    files = [((i + 1) * tick, entries.slice(nb + i * per_file, per_file)) for i in range(nfiles)]
    return base, final, entries.slice(0, nb), files


def warm_queue(seed, rep, rows=WARM_ENTRIES):
    """Warm-up changelog for set-up `rep`: UPDATEs of existing base keys."""
    rng = _rng(seed, 10 + rep)
    keys = rng.choice(np.arange(1, ACCOUNT_ROWS + 1), rows, replace=False)
    ts = QUEUE_EPOCH_US - (rows - np.arange(rows, dtype=np.int64)) * ENTRY_STEP_US
    return _queue_entries(keys, ts, ["UPDATE"] * rows)


def _queue_entries(keys, ts, methods):
    n = len(keys)
    return pa.table({
        "sourceDatabase": pa.array(["bench"] * n, pa.string()),
        "sourceTable": pa.array(["accounts"] * n, pa.string()),
        "pkColumn": pa.array(["id"] * n, pa.string()),
        "pkValue": pa.array(keys.astype(str), pa.string()),
        "timestampUpdated": pa.array(ts, QUEUE_SCHEMA.field("timestampUpdated").type),
        "method": pa.array(methods, pa.string()),
    })


TABLES = {"ingest_dedup": "documents", "cdc_queue": "accounts"}
KEYS = {"ingest_dedup": "doc_id", "cdc_queue": "id"}


def generate(workload, seed, work, phases, seconds, rate=CDC_RATE):
    """Write every input of `workload` under `work`. `phases` names the
    timed pipelines; `seconds` and `rate` set each one's changelog
    schedule. Returns what the checks need: the cdc backlog size, the
    changelog file names in delivery order and the entries per file."""
    src = os.path.join(work, "src")
    table = TABLES[workload]
    if workload == "ingest_dedup":
        _write_parts(documents(seed), os.path.join(src, "documents.parquet"), 4)
        return {}
    base, final, backlog, files = cdc(seed, seconds, rate=rate)
    _write_parts(final, os.path.join(src, f"{table}.parquet"), 2)
    for rep in range(SETUP_REPS):
        q = os.path.join(work, "warm", f"q{rep}")
        os.makedirs(q)
        pq.write_table(warm_queue(seed, rep), os.path.join(q, "w.parquet"))
    for phase in phases:
        _write_parts(base, os.path.join(work, f"dest_{phase}", f"{table}.parquet"), 1)
        q = os.path.join(work, f"queue_{phase}")
        os.makedirs(q)
        pq.write_table(backlog, os.path.join(q, "backlog.parquet"))
        ch = os.path.join(work, f"changes_{phase}")
        os.makedirs(ch)
        with open(os.path.join(ch, "schedule.txt"), "w") as f:
            for i, (offset, t) in enumerate(files):
                name = f"c_{i:05d}.parquet"
                pq.write_table(t, os.path.join(ch, name))
                f.write(f"{name} {offset:.3f}\n")
    return {"backlog": backlog.num_rows,
            "files": [f"c_{i:05d}.parquet" for i in range(len(files))],
            "per_file": files[0][1].num_rows}


def fingerprint(work):
    """Digest of every generated file's path and bytes, so tests can show
    the same seed rebuilds the same inputs. Call it before the run."""
    import hashlib
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(work)):
        for f in sorted(fs):
            h.update(os.path.relpath(os.path.join(d, f), work).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
