#!/usr/bin/env python3
"""Self-tests for the benchmark's generator and output checks; needs no
JVM and no build.

Usage (from the repository root): python3 perfbench/selftest.py

  - the same seed gives identical input fingerprints, another seed
    different ones, for every workload;
  - a sink copied from the expected table passes its check, also with its
    rows shuffled, and each injected fault — one dropped row, one
    duplicated row, one changed value — is caught.
"""
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
# one column per table that a fault may change, with a changed value
CHANGE = {"documents": "text || 'x'", "accounts": "balance + 1"}


def fresh(name):
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def write_sink(con, relation, sink_dir, table):
    out = os.path.join(sink_dir, f"{table}.parquet")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con.execute(f"COPY (SELECT {', '.join(checks.COLUMNS[table])} FROM {relation}) "
                f"TO '{out}/part-00000.parquet' (FORMAT PARQUET)")


def faults(table, key, k0):
    cols = checks.COLUMNS[table]
    changed = ", ".join(f"CASE WHEN {key} = {k0} THEN {CHANGE[table]} ELSE {c} END AS {c}"
                        if c == CHANGE[table].split()[0] else c for c in cols)
    return {
        "shuffled": "SELECT * FROM exp ORDER BY hash({0}, 17)".format(key),
        "dropped row": f"SELECT * FROM exp WHERE {key} <> {k0}",
        "duplicated row": f"SELECT * FROM exp UNION ALL SELECT * FROM exp WHERE {key} = {k0}",
        "changed value": f"SELECT {changed} FROM exp",
    }


def test_fingerprints(failures):
    for w in gen.TABLES:
        prints = []
        for i, seed in enumerate((7, 7, 8)):
            d = fresh(f"fp-{w}-{i}")
            gen.generate(w, seed, d, ["run"], 2.0)
            prints.append(gen.fingerprint(d))
            shutil.rmtree(d)
        ok = prints[0] == prints[1] and prints[0] != prints[2]
        print(f"{'ok  ' if ok else 'FAIL'} {w}: seed 7 twice {prints[0]} {prints[1]}, seed 8 {prints[2]}")
        if not ok:
            failures.append(f"fingerprint {w}")


def test_checks(failures):
    for w, table in gen.TABLES.items():
        key = gen.KEYS[w]
        d = fresh(f"chk-{w}")
        gen.generate(w, 5, d, ["run"], 2.0)
        src = os.path.join(d, "src")
        con = duckdb.connect()
        keys = [r[0] for r in con.execute(
            f"SELECT {key} FROM {checks.expected_relation(w, src, 10**15)} ORDER BY {key}").fetchall()]
        # drains: five 1000-row batches; the queue compares the whole table
        positions = [] if w == "cdc_queue" else [keys[i] for i in (999, 1999, 2999, 3999, 4999)]
        last = positions[-1] if positions else None
        con.execute(f"CREATE TABLE exp AS SELECT * FROM {checks.expected_relation(w, src, last)}")
        k0 = keys[2500]
        sink = os.path.join(d, "sink")
        write_sink(con, "exp", sink, table)
        bad, base_digest = checks.check(w, src, sink, positions)
        print(f"{'ok  ' if bad == 0 else 'FAIL'} {w}: exact copy passes (digest {base_digest})")
        if bad:
            failures.append(f"{w} exact copy")
        for fault, sql in faults(table, key, k0).items():
            write_sink(con, f"({sql})", sink, table)
            bad, digest = checks.check(w, src, sink, positions)
            ok = (bad == 0 and digest == base_digest) if fault == "shuffled" else bad > 0
            print(f"{'ok  ' if ok else 'FAIL'} {w}: {fault} -> {bad} bad batch(es)")
            if not ok:
                failures.append(f"{w} {fault}")
        con.close()
        shutil.rmtree(d)


def main():
    failures = []
    try:
        test_fingerprints(failures)
        test_checks(failures)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass
    print("selftest:", "FAILED " + ", ".join(failures) if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
