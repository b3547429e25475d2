#!/usr/bin/env python3
"""The repository benchmark: one command, seeded workloads, end-to-end
metrics from an untraced run and per-layer metrics from a traced one.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_dedup, cdc_queue (see BENCHMARK.json).
The first run builds the program and the JVM harness from source with sbt
(outputs under perfbench/target). Inputs are generated from the seed into
a work directory under .perfbench_work/, which is removed at exit.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1). The line
before it is a fuller report: seed, input fingerprint, error rate, tail
percentiles, contention label and check digests.
"""
import argparse
import bisect
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_dedup", "cdc_queue")
# A run is labeled contended when the fixed CPU kernel timed after it is
# slower than the one timed before it by more than this share, or when the
# hypervisor took more than STEAL_BOUND of the CPU time during the run.
CONTENTION_BOUND = 0.25
STEAL_BOUND = 0.05
# Traced-run fidelity: per traced batch, the layers' self times (span time
# covered by none of the layer's own jobs) plus the time covered by any
# running job must equal the batch wall time within this share (and no job
# may start inside a traced batch without a span).
FIDELITY_BOUND = 0.05
JVM_HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these opens (the root build
# passes the same list to its forked runs)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
LAYERS = ("extract", "transform", "load", "commit", "cleanup")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    cp_file = os.path.join(target, "perfbench.classpath")
    with open(os.path.join(target, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = _stamp()
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                saved, cp = f.read().split("\n", 1)
            if saved == stamp:
                return cp.strip()
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp)
        return cp


# ----------------------------------------------------------- contention

def cpu_kernel():
    """Fixed single-core work with no Spark: best of three timings."""
    data = bytes(range(256)) * 4096
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(120):
            hashlib.sha256(data).digest()
        best = min(best, time.perf_counter() - t)
    return best


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(name, xs):
    """The highest whole percentile with at least 10 samples beyond it,
    named by that percentile; None below 20 samples (no tail past p50)."""
    n = len(xs)
    p = int(100 * (1 - 10 / n)) if n else 0
    if p < 50:
        return None
    s = sorted(xs)
    return f"{name}_p{p}", s[min(n - 1, int(p / 100 * n))]


# ------------------------------------------------------------- analysis

def batch_rows(workload, work, phase):
    """Source rows each batch committed, drain then stream: key-range
    counts for the sequential drain, changelog entries acked for the
    queue."""
    batches = phase["drain"] + phase["stream"]
    if workload == "cdc_queue":
        return [len(ack_entries(work, phase, b)) for b in batches]
    keys = pq.read_table(os.path.join(work, "src", f"{gen.TABLES[workload]}.parquet"),
                         columns=[gen.KEYS[workload]]).column(0).to_numpy()
    ends = np.searchsorted(np.sort(keys), [b["position"] for b in batches], side="right")
    return [int(x) for x in np.diff(np.concatenate([[0], ends]))]


def ack_entries(work, phase, b):
    """Entry timestamps (µs) of the ack files a batch wrote."""
    ack_dir = os.path.join(work, f"queue_{phase['name']}__acks")
    ts_type = gen.QUEUE_SCHEMA.field("timestampUpdated").type
    out = []
    for f in b["ack_files"]:
        t = pq.read_table(os.path.join(ack_dir, f), columns=["timestampUpdated"])
        out.extend(t.column(0).cast(ts_type).cast("int64").to_pylist())
    return out


def queue_analysis(work, phase, facts):
    """For the open-loop stream: lag per acked entry (file visible → end of
    the batch whose commit acked it) and the backlog sampled at each batch
    end. For the whole run: what was never delivered or acked."""
    visible = {d["file"]: d["visible"] for d in phase["deliveries"]}
    per_file, files, nb = facts["per_file"], facts["files"], facts["backlog"]
    delivered_at = sorted(visible.values())
    acked = set()
    for b in phase["drain"]:
        acked.update((ts - gen.QUEUE_EPOCH_US) // gen.ENTRY_STEP_US
                     for ts in ack_entries(work, phase, b))
    lags, backlog = [], []
    for b in phase["stream"]:
        for ts in ack_entries(work, phase, b):
            idx = (ts - gen.QUEUE_EPOCH_US) // gen.ENTRY_STEP_US
            acked.add(idx)
            if idx >= nb:
                lags.append((b["end"] - visible[files[(idx - nb) // per_file]]) / 1e9)
        delivered = nb + bisect.bisect_right(delivered_at, b["end"]) * per_file
        backlog.append(delivered - len(acked))
    late = max(((d["visible"] - d["due"]) / 1e9 for d in phase["deliveries"]), default=0.0)
    return {"lags": lags, "backlog": backlog, "late_s_max": late,
            "unacked": nb + len(phase["deliveries"]) * per_file - len(acked),
            "undelivered": len(files) - len(phase["deliveries"])}


def check_phase(workload, work, phase, facts):
    """(batches failing the output check, sink digest, queue analysis)."""
    positions = [b["position"] for b in phase["drain"] + phase["stream"]]
    bad, dig = checks.check(workload, os.path.join(work, "src"), phase["dest"], positions)
    q = queue_analysis(work, phase, facts) if workload == "cdc_queue" else {}
    if q.get("unacked") or q.get("undelivered") or phase["timed_out"]:
        bad = max(bad, 1)
    return bad, dig, q


def covered_ns(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is not None and s < end:
            s = end
        if e > s:
            total += e - s
            end = e if end is None else max(end, e)
    return total


def layer_metrics(res, phase, rows, cores):
    """Per-layer metrics of the traced pipeline from its spans, the jobs
    each span started and the task counters attributed to each span, over
    the batches `phase` recorded (idle queue polls are left out)."""
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    counts = {c["span"]: c for c in res["span_counts"]}
    recorded = sorted((b["start"], b["end"]) for b in phase["drain"] + phase["stream"])
    starts = [r[0] for r in recorded]

    def is_recorded(s):
        i = bisect.bisect_right(starts, s["start"]) - 1
        return i >= 0 and s["end"] <= recorded[i][1]

    batches = [s for s in spans if s["name"] == "batch" and is_recorded(s)]
    jobs = [(j["start_ms"] * 1e6, j["end_ms"] * 1e6, j["span"]) for j in res["jobs"]]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j[2], []).append(j)
    # the untraced pipeline's jobs carry no span but run between traced batches
    unattributed = sum(1 for j in jobs if j[2] not in by_id and any(
        b["start"] <= j[0] <= b["end"] for b in batches))

    def cnt(span_id, k):
        return counts.get(span_id, {}).get(k, 0)

    def busy_ns(js, s):
        """Time within span `s` covered by any of the jobs `js`."""
        return covered_ns((max(a, s["start"]), min(e, s["end"])) for a, e, _ in js)

    per = {k: {name: [] for name in LAYERS} for k in
           ("s", "jobs", "rows_read", "rows_written", "shuffle_bytes")}
    b_jobs, b_stages, b_task, b_driver, walls, unexplained = [], [], [], [], [], []
    for b in batches:
        kids = [s for s in spans if s["parent"] == b["id"]]
        wall = (b["end"] - b["start"]) / 1e9
        walls.append(wall)
        ids = [b["id"]] + [k["id"] for k in kids]
        self_s = 0.0
        for k in kids:
            span_s = (k["end"] - k["start"]) / 1e9
            per["s"][k["name"]].append(span_s)
            per["jobs"][k["name"]].append(len(jobs_of.get(k["id"], [])))
            self_s += span_s - busy_ns(jobs_of.get(k["id"], []), k) / 1e9
            for f in ("rows_read", "rows_written", "shuffle_bytes"):
                per[f][k["name"]].append(cnt(k["id"], f))
        b_jobs.append(sum(len(jobs_of.get(i, [])) for i in ids))
        b_stages.append(sum(cnt(i, "stages") for i in ids))
        b_task.append(sum(cnt(i, "task_ms") for i in ids) / 1000.0)
        # driver time: batch wall covered by no running job, whichever span
        # the job was attributed to
        driver = wall - busy_ns([j for j in jobs if j[0] < b["end"] and j[1] > b["start"]], b) / 1e9
        b_driver.append(driver)
        # wall = layers' self times + job-covered time, i.e. the self times
        # must add up to the driver time: a gap between spans, a job outside
        # its layer's span or a job attributed to no layer breaks the sum
        unexplained.append(abs(driver - self_s))
    total_wall = sum(walls) or 1e-9
    total_rows = sum(rows) or 1
    m = {}
    for name in LAYERS:
        m[f"{name}.s_p50"] = median(per["s"][name])
        m[f"{name}.jobs"] = median(per["jobs"][name])
    m["extract.rows_read"] = median(per["rows_read"]["extract"])
    m["extract.read_amp"] = sum(per["rows_read"]["extract"]) / total_rows
    m["load.rows_read"] = median(per["rows_read"]["load"])
    m["load.rows_written"] = median(per["rows_written"]["load"])
    m["load.write_amp"] = sum(per["rows_written"]["load"]) / total_rows
    m["load.shuffle_bytes"] = median(per["shuffle_bytes"]["load"])
    m["batch.jobs"] = median(b_jobs)
    m["batch.stages"] = median(b_stages)
    m["batch.task_s"] = median(b_task)
    m["batch.par_eff"] = sum(b_task) / (total_wall * cores)
    m["batch.driver_s"] = median(b_driver)
    fidelity = {"unexplained_share": sum(unexplained) / total_wall,
                "unattributed_jobs": unattributed, "batches": len(batches),
                "recorded_batches": len(recorded)}
    return m, fidelity


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, line = run(a, cp, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(line))


def run(a, cp, cores, work):
    phases = ["untraced", "traced"] if a.trace else ["run"]
    # traced runs alternate two pipelines, so each is offered half the rate
    # to keep the consumer as busy as in an untraced run
    rate = gen.CDC_RATE / len(phases)
    t = time.perf_counter()
    facts = gen.generate(a.workload, a.seed, work, phases, a.seconds, rate)
    gen_s = time.perf_counter() - t
    fingerprint = gen.fingerprint(work)

    load_before = os.getloadavg()[0]
    kernel_before = cpu_kernel()
    cpu_before = cpu_times()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=150)
    result_file = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result_file):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"JVM harness exited with {p.returncode}")
    cpu_after = cpu_times()
    kernel_after = cpu_kernel()
    load_after = os.getloadavg()[0]
    steal = ((cpu_after[0] - cpu_before[0]) / max(1, cpu_after[1] - cpu_before[1])
             if cpu_before and cpu_after else 0.0)
    with open(result_file) as f:
        res = json.load(f)

    attempted = failed = 0
    phase_out = {}
    for ph in res["phases"]:
        rows = batch_rows(a.workload, work, ph)
        bad, dig, extra = check_phase(a.workload, work, ph, facts)
        n = len(ph["drain"]) + len(ph["stream"]) + len(ph["errors"])
        attempted += n
        failed += min(n, len(ph["errors"]) + bad)
        drain_walls = [(b["end"] - b["start"]) / 1e9 for b in ph["drain"]]
        stream_walls = [(b["end"] - b["start"]) / 1e9 for b in ph["stream"]]
        phase_out[ph["name"]] = {
            "rows": rows, "drain_rows": rows[:len(drain_walls)], "drain_walls": drain_walls,
            "stream_walls": stream_walls,
            # batch times: the open-loop stream where there is one
            "walls": stream_walls or drain_walls,
            "bad": bad, "digest": dig, "extra": extra, "phase": ph}
    main_phase = phase_out["untraced" if a.trace else "run"]
    walls = main_phase["walls"]
    ph = main_phase["phase"]
    # throughput only from the closed-loop drain: open-loop throughput is
    # set by the offered rate, not by the program
    drain_s = sum(main_phase["drain_walls"])

    e2e = {
        "setup_s": (median(res["setup_s"]), "s"),
        "batch_s_p50": (median(walls), "s"),
        "rows_per_s": (sum(main_phase["drain_rows"]) / drain_s if drain_s else 0.0, "rows/s"),
        "heap_retained_mb": (ph["heap_mb"], "MB"),
    }
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "gen_s": gen_s, "session_s": res["session_s"],
        "setup_s_all": res["setup_s"],
        "input_fingerprint": fingerprint,
        "batch_walls": {"drain": main_phase["drain_walls"], "stream": main_phase["stream_walls"]},
        "batch_rows": main_phase["rows"],
        "error_rate": failed / max(1, attempted),
        "errors": [e for p_ in res["phases"] for e in p_["errors"]][:5],
        "contention": {"kernel_before_s": kernel_before, "kernel_after_s": kernel_after,
                       "load_before": load_before, "load_after": load_after,
                       "steal_share": steal,
                       "contended": (kernel_after > kernel_before * (1 + CONTENTION_BOUND)
                                     or steal > STEAL_BOUND)},
        "checks": {k: {"bad_batches": v["bad"], "digest": v["digest"]}
                   for k, v in phase_out.items()},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    tl = tail("batch_s", walls)
    if tl:
        report["metrics"][tl[0]] = {"value": tl[1], "unit": "s"}
    if a.workload == "cdc_queue":
        lags = main_phase["extra"]["lags"]
        report["metrics"]["lag_s_p50"] = {"value": median(lags), "unit": "s"}
        tl = tail("lag_s", lags)
        if tl:
            report["metrics"][tl[0]] = {"value": tl[1], "unit": "s"}
        report["offered_rate"] = rate
        report["backlog_entries"] = facts["backlog"]
        report["gen_late_s_max"] = main_phase["extra"]["late_s_max"]
    correct = failed == 0

    if a.trace:
        tr = phase_out["traced"]
        m, fid = layer_metrics(res, tr["phase"], tr["rows"], cores)
        if a.workload == "cdc_queue":
            m["queue.backlog_rows"] = median(tr["extra"]["backlog"])
            m["gen.late_s_max"] = tr["extra"]["late_s_max"]
        else:
            m["queue.backlog_rows"] = 0
            m["gen.late_s_max"] = 0.0
        m["tracing.overhead"] = (median(tr["drain_walls"])
                                 / (median(main_phase["drain_walls"]) or 1e-9))
        # the open-loop stream's batch count follows timing, so only the
        # closed-loop drains must match
        same_batches = len(tr["drain_walls"]) == len(main_phase["drain_walls"])
        fid.update({
            "same_digest": tr["digest"] == main_phase["digest"],
            "same_batches": same_batches,
            "ok": (tr["digest"] == main_phase["digest"] and same_batches
                   and fid["batches"] == fid["recorded_batches"]
                   and fid["unexplained_share"] <= FIDELITY_BOUND
                   and fid["unattributed_jobs"] == 0),
        })
        report["fidelity"] = fid
        report["per_layer"] = m
        correct = correct and fid["ok"]
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k.split(".", 1)[1]]} for k, v in m.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    line = {"correct": bool(correct), "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}
    return report, line


LAYER_UNITS = {
    "s_p50": "s", "jobs": "count", "rows_read": "rows", "read_amp": "ratio",
    "rows_written": "rows", "write_amp": "ratio", "shuffle_bytes": "bytes",
    "stages": "count", "task_s": "s", "par_eff": "ratio", "driver_s": "s",
    "backlog_rows": "rows", "late_s_max": "s", "overhead": "ratio",
}


if __name__ == "__main__":
    main()
