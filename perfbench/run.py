#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload reports|ingest \\
        --seed N --seconds N --trace 0|1

Run from the repository root. The first run builds the benchmark's
JVM program (sbt, `perfbench/build.sbt`, which compiles graft's sources
with it) and its class-data archive. Each run then generates its inputs
from `--seed`, starts one JVM at local[nproc] in which one closed-loop
client issues one op at a time, checks every op's output, and prints
the metrics. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`
and `metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # analytics users: report/ETL queries over the star schema; one
    # measured unit is a pass over the queries (4.5-6 s warm on 4 cores)
    "reports": {"sf": 0.002, "docs": 500, "unit_s": 5,
                "queries": "q02 q09 q41".split()},
    # training-data curators: the day-N master-bundle ingest; one
    # measured unit is one generated micro-batch (13-17 s on 4 cores),
    # measured after q178's batch 0
    "ingest": {"sf": 0.001, "docs": 1000, "unit_s": 15},
}
# the benchmark JVM's limit, so that a run ends within 180 s
JVM_TIMEOUT_S = 170
JDK_OPENS = """java.lang java.lang.invoke java.lang.reflect java.io java.net
    java.nio java.util java.util.concurrent java.util.concurrent.atomic
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar""".split()
BUILD_DIR = os.path.join(HERE, "target")
STATE_DIR = os.path.join(HERE, ".state")
# the JVM's class-data archive: the classes a run loads, mapped at start
# instead of loaded and verified one by one (5-7 s less set-up per run)
CLASS_ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
# the ingest stream's fates table, in the run's own warehouse
FATES_TABLE = "perfbench_fates"


def log(msg):
    print(msg, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith((".scala", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the benchmark and dumps its class-data archive (once per
    source state); returns the runtime classpath. Exits non-zero when
    graft's sources are missing or do not compile."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: graft sources (src/main/scala) not found; "
                 "run from the repository root")
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_file = os.path.join(BUILD_DIR, "perfbench.classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed ({p.returncode})")
    marker = os.path.join(BUILD_DIR, "scala-2.13", "graft-perfbench")
    cp = [ln.strip() for ln in p.stdout.splitlines() if marker in ln and ":" in ln]
    if not cp:
        sys.exit("perfbench: build printed no classpath")
    cp = cp[-1]
    # a class-data archive only holds jars, hence `exportJars` in build.sbt
    if os.path.exists(CLASS_ARCHIVE):
        os.remove(CLASS_ARCHIVE)
    work = os.path.join(STATE_DIR, "runs", f"archive-{os.getpid()}")
    try:
        run_jvm(cp, "reports", 0, 0, False, inputs("reports", 0, 0), work,
                [f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def measured_units(workload, seconds):
    """Measured passes (`reports`) or generated micro-batches (`ingest`)
    for a run of `seconds`: fixed by `seconds` alone, never by how fast
    the ops run, so every run of a workload measures the same ops."""
    return max(1, math.ceil(seconds / WORKLOADS[workload]["unit_s"]))


def inputs(workload, seed, units):
    """Generates (or reuses) the seed's inputs; returns their directory."""
    w = WORKLOADS[workload]
    key = hashlib.sha256(json.dumps([workload, seed, w, units], sort_keys=True).encode()
                         + open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
    d = os.path.join(STATE_DIR, "inputs", f"{workload}-{seed}-{key}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, w["sf"], w["docs"])
        if workload == "ingest":
            gen.ingest_batches(d, seed, w["docs"], units)
        open(os.path.join(d, "done"), "w").close()
    return d


def run_jvm(cp, workload, seed, units, trace, input_dir, work, java_opts=()):
    w = WORKLOADS[workload]
    out = os.path.join(work, "record.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if not java_opts and os.path.exists(CLASS_ARCHIVE):
        java_opts = [f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"]
    cmd = (["java", "-Xms1g", "-Xmx1g", *java_opts, *opens,
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--input", input_dir, "--work", work,
            "--out", out, "--measured", str(units), "--seed", str(seed),
            "--trace", "1" if trace else "0"]
           + (["--queries", ",".join(w["queries"])] if "queries" in w else []))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh)


def cpu_times():
    """The machine's CPU time counters (`/proc/stat`), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` readings (the 8th counter), or None."""
    if not before or not after or len(before) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else None


def check_outputs(record, input_dir, work):
    """{op id: None or a reason} for every op whose output was checked,
    and {op name: fate histogram} for the ingest batches. An op with an
    oracle query has its output compared with the DuckDB oracle answer
    for the same inputs: a query's parquet output, or batch 0's fates
    (q178). A later ingest batch must have one fate per record and not
    collapse into url/exact duplicates."""
    fates = None
    if record["workload"] == "ingest":
        fates = oracle.read_result(os.path.join(work, "warehouse", FATES_TABLE))
        fates["chunk"] = fates["rec_id"] // (1 << 32)
    con = oracle.connect(input_dir)
    verdicts, hists = {}, {}
    for o in record["ops"]:
        mine = None
        if fates is not None:
            mine = fates[fates["chunk"].isin(o["chunks"])].drop(columns="chunk")
            hists[o["name"]] = mine["fate"].value_counts().to_dict()
        if o["oracle"] is None:
            if mine is not None:
                verdicts[o["id"]] = oracle.check_fates(
                    hists[o["name"]], batch_records(input_dir, o["pass"]))
            continue
        sql = record["oracle_sql"].get(o["oracle"])
        if sql is None:
            verdicts[o["id"]] = "no oracle SQL registered"
            continue
        try:
            want = oracle.oracle_answer(
                con, sql, os.path.join(input_dir, "oracle", f"{o['oracle']}.parquet"))
            got = mine if mine is not None else oracle.read_result(
                os.path.join(work, "out", str(o["id"])))
            verdicts[o["id"]] = oracle.compare(got, want, sort_rows=mine is not None)
        except Exception as e:  # a missing or unreadable result fails the op
            verdicts[o["id"]] = f"{type(e).__name__}: {e}"
    con.close()
    return verdicts, hists


def batch_records(input_dir, k):
    """WET records in generated ingest batch k: one per document of the
    batch's chunks (chunk = doc_id // 40, every 5th chunk)."""
    ids = pq.read_table(os.path.join(input_dir, "ingest", f"docs_{k}.parquet"),
                        columns=["doc_id"]).column(0).to_pylist()
    return sum(1 for i in ids if (i // 40) % 5 == 4)


def failures(ops, verdicts):
    """[(op name, reason)] for every op that raised or whose output
    failed its check. An op with a verdict of its own is judged by it;
    a measured query op, whose output goes to the `noop` sink, fails when
    a checked op of the same query failed, or when none was checked."""
    checked = {}
    for o in ops:
        if o["id"] in verdicts:
            checked.setdefault(o["name"], []).append(verdicts[o["id"]])
    out = []
    for o in ops:
        reason = o["error"]
        if reason is None and o["id"] in verdicts:
            reason = verdicts[o["id"]]
        elif reason is None:
            reasons = checked.get(o["name"], ["output not checked"])
            reason = next((r for r in reasons if r is not None), None)
        if reason is not None:
            out.append((o["name"], reason))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the JVM and the run directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    t0 = time.time()
    units = measured_units(a.workload, a.seconds)
    input_dir = inputs(a.workload, a.seed, units)
    log(f"inputs: {os.path.relpath(input_dir, ROOT)} ({time.time() - t0:.1f} s)")
    work = os.path.join(STATE_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cpu0 = cpu_times()
        record = run_jvm(cp, a.workload, a.seed, units, a.trace, input_dir, work)
        steal = steal_share(cpu0, cpu_times())
        record["cpu_steal"] = steal
        verdicts, hists = check_outputs(record, input_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = record["ops"]
    failed_ops = failures(ops, verdicts)
    for name, reason in sorted(set(failed_ops)):
        log(f"FAILED {name}: {reason}")
    for k, h in sorted(hists.items()):
        log(f"{k} fates: {json.dumps(h, sort_keys=True)}")

    st = record["stamps"]
    foreign = sorted(set(st["start"]["foreign_jvms"]) | set(st["end"]["foreign_jvms"]))
    log(f"stamps: load_1m {st['start']['load_1m']} -> {st['end']['load_1m']}, "
        f"cpu steal {'n/a' if steal is None else f'{100 * steal:.1f}%'}, "
        f"nproc {st['nproc']}, heap {st['max_heap_mb']} MB, spark {st['spark']}, "
        f"foreign JVMs {foreign or 'none'}")
    if foreign:
        log("WARNING: foreign JVMs were running: this run's timings are suspect")

    if a.trace:
        metrics, notes = layers.per_layer(record)
        trace_dir = os.path.join(STATE_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{a.workload}-{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({"spans": layers.all_spans(record), "record": record}, fh)
        notes.append(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics, notes = layers.end_to_end(record, input_dir)
        ops_dir = os.path.join(STATE_DIR, "ops")
        os.makedirs(ops_dir, exist_ok=True)
        with open(os.path.join(ops_dir, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({k: v for k, v in record.items() if k != "trace_record"}, fh)
    for n in notes:
        log(n)
    print(json.dumps({"correct": not failed_ops, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
