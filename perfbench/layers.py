"""Turns a run record (written by the benchmark JVM) into metrics: the
end-to-end metrics of an untraced run and the per-layer metrics of a
traced one."""
import os
import re
import statistics

import pyarrow.parquet as pq

import oracle
import stats

MB = 1048576.0
KERNELS = ("bpe_encode", "minhash", "simhash64", "winnow_select",
           "ngram_hashes", "text_embed")


def _m(value, unit):
    return {"value": value, "unit": unit}


def measured(record):
    return [o for o in record["ops"] if o["measured"]]


def declared_rows(record, input_dir):
    """{op name: input rows it is declared to read}. Queries: the rows of
    every table their oracle SQL names; ingest batches: their WET
    records. Fixed per input, so pruning cannot lower it."""
    if record["workload"] == "ingest":
        return {o["name"]: o["records"] for o in record["ops"]}
    counts = {t: pq.ParquetFile(os.path.join(input_dir, f"{t}.parquet")).metadata.num_rows
              for t in oracle.TABLES}
    return {n: sum(counts[t] for t in oracle.tables_read(sql or ""))
            for n, sql in record["oracle_sql"].items()}


def setup_s(record):
    """Process start -> first measured op, less the input preparation the
    JVM did (ingest batch serialization)."""
    return (record["first_measured_ms"] - record["jvm_start_ms"]) / 1e3 - record["input_prep_s"]


def end_to_end(record, input_dir):
    ops = measured(record)
    walls = [o["wall_s"] for o in ops]
    rows = declared_rows(record, input_dir)
    notes = [f"measured ops: {len(ops)}"]
    t = stats.tail(walls)
    if t is None:
        notes.append(f"op_tail_s: {max(walls)} s, the max of n={len(walls)} (below "
                     f"{2 * stats.MIN_BEYOND} ops no percentile has "
                     f"{stats.MIN_BEYOND} ops beyond it)")
    else:
        notes.append(f"op_tail_s: {t[1]} s at p{t[0]:.1f} of n={len(walls)}")
    metrics = {
        "op_p50_s": _m(statistics.median(walls), "s"),
        "rows_per_s": _m(sum(rows[o["name"]] for o in ops) / sum(walls), "rows/s"),
        "setup_s": _m(setup_s(record), "s"),
    }
    return metrics, notes


def all_spans(record):
    """The benchmark's spans plus job and stage spans from the listener,
    as one list: op -> closure / plan / exec -> job -> stage. Jobs are
    attributed to ops by job group or micro-batch id; within its op a job
    hangs under the op's child span that was open when it started."""
    tr = record["trace_record"]
    spans = [dict(s) for s in tr["spans"]]
    next_id = max((s["id"] for s in spans), default=-1) + 1
    ops = record["ops"]
    by_op = stats.attribute_jobs(tr["jobs"], ops)
    ends = {j["job"]: j["end_ms"] for j in tr["job_ends"]}
    stage_of = {s["stage"]: s for s in tr["stages"]}
    op_span = {s["op"]: s for s in spans if s["name"] == "op"}
    children = {}
    for s in spans:
        if s["name"] != "op":
            children.setdefault(s["op"], []).append(s)
    seen_stages = set()
    for op_id, jobs in by_op.items():
        root = op_span.get(op_id)
        if root is None:
            continue
        for j in sorted(jobs, key=lambda j: j["start_ms"]):
            parent = root
            for c in children.get(op_id, []):
                if c["start_ms"] <= j["start_ms"] <= c["end_ms"]:
                    parent = c
            jid = next_id
            next_id += 1
            spans.append({"id": jid, "name": "job", "parent": parent["id"], "op": op_id,
                          "start_ms": j["start_ms"],
                          "end_ms": ends.get(j["job"], j["start_ms"]),
                          "job": j["job"], "in": parent["name"]})
            for sid in j["stages"]:
                st = stage_of.get(sid)
                if st is None or sid in seen_stages or not st["submit_ms"]:
                    continue
                seen_stages.add(sid)
                spans.append({"id": next_id, "name": "stage", "parent": jid,
                              "op": op_id, "start_ms": st["submit_ms"],
                              "end_ms": st["end_ms"], "stage": sid})
                next_id += 1
    return spans


def _sql_totals(sql_execs, job_ids):
    """Scan and write totals of the SQL executions that ran any of
    `job_ids`: (read bytes, files read, written bytes, files written)."""
    read_b = files_r = write_b = files_w = 0.0
    for x in sql_execs:
        if not set(x["jobs"]) & job_ids:
            continue
        for m in x["metrics"]:
            v = parse_metric(m["value"])
            if m["name"] == "size of files read":
                read_b += v
            elif m["name"] == "number of files read":
                files_r += v
            elif m["name"] == "written output":
                write_b += v
            elif m["name"] == "number of written files":
                files_w += v
    return read_b, files_r, write_b, files_w


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text):
    """The total of a Spark SQL metric as the status store renders it:
    a plain count ("1,234"), a size ("12.3 MiB"), or a
    "total (min, med, max ...)" block whose second line starts with the
    total."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def per_layer(record):
    tr = record["trace_record"]
    ops = measured(record)
    n = len(ops)
    by_op = stats.attribute_jobs(tr["jobs"], record["ops"])
    ends = {j["job"]: j["end_ms"] for j in tr["job_ends"]}
    stage_of = {s["stage"]: s for s in tr["stages"]}
    spans = all_spans(record)
    selfs = stats.self_times(spans)
    span_by_op = {}
    for s in spans:
        span_by_op.setdefault(s["op"], []).append(s)

    acc = {k: 0.0 for k in (
        "closure", "plan", "exec", "eager_jobs", "jobs", "stages", "tasks",
        "spark_exec", "task", "cpu", "gc", "shuffle_w", "shuffle_r", "spill",
        "read", "files_r", "write", "files_w", "max_share", "wall",
        "self_op", "self_closure", "self_plan", "self_exec", "self_job", "self_stage")}
    for o in ops:
        jobs = by_op[o["id"]]
        stage_ids = {s for j in jobs for s in j["stages"] if s in stage_of}
        sts = [stage_of[s] for s in stage_ids]
        acc["wall"] += o["wall_s"]
        acc["closure"] += o.get("closure_s", 0.0)
        acc["plan"] += o.get("plan_s", 0.0)
        acc["exec"] += o.get("exec_s", 0.0)
        op_spans = span_by_op.get(o["id"], [])
        acc["eager_jobs"] += sum(1 for s in op_spans if s["name"] == "job" and s["in"] == "closure")
        acc["jobs"] += len(jobs)
        acc["stages"] += len(sts)
        acc["tasks"] += sum(s["tasks"] for s in sts)
        acc["spark_exec"] += stats.union_length(
            [(j["start_ms"], ends.get(j["job"], j["start_ms"])) for j in jobs]) / 1e3
        task_s = sum(s["run_ms"] for s in sts) / 1e3
        acc["task"] += task_s
        acc["cpu"] += sum(s["cpu_ns"] for s in sts) / 1e9
        acc["gc"] += sum(s["gc_ms"] for s in sts) / 1e3
        acc["shuffle_w"] += sum(s["shuffle_write_b"] for s in sts) / MB
        acc["shuffle_r"] += sum(s["shuffle_read_b"] for s in sts) / MB
        acc["spill"] += sum(s["spill_b"] for s in sts) / MB
        acc["max_share"] += max((s["max_task_ms"] for s in sts), default=0) / 1e3 / o["wall_s"]
        r, fr, w, fw = _sql_totals(tr["sql"], {j["job"] for j in jobs})
        acc["read"] += r / MB
        acc["files_r"] += fr
        acc["write"] += w / MB
        acc["files_w"] += fw
        for s in op_spans:
            key = "self_" + s["name"]
            if key in acc:
                acc[key] += selfs[s["id"]] / 1e3

    def per_op(k):
        return acc[k] / n

    walls = [o["wall_s"] for o in ops]
    kern = record.get("kernels") or {}
    ingest = [o for o in ops if "durations_ms" in o]

    def dur(name):
        return (sum(o["durations_ms"].get(name, 0) for o in ingest) / 1e3 / len(ingest)
                if ingest else 0.0)

    ticks = record.get("ticks") or []
    bucket_files = record.get("bucket_files") or {}
    buckets = record.get("buckets") or 0
    # streaming, maintenance and bucketing are only exercised by `ingest`:
    # 0 on `reports`
    metrics = {
        "trace.op_p50_s": _m(statistics.median(walls), "s"),
        "operators.closure_s": _m(per_op("closure"), "s"),
        "operators.eager_jobs": _m(per_op("eager_jobs"), "count"),
        "plans.plan_s": _m(per_op("plan"), "s"),
        "spark.jobs": _m(per_op("jobs"), "count"),
        "spark.stages": _m(per_op("stages"), "count"),
        "spark.tasks": _m(per_op("tasks"), "count"),
        "spark.exec_s": _m(per_op("spark_exec"), "s"),
        "spark.task_s": _m(per_op("task"), "s"),
        "spark.cpu_s": _m(per_op("cpu"), "s"),
        "spark.gc_s": _m(per_op("gc"), "s"),
        "spark.busy_cores": _m(acc["task"] / acc["wall"], "cores"),
        "spark.max_task_share": _m(per_op("max_share"), "ratio"),
        "spark.shuffle_write_mb": _m(per_op("shuffle_w"), "MB"),
        "spark.shuffle_read_mb": _m(per_op("shuffle_r"), "MB"),
        "spark.spill_mb": _m(per_op("spill"), "MB"),
        "sources.read_mb": _m(per_op("read"), "MB"),
        "sources.files_read": _m(per_op("files_r"), "count"),
        "sources.write_mb": _m(per_op("write"), "MB"),
        "sources.files_written": _m(per_op("files_w"), "count"),
        "jvm.live_heap_mb": _m(record["heap_mb"][-1], "MB"),
        "jvm.peak_rss_mb": _m(record["peak_rss_mb"], "MB"),
        "self.op_s": _m(per_op("self_op"), "s"),
        "self.closure_s": _m(per_op("self_closure"), "s"),
        "self.plan_s": _m(per_op("self_plan"), "s"),
        "self.exec_s": _m(per_op("self_exec"), "s"),
        "self.job_s": _m(per_op("self_job"), "s"),
        "self.stage_s": _m(per_op("self_stage"), "s"),
    }
    for k in KERNELS:
        metrics[f"expressions.{k}_mb_s"] = _m(kern.get(k, 0.0), "MB/s")
    metrics.update({
        "streaming.add_batch_s": _m(dur("addBatch"), "s"),
        "streaming.planning_s": _m(dur("queryPlanning"), "s"),
        "streaming.commit_s": _m(dur("commitOffsets") + dur("walCommit"), "s"),
        "maintain.tick_s": _m(statistics.median(t["tick_s"] for t in ticks)
                              if ticks else 0.0, "s"),
        "maintain.healed": _m(statistics.mean(t["healed"] for t in ticks)
                              if ticks else 0.0, "count"),
        "sources.files_per_bucket": _m(
            sum(bucket_files.values()) / (len(bucket_files) * buckets)
            if bucket_files and buckets else 0.0, "count"),
    })
    notes = []
    if ingest:
        covered = sum(sum(o["durations_ms"].get(k, 0) for k in (
            "addBatch", "queryPlanning", "walCommit", "commitOffsets")) / 1e3
            for o in ingest)
        notes.append(f"streaming addBatch + queryPlanning + walCommit + commitOffsets "
                     f"cover {100 * covered / acc['wall']:.1f}% of op wall time")
    else:
        covered = acc["closure"] + acc["plan"] + acc["exec"]
        notes.append(f"closure + plan + exec cover {100 * covered / acc['wall']:.1f}% "
                     "of op wall time")
    per_op_jobs = [len(by_op[o["id"]]) for o in ops]
    notes += [
        f"traced ops: {n}; jobs per op {min(per_op_jobs)}-{max(per_op_jobs)}",
        f"live heap at pass ends (MB): {[round(h, 1) for h in record['heap_mb']]}",
        "tracing overhead = trace.op_p50_s here vs op_p50_s of an untraced run",
    ]
    return metrics, notes
