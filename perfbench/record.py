"""Output checks, metrics, spans and the JSON record of one benchmark run.

`check` decides correctness, `end_to_end` and `layer_metrics` turn the
harness record (record.json, written by perfbench.Harness) into metrics,
and `write` / `summary_line` serialize with a JSON writer that refuses
values a parser could not read back (NaN, infinities).
"""
import hashlib
import json
import os
import re
import statistics

import gen

# name -> unit; BENCHMARK.json lists the same names (tests/test_record.py)
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.setup_build_jobs": "count",
    "planner.plan_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.exec_s": "s",
    "scheduler.idle_core_ratio": "ratio",
    "scheduler.failed_tasks": "count",
    "executor.task_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.deser_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "memo.persisted_mb": "MB",
    "memo.persisted_rdds": "count",
    "runner.session_s": "s",
    "runner.start_s": "s",
    "stream.batches": "count",
    "stream.jobs_per_batch": "count",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.offsets_ms": "ms",
    "stream.commit_ms": "ms",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows_total": "count",
    "state.memory_mb": "MB",
    "state.late_rows_dropped": "count",
    "sink.rows_out": "count",
    "trace.overhead_s": "s",
}

MB = 1024.0 * 1024.0


def write(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, allow_nan=False)


def summary_line(check, metrics):
    units = {**END_TO_END, **PER_LAYER}
    return json.dumps({
        "correct": check["failed"] == 0,
        "attempted": int(check["attempted"]),
        "failed": int(check["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }, allow_nan=False)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(rec, traced):
    return [p for p in rec["passes"] if p["index"] >= rec["warmup_passes"] and p["traced"] == traced]


def _data_batches(p):
    """Micro-batches that read an event file (the last one, with no input,
    only emits the windows the watermark closed)."""
    return [b for b in p["batches"] if b["rows"] > 0]


# ---------------------------------------------------------------- checks

def check(rec, out, tier, events, oracle_dir):
    if rec["workload"] == "stream_events":
        return _check_stream(rec, out, events)
    return _check_batch(rec, out, tier, oracle_dir)


def _canon(df):
    """tools/parity.py's canonical form: columns by name, list cells as
    tuples, rows sorted by every column."""
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    if len(df) > 1:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _same(sdf, ddf):
    """tools/parity.py's comparison: exact values, same dtypes."""
    if list(sdf.columns) != list(ddf.columns):
        return f"columns spark={list(sdf.columns)} oracle={list(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} oracle={len(ddf)}"
    for c in sdf.columns:
        a, b = sdf[c], ddf[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = ((a.isna() & b.isna()) | (a.values == b.values)).all()
        else:
            try:
                eq = a.equals(b.astype(a.dtype))
            except (TypeError, ValueError):
                eq = a.astype(str).equals(b.astype(str))
        if not eq:
            return f"column {c} differs"
        if a.dtype != b.dtype:
            return f"dtype {c}: spark={a.dtype} oracle={b.dtype}"
    return None


def _oracle(name, sql, tier, oracle_dir):
    """DuckDB answer for one query over the tier, cached per tier and SQL."""
    import duckdb
    import pandas as pd
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(oracle_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tier}/{t}.parquet'")
    df = _canon(con.sql(sql).df())
    con.close()
    os.makedirs(oracle_dir, exist_ok=True)
    df.to_pickle(path)
    return df


def _tables_read(sqls):
    return sorted(t for t in gen.TABLES if any(re.search(rf"\b{t}\b", s) for s in sqls))


def _check_batch(rec, out, tier, oracle_dir):
    import pandas as pd
    import pyarrow.parquet as pq
    problems, verdict = [], {}
    warm = {op["name"]: op for op in rec["passes"][0]["ops"]}
    for q, op in warm.items():
        if "error" in op:
            problems.append(f"{q}: {op['error']}")
        elif q not in rec["oracle_sql"]:
            problems.append(f"{q}: no oracle; such queries do not belong in a workload")
        else:
            sdf = _canon(pd.read_parquet(os.path.join(out, "results", q)))
            diff = _same(sdf, _oracle(q, rec["oracle_sql"][q], tier, oracle_dir))
            if diff:
                problems.append(f"{q}: {diff}")
            else:
                verdict[q] = op["digest"]
    attempted = failed = 0
    for p in rec["passes"]:
        for op in p["ops"]:
            attempted += 1
            if verdict.get(op["name"]) is None or op.get("digest") != verdict[op["name"]]:
                failed += 1
                if op["name"] in verdict:
                    problems.append(f"{op['name']} pass {p['index']}: result differs from the checked one")
    tables = _tables_read(rec["oracle_sql"].values())
    rows = sum(pq.ParquetFile(os.path.join(tier, f"{t}.parquet")).metadata.num_rows for t in tables)
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "input_tables": tables, "input_rows": rows}


def _micros(ts):
    import pandas as pd
    return pd.to_datetime(ts, utc=True).astype("datetime64[us, UTC]").astype("int64")


def _check_stream(rec, out, events):
    """The warm-up sink against a batch computation over the same files.

    The batch computation replays the job's semantics: files in delivery
    order, the first delivery of each event_id kept, and a row dropped as
    late when its window ends at or before the watermark Spark filters late
    rows with: that of the previous batch, which is the largest event time
    (in ms) of the batches before that one, minus the delay.
    The sink must hold exactly the windows of the rows that are left
    (sum, mean and variance to a relative 1e-9, since Spark sums in
    another order). The program's late-row counter is checked separately:
    Spark counts late rows after the partial aggregation, so it must equal
    the number of distinct (file, user, window) groups among the late
    rows, not the number of late rows."""
    import numpy as np
    import pandas as pd
    shape = gen.STREAM
    files = sorted(n for n in os.listdir(events) if n.endswith(".parquet"))
    ev = pd.concat([pd.read_parquet(os.path.join(events, n)).assign(file=i)
                    for i, n in enumerate(files)], ignore_index=True)
    ev = ev.drop_duplicates("event_id", keep="first")
    ev["us"] = _micros(ev.ts)
    latest = ev.groupby("file").us.max().reindex(range(len(files))).cummax()
    watermark = (latest // 1000 * 1000 - shape["watermark_delay_s"] * 10**6).shift(2)
    w_us = shape["window_s"] * 10**6
    ev["start"] = ev.us // w_us * w_us
    ev = ev[ev.user != gen.FLUSH_USER]
    late = (ev.start + w_us <= ev.file.map(watermark)).to_numpy()
    kept = ev[~late]
    g = kept.groupby(["start", "user"]).value
    ref = pd.DataFrame({"n": g.count(), "sum": g.sum(), "min": g.min(), "max": g.max(),
                        "var": g.var(ddof=1).fillna(0.0)}).reset_index()
    sink = pd.read_parquet(os.path.join(out, "stream", "p0", "sink"))
    sink = sink[sink.user != gen.FLUSH_USER].copy()
    sink["start"] = _micros(sink.window.map(lambda w: w["start"]))
    m = ref.merge(sink, on=["start", "user"], how="outer", indicator=True)
    problems = []
    for side, what in (("left_only", "batch windows absent from the sink"),
                       ("right_only", "sink windows absent from the batch result")):
        k = int((m._merge == side).sum())
        if k:
            problems.append(f"stream: {k} {what}")
    both = m[m._merge == "both"]
    close = lambda a, b: np.allclose(a, b, rtol=1e-9, atol=1e-9)  # noqa: E731
    checks = [("agg_count", (both.n.values == both.agg_count.values).all()),
              ("agg_min", (both["min"].values == both.agg_min.values).all()),
              ("agg_max", (both["max"].values == both.agg_max.values).all()),
              ("agg_sum", close(both["sum"].values, both.agg_sum.values)),
              ("agg_mean", close(both["sum"].values / both.n.values, both.agg_mean.values)),
              ("agg_variance", close(both["var"].values, both.agg_variance.values))]
    problems += [f"stream: {c} differs from the batch result" for c, ok in checks if not ok]
    late_groups = int(ev[late].groupby(["file", "user", "start"]).ngroups)
    warm = rec["passes"][0]
    if warm["late_rows_dropped"] != late_groups:
        problems.append(f"stream: late (file, user, window) groups = {late_groups}, "
                        f"late rows reported by the program = {warm['late_rows_dropped']}")
    checked_ok = not problems
    attempted = failed = 0
    for p in rec["passes"]:
        n = max(1, len(_data_batches(p)))
        attempted += n
        bad = not checked_ok or p["digest"] != warm["digest"] \
            or p["late_rows_dropped"] != warm["late_rows_dropped"]
        if bad:
            failed += n
            if p is not warm:
                problems.append(f"stream pass {p['index']}: sink differs from the checked one")
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "late_rows": int(late.sum()), "late_groups": late_groups,
            "late_rows_dropped": warm["late_rows_dropped"], "windows": int(len(ref)),
            "input_rows": int(len(ev))}


# ---------------------------------------------------------------- metrics

def _stream_rate(p):
    """Rows of the data batches over the wall time from the first batch's
    start to the last one's end."""
    bs = _data_batches(p)
    if not bs:
        return 0.0
    span_ms = bs[-1]["start_ms"] + bs[-1]["duration_ms"]["triggerExecution"] - bs[0]["start_ms"]
    return sum(b["rows"] for b in bs) / (span_ms / 1e3)


def end_to_end(rec, launched, check):
    timed = _timed(rec, False)
    pass_s = _median([p["wall_s"] for p in timed])
    if rec["workload"] == "stream_events":
        ops = [b["duration_ms"]["triggerExecution"] / 1e3 for p in timed for b in _data_batches(p)]
        rate = _median([_stream_rate(p) for p in timed])
    else:
        ops = [op["wall_s"] for p in timed for op in p["ops"]]
        rate = check["input_rows"] / pass_s
    return {
        "setup_s": rec["setup_end_ms"] / 1e3 - launched,
        "pass_s": pass_s,
        "op_p50_ms": _median(ops) * 1e3,
        "rows_per_s": rate,
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def samples(rec):
    """How many timed passes and operations the end-to-end metrics rest on."""
    timed = _timed(rec, False)
    if rec["workload"] == "stream_events":
        return {"passes": len(timed), "ops": sum(len(_data_batches(p)) for p in timed)}
    return {"passes": len(timed), "ops": sum(len(p["ops"]) for p in timed)}


def _pass_jobs(rec, p):
    if rec["workload"] == "stream_events":
        return [j for j in rec["jobs"] if p["start_ms"] <= j["start_ms"] <= p["end_ms"]]
    prefix = f"{p['index']}:"
    return [j for j in rec["jobs"] if j["group"].startswith(prefix)]


def _build_jobs(rec, p):
    """Jobs an op started while its DataFrame was being built."""
    ends = {op["group"]: op["start_ms"] + op["build_s"] * 1e3 for op in p.get("ops", [])}
    return sum(1 for j in _pass_jobs(rec, p) if j["group"] in ends and j["start_ms"] <= ends[j["group"]])


def _union_s(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def _pass_layers(rec, p):
    jobs = _pass_jobs(rec, p)
    stages = [s for j in jobs for s in j["stages"]]
    exec_s = _union_s([(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0])
    task_s = sum(s["run_ms"] for s in stages) / 1e3
    m = {
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
        "scheduler.exec_s": exec_s,
        "scheduler.idle_core_ratio": 1.0 - task_s / (exec_s * rec["cores"]) if exec_s else 0.0,
        "scheduler.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "executor.task_s": task_s,
        "executor.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "executor.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "executor.deser_s": sum(s["deser_ms"] for s in stages) / 1e3,
        "shuffle.write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "shuffle.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "runner.start_s": p["runner_start_s"],
    }
    zero_stream = {k: 0.0 for k in PER_LAYER if k.split(".")[0] in ("stream", "state", "sink")}
    if rec["workload"] == "stream_events":
        bs = _data_batches(p)
        d = lambda b, *ks: sum(b["duration_ms"].get(k, 0) for k in ks)  # noqa: E731
        m.update({
            "queries.build_s": 0.0,
            "queries.build_jobs": 0,
            "planner.plan_s": sum(d(b, "queryPlanning") for b in p["batches"]) / 1e3,
            "stream.batches": len(p["batches"]),
            "stream.jobs_per_batch": len(jobs) / len(p["batches"]),
            "stream.add_batch_ms": _median([d(b, "addBatch") for b in bs]),
            "stream.planning_ms": _median([d(b, "queryPlanning") for b in bs]),
            "stream.offsets_ms": _median([d(b, "latestOffset", "getBatch") for b in bs]),
            "stream.commit_ms": _median([d(b, "walCommit", "commitOffsets") for b in bs]),
            "state.commit_ms": _median([b["state_commit_ms"] for b in bs]),
            "state.update_ms": _median([b["state_update_ms"] for b in bs]),
            "state.rows_total": p["batches"][-1]["state_rows"],
            "state.memory_mb": p["batches"][-1]["state_memory_b"] / MB,
            "state.late_rows_dropped": p["late_rows_dropped"],
            "sink.rows_out": p["sink_rows"],
        })
    else:
        m.update(zero_stream)
        m.update({
            "queries.build_s": sum(op["build_s"] for op in p["ops"]),
            "queries.build_jobs": _build_jobs(rec, p),
            "planner.plan_s": sum(op["plan_s"] for op in p["ops"]),
        })
    return m


def layer_metrics(rec, check):
    """Per-layer metrics (medians over the traced passes), the per-pass
    values they came from, and the span tree."""
    traced = _timed(rec, True)
    per = [_pass_layers(rec, p) for p in traced]
    metrics = {k: _median([m[k] for m in per]) for k in per[0]}
    warm = rec["passes"][0]
    metrics["queries.setup_build_jobs"] = _build_jobs(rec, warm) if "ops" in warm else 0
    metrics["memo.persisted_mb"] = rec["memo_after_window"]["bytes"] / MB
    metrics["memo.persisted_rdds"] = rec["memo_after_window"]["rdds"]
    metrics["runner.session_s"] = rec["session_s"]
    metrics["trace.overhead_s"] = (_median([p["wall_s"] for p in traced])
                                   - _median([p["wall_s"] for p in _timed(rec, False)]))
    return {k: metrics[k] for k in PER_LAYER}, per, spans(rec)


# ---------------------------------------------------------------- spans

class _Spans:
    def __init__(self):
        self.items = []

    def add(self, name, start, end, parent=None, **attrs):
        sid = len(self.items)
        self.items.append(dict(id=sid, parent=parent, name=name, start_ms=start, end_ms=end, **attrs))
        return sid

    def finish(self):
        """Self time: duration minus the part of it that children cover."""
        kids = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
        for s in self.items:
            s["dur_ms"] = s["end_ms"] - s["start_ms"]
            inside = [(max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in kids.get(s["id"], [])]
            s["self_ms"] = s["dur_ms"] - _union_s([iv for iv in inside if iv[1] > iv[0]]) * 1e3
        return self.items


# MicroBatchExecution's phase order within one trigger
STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def spans(rec):
    """run → workload → pass → query → {build, plan, execute} → job → stage;
    for the stream, pass (process()) → batch → phase → job → stage."""
    sp = _Spans()
    traced = _timed(rec, True)
    run = sp.add("run", rec["passes"][0]["start_ms"], traced[-1]["end_ms"])
    wl = sp.add(rec["workload"], rec["passes"][0]["start_ms"], traced[-1]["end_ms"], run)

    def add_jobs(jobs, parent_for):
        for j in jobs:
            end = j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]
            jid = sp.add(f"job {j['id']}", j["start_ms"], end, parent_for(j), tasks=sum(
                s["tasks"] for s in j["stages"]))
            for s in j["stages"]:
                if s["completed_ms"]:
                    sp.add(f"stage {s['id']}", s["submitted_ms"], s["completed_ms"], jid,
                           tasks=s["tasks"], task_ms=s["run_ms"])

    for p in traced:
        pid = sp.add(f"pass {p['index']}", p["start_ms"], p["end_ms"], wl)
        jobs = _pass_jobs(rec, p)
        if rec["workload"] == "stream_events":
            phases = []
            for b in p["batches"]:
                total = b["duration_ms"].get("triggerExecution", 0)
                bid = sp.add(f"batch {b['batch']}", b["start_ms"], b["start_ms"] + total, pid, rows=b["rows"])
                t = b["start_ms"]
                for ph in STREAM_PHASES:
                    dur = b["duration_ms"].get(ph, 0)
                    phases.append((t, t + dur, sp.add(ph, t, t + dur, bid)))
                    t += dur

            def parent_for(j, phases=phases, pid=pid):
                hits = [ph for ph in phases if ph[0] <= j["start_ms"] <= ph[1]]
                return hits[-1][2] if hits else pid
        else:
            phase_of = {}
            for op in p["ops"]:
                s0 = op["start_ms"]
                b1 = s0 + op["build_s"] * 1e3
                p1 = b1 + op["plan_s"] * 1e3
                e1 = p1 + op["exec_s"] * 1e3
                qid = sp.add(op["name"], s0, e1, pid)
                phase_of[op["group"]] = [(s0, b1, sp.add("build", s0, b1, qid)),
                                         (b1, p1, sp.add("plan", b1, p1, qid)),
                                         (p1, e1, sp.add("execute", p1, e1, qid))]

            def parent_for(j, phase_of=phase_of, pid=pid):
                ph = phase_of.get(j["group"], [])
                hits = [x for x in ph if x[0] <= j["start_ms"] <= x[1]]
                return hits[0][2] if hits else (ph[-1][2] if ph else pid)
        add_jobs(jobs, parent_for)
    return sp.finish()
