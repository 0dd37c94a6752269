"""Turn one harness record into the benchmark's result: check every output,
then compute the end-to-end metrics (untraced run) or the per-layer metrics
(traced run)."""
import os
import re
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import metrics as M

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("peak_rss_mb", "MB")]

KERNELS = ["adc_score", "pq_encode", "sorted_intersect", "vec_dot", "xx_minhash64",
           "winnow_fps", "tokenize_ws", "word_shingles"]
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
     ("spark.input_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
     ("spark.output_bytes", "bytes"), ("spark.broadcast_bytes", "bytes"),
     ("spark.driver_s", "s"), ("spark.stage_skew", "ratio"),
     ("core.session_s", "s"), ("core.warmup_s", "s"),
     ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("queries.exec_s", "s")]
    + [(f"functions.{k}.rows_per_s", "rows/s") for k in KERNELS]
    + [("ops.ivf_build_s", "s"), ("ops.ivf_probe_s", "s"), ("ops.upsert_s", "s"),
       ("ops.incremental_agg_s", "s"),
       ("maint.commit_s", "s"), ("maint.commits", "count"), ("maint.commit_bytes", "bytes"),
       ("maint.versions_s", "s"), ("maint.read_s", "s"), ("maint.compact_s", "s"),
       ("maint.compact_bytes_rewritten", "bytes"), ("maint.vacuum_s", "s"),
       ("maint.stored_bytes", "bytes"), ("maint.write_amp", "ratio"),
       ("maint.space_amp", "ratio"),
       ("streaming.merge_sink_s", "s"), ("streaming.batches", "count"),
       ("streaming.processed_rows_per_s", "rows/s"),
       ("pipeline.run_s", "s"), ("quality.apply_s", "s"), ("quality.rows_dropped", "count"),
       ("gen.late_max_s", "s"), ("gen.backlog_max", "count"), ("trace.overhead_frac", "ratio")])


def by_kind(rec):
    out = {}
    for r in rec:
        out.setdefault(r["t"], []).append(r)
    return out


# ---------------------------------------------------------------- checks

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(checks, data, work):
    """Compare each query's output with its DuckDB oracle over the same
    inputs; returns {name: None or the reason it failed}."""
    con = duckdb.connect()
    con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
    con.sql("SET memory_limit='2GB'")
    con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for c in checks:
        name = c["name"]
        if not c["ok"]:
            out[name] = f"output failed: {c['error']}"
            continue
        if not c.get("oracle"):
            out[name] = "no oracle"
            continue
        files = glob_parquet(c["dir"])
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        exp = con.execute(materialized(c["oracle"])).df()
        g, e = _norm(got), _norm(exp)
        if list(g.columns) != list(e.columns):
            out[name] = f"columns {list(g.columns)} vs {list(e.columns)}"
        elif len(g) != len(e):
            out[name] = f"rows {len(g)} vs {len(e)}"
        else:
            out[name] = None
            for col in g.columns:
                gv, ev = g[col], e[col]
                if str(gv.dtype).startswith("float") or str(ev.dtype).startswith("float"):
                    same = np.allclose(gv.astype(float).fillna(-9e99),
                                       ev.astype(float).fillna(-9e99), rtol=0, atol=1e-9)
                else:
                    same = (gv.astype(str) == ev.astype(str)).all()
                if not same:
                    out[name] = f"value mismatch in column {col}"
                    break
    return out


def materialized(sql):
    """The oracle with its common table expressions materialized: DuckDB
    otherwise inlines a CTE at every reference, and the MMR oracle then
    re-normalizes the corpus dozens of times. Results are unchanged."""
    return re.sub(r"(\bWITH\s+|,\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def glob_parquet(d):
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")) \
        if os.path.isdir(d) else []


def _order_row(r):
    return [int(r[0]), int(r[1]), r[2], round(float(r[3]), 2), r[4], r[5]]


def _cents(p):
    return int(round(float(p) * 100))


def check_read(op, state):
    """None if the read's rows match the model state it read, else why not."""
    got = op["rows"]
    kind, args = op["name"], op["args"]
    if kind in ("point", "timetravel"):
        k = int(args[0])
        exp = [_order_row(state[k])] if k in state else []
        got = [[int(g[0]), int(g[1]), g[2], round(float(g[3]), 2), g[4], g[5]] for g in got]
    elif kind == "range":
        lo, hi = args
        rows = [r for r in state.values() if lo <= r[4] <= hi]
        exp = [[len(rows), sum(_cents(r[3]) for r in rows) if rows else None]]
        got = [[int(g[0]), None if g[1] is None else int(g[1])] for g in got]
    else:
        c = int(args[0])
        rows = [r for r in state.values() if r[1] == c]
        exp = [[c, len(rows), Decimal(sum(_cents(r[3]) for r in rows)) / 100]] if rows else []
        got = [[int(g[0]), int(g[1]), Decimal(g[2])] for g in got]
    return None if got == exp else f"{kind} {args}: got {got} expected {exp}"


def check_refresh(k, inputs, work):
    """Reads against the model at the version they read; the final silver
    against the model; gold against a full recompute from silver; the merge
    sink against the latest event per user. Returns (failed read op ids,
    list of final-state failures)."""
    states = inputs["states"]
    batch_of = {}
    for v in k.get("version", []):
        batch_of[(v["table"], v["version"])] = v["batch"]
    failed, reasons = set(), []
    for op in k.get("op", []):
        if op["kind"] != "read" or not op["ok"]:
            continue
        b = 0 if op["version"] == 0 else batch_of.get((op["table"], op["version"]))
        why = "unknown version" if b is None else check_read(op, states[b])
        if why:
            failed.add(op["id"])
            reasons.append(why)
    last = max((op["unit"] for op in k.get("op", []) if op["kind"] == "batch"), default=0)
    final = states[last]
    dirs = {c["table"]: c["dir"] for c in k.get("compact", [])}
    silver = pd.concat([pd.read_parquet(f) for f in glob_parquet(dirs["silver"])])
    got = sorted([int(r.o_orderkey), int(r.o_custkey), r.o_orderstatus,
                  round(float(r.o_totalprice), 2), str(r.o_orderdate)[:10], r.o_orderpriority]
                 for r in silver.itertuples())
    if got != sorted(_order_row(r) for r in final.values()):
        reasons.append("final silver differs from the model")
    per_cust = {}
    for r in final.values():
        per_cust.setdefault(int(r[1]), []).append(_cents(r[3]))
    gsum = pd.concat([pd.read_parquet(f) for f in glob_parquet(dirs["gold_sum"])])
    got = sorted((int(r.o_custkey), int(r.cnt), Decimal(str(r.agg_sum)))
                 for r in gsum.itertuples())
    exp = sorted((c, len(v), Decimal(sum(v)) / 100) for c, v in per_cust.items())
    if got != exp:
        reasons.append("gold_sum differs from a recompute over silver")
    gmm = pd.concat([pd.read_parquet(f) for f in glob_parquet(dirs["gold_minmax"])])
    got = sorted((int(r.o_custkey), int(r.cnt), Decimal(str(r.agg_min)), Decimal(str(r.agg_max)))
                 for r in gmm.itertuples())
    exp = sorted((c, len(v), Decimal(min(v)) / 100, Decimal(max(v)) / 100)
                 for c, v in per_cust.items())
    if got != exp:
        reasons.append("gold_minmax differs from a recompute over silver")
    latest = {}
    for b in range(1, last + 1):
        ev = pq.read_table(os.path.join(work, "data", f"events_batch_{b:04d}.parquet"),
                           columns=["user_id", "event_id"]).to_pandas()
        for u, e in zip(ev.user_id, ev.event_id):
            latest[int(u)] = max(latest.get(int(u), -1), int(e))
    sink = pd.concat([pd.read_parquet(f) for f in glob_parquet(dirs["events_latest"])])
    if sorted(zip(sink.user_id.astype(int), sink.event_id.astype(int))) != sorted(latest.items()):
        reasons.append("merge-sink output differs from the latest event per user")
    measured = {op["unit"] for op in k.get("op", [])
                if op["kind"] == "batch" and op["phase"] == "measure"}
    if not any(v["removed"] for v in k.get("vacuum", []) if v["batch"] in measured):
        reasons.append("no vacuum in the measured batches removed a version")
    return failed, reasons


# ---------------------------------------------------------------- metrics

def end_to_end(k, cfg):
    measured = [o for o in k.get("op", []) if o["phase"] == "measure" and o["ok"]]
    setup = (k["session"][0]["seconds"] + M.median([s["seconds"] for s in k.get("setup", [])])
             + k["warmup"][0]["seconds"])
    if cfg["loop"] == "closed":
        passes = [u["end"] - u["start"] for u in k["unit"]]
        lat = [o["end"] - o["due"] for o in measured]
    else:
        passes = [o["fresh"] - o["due"] for o in measured if o["kind"] == "batch"]
        lat = [o["end"] - o["due"] for o in measured if o["kind"] == "read"]
    tail, pct, n = M.tail(lat)
    values = {"setup_s": setup, "pass_s": M.median(passes), "op_p50_s": M.median(lat),
              "op_tail_s": tail, "peak_rss_mb": k["rss"][0]["vm_hwm_kb"] / 1024.0}
    notes = [f"op_tail_s is p{pct:.1f} of {n} ops; pass_s is the median of {len(passes)}"]
    return values, notes


def _within(t, intervals):
    return any(a <= t <= b for a, b in intervals)


def per_layer(k, cfg, inputs):
    ops = [o for o in k.get("op", []) if o["phase"] == "measure"]
    traced_ops = {o["id"]: o for o in ops if o["traced"]}
    units = [u for u in k["unit"] if u["traced"]]
    n_units = max(1, len(units))
    spans = k.get("span", [])
    self_t = M.self_times(spans)
    span_ops = [s for s in spans if s["op"] in traced_ops]

    def busy(name):
        return sum(self_t[s["id"]] for s in span_ops if s["name"] == name) / n_units

    def calls(name):
        return sum(1 for s in span_ops if s["name"] == name) / n_units

    ends = {j["id"]: j["end"] for j in k.get("jobend", [])}
    jobs = [dict(j, end=ends.get(j["id"], j["start"])) for j in k.get("job", [])
            if j["op"] in traced_ops]
    stages = [s for s in k.get("stage", []) if s["op"] in traced_ops]
    ivals = [(o["start"], o["end"]) for o in traced_ops.values()]
    v = {}
    v["spark.jobs"] = len(jobs) / n_units
    v["spark.stages"] = len(stages) / n_units
    for key, field in [("spark.tasks", "tasks"), ("spark.executor_run_s", "run_s"),
                       ("spark.executor_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
                       ("spark.input_bytes", "input_bytes"),
                       ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
                       ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                       ("spark.spill_bytes", "spill_bytes"),
                       ("spark.output_bytes", "output_bytes")]:
        v[key] = sum(s[field] for s in stages) / n_units
    v["spark.broadcast_bytes"] = sum(b["bytes"] for b in k.get("broadcast", [])
                                     if _within(b["at"], ivals)) / n_units
    driver = 0.0
    for oid, o in traced_ops.items():
        own = [(j["start"], j["end"]) for j in jobs if j["op"] == oid]
        driver += (o["end"] - o["start"]) - M.union_length(own, o["start"], o["end"])
    v["spark.driver_s"] = driver / n_units
    v["spark.stage_skew"] = max((s["task_max_s"] / s["task_median_s"] for s in stages
                                 if s["tasks"] > 1 and s["task_median_s"] > 0), default=1.0)
    v["core.session_s"] = k["session"][0]["seconds"]
    v["core.warmup_s"] = k["warmup"][0]["seconds"]
    v["queries.build_s"] = busy("queries.build")
    builds = [(s["op"], s["start"], s["end"]) for s in span_ops if s["name"] == "queries.build"]
    v["queries.build_jobs"] = sum(1 for j in jobs for (op, a, b) in builds
                                  if j["op"] == op and a <= j["start"] <= b) / n_units
    v["queries.exec_s"] = busy("queries.exec")
    micro = {m["name"]: m["value"] for m in k.get("micro", [])}
    for kname in KERNELS:
        key = f"functions.{kname}.rows_per_s"
        v[key] = micro.get(key, 0.0)
    v["ops.ivf_build_s"] = M.median([s["end"] - s["start"] for s in spans
                                     if s["name"] == "ops.ivf_build"])
    v["ops.ivf_probe_s"] = micro.get("ops.ivf_probe_s", 0.0)
    v["ops.upsert_s"] = busy("ops.upsert")
    v["ops.incremental_agg_s"] = busy("ops.incremental_agg")
    v["maint.commit_s"] = busy("maint.commit")
    v["maint.commits"] = calls("maint.commit")
    v["maint.versions_s"] = busy("maint.versions")
    v["maint.read_s"] = busy("maint.read")
    counts = [c for c in k.get("count", []) if c["op"] in traced_ops]
    v["maint.compact_s"] = busy("maint.compact")
    v["maint.vacuum_s"] = busy("maint.vacuum")
    written = written_bytes(k)
    traced_batches = {u["id"] for u in units}
    commit_bytes = sum(n for (b, phase), n in written.items()
                       if b in traced_batches and phase == "commit")
    compact_bytes = sum(n for (b, phase), n in written.items()
                        if b in traced_batches and phase == "compact")
    commits = sum(1 for s in span_ops if s["name"] == "maint.commit")
    v["maint.commit_bytes"] = commit_bytes / commits if commits else 0.0
    v["maint.compact_bytes_rewritten"] = compact_bytes / n_units
    amp = amplification(k, inputs) if cfg["loop"] == "open" else (0.0, 0.0, 0.0)
    v["maint.stored_bytes"], v["maint.write_amp"], v["maint.space_amp"] = amp
    v["streaming.merge_sink_s"] = busy("streaming.merge_sink")
    prog = [p for p in k.get("stream", []) if _within(p["at"], ivals)]
    v["streaming.batches"] = len(prog) / n_units
    v["streaming.processed_rows_per_s"] = M.median([p["processed_rows_per_s"] for p in prog
                                                    if p["processed_rows_per_s"] is not None])
    v["pipeline.run_s"] = busy("pipeline.run")
    v["quality.apply_s"] = busy("quality.apply")
    v["quality.rows_dropped"] = sum(c["value"] for c in counts
                                    if c["name"] == "quality.rows_dropped") / n_units
    v["gen.late_max_s"] = max((o["start"] - o["due"] for o in ops), default=0.0)
    v["gen.backlog_max"] = max((o.get("backlog", 0) for o in ops), default=0)
    if cfg["loop"] == "closed":
        wall = {u["id"]: u["end"] - u["start"] for u in k["unit"]}
        tw = [wall[u["id"]] for u in k["unit"] if u["traced"]]
        uw = [wall[u["id"]] for u in k["unit"] if not u["traced"]]
    else:
        # up to the gold commit: the part of a batch that is the same work
        # every time (compaction runs after it, on some batches only)
        svc = {o["unit"]: o["fresh"] - o["start"] for o in ops if o["kind"] == "batch"}
        tw = [svc[u["id"]] for u in k["unit"] if u["traced"] and u["id"] in svc]
        uw = [svc[u["id"]] for u in k["unit"] if not u["traced"] and u["id"] in svc]
    v["trace.overhead_frac"] = (M.median(tw) / M.median(uw) - 1.0) if tw and uw else 0.0
    return v


def written_bytes(k):
    """Bytes newly written under the table roots, per (batch, phase), from
    consecutive file listings."""
    out, prev = {}, {}
    for w in k.get("walk", []):
        key = (w["batch"], w["phase"])
        out[key] = out.get(key, 0) + M.new_bytes(prev, w["files"])
        prev = w["files"]
    return out


def amplification(k, inputs):
    """(stored bytes, write amplification, space amplification) over the
    measured batches."""
    measured = {o["unit"] for o in k.get("op", []) if o["kind"] == "batch"
                and o["phase"] == "measure"}
    written = sum(n for (b, _), n in written_bytes(k).items() if b in measured)
    applied = sum(inputs["batch_bytes"][b - 1] for b in measured)
    stored = k["stored"][0]["bytes"]
    compact = sum(c["bytes"] for c in k.get("compact", []))
    return stored, M.write_amp(written, applied), M.space_amp(stored, compact)


def build(cfg, rec, inputs, work, traced):
    k = by_kind(rec)
    notes = []
    measured = [o for o in k.get("op", []) if o["phase"] == "measure"]
    failed = {o["id"] for o in measured if not o["ok"]}
    for o in k.get("op", []):
        if not o["ok"]:
            notes.append(f"op {o['id']} failed: {o['error']}")
    correct = bool(k.get("end")) and k["end"][0]["ok"] and not k.get("fatal")
    if cfg["loop"] == "closed":
        bad = {n: why for n, why in check_queries(k.get("check", []),
                                                  os.path.join(work, "data"), work).items() if why}
        for n, why in bad.items():
            notes.append(f"check {n}: {why}")
            failed |= {o["id"] for o in measured if o["name"] == n}
        correct = correct and not bad
    else:
        bad_reads, reasons = check_refresh(k, inputs, work)
        notes += reasons
        failed |= {o for o in bad_reads if o in {m["id"] for m in measured}}
        correct = correct and not reasons
    correct = correct and not failed
    if traced:
        values, names = per_layer(k, cfg, inputs), PER_LAYER
    else:
        values, more = end_to_end(k, cfg)
        notes += more
        names = END_TO_END
    return {"correct": bool(correct), "attempted": len(measured), "failed": len(failed),
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
            "notes": notes}
