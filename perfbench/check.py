"""Turns one raw run record into checked metrics.

Results are checked before any time is reported: a registry result or
endpoint response that differs from its DuckDB oracle answer (committed
in expected/oracle.json) marks every sample of that request as failed,
and a failed sample's time is left out. Streaming sinks are checked in
the JVM against the batch form of their pipeline.
"""
import glob
import hashlib
import json
import math
import os

import stats

UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
         "throughput_per_s": "1/s", "first_run_s": "s", "retained_heap_mb": "MB"}

STREAM_CHECKS = {"dau_keys", "alert_windows", "joined_pairs", "users_latest"}
STREAM_TOPIC = {"dau": "events", "alerts": "events", "sale_detail": "cdc", "users": "cdc"}
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


# ---------------------------------------------------------------- oracle

def _cell(v, kind):
    if v is None:
        return "NaN"
    if kind == "f":
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if kind in "iu":
        return str(int(v))
    if kind == "b":
        return str(bool(v))
    if hasattr(v, "tolist"):
        v = v.tolist()
    try:
        if v != v:  # NaN in an object column
            return "NaN"
    except Exception:
        pass
    return str(v)


def canon_hash(df):
    """Order-free digest of a result under tools/check_oracle.py's rules:
    columns compared by sorted name, rows as a multiset, numeric kinds
    strict (int vs float vs other differ), doubles exact."""
    cols = sorted(df.columns)
    kinds = []
    for c in cols:
        k = df[c].dtype.kind
        kinds.append("f" if k == "f" else "i" if k in "iu" else "b" if k == "b" else "O")
    rows = sorted("\t".join(_cell(v, k) for v, k in zip(r, kinds))
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(("|".join(f"{c}:{k}" for c, k in zip(cols, kinds)) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest(), len(rows)


def _float_eq(a, b):
    try:
        return float(a) == float(b)
    except (TypeError, ValueError):
        return a == b


def same_response(got, want):
    """Endpoint responses: structure and strings exact, numbers by value
    (the engine renders doubles with Java's toString)."""
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            same_response(got[k], want[k]) for k in want)
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            same_response(g, w) for g, w in zip(got, want))
    if isinstance(want, (int, float)) and not isinstance(want, bool):
        return _float_eq(got, want)
    if isinstance(want, str) and isinstance(got, str) and want != got:
        return _float_eq(got, want) if _numeric(want) and _numeric(got) else False
    return got == want


def _numeric(s):
    try:
        float(s)
        return True
    except ValueError:
        return False


def check_results(raw, expected):
    """{key: None if it matches its oracle answer, else a reason}."""
    import pandas as pd
    verdicts = {}
    for key in raw.get("result_keys", []):
        base = os.path.join(raw["results_dir"], key)
        if "@" in key:
            want = expected["endpoints"].get(key)
            if want is None:
                verdicts[key] = "no oracle answer for this parameter"
                continue
            got = json.load(open(base + ".json"))
            verdicts[key] = None if same_response(got, want) else "response differs"
        else:
            want = expected["queries"].get(key)
            if want is None or want.get("hash") is None:
                verdicts[key] = "no oracle answer"
                continue
            files = glob.glob(os.path.join(base, "*.parquet"))
            df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            if df is None:
                verdicts[key] = "no result written"
                continue
            h, n = canon_hash(df)
            verdicts[key] = None if h == want["hash"] else f"differs ({n} rows, oracle {want['rows']})"
    return verdicts


# --------------------------------------------------------------- metrics

def _m(values):
    return {k: {"value": float(v), "unit": UNITS.get(k, "")} for k, v in values.items()}


def host_notes(raw):
    lag = raw.get("generator_lag_s") or [0.0]
    return {"generator_lag_p99_s": stats.percentile(lag, 99), "generator_lag_max_s": max(lag),
            **raw.get("host", {})}


def layer_self(raw):
    spans = [(s[0], s[1], s[5], s[6]) for s in raw.get("spans", [])]
    selfs = stats.self_times(spans)
    by_layer = {}
    for s in raw.get("spans", []):
        by_layer[s[3]] = by_layer.get(s[3], 0.0) + selfs[s[0]]
    return by_layer


def evaluate_publisher(raw, expected, traced):
    bad = {k: v for k, v in check_results(raw, expected).items() if v}
    bad.update({k: v for k, v in raw.get("errors", {}).items()})
    open_s = raw["open"]
    ok_open = [o for o in open_s if o[5] == 1 and o[0] not in bad]
    lat = [stats.due_latency(o[2], o[4]) for o in ok_open]
    p, tail_v, n = stats.tail(lat)
    closed = [c for c in raw["closed"] if c[5] == 1 and c[0] not in bad]
    wall = (max(c[4] for c in raw["closed"]) - raw["closed_t0"]) / 1e9 if raw["closed"] else float("nan")
    busy = sum((c[4] - c[3]) / 1e9 for c in closed)
    warm_n = raw.get("warm_failed", 0)
    attempted = len(open_s) + len(raw["closed"]) + raw["open_unserved"]
    failed = attempted - len(ok_open) - len(closed)
    e2e = {"setup_s": raw["setup_s"][0], "latency_p50_s": stats.hd_quantile(lat, 50),
           "latency_tail_s": tail_v, "throughput_per_s": stats.closed_loop_rate(raw["cpus"], len(closed), busy),
           "first_run_s": raw["warm_s"], "retained_heap_mb": raw["retained_heap_mb"]}
    notes = [f"open loop: {len(lat)} ok samples at {raw['open_rate']}/s; tail is p{p:g} of {n}",
             f"closed loop: {len(closed)} ok in {wall:.2f}s; warm-up failures {warm_n}"]
    for k, v in bad.items():
        notes.append(f"WRONG {k}: {v}")
    layers = publisher_layers(raw) if traced else {}
    return e2e, layers, attempted, failed + warm_n, notes, bad


def publisher_layers(raw):
    spans = raw["spans"]
    reqs = {s[4] for s in spans if s[3] == "request"}
    n = max(1, len(reqs))
    q_reqs = {s[4] for s in spans if s[3] == "planning"}
    nq = max(1, len(q_reqs))
    build_q = sum((s[6] - s[5]) / 1e9 for s in spans if s[3] == "ops" and s[4] in q_reqs) / nq
    tables = sum(raw.get("tables_probe_s", {}).values()) / nq
    counters = {}
    for g, c in raw.get("counters", {}).items():
        if g.startswith("open-") or g.startswith("closed-"):
            for k, v in c.items():
                counters[k] = counters.get(k, 0.0) + v
    plans = raw.get("plan_counts", {}).values()
    pc = {k: stats.median([p[k] for p in plans]) if plans else 0.0
          for k in ("plan.exchanges", "plan.scans", "plan.cached_scans")}
    waits = [stats.queue_wait(o[2], o[3]) for o in raw["open"]]
    selfs = layer_self(raw)
    out = {"ops.build_s": build_q, "ops.tables_s": tables,
           "ops.tables_share": tables / build_q if build_q else 0.0,
           "ops.endpoint_s": sum((s[6] - s[5]) / 1e9 for s in spans
                                 if s[3] == "ops" and s[4] not in q_reqs) / max(1, n - len(q_reqs)),
           "planning.plan_s": sum((s[6] - s[5]) / 1e9 for s in spans if s[3] == "planning") / nq,
           "exec.wall_s": sum((s[6] - s[5]) / 1e9 for s in spans if s[3] == "exec") / nq,
           "publisher.queue_wait_s": stats.median(waits) if waits else 0.0,
           "publisher.queue_wait_max_s": max(waits) if waits else 0.0,
           **{f"{k}_per_req": v / n for k, v in counters.items()},
           **pc,
           **{f"self.{k}_s": v / n for k, v in selfs.items()}}
    return out


def stream_latencies(raw, lo, hi):
    chunks = {"events": [], "cdc": []}
    for topic, off, created, rows, _ in raw["chunks"]:
        if lo <= created < hi:
            chunks[topic].append((off, created, rows))
    lat = []
    for q, topic in STREAM_TOPIC.items():
        batches = [(p[1], p[5], p[6]) for p in raw["progress"] if p[0] == q]
        ends = {s[1]: s[3] for s in raw["sink_calls"] if s[0] == q}
        lat += stats.chunk_latencies(chunks[topic], batches, ends)
    # low-rate chunks all carry about the same number of events, so each
    # (query, chunk) is one sample; the ten-beyond rule then counts
    # independent samples, not copies of one chunk's latency
    return lat


def burst_rate(raw):
    """Catch-up rate: input rows over batch time of the micro-batches that
    consumed a burst chunk, pooled over the bursts and all four queries
    (events for dau and alerts, changelog rows for sale_detail and users).
    Returns (rows/s, {query: (rows, seconds)})."""
    burst = {t: [c[1] for c in raw["chunks"] if c[0] == t and c[2] >= raw["burst_t0"]]
             for t in ("events", "cdc")}
    per = {}
    for p in raw["progress"]:
        if any(p[5] < off <= p[6] for off in burst[STREAM_TOPIC[p[0]]]):
            rows, secs = per.get(p[0], (0, 0.0))
            per[p[0]] = (rows + p[4], secs + p[3].get("triggerExecution", 0) / 1e3)
    secs = sum(s for _, s in per.values())
    return (sum(r for r, _ in per.values()) / secs if secs else 0.0), per


def cold_batches_s(raw):
    """First-run cost of the pipelines: from the trigger that first
    carried data (the four queries share the trigger clock) to the
    return of the last query's first sink call. Measured from that
    trigger rather than from the first offer, so the wait for the next
    trigger tick does not count."""
    ends = {(s[0], s[1]): s[3] for s in raw["sink_calls"]}
    firsts = {}
    for p in sorted(raw["progress"], key=lambda p: p[1]):
        if p[4] > 0 and p[0] not in firsts and (p[0], p[1]) in ends:
            firsts[p[0]] = (p[2], ends[(p[0], p[1])])
    if len(firsts) < 4:
        return float("nan")
    return (max(e for _, e in firsts.values()) - min(s for s, _ in firsts.values())) / 1e9


def evaluate_stream(raw, expected, traced):
    # low-rate chunks only: the burst chunk is the throughput sample
    lat = stream_latencies(raw, raw["phase_t0"], min(raw["phase_end"], raw["burst_t0"]))
    p, tail_v, n = stats.tail(lat)
    rate, per = burst_rate(raw)
    first_run = cold_batches_s(raw)
    failed = sum(c["missing"] + c["extra"] for c in raw["checks"].values())
    attempted = raw["events_offered"] + raw["cdc_offered"]
    if raw["query_errors"] or set(raw["checks"]) != STREAM_CHECKS:
        failed = attempted
    e2e = {"setup_s": raw["setup_s"][0], "latency_p50_s": stats.hd_quantile(lat, 50),
           "latency_tail_s": tail_v, "throughput_per_s": rate,
           "first_run_s": first_run, "retained_heap_mb": raw["retained_heap_mb"]}
    notes = [f"event latency: {n} (query, chunk) samples; tail is p{p:g}",
             "burst: " + ", ".join(f"{q} {r} rows in {t:.2f}s" for q, (r, t) in sorted(per.items())),
             "checks: " + json.dumps(raw["checks"])]
    notes += [f"WRONG query {q}: {e}" for q, e in raw["query_errors"].items()]
    layers = stream_layers(raw) if traced else {}
    return e2e, layers, attempted, failed, notes, {}


PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
               "commitOffsets")


def stream_spans(raw):
    """Spans of the streaming layers: each micro-batch from its progress
    event, its durationMs phases laid end to end inside it in execution
    order, and each sink call (timed around the Sinks call) under the
    addBatch phase of its batch. Returns [(id, parent, layer, start, end)]."""
    spans, add_of, nid = [], {}, 0
    for p in raw["progress"]:
        nid += 1
        bid, start = nid, p[2]
        spans.append((bid, 0, "streaming", start, start + p[3].get("triggerExecution", 0) * 1000000))
        t = start
        for ph in PHASE_ORDER:
            d = p[3].get(ph, 0) * 1000000
            if d:
                nid += 1
                spans.append((nid, bid, "streaming.phase", t, t + d))
                if ph == "addBatch":
                    add_of[(p[0], p[1])] = nid
                t += d
    for s in raw["sink_calls"]:
        nid += 1
        spans.append((nid, add_of.get((s[0], s[1]), 0), "Sinks", s[2], s[3]))
    return spans


def stream_layers(raw):
    prog = [p for p in raw["progress"] if p[4] > 0]
    nb = max(1, len(prog))
    dur = lambda k: sum(p[3].get(k, 0) for p in prog) / nb
    calls = raw["sink_calls"]
    kinds = {"dau": "upsert", "users": "upsert", "alerts": "append", "sale_detail": "append"}
    sink_s = {"upsert": [], "append": []}
    written = nfiles = 0
    for s in calls:
        sink_s[kinds[s[0]]].append((s[3] - s[2]) / 1e9)
        written += stats.written_bytes(s[4], s[5])
        nfiles += stats.files_written(s[4], s[5])
    in_bytes = sum(c[4] for c in raw["chunks"])
    # backlog of the event topic: offered minus consumed by the slower
    # event query, sampled at each of its sink returns
    ev = sorted((c[2], c[1], c[3]) for c in raw["chunks"] if c[0] == "events")
    cum, offered = 0, []
    for created, off, rows in ev:
        cum += rows
        offered.append((created, off, cum))
    rows_upto = lambda off: max([c for _, o, c in offered if o <= off], default=0)
    backlog = []
    for q in ("dau", "alerts"):
        ends = {s[1]: s[3] for s in calls if s[0] == q}
        for p in raw["progress"]:
            if p[0] == q and p[1] in ends:
                t = ends[p[1]]
                backlog.append((t, stats.progress_at([(c, r) for c, _, r in offered], t) - rows_upto(p[6])))
    backlog.sort()
    low = [(t, b) for t, b in backlog if raw["phase_t0"] <= t <= raw["phase_end"]]
    counters = raw.get("stream_counters", {})
    tot = lambda k: sum(c.get(k, 0.0) for c in counters.values())
    spans = stream_spans(raw)
    selfs = stats.self_times([(i, par, st, en) for i, par, _, st, en in spans])
    self_by = {}
    for i, _, layer, _, _ in spans:
        self_by[layer] = self_by.get(layer, 0.0) + selfs[i]
    return {"self.streaming_s": self_by.get("streaming", 0.0) / nb,
            "self.streaming_phases_s": self_by.get("streaming.phase", 0.0) / nb,
            "self.Sinks_s": self_by.get("Sinks", 0.0) / nb,"streaming.batch_s": dur("triggerExecution") / 1e3,
            "streaming.addBatch_ms": dur("addBatch"), "streaming.queryPlanning_ms": dur("queryPlanning"),
            "streaming.walCommit_ms": dur("walCommit"), "streaming.commitOffsets_ms": dur("commitOffsets"),
            "streaming.batches": len(prog),
            "streaming.backlog_rows": low[-1][1] if low else 0,
            "streaming.backlog_slope_rows_s": stats.slope([t / 1e9 for t, _ in low], [b for _, b in low]),
            "streaming.state_rows": max([p[7] for p in raw["progress"]], default=0),
            "streaming.state_mem_bytes": max([p[8] for p in raw["progress"]], default=0),
            "streaming.state_commit_ms": sum(p[9] for p in prog) / nb,
            "streaming.dropped_by_watermark": sum(p[10] for p in raw["progress"]),
            "Sinks.upsert_s": stats.median(sink_s["upsert"]) if sink_s["upsert"] else 0.0,
            "Sinks.append_s": stats.median(sink_s["append"]) if sink_s["append"] else 0.0,
            "Sinks.share_of_batch": (sum(sink_s["upsert"]) + sum(sink_s["append"])) /
                                    max(1e-9, sum(p[3].get("triggerExecution", 0) for p in prog) / 1e3),
            "Sinks.write_amp": written / in_bytes if in_bytes else 0.0,
            "Sinks.files_written": nfiles,
            "sources.route_s": raw.get("cdc_route_s", 0.0),
            "streaming.task_run_s": tot("spark.task_run_s"), "streaming.jobs": tot("spark.jobs"),
            "streaming.shuffle_bytes": tot("spark.shuffle_bytes")}


def evaluate(workload, raw, expected, traced):
    fn = {"publisher_mix": evaluate_publisher, "stream_ingest": evaluate_stream}[workload]
    e2e, layers, attempted, failed, notes, bad = fn(raw, expected, traced)
    host = host_notes(raw)
    notes.append("host: " + json.dumps({k: round(v, 4) for k, v in host.items()}))
    per_layer = {}
    if traced:
        per_layer = all_layers(raw, layers, e2e, host)
    return {"correct": failed == 0 and not bad, "attempted": int(max(1, attempted)),
            "failed": int(failed), "end_to_end": _m(e2e), "per_layer": per_layer,
            "notes": notes, "host": host, "wrong": bad}


def all_layers(raw, layers, e2e, host):
    """The per-layer metrics BENCHMARK.json lists, for every workload: a
    layer a workload does not cross reads 0."""
    names = json.load(open(BENCHMARK_JSON))["per_layer"]
    vals = dict(layers)
    vals["memo.cached_bytes"] = raw.get("memo_cached_bytes", 0.0)
    vals["setup.rebuild_s"] = stats.median(raw["setup_s"][1:])
    vals["generator.lag_s"] = host["generator_lag_p99_s"]
    vals["host.other_cpu_frac"] = raw.get("host", {}).get("other_cpu_frac", 0.0)
    vals["host.steal_frac"] = raw.get("host", {}).get("steal_frac", 0.0)
    vals["host.load1"] = raw.get("host", {}).get("load1_end", 0.0)
    for k, v in e2e.items():
        vals[f"traced.{k}"] = v
    return {m["name"]: {"value": float(vals.get(m["name"], 0.0) or 0.0), "unit": m["unit"]}
            for m in names}
