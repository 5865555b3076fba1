"""Turns one raw workload result (written by perfbench.Main) into metrics.

Everything but the DuckDB twin check is a pure function of the result, so
the accounting is unit-testable without Spark.
"""
import glob
import math
import os
import statistics

# Foreign CPU (cores used by other processes during the timed window) above
# which a run is stamped as contended rather than read as a regression.
CONTENDED_CORES = 0.5

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 1), or None when fewer than
    MIN_BEYOND samples lie strictly above its rank."""
    n = len(values)
    if n == 0:
        return None
    rank = math.ceil(q * n)
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def timed_polls(res):
    return [p for p in res["polls"] if p["timed"]]


def quiet_polls(res):
    """The timed polls marked quiet (other processes used at most
    `Window.QuietCores` meanwhile; a burst of foreign load on a shared host
    slows a whole poll by 20 % and more), or all timed polls when fewer than
    half of them were quiet."""
    polls = timed_polls(res)
    quiet = [p for p in polls if p["quiet"]]
    return quiet if 2 * len(quiet) >= len(polls) else polls


def poll_latencies(res):
    """Closed-loop stream latencies over the quiet timed polls. Poll latency
    runs from the drop landing to the detection trigger's commit (alert
    publish included); protection latency from the drop landing to the
    neighbour's mitigation trigger finishing, over alert-bearing polls."""
    polls = quiet_polls(res)
    poll = [p["poll_s"] for p in polls]
    protect = [p["protect_s"] for p in polls if p["alerts"] > 0]
    return poll, protect


def flows_per_s(res):
    """Flow rows per second of closed-loop cycle (landing to protection)."""
    polls = quiet_polls(res)
    return sum(p["rows"] for p in polls) / sum(p["protect_s"] for p in polls)


def timed_calls(res):
    return [c for c in res["calls"] if c["timed"]]


def rounds(res, names=None):
    """Per-round total seconds of the timed rounds, optionally over `names`."""
    out = {}
    for c in timed_calls(res):
        if names is None or c["name"] in names:
            out[c["round"]] = out.get(c["round"], 0.0) + c["s"]
    return [out[r] for r in sorted(out)]


# The curation stages of `Batch.CurateStages`: one pass of them is what
# `items_per_s` divides the document count by.
CURATE = ("u1_curation", "d2_jaccard_pairs", "d7_dup_clusters",
          "s4_ivf_topk", "s6_ivf_refined", "t7_bpe_train")


def failures(res, oracle_mismatches):
    """(attempted, failed). A stream poll fails when its published frames or
    its mitigation rows differ from the expected ones; a batch call fails
    when its output differs from the DuckDB twin (every timed call of a
    mismatching query counts) or, for `detect`, from the injected bots."""
    if res["kind"] == "stream":
        return len(res["polls"]), res["self_failed"]
    calls = timed_calls(res)
    bad = set(oracle_mismatches)
    failed = res["self_failed"] + sum(1 for c in calls if c["name"] in bad)
    return len(calls), failed


def end_to_end(res):
    """The benchmark's end-to-end metrics (BENCHMARK.json) for one run."""
    if res["kind"] == "stream":
        poll, protect = poll_latencies(res)
        op, cycle, items = median(poll), median(protect), flows_per_s(res)
    else:
        op = median([c["s"] for c in timed_calls(res)])
        cycle = median(rounds(res))
        items = res["docs"] / median(rounds(res, CURATE))
    return {
        "op_p50_s": (op, "s"),
        "cycle_p50_s": (cycle, "s"),
        "items_per_s": (items, "1/s"),
        "setup_s": (res["setup_s"], "s"),
    }


def named(res, attempted, failed):
    """The report's named end-to-end metrics that this workload defines
    (poll and protection latency, flows/s, docs/s, query latency, detect
    time, set-up, heap, failed ratio), each as (value or None, unit, sample
    count)."""
    out = {}
    if res["kind"] == "stream":
        poll, protect = poll_latencies(res)
        out["poll_p50_s"] = (median(poll), "s", len(poll))
        out["poll_p90_s"] = (percentile(poll, 0.9), "s", len(poll))
        out["protect_p50_s"] = (median(protect), "s", len(protect))
        out["protect_p90_s"] = (percentile(protect, 0.9), "s", len(protect))
        out["flows_per_s"] = (flows_per_s(res), "1/s", len(quiet_polls(res)))
        out["quiet_polls"] = (len(quiet_polls(res)), "count", len(timed_polls(res)))
    else:
        passes = rounds(res, CURATE)
        queries = [c["s"] for c in timed_calls(res) if c["layer"] == "queries"]
        detect = [c["s"] for c in timed_calls(res) if c["name"] == "detect"]
        out["curate_docs_per_s"] = (res["docs"] / median(passes), "1/s", len(passes))
        out["query_p50_s"] = (median(queries), "s", len(queries))
        out["query_p90_s"] = (percentile(queries, 0.9), "s", len(queries))
        out["replay_detect_s"] = (median(detect), "s", len(detect))
    out["setup_s"] = (res["setup_s"], "s", 1)
    out["live_heap_peak_mb"] = (res["heap_peak_after_gc_mb"], "MB", 1)
    out["live_heap_end_mb"] = (res["heap_live_mb"], "MB", 1)
    out["failed_ratio"] = (failed / attempted, "ratio", attempted)
    return out


def stamp(res):
    return {
        "cores": res["cores"],
        "xmx_mb": round(res["xmx_bytes"] / 1048576),
        "host_cores": res["host_cores"],
        "foreign_cpu_cores": round(res["foreign_cpu_cores"], 3),
        "contended": res["foreign_cpu_cores"] > CONTENDED_CORES,
        "state_store": res.get("providers"),
    }


# -- traced run ---------------------------------------------------------------

def self_times(spans):
    """Self time per span name (ms): a span's duration minus the part of it
    covered by its direct children (same op, parent == its name)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    total = {}
    for group in by_op.values():
        for s in group:
            kids = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                          for c in group if c["parent"] == s["name"] and c is not s)
            covered, end = 0, s["start_ns"]
            for a, b in kids:
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            total[s["name"]] = total.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return total


def _progress_median(progress, key):
    vals = [p["duration_ms"].get(key) for p in progress if p["duration_ms"].get(key) is not None]
    return median(vals) or 0.0


def _field_median(progress, key):
    vals = [p[key] for p in progress if p.get(key) is not None]
    return median(vals) or 0.0


def layers(res):
    """Per-layer metrics of a traced run. Returns (per_layer, detail): the
    first holds the metrics every workload reports (BENCHMARK.json
    per_layer); the second adds the ones only some workloads exercise."""
    lay = res.get("layers", {})

    def tot(key, which=None):
        return sum(v[key] for k, v in lay.items() if which is None or k == which)

    per = {
        "spark.jobs": (tot("jobs"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.executor_run_ms": (tot("executor_run_ms"), "ms"),
        "spark.executor_cpu_ms": (tot("executor_cpu_ms"), "ms"),
        "spark.shuffle_read_bytes": (tot("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (tot("spill_bytes"), "bytes"),
        "spark.gc_ms": (res["gc_ms"], "ms"),
        "spark.actions": (tot("actions"), "count"),
        "spark.action_plan_ms": (tot("plan_ms"), "ms"),
    }
    detail = {}
    if res["kind"] == "stream":
        det = res["progress"]["detection"]
        mit = res["progress"]["mitigate"]
        timed = {p["poll"] for p in timed_polls(res)}
        col = res["collab"]
        frames_in = sum(p["input_rows"] for p in mit)
        rows_out = col["mitigation_rows"]
        counts = {
            "sources.input_rows": sum(p["input_rows"] for p in det),
            "detection.state_rows": det[-1]["state_rows"] if det else 0,
            "detection.state_bytes": det[-1]["state_bytes"] if det else 0,
            "detection.alerts_out": sum(p["alerts"] for p in res["polls"] if p["poll"] in timed),
            "collab.segments_total": col["segments_total"],
            "collab.frames_published": col["frames_published"],
            "collab.frames_redelivered": col["frames_redelivered"],
            "mitigate.frames_in": frames_in,
            "mitigate.rows_out": rows_out,
            "mitigate.dedup_state_rows": mit[-1]["state_rows"] if mit else 0,
        }
        detail.update({
            "sources.latest_offset_ms": (_progress_median(det, "latestOffset"), "ms"),
            "sources.get_batch_ms": (_progress_median(det, "getBatch"), "ms"),
            "detection.plan_ms": (_progress_median(det, "queryPlanning"), "ms"),
            "detection.wal_commit_ms": (_progress_median(det, "walCommit"), "ms"),
            "detection.add_batch_ms": (_progress_median(det, "addBatch"), "ms"),
            "detection.trigger_ms": (_progress_median(det, "triggerExecution"), "ms"),
            "detection.state_commit_ms": (_field_median(det, "state_commit_ms"), "ms"),
            "detection.state_update_ms": (_field_median(det, "state_update_ms"), "ms"),
            "collab.tail_latest_offset_ms": (_progress_median(mit, "latestOffset"), "ms"),
            "mitigate.trigger_ms": (_progress_median(mit, "triggerExecution"), "ms"),
            "mitigate.add_batch_ms": (_progress_median(mit, "addBatch"), "ms"),
            "mitigate.useful_ratio": (rows_out / frames_in if frames_in else 0.0, "ratio"),
        })
    else:
        counts = {k: 0 for k in ("sources.input_rows", "detection.state_rows",
                                 "detection.state_bytes", "detection.alerts_out",
                                 "collab.segments_total", "collab.frames_published",
                                 "collab.frames_redelivered", "mitigate.frames_in",
                                 "mitigate.rows_out", "mitigate.dedup_state_rows")}
        calls = timed_calls(res)
        for name, key in (("u1_curation", "dedup.u1_ms"), ("d2_jaccard_pairs", "dedup.d2_ms"),
                          ("d7_dup_clusters", "dedup.d7_ms"), ("s4_ivf_topk", "sim.s4_ms"),
                          ("s6_ivf_refined", "sim.s6_ms"), ("t7_bpe_train", "text.t7_ms")):
            detail[key] = (1000 * median([c["s"] for c in calls if c["name"] == name]), "ms")
        for layer in ("detect", "queries"):
            v = lay.get(layer, {})
            detail[f"{layer}.plan_ms"] = (v.get("plan_ms", 0.0), "ms")
            detail[f"{layer}.exec_ms"] = (v.get("action_ms", 0.0), "ms")
    for layer in ("detect", "queries", "text"):
        counts[f"{layer}.jobs"] = lay.get(layer, {}).get("jobs", 0)
    for layer in ("dedup", "sim"):
        counts[f"{layer}.shuffle_write_bytes"] = lay.get(layer, {}).get("shuffle_write_bytes", 0)
    for k, v in counts.items():
        per[k] = (v, "bytes" if k.endswith("_bytes") else "count")
    detail.update({f"self.{k}_ms": (v, "ms") for k, v in sorted(self_times(res["spans"]).items())})
    return per, detail


# -- DuckDB twins ---------------------------------------------------------------

def canon(rel):
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def frames_equal(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    return bool(got.equals(want))


TABLES = ("documents", "embeddings", "events")


def oracle_mismatches(res, cache_dir=None):
    """Names whose Spark output differs from the DuckDB twin over the same
    generated tables (columns sorted by name, rows sorted, exact compare).

    A twin's canonical result is cached under `cache_dir`, keyed by its SQL
    and by a content digest (row count and summed row hashes) of every table
    the SQL names, so a twin is recomputed whenever its SQL or an input it
    reads changes. This matters for s6_ivf_refined, whose twin takes 40-80 s
    in DuckDB while its input (the fixed embeddings table) is the same in
    every run."""
    oracle = res.get("oracle") or {}
    if not oracle:
        return []
    import hashlib
    import re
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{res['out_dir']}/duckdb-tmp'")
    digests = {}
    for t in TABLES:
        p = os.path.join(res["data_dir"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
            digests[t] = str(con.sql(f"SELECT count(*), sum(hash(x::VARCHAR)) FROM {t} x").fetchone())
    bad = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(res["out_dir"], name, "*.parquet")))
        try:
            got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})"))
            key = hashlib.sha256((sql + "".join(
                f"|{t}={d}" for t, d in sorted(digests.items())
                if re.search(rf"\b{t}\b", sql))).encode()).hexdigest()
            cached = os.path.join(cache_dir, key + ".parquet") if cache_dir else None
            if cached and os.path.exists(cached):
                want = pd.read_parquet(cached)
            else:
                want = canon(con.sql(sql))
                if cached:
                    os.makedirs(cache_dir, exist_ok=True)
                    want.to_parquet(cached + ".tmp")
                    os.replace(cached + ".tmp", cached)
            ok = bool(files) and frames_equal(got, want)
        except Exception:
            ok = False
        if not ok:
            bad.append(name)
    con.close()
    return bad
