"""Benchmark of the zombi Spark engine, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. Workloads (see README.md):

- ``live_ingest``: open-loop bulk POSTs to the HTTP edge, a streaming
  ingest on a processing-time trigger with maintenance ticking, and one
  closed-loop tail reader;
- ``query_suite``: a fixed set of ``__spark_entry__.queries()`` over the
  sf0.001 corpus in ``corpus/``, one cold pass in a fresh session, one
  settling pass, then warm passes.

This process is the load generator and the checker. It builds the live
request schedule from ``--seed`` before the clock starts (the query corpus
is fixed), starts the process under test
(``engine.py``), samples that process tree's memory, and checks the
outputs. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics, or with
``--trace 1`` the per-layer ones). The line before it names the
workload's own metrics.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

from proc import tree, tree_usage  # noqa: E402

# Traffic dimensions. The live rate sits below the streaming loop's knee
# on a 4-core machine (see README.md); every value is recorded in the
# run's detail line.
LIVE = {
    "requests_per_s": 5,
    "events_per_request": 20,
    "partitions": 8,
    "retry_share": 0.05,
    "unkeyed_share": 0.2,
    "reader_think_s": 2.0,
    "trigger": "2 seconds",
    "producer_threads": 2,
    "maintenance": {"compact_trigger_files": 6, "min_input_files": 2, "expire_keep_last": 16},
}
QUERIES = {
    # the engine's sf0.001 test corpus, copied unchanged
    "corpus": "corpus/sf0.001",
    # a fixed subset: three queries from each plan family
    "names": [
        "hour_grouping", "sessionization", "funnel",
        "join_dims", "pricing_summary", "window_funcs",
        "content_dedup", "simhash_near_dup", "tfidf",
    ],
}
SETUPS = 3

# Each workload's own end-to-end metrics, printed on the detail line.
WORKLOADS = {
    "live_ingest": ["ack_ms_p50", "ack_ms_p99", "visible_ms_p50", "visible_ms_p99", "tail_ms_p50",
                    "tail_ms_p90", "committed_events_per_s", "generator_lateness_ms_max",
                    "offered_events_per_s", "failed_share", "setup_s", "peak_rss_mb"],
    "query_suite": ["query_cold_s", "query_warm_s", "failed_share", "setup_s", "peak_rss_mb"],
}
ENGINE_TIMEOUT_S = 165


def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    if not s:
        return 0.0
    return float(s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------------ inputs
def live_inputs(seed: int, seconds: float) -> tuple[list[dict], list[dict]]:
    """The request schedule for ``seconds``: records per request, and which
    requests retry an earlier one (same keys and payloads)."""
    rng = random.Random(seed)
    actions = ["click", "view", "purchase", "signup", "error"]
    n_req = int(LIVE["requests_per_s"] * seconds)
    requests, keyed_requests = [], []
    for i in range(n_req):
        if keyed_requests and rng.random() < LIVE["retry_share"]:
            orig = requests[rng.choice(keyed_requests)]
            requests.append({"retry_of": orig["index"], "index": i, "records": orig["records"]})
            continue
        records = []
        for j in range(LIVE["events_per_request"]):
            eid = f"s{seed}-{i:06d}-{j:02d}"
            key = None if rng.random() < LIVE["unkeyed_share"] else f"k{seed}x{i}x{j}"
            payload = json.dumps({
                "id": eid,
                "user": f"user_{rng.randrange(100000):05d}",
                "action": rng.choice(actions),
                "value": round(rng.uniform(0, 1000), 2),
            }, separators=(",", ":"))
            records.append({
                "partition": rng.randrange(LIVE["partitions"]),
                "payload": payload,
                "idempotency_key": key,
                "ts_lag_ms": rng.randrange(0, 2000),
                "id": eid,
            })
        req = {"retry_of": None, "index": i, "records": records}
        if all(r["idempotency_key"] for r in records):
            keyed_requests.append(i)
        requests.append(req)
    warmup = [
        {"partition": p, "payload": json.dumps({"id": f"warm-{p}"}), "idempotency_key": f"warm{p}"}
        for p in range(LIVE["partitions"])
    ]
    return requests, warmup


# ---------------------------------------------------------------- monitor
class Monitor(threading.Thread):
    """Samples the process tree under test; for live_ingest it also records
    every snapshot the table commits (before maintenance can expire it),
    the landing backlog and the metadata directory's growth."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.stop = threading.Event()
        self.peak_rss = 0
        self.snapshots: dict[int, dict] = {}
        self.meta_files: dict[str, int] = {}
        self.backlog_max = 0
        self.live: dict | None = None
        self.zone = None

    def watch_table(self, ready: dict) -> None:
        from zombi_spark.streaming.landing import LandingZone

        self.zone = LandingZone(ready["landing"], ready["checkpoint"])
        self.live = ready
        self.meta_start = self._meta_listing()

    def _meta_listing(self) -> dict[str, int]:
        out = {}
        root = self.live["table_path"]
        for d, subdirs, files in os.walk(root):
            if d == root and "data" in subdirs:
                subdirs.remove("data")
            for f in files:
                try:
                    out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
                except OSError:
                    pass
        return out

    def poll_snapshots(self) -> None:
        meta = self.live["meta_path"]
        try:
            names = os.listdir(meta)
        except OSError:
            return
        for f in names:
            if f.startswith("snap-") and f.endswith(".json"):
                v = int(f[5:13])
                if v not in self.snapshots:
                    try:
                        with open(os.path.join(meta, f)) as fh:
                            s = json.load(fh)
                    except (OSError, ValueError):
                        continue  # mid-rename or expired: next poll
                    self.snapshots[v] = {
                        "committed_at_ms": s.get("committed_at_ms"),
                        "operation": s.get("operation"),
                        "watermarks": s.get("watermarks", {}),
                        "added": {
                            e["file_path"]: e.get("file_size_bytes", 0)
                            for e in s.get("added", []) if isinstance(e, dict)
                        },
                        "removed": [e if isinstance(e, str) else e["file_path"]
                                    for e in s.get("removed", [])],
                    }

    def run(self) -> None:
        last_slow = 0.0
        while not self.stop.is_set():
            now = time.monotonic()
            slow = now - last_slow >= 0.25
            if slow:
                self.peak_rss = max(self.peak_rss, tree_usage(self.pid)[1])
                last_slow = now
            if self.live is not None:
                self.poll_snapshots()
                if slow:
                    self.backlog_max = max(self.backlog_max, self.zone.backlog_bytes())
                    for path, size in self._meta_listing().items():
                        self.meta_files.setdefault(path, size)
            self.stop.wait(0.1)


# ------------------------------------------------------------- live driver
def drive_live(ready: dict, requests: list[dict], seconds: float, monitor: Monitor) -> dict:
    url = urllib.parse.urlsplit(ready["base_url"])
    table = LIVE_TABLE
    t0_epoch_ms = time.time() * 1000 + 500
    t0 = time.perf_counter() + 0.5
    bodies = []
    for r in requests:
        due_ms = t0_epoch_ms + r["index"] * 1000 / LIVE["requests_per_s"]
        r["due_epoch_ms"] = due_ms
        bodies.append(json.dumps({"records": [
            {"partition": e["partition"], "payload": e["payload"],
             "idempotency_key": e["idempotency_key"],
             "timestamp_ms": int(due_ms - e["ts_lag_ms"])}
            for e in r["records"]
        ]}).encode())
    acks: list = [None] * len(requests)
    path = f"/tables/{table}/bulk"

    def producer(k: int) -> None:
        conn = http.client.HTTPConnection(url.hostname, url.port, timeout=60)
        try:
            for i in range(k, len(requests), LIVE["producer_threads"]):
                due = t0 + i / LIVE["requests_per_s"]
                # sleep to just before the due time, then spin: a sleeping
                # thread can wake milliseconds late on a busy machine
                delay = due - time.perf_counter() - 0.002
                if delay > 0:
                    time.sleep(delay)
                while time.perf_counter() < due:
                    pass
                sent = time.perf_counter()
                try:
                    conn.request("POST", path, body=bodies[i],
                                 headers={"Content-Type": "application/json"})
                    resp = conn.getresponse()
                    resp.read()
                    status = resp.status
                except (OSError, http.client.HTTPException):
                    conn.close()
                    conn = http.client.HTTPConnection(url.hostname, url.port, timeout=60)
                    status = 0
                acks[i] = (due, sent, time.perf_counter(), status)
        finally:
            conn.close()

    reads: list = []
    done = threading.Event()

    def reader() -> None:
        conn = http.client.HTTPConnection(url.hostname, url.port, timeout=60)
        try:
            while not done.is_set():
                t = time.perf_counter()
                ok = False
                try:
                    conn.request("GET", f"/tables/{table}?limit=100")
                    resp = conn.getresponse()
                    body = resp.read()
                    if resp.status == 200:
                        recs = json.loads(body)["records"]
                        ts = [r["timestamp_ms"] for r in recs]
                        ok = 0 < len(recs) <= 100 and ts == sorted(ts, reverse=True)
                except (OSError, http.client.HTTPException, ValueError, KeyError):
                    conn.close()
                    conn = http.client.HTTPConnection(url.hostname, url.port, timeout=60)
                reads.append((t, time.perf_counter(), ok))
                done.wait(LIVE["reader_think_s"])
        finally:
            conn.close()

    threads = [threading.Thread(target=producer, args=(k,)) for k in range(LIVE["producer_threads"])]
    rd = threading.Thread(target=reader)
    for th in threads:
        th.start()
    rd.start()
    for th in threads:
        th.join()
    done.set()
    rd.join()
    # drain: everything acked must reach a committed snapshot
    deadline = time.time() + 60
    while monitor.zone.backlog_bytes() > 0 and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(0.2)
    monitor.poll_snapshots()
    scraped = {}
    for route in ("/metrics", "/stats"):
        conn = http.client.HTTPConnection(url.hostname, url.port, timeout=30)
        try:
            conn.request("GET", route)
            scraped[route] = conn.getresponse().read().decode()
        finally:
            conn.close()
    return {"requests": requests, "acks": acks, "reads": reads, "scraped": scraped,
            "drained": monitor.zone.backlog_bytes() == 0}


LIVE_TABLE = "events"


def _prom_mean(text: str, name: str) -> float:
    total = count = 0.0
    for line in text.splitlines():
        if line.startswith(f"{name}_sum "):
            total = float(line.split()[1])
        elif line.startswith(f"{name}_count "):
            count = float(line.split()[1])
    return total / count if count else 0.0


def check_live(result: dict, driven: dict, snapshots: dict[int, dict]) -> tuple[dict, dict, dict]:
    """Exactly-once, retried keys dropped, contiguous sequences (INV-1,
    INV-4); then the ack / visibility / tail latencies and the committed
    rate. ``snapshots`` is every committed snapshot the monitor saw."""
    import pyarrow.parquet as pq

    cols = ["topic", "partition", "sequence", "payload", "timestamp_ms"]
    rows = []
    for f in result["files"]:
        rows.extend(pq.read_table(f["path"], columns=cols).to_pylist())
    by_id: dict[str, list] = {}
    seqs: dict[tuple, list] = {}
    for r in rows:
        eid = json.loads(bytes(r["payload"]).decode())["id"]
        by_id.setdefault(eid, []).append(r)
        seqs.setdefault((r["topic"], r["partition"]), []).append(r["sequence"])
    requests, acks = driven["requests"], driven["acks"]
    acked = [r for r, a in zip(requests, acks) if a is not None and a[3] == 202]
    originals = {e["id"] for r in acked if r["retry_of"] is None for e in r["records"]}
    retried = {e["id"] for r in acked if r["retry_of"] is not None for e in r["records"]}
    committed = {k for k in by_id if not k.startswith("warm-")}
    checks = {
        "acked_committed_once": all(len(by_id.get(e, [])) == 1 for e in originals | retried),
        "nothing_unacked_committed": committed <= originals | retried,
        "retried_keys_dropped": sum(len(v) for k, v in by_id.items() if k in retried) == len(retried),
        "sequences_contiguous": all(sorted(v) == list(range(1, len(v) + 1)) for v in seqs.values()),
        "drained": driven["drained"],
    }
    # visibility: due time -> first snapshot whose watermark covers the event
    snaps = sorted(snapshots.items())
    visible, missing, last_commit_ms = [], 0, 0.0
    for r in requests:
        if r["retry_of"] is not None:
            continue
        for e in r["records"]:
            got = by_id.get(e["id"])
            if not got:
                continue
            key = f"zombi.watermark.{got[0]['topic']}/{got[0]['partition']}"
            at = next((s["committed_at_ms"] for _, s in snaps
                       if s["watermarks"].get(key, 0) >= got[0]["sequence"]), None)
            if at is None:
                missing += 1
            else:
                visible.append(at - r["due_epoch_ms"])
                last_commit_ms = max(last_commit_ms, at)
    checks["every_commit_observed"] = missing == 0
    if "scan_check" in result:
        sc = result["scan_check"]["scan"]
        want = [r["timestamp_ms"] for r in rows
                if r["partition"] == sc["partition"] and sc["ts_lo"] <= r["timestamp_ms"] < sc["ts_hi"]]
        checks["datasource_scan_matches_files"] = result["scan_check"]["timestamps"] == sorted(want)
    ack_ms = [(a[2] - a[0]) * 1000 for a in acks if a is not None and a[3] == 202]
    lateness_ms = max(((a[1] - a[0]) * 1000 for a in acks if a is not None), default=0.0)
    tail_ms = [(b - a) * 1000 for a, b, ok in driven["reads"] if ok]
    attempted = len(acks) + len(driven["reads"])
    failed = sum(1 for a in acks if a is None or a[3] != 202) + sum(
        1 for _, _, ok in driven["reads"] if not ok
    )
    # committed throughput: from the first due time to the commit that made
    # the last event visible, so a loop that falls behind or drains slowly
    # shows here
    committed_per_s = len(visible) / max(1e-3, (last_commit_ms - requests[0]["due_epoch_ms"]) / 1000) if visible else 0.0
    named = {
        "ack_ms_p50": (median(ack_ms), "ms"),
        "ack_ms_p99": (percentile(ack_ms, 0.99), "ms"),
        "visible_ms_p50": (median(visible), "ms"),
        "visible_ms_p99": (percentile(visible, 0.99), "ms"),
        "tail_ms_p50": (median(tail_ms), "ms"),
        "tail_ms_p90": (percentile(tail_ms, 0.90), "ms"),
        "committed_events_per_s": (committed_per_s, "events/s"),
        "generator_lateness_ms_max": (lateness_ms, "ms"),
        "offered_events_per_s": (LIVE["requests_per_s"] * LIVE["events_per_request"], "events/s"),
        "samples": ({"acks": len(ack_ms), "visible": len(visible), "tail": len(tail_ms)}, "count"),
        "batch_ms": ([p["durationMs"].get("triggerExecution", 0) for p in result["progress"]
                      if p.get("numInputRows", 0) > 0], "ms"),
    }
    e2e = {
        "primary_ms_p50": median(visible),
        "primary_ms_p90": percentile(visible, 0.90),
        "secondary_ms": median(ack_ms),
        "rate_per_s": committed_per_s,
    }
    counts = {"attempted": attempted, "failed": failed}
    return checks, named, {"e2e": e2e, "counts": counts}


def live_layers(result: dict, driven: dict, monitor: Monitor) -> dict:
    prog = result.get("progress", [])
    spans = result.get("spans", [])
    prom = driven["scraped"].get("/metrics", "")
    stats = json.loads(driven["scraped"].get("/stats", "{}") or "{}")
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog if p.get("numInputRows", 0) > 0]  # noqa: E731
    commits = sum(1 for s in monitor.snapshots.values())
    new_meta = {p: s for p, s in monitor.meta_files.items() if p not in monitor.meta_start}
    landed = [f for f in os.listdir(monitor.live["landing"]) if not f.startswith(".")]
    acked_requests = sum(1 for a in driven["acks"] if a is not None and a[3] == 202)
    out = {
        "edge.write_us_mean": _prom_mean(prom, "zombi_write_latency_us"),
        "edge.read_us_mean": _prom_mean(prom, "zombi_read_latency_us"),
        "edge.errors": stats.get("errors_total", 0),
        "landing.files_per_request": len(landed) / max(1, acked_requests + SETUPS_LANDED),
        "landing.backlog_bytes_max": monitor.backlog_max,
        "stream.batches": len([p for p in prog if p.get("numInputRows", 0) > 0]),
        "stream.rows_per_batch_p50": median([p["numInputRows"] for p in prog if p.get("numInputRows", 0) > 0]),
        "stream.trigger_ms_p50": median(dur("triggerExecution")),
        "stream.trigger_ms_p90": percentile(dur("triggerExecution"), 0.9),
        "stream.add_batch_ms_p50": median(dur("addBatch")),
        "stream.latest_offset_ms_p50": median(dur("latestOffset")),
        "stream.get_batch_ms_p50": median(dur("getBatch")),
        "stream.wal_commit_ms_p50": median(dur("walCommit")),
        "meta.bytes_per_commit": sum(new_meta.values()) / max(1, commits),
        "meta.files_per_commit": len(new_meta) / max(1, commits),
    }
    out.update(_write_path_layers(spans))
    out.update(_scan_layers(result))
    # compactions and the active file count, replayed from the snapshot log
    sizes: dict[str, int] = {}
    compactions, active, peak = [], set(), 0
    for _, snap in sorted(monitor.snapshots.items()):
        if snap["operation"] == "compact":
            compactions.append({
                "files_before": len(snap["removed"]),
                "files_after": len(snap["added"]),
                "bytes_rewritten": sum(sizes.get(p, 0) for p in snap["removed"]),
            })
        sizes.update(snap["added"])
        active = (active - set(snap["removed"])) | set(snap["added"])
        peak = max(peak, len(active))
    out.update(_compact_layers(compactions))
    out["table.files_peak"] = peak
    maint = result.get("maintenance", [])
    out["maint.actions"] = len(maint)
    out["maint.failed"] = sum(1 for a in maint if not a.get("ok", True))
    out["maint.ms_total"] = sum(_span_ms(spans, "maint.run_due"))
    out["tail.build_ms_p50"] = median(_span_ms(spans, "tail.build"))
    out["tail.exec_ms_p50"] = median(_span_ms(spans, "tail.exec"))
    return out


SETUPS_LANDED = 1  # the serving instance's warm-up request landed one file


def _span_ms(spans: list, name: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1000 for s in spans if s["name"] == name]


def _write_path_layers(spans: list) -> dict:
    appends = [s for s in spans if s["name"] == "append"]
    probe: dict[str, float] = {}
    for s in spans:
        if s["name"].startswith("probe."):
            probe[s["trace"]] = probe.get(s["trace"], 0.0) + (s["end"] - s["start"]) * 1000
    snap_ms = [s["append_duration_ms"] for s in appends if s.get("append_duration_ms") is not None]
    return {
        "prepare.build_ms_p50": median(_span_ms(spans, "prepare.build")),
        "append.ms_p50": median(snap_ms),
        "append.ms_p90": percentile(snap_ms, 0.9),
        "append.files_added_mean": statistics.fmean([s["files_added"] for s in appends]) if appends else 0.0,
        "probe.ms_p50": median(list(probe.values())),
    }


# ---------------------------------------------------------- other checks
def _compact_layers(compactions: list[dict]) -> dict:
    """Per-compaction medians of the files it read and wrote and the bytes
    it rewrote."""
    return {f"compact.{k}": median([c[k] for c in compactions])
            for k in ("files_before", "files_after", "bytes_rewritten")}


def _scan_layers(result: dict) -> dict:
    plans = result.get("scan_plans", [])
    return {
        "scan.plan_ms_p50": median([p["ms"] for p in plans]),
        "scan.exec_ms_p50": median(_span_ms(result.get("spans", []), "scan")),
        "scan.files_kept": median([p["files_kept"] for p in plans]),
        "scan.files_total": median([p["files_total"] for p in plans]),
    }


def check_queries(result: dict) -> tuple[dict, dict, dict]:
    checks = {k: v["ok"] for k, v in result["checks"].items()}
    cold = list(result["cold_ms"].values())
    warm = [v for vs in result["warm_ms"].values() for v in vs]
    mism = result["checks"].get("oracle_parity", {}).get("detail") or []
    named = {
        "query_cold_s": (result["cold_pass_s"], "s"),
        "query_settle_s": (result["settle_pass_s"], "s"),
        "query_warm_s": (median(result["warm_pass_s"]), "s"),
        "query_cold_build_s": (sum(result["cold_build_ms"].values()) / 1000, "s"),
        "warm_passes": (len(result["warm_pass_s"]), "count"),
        "queries": (len(cold), "count"),
    }
    e2e = {
        "primary_ms_p50": median(warm),
        "primary_ms_p90": percentile(warm, 0.9),
        "secondary_ms": result["cold_pass_s"] * 1000 / len(cold),
        "rate_per_s": len(warm) / (sum(result["warm_pass_s"]) or 1.0),
    }
    attempted = 2 * len(cold) + len(warm)  # cold, settling and warm passes
    return checks, named, {"e2e": e2e, "counts": {"attempted": attempted, "failed": len(mism)}}


def query_layers(result: dict) -> dict:
    out = {}
    rows = [r for r in result.get("query_layers", []) if r["trace"].startswith("cold")]
    for fam in ("event_queries", "relational", "pipeline_queries"):
        fr = [r for r in rows if r["family"] == fam]
        passes = max(1, len({r["trace"].split("-")[0] for r in fr}))
        for key in ("build_s", "exec_s", "analysis_ms", "optimization_ms",
                    "planning_ms", "shuffle_bytes", "tasks"):
            out[f"{fam}.{key}"] = sum(r[key] for r in fr) / passes
    return out


# --------------------------------------------------------------- metrics
E2E_UNITS = {
    "setup_s": "s",
    "primary_ms_p50": "ms",
    "primary_ms_p90": "ms",
    "secondary_ms": "ms",
    "rate_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# overhead.<metric> is the traced run's cost: traced minus untraced, or
# untraced minus traced for these higher-is-better metrics
E2E_HIGHER = {"rate_per_s"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # seconds the engine may live; the traced run splits the budget with
    # its untraced baseline
    ap.add_argument("--budget-s", type=float, default=ENGINE_TIMEOUT_S, help=argparse.SUPPRESS)
    args = ap.parse_args()
    start = time.time()
    # a terminated run still stops the engine and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir(os.path.join(ROOT, "zombi_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("run from the root of a checkout of the engine: zombi_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    baseline = None
    if args.trace:
        baseline = _untraced_baseline(args)
        if baseline is None:
            return 1
        args.budget_s = min(args.budget_s, ENGINE_TIMEOUT_S - (time.time() - start))
    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, state_dir, baseline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _untraced_baseline(args) -> dict | None:
    """Run the same workload and seed untraced in a child process and
    return its end-to-end metrics: the reference for ``overhead.*``."""
    budget = ENGINE_TIMEOUT_S / 2 - 5
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
         "--budget-s", str(budget)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        out, err = child.communicate(timeout=budget + 20)
    except subprocess.TimeoutExpired:
        out, err = "", "untraced baseline run timed out"
    finally:
        if child.poll() is None:
            child.terminate()  # its SIGTERM handler stops its engine
            try:
                child.communicate(timeout=40)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
    lines = out.strip().splitlines()
    if child.returncode != 0 or not lines:
        sys.stderr.write(err[-3000:])
        print("untraced baseline run failed", file=sys.stderr)
        return None
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def _run(args, work: str, state_dir: str, baseline: dict | None) -> int:
    ncpu = len(os.sched_getaffinity(0))
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "work_dir": work, "setups": SETUPS,
        "result_path": os.path.join(work, "result.json"),
        "trace_path": os.path.join(state_dir, f"trace-{args.workload}-seed{args.seed}.json"),
    }
    requests: list = []
    if args.workload == "live_ingest":
        requests, warmup = live_inputs(args.seed, args.seconds)
        cfg.update(table=LIVE_TABLE, trigger=LIVE["trigger"], maintenance=LIVE["maintenance"],
                   warmup_records=warmup)
    else:
        cfg.update(corpus=os.path.join(HERE, QUERIES["corpus"]), queries=QUERIES["names"])
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    })
    cfg["t_launch"] = time.time()
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(work, "engine.log")
    log = open(log_path, "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "engine.py"), cfg_path],
        cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    monitor = Monitor(proc.pid)
    monitor.start()
    driven = None
    # one deadline for the whole engine lifetime keeps a run inside 180 s
    deadline = time.time() + args.budget_s
    try:
        if args.workload == "live_ingest":
            ready_path = os.path.join(work, "ready.json")
            while not os.path.exists(ready_path):
                if proc.poll() is not None or time.time() > deadline:
                    raise RuntimeError("engine never became ready")
                time.sleep(0.05)
            with open(ready_path) as fh:
                ready = json.load(fh)
            monitor.watch_table(ready)
            driven = drive_live(ready, requests, args.seconds, monitor)
            open(os.path.join(work, "stop"), "w").close()
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except Exception:  # noqa: BLE001 — report any failure, never leave the engine running
        import traceback

        traceback.print_exc()
        _kill_tree(proc)
        log.close()
        _print_log_tail(log_path)
        return 1
    finally:
        monitor.stop.set()
        monitor.join()
        log.close()
        _kill_tree(proc)  # stray Python workers, if any outlived the session
    t_exit = time.time()
    if proc.returncode != 0 or not os.path.exists(cfg["result_path"]):
        _print_log_tail(log_path)
        print(f"engine exited with {proc.returncode}", file=sys.stderr)
        return 1
    with open(cfg["result_path"]) as fh:
        result = json.load(fh)

    if args.workload == "live_ingest":
        checks, named, m = check_live(result, driven, monitor.snapshots)
        layers = live_layers(result, driven, monitor) if args.trace else {}
    else:
        checks, named, m = check_queries(result)
        layers = query_layers(result) if args.trace else {}
    e2e = {"setup_s": median(result["setup_s"]), **m["e2e"], "peak_rss_mb": monitor.peak_rss / 2**20}
    correct = all(checks.values())
    counts = m["counts"]
    if not correct:
        counts["failed"] = max(counts["failed"], 1)
    named["failed_share"] = (counts["failed"] / max(1, counts["attempted"]), "ratio")
    named["setup_s"] = (e2e["setup_s"], "s")
    named["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
    conditions = {
        "nproc": len(os.sched_getaffinity(0)),
        "load_avg_1m_start": result.get("load_avg_start"),
        "load_avg_1m": result.get("load_avg_1m"),
        "proc_core_s": result.get("core_s"),
        "cpu_steal_share": result.get("steal_share"),
        "timed_s": result.get("timed_s"),
        "session_start_s": result.get("session_start_s"),
        "process_to_first_op_s": result.get("first_op_s"),
        "setup_samples_s": result["setup_s"],
        "timeline_s": {
            **{k: v - cfg["t_launch"] for k, v in result["marks"].items()},
            "engine_exit": t_exit - cfg["t_launch"], "checked": time.time() - cfg["t_launch"],
        },
    }
    conditions["traffic"] = LIVE if args.workload == "live_ingest" else QUERIES
    if args.trace:
        layers.update({
            "proc.core_s": result.get("core_s", 0.0),
            "load_avg_1m": result.get("load_avg_1m", 0.0),
            "spark.jobs": result["layers"].get("spark.jobs", 0),
            "spark.tasks": result["layers"].get("spark.tasks", 0),
        })
        conditions["untraced_baseline"] = baseline
        for k, v in e2e.items():
            layers[f"overhead.{k}"] = baseline[k] - v if k in E2E_HIGHER else v - baseline[k]
        metrics = {}
        for name, unit, _ in PER_LAYER:
            metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "checks": checks, "conditions": conditions,
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": counts["attempted"],
                      "failed": counts["failed"], "metrics": metrics}))
    return 0 if correct else 1


def _kill_tree(proc) -> None:
    """SIGKILL the engine's tree and process group (the engine, its JVM and
    the Python workers, including any that outlived their parent), then
    wait until the group has ended."""
    for pid in reversed(tree(proc.pid)):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _print_log_tail(path: str) -> None:
    try:
        with open(path) as fh:
            lines = fh.readlines()[-40:]
    except OSError:
        return
    sys.stderr.write("".join(lines))


# Per-layer metrics of the traced run: (name, unit, better). A layer a
# workload does not exercise reports 0. README.md names the end-to-end
# metric and workload each one should move.
PER_LAYER: list = [
    ("edge.write_us_mean", "us", "lower"),
    ("edge.read_us_mean", "us", "lower"),
    ("edge.errors", "count", "lower"),
    ("landing.files_per_request", "count", "lower"),
    ("landing.backlog_bytes_max", "bytes", "lower"),
    ("stream.batches", "count", "higher"),
    ("stream.rows_per_batch_p50", "rows", "lower"),
    ("stream.trigger_ms_p50", "ms", "lower"),
    ("stream.trigger_ms_p90", "ms", "lower"),
    ("stream.add_batch_ms_p50", "ms", "lower"),
    ("stream.latest_offset_ms_p50", "ms", "lower"),
    ("stream.get_batch_ms_p50", "ms", "lower"),
    ("stream.wal_commit_ms_p50", "ms", "lower"),
    ("prepare.build_ms_p50", "ms", "lower"),
    ("append.ms_p50", "ms", "lower"),
    ("append.ms_p90", "ms", "lower"),
    ("append.files_added_mean", "count", "lower"),
    ("probe.ms_p50", "ms", "lower"),
    ("table.files_peak", "count", "lower"),
    ("tail.build_ms_p50", "ms", "lower"),
    ("tail.exec_ms_p50", "ms", "lower"),
    ("meta.bytes_per_commit", "bytes", "lower"),
    ("meta.files_per_commit", "count", "lower"),
    ("maint.actions", "count", "lower"),
    ("maint.failed", "count", "lower"),
    ("maint.ms_total", "ms", "lower"),
    ("compact.files_before", "count", "lower"),
    ("compact.files_after", "count", "lower"),
    ("compact.bytes_rewritten", "bytes", "lower"),
    ("scan.plan_ms_p50", "ms", "lower"),
    ("scan.exec_ms_p50", "ms", "lower"),
    ("scan.files_kept", "count", "lower"),
    ("scan.files_total", "count", "lower"),
    *[
        (f"{fam}.{key}", unit, "lower")
        for fam in ("event_queries", "relational", "pipeline_queries")
        for key, unit in (("build_s", "s"), ("analysis_ms", "ms"), ("optimization_ms", "ms"),
                          ("planning_ms", "ms"), ("exec_s", "s"), ("shuffle_bytes", "bytes"),
                          ("tasks", "count"))
    ],
    ("proc.core_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("load_avg_1m", "load", "lower"),
    *[(f"overhead.{name}", unit, "lower") for name, unit in E2E_UNITS.items()],
]


if __name__ == "__main__":
    sys.exit(main())
