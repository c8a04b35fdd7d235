"""The process under test: one Spark session driving the engine's public
entry points for one workload.

``python3 perfbench/engine.py <config.json>`` is started by ``run.py``
with the engine's repository root on ``PYTHONPATH``. It writes its
results to ``config["result_path"]``. For ``live_ingest`` it serves HTTP
and waits for ``run.py``'s load generator; ``query_suite`` is a closed
loop that runs here. Spans are recorded only when ``config["trace"]`` is
set.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import urllib.request

from proc import tree_usage
from spans import Tracer


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _spark_counts(spark) -> tuple[int, int]:
    """(jobs, completed tasks) the application status store holds."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    n = jobs.size()
    return n, sum(jobs.apply(i).numCompletedTasks() for i in range(n))


class Run:
    """What one workload hands back: timings, counters, checks, spans."""

    def __init__(self, cfg: dict, tracer: Tracer | None):
        self.cfg = cfg
        self.tracer = tracer
        self.out: dict = {"setup_s": [], "checks": {}, "layers": {}}

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.out["checks"][name] = {"ok": bool(ok), "detail": detail}

    def span(self, name: str, trace_id: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, trace_id)

    def timed_region(self, spark):
        return _TimedRegion(self, spark)


class _TimedRegion:
    def __init__(self, run: Run, spark):
        self.run, self.spark = run, spark

    def __enter__(self):
        self.run.out["marks"]["timed_start"] = time.time()
        self.cpu0 = tree_usage(os.getpid())[0]
        self.ticks0 = _cpu_ticks()
        self.t0 = time.perf_counter()
        self.run.out["load_avg_start"] = os.getloadavg()[0]
        if self.run.tracer is not None:
            self.counts0 = _spark_counts(self.spark)
        return self

    def __exit__(self, *exc):
        out = self.run.out
        out["marks"]["timed_end"] = time.time()
        out["timed_s"] = time.perf_counter() - self.t0
        out["core_s"] = tree_usage(os.getpid())[0] - self.cpu0
        steal, total = (b - a for a, b in zip(self.ticks0, _cpu_ticks()))
        # CPU time the hypervisor gave to other guests: co-tenant weather
        out["steal_share"] = steal / max(1, total)
        out["load_avg_1m"] = os.getloadavg()[0]
        if self.run.tracer is not None:
            jobs, tasks = _spark_counts(self.spark)
            out["layers"]["spark.jobs"] = jobs - self.counts0[0]
            out["layers"]["spark.tasks"] = tasks - self.counts0[1]


# ---------------------------------------------------------------- live_ingest
def live_ingest(spark, run: Run) -> None:
    """HTTP edge + processing-time StreamingIngest + MaintenancePolicy.
    Brought up ``setups`` times (the last instance serves the load); the
    load generator in ``run.py`` drives it until it writes ``stop``."""
    from zombi_spark.streaming import ingest as ingest_mod
    from zombi_spark.streaming.http_edge import HttpIngestEdge
    from zombi_spark.streaming.ingest import StreamingIngest
    from zombi_spark.table.event_table import EventTable
    from zombi_spark.table.maintenance import MaintenancePolicy

    cfg = run.cfg
    if run.tracer is not None:
        _trace_write_path(run, ingest_mod, EventTable, MaintenancePolicy)
        _trace_tail(run, StreamingIngest)

    def bring_up(i: int):
        root = os.path.join(cfg["work_dir"], f"live{i}")
        table = EventTable(spark, root, cfg["table"])
        landing = os.path.join(root, "landing")
        os.makedirs(landing, exist_ok=True)
        policy = MaintenancePolicy(table, **cfg["maintenance"])
        ing = StreamingIngest(
            spark, landing, table, os.path.join(root, "checkpoint"),
            maintenance_policy=policy,
        )
        query = ing.start(available_now=False, processing_time=cfg["trigger"])
        edge = HttpIngestEdge(lambda name, create: ing).start()
        body = json.dumps({"records": cfg["warmup_records"]}).encode()
        req = urllib.request.Request(
            f"{edge.base_url}/tables/{cfg['table']}/bulk", data=body, method="POST"
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            if resp.status != 202:
                raise RuntimeError(f"warm-up bulk POST answered {resp.status}")
        deadline = time.time() + 120
        while ing.backlog_bytes() > 0 or table.latest_version() is None:
            if time.time() > deadline:
                raise RuntimeError("warm-up events were not committed within 120 s")
            time.sleep(0.02)
        return table, ing, query, edge, policy, landing, root

    serving = None
    for i in range(cfg["setups"]):
        if serving is not None:
            serving[3].stop()
            serving[2].stop()
        t0 = time.perf_counter()
        serving = bring_up(i)
        run.out["setup_s"].append(time.perf_counter() - t0)
    table, ing, query, edge, policy, landing, root = serving
    # warm the tail-read path once before the load starts
    with urllib.request.urlopen(f"{edge.base_url}/tables/{cfg['table']}?limit=100", timeout=60) as resp:
        if resp.status != 200:
            raise RuntimeError(f"warm-up tail read answered {resp.status}")
    run.out["first_op_s"] = time.time() - cfg["t_launch"]
    _write_json(os.path.join(cfg["work_dir"], "ready.json"), {
        "base_url": edge.base_url,
        "table_path": table.path,
        "meta_path": table.meta_path,
        "landing": os.path.abspath(landing),
        "checkpoint": os.path.abspath(os.path.join(root, "checkpoint")),
    })
    stop_path = os.path.join(cfg["work_dir"], "stop")
    with run.timed_region(spark):
        while not os.path.exists(stop_path):
            time.sleep(0.05)
    edge.stop()
    query.stop()
    run.out["progress"] = [json.loads(p.json) for p in query.recentProgress]
    run.out["maintenance"] = [
        {k: v for k, v in a.items() if isinstance(v, (int, float, str, bool))}
        for a in policy.history
    ]
    run.out["files"] = [
        {"path": f["file_path"], "bytes": f["file_size_bytes"], "rows": f.get("row_count")}
        for f in table.files()
    ]
    if run.tracer is not None:
        # the data-source read layer, measured on the table the run built
        # (after the timed region: its first use starts Python workers)
        from zombi_spark.sources.datasource import register_zombi_datasource

        register_zombi_datasource(spark)
        files = table.files()
        scan = {
            "partition": 0,
            "ts_lo": min(f["min_ts"] for f in files),
            "ts_hi": max(f["max_ts"] for f in files) + 1,
        }
        for i in range(3):  # the first scan starts the data source's workers
            with run.span("scan", f"scan-{i}"):
                rows = _scan_frame(spark, table.path, scan).collect()
            _scan_plan(run, table, scan, "live")
        run.out["scan_check"] = {"scan": scan, "timestamps": sorted(r[0] for r in rows)}


def _trace_write_path(run: Run, ingest_mod, event_table_cls, policy_cls) -> None:
    from zombi_spark.streaming.ingest import StreamingIngest

    tr = run.tracer
    tr.wrap(StreamingIngest, "_process_batch", "stream.batch",
            trace_id_of=lambda a, k: f"batch-{a[2]}")
    tr.wrap(ingest_mod, "prepare_events", "prepare.build")
    tr.wrap(event_table_cls, "watermark_map", "probe.watermark_map")
    tr.wrap(event_table_cls, "idempotency_history", "probe.idempotency_history")
    tr.wrap(policy_cls, "run_due", "maint.run_due")
    _trace_append(run, event_table_cls)


def _trace_append(run: Run, event_table_cls) -> None:
    """Span each append; record the files it added and the snapshot's own
    ``append_duration_ms``."""
    tr, orig_append = run.tracer, event_table_cls.append

    def append(self, *args, **kwargs):
        with tr.span("append") as rec:
            snap = orig_append(self, *args, **kwargs)
        rec["files_added"] = len(snap.get("added", []))
        rec["append_duration_ms"] = snap.get("append_duration_ms")
        return snap

    event_table_cls.append = append


def _trace_tail(run: Run, ingest_cls) -> None:
    import itertools

    tr, ids, orig_tail = run.tracer, itertools.count(), ingest_cls.tail

    def tail(self, *args, **kwargs):
        tid = f"tail-{next(ids)}"
        with tr.span("tail.build", tid):
            df = orig_tail(self, *args, **kwargs)
        collect = df.collect

        def traced_collect():
            with tr.span("tail.exec", tid):
                return collect()

        df.collect = traced_collect
        return df

    ingest_cls.tail = tail


# ------------------------------------------------------ format("zombi") scans
def _scan_frame(spark, path: str, scan: dict):
    """A partition + time-range scan through the ``zombi`` data source."""
    from pyspark.sql import functions as F

    return (
        spark.read.format("zombi").load(path)
        .where(
            (F.col("partition") == scan["partition"])
            & (F.col("timestamp_ms") >= scan["ts_lo"])
            & (F.col("timestamp_ms") < scan["ts_hi"])
        )
        .select("timestamp_ms")
    )


def _scan_plan(run: Run, table, scan: dict, phase: str) -> None:
    """Plan the same scan on the driver with the data source's reader and
    record its planning time and manifest pruning (``last_plan``)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from zombi_spark.sources.datasource import ZombiBatchReader

    t0 = time.perf_counter()
    reader = ZombiBatchReader(table.table_schema(), {"path": table.path})
    reader.pushFilters([
        EqualTo(("partition",), scan["partition"]),
        GreaterThanOrEqual(("timestamp_ms",), scan["ts_lo"]),
        LessThan(("timestamp_ms",), scan["ts_hi"]),
    ])
    reader.partitions()
    run.out.setdefault("scan_plans", []).append(
        {"phase": phase, "ms": (time.perf_counter() - t0) * 1000, **reader.last_plan}
    )


# ---------------------------------------------------------------- query_suite
def _canon(pdf) -> list:
    """Order-insensitive canonical form of a result: columns sorted by
    name, values rendered the way pandas renders them, rows sorted."""
    import math

    import pandas as pd

    def norm(v):
        try:
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                return "NULL"
        except (TypeError, ValueError):
            pass  # arrays have no truth value
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    pdf = pdf[sorted(pdf.columns)]
    return sorted(tuple(norm(v) for v in row) for row in pdf.itertuples(index=False, name=None))


def query_suite(spark, run: Run) -> None:
    """One cold pass in a fresh session (empty plan memo, Spark cache
    cleared), one settling pass, then warm passes in the same session
    (plans memoized) until the run's seconds are spent; at least two warm
    passes."""
    import duckdb

    import __spark_entry__ as entry
    from zombi_spark.sources.datasource import register_zombi_datasource
    from zombi_spark.sources.tables import TABLES, load_table

    cfg = run.cfg
    sf = cfg["corpus"]
    names = cfg["queries"]
    raw = entry._raw_queries()
    family = {n: raw[n].__module__.rsplit(".", 1)[-1] for n in names}
    tr = run.tracer
    sc = spark.sparkContext

    def fresh_session():
        s = spark.newSession()
        s.catalog.clearCache()
        register_zombi_datasource(s)
        for t in TABLES:
            load_table(s, sf, t)
        load_table(s, sf, "lineitem").count()
        return s

    def one(session, name: str, label: str) -> tuple[float, float]:
        tid = f"{label}-{name}"
        if tr is not None:
            sc.setJobGroup(tid, tid)
        t0 = time.perf_counter()
        with run.span("query.build", tid):
            df = entry.queries()[name](session, sf)
        t1 = time.perf_counter()
        with run.span("query.exec", tid):
            df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        if tr is not None:
            _query_layers(run, spark, df, tid, family[name], t1 - t0, t2 - t1)
        return (t2 - t0) * 1000, (t1 - t0) * 1000

    for _ in range(cfg["setups"]):
        t0 = time.perf_counter()
        session = fresh_session()
        run.out["setup_s"].append(time.perf_counter() - t0)
    run.out["first_op_s"] = time.time() - cfg["t_launch"]
    res = run.out
    res.update(cold_ms={}, cold_build_ms={}, warm_ms={n: [] for n in names}, warm_pass_s=[])
    deadline = time.perf_counter() + cfg["seconds"]
    with run.timed_region(spark):
        t0 = time.perf_counter()
        for n in names:
            res["cold_ms"][n], res["cold_build_ms"][n] = one(session, n, "cold")
        res["cold_pass_s"] = time.perf_counter() - t0
        # the first pass after the cold one still warms the JVM (it runs
        # 10-15% slower than later passes), so it is run but not counted
        t0 = time.perf_counter()
        for n in names:
            one(session, n, "settle")
        res["settle_pass_s"] = time.perf_counter() - t0
        k = 0
        while k < 2 or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            for n in names:
                res["warm_ms"][n].append(one(session, n, f"warm{k}")[0])
            res["warm_pass_s"].append(time.perf_counter() - t0)
            k += 1
    if tr is not None:
        sc.setJobGroup(None, None)
    # output checks against the DuckDB oracles, outside the timed region
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracles = entry.oracle_sql()
    mismatched = []
    for n in names:
        got = _canon(entry.queries()[n](session, sf).toPandas())
        want = _canon(con.execute(oracles[n]).df())
        if got != want:
            mismatched.append(n)
        res.setdefault("result_rows", {})[n] = len(got)
    con.close()
    run.check("oracle_parity", not mismatched, mismatched)


def _query_layers(run: Run, spark, df, tid: str, fam: str, build_s: float, exec_s: float) -> None:
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs()
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    shuffle, tasks = 0, 0
    for j in st.getJobIdsForGroup(tid):
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            data = store.stageData(s, False, None, False, None)
            for i in range(data.size()):
                shuffle += data.apply(i).shuffleWriteBytes()
                tasks += data.apply(i).numCompleteTasks()
    run.out.setdefault("query_layers", []).append({
        "trace": tid, "family": fam, "build_s": build_s, "exec_s": exec_s,
        "analysis_ms": phases.get("analysis", 0), "optimization_ms": phases.get("optimization", 0),
        "planning_ms": phases.get("planning", 0), "shuffle_bytes": shuffle, "tasks": tasks,
    })


WORKLOADS = {
    "live_ingest": live_ingest,
    "query_suite": query_suite,
}


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    marks = {"engine_start": time.time()}
    from zombi_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    tracer = Tracer() if cfg["trace"] else None
    run = Run(cfg, tracer)
    run.out["session_start_s"] = time.perf_counter() - t0
    marks["session_ready"] = time.time()
    run.out["marks"] = marks
    try:
        WORKLOADS[cfg["workload"]](spark, run)
    finally:
        if tracer is not None:
            _write_json_spans(run, cfg)
        marks["result"] = time.time()
        _write_json(cfg["result_path"], run.out)
        spark.stop()


def _write_json_spans(run: Run, cfg: dict) -> None:
    run.tracer.dump(cfg["trace_path"])
    run.out["spans"] = [
        {k: s[k] for k in ("name", "trace", "start", "end") if k in s}
        | {k: s[k] for k in ("files_added", "append_duration_ms") if k in s}
        for s in run.tracer.spans
    ]


if __name__ == "__main__":
    main()
