#!/usr/bin/env python3
"""Benchmark runner: builds the program, runs one workload, checks its
outputs and prints the metrics.

    python3 perfbench/run.py --workload pipeline_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload hourly_increments --seed 1   # the ingest-defect probe

Run it from the repository root. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics; the line
before it is the run-health record. With --trace 0 the metrics are the
end-to-end ones, timed without listeners; with --trace 1 they are the
per-layer ones, taken from spans the JVM side records around each call
into a layer. Workloads, metrics and what each should move are described
in perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# pipeline_backfill times whole backfills; hourly_increments runs the
# one-day increments, which fail their check (see perfbench/METRICS.md),
# and is kept out of BENCHMARK.json for that reason.
PIPELINE = ("pipeline_backfill", "hourly_increments")

# Bars: weekday OHLCV for TICKERS symbols over one year, then the
# increment days. The ticker count is what fits the per-run budget.
TICKERS = 32
HISTORY_FROM = "2024-03-01"
HISTORY_DAYS = 366

# The queries one dashboard render issues, in the reference's order, and
# the GICS sectors of the generated dimension table.
VIEW_KINDS = ["history", "trends", "relative", "snapshot", "top_movers"]
SECTORS = ["Communication Services", "Consumer Discretionary", "Consumer Staples",
           "Energy", "Financials", "Health Care", "Industrials",
           "Information Technology", "Materials", "Real Estate", "Utilities"]

# operator_mix: one query per operator family, plus one stream.
QUERY_FAMILY = {
    "rec_user_topn": "rec",
    "sim_pq_topk": "sim",
    "lake_merge_commit": "lake",
    "stream_ohlc_live": "stream",
}
# Fact tables thinned by the seed (key column); the rest are copied whole.
THINNED = {"orders": "o_orderkey", "lineitem": "l_orderkey", "events": "user_id"}

END_TO_END = {"setup_s": "s", "cpu_total_s": "s", "peak_rss_mb": "MB",
              "storage_bytes_per_user_byte": "bytes/byte"}
PER_LAYER = {
    "cpu.setup_s": "s", "cpu.total_s": "s", "mem.peak_rss_mb": "MB",
    "wall.setup_s": "s", "wall.total_s": "s", "wall.latency_p50_s": "s", "cpu.per_op_p50_s": "s",
    "pipeline.backfill_s": "s", "pipeline.ingest_s": "s", "pipeline.transform_s": "s",
    "pipeline.load_s": "s", "pipeline.transform_rows_read_per_input_row": "rows/row",
    "sources.raw_files_written": "count", "sources.warehouse_bytes_written": "bytes",
    "sources.bytes_written_per_input_row": "bytes/row",
    "sources.files_per_zone.raw": "count", "sources.files_per_zone.enriched": "count",
    "sources.files_per_zone.warehouse": "count",
    **{f"dashboard.{k}_s_p50": "s" for k in VIEW_KINDS},
    "dashboard.rows_read_per_row_out": "rows/row",
    "dashboard.files_read_per_query": "count",
    **{f"ops.{f}_s": "s" for f in sorted(set(QUERY_FAMILY.values()) - {"stream"})},
    "streaming.stream_s": "s", "streaming.triggers": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.sql_executions": "count",
    "spark.task_s": "s", "spark.task_skew": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.session_s": "s",
    "failed_ratio": "ratio",
}
UNITS = {**END_TO_END, **PER_LAYER}
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- arithmetic

def median(xs):
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def self_times(spans):
    """Span id -> duration minus the part of its interval that its
    children cover (overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def valid_name(name):
    return bool(NAME_RE.match(name))


# ---------------------------------------------------------------- generators

def dashboard_renders(seed, n, tickers=TICKERS, history_from=HISTORY_FROM,
                      history_days=HISTORY_DAYS):
    """n page renders drawn from the seed, as `tickers|from|to|sector`.
    Every choice is uniform: 2 to 5 distinct tickers (the relative return
    needs two), a window of one month to the whole history that ends on
    the last loaded day, and the sector of the movers table. The ticker
    counts and window lengths are stratified: the counts cycle through 2
    to 5 and each window length falls in its own n-th of the range, in a
    seeded order, so that the cost of n renders hardly varies by seed."""
    import datetime as dt
    rng = random.Random(seed)
    first = dt.date.fromisoformat(history_from)
    last = first + dt.timedelta(days=history_days - 1)
    counts = [2 + i % 4 for i in range(n)]
    spans = [30 + int((i + rng.random()) * (history_days - 31) / n) for i in range(n)]
    rng.shuffle(counts)
    rng.shuffle(spans)
    lines = []
    for count, span in zip(counts, spans):
        names = ["T%03d" % t for t in rng.sample(range(tickers), count)]
        frm = max(first, last - dt.timedelta(days=span))
        lines.append("|".join([",".join(names), frm.isoformat(), last.isoformat(),
                               rng.choice(SECTORS)]))
    return lines


def keep_key(seed, key):
    """About nine keys in ten survive, chosen by md5 of the seed and key."""
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8], 16) % 10 != 0


def prepare_tables(seed, src, dst):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    os.makedirs(dst, exist_ok=True)
    for f in sorted(os.listdir(src)):
        name = f[:-len(".parquet")]
        table = pq.read_table(os.path.join(src, f))
        if name in THINNED:
            keys = table.column(THINNED[name])
            kept = [k for k in pc.unique(keys).to_pylist() if keep_key(seed, k)]
            table = table.filter(pc.is_in(keys, value_set=pa.array(kept, type=keys.type)))
        pq.write_table(table, os.path.join(dst, f))


# ---------------------------------------------------------------- build + JVM

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            if os.path.getmtime(base) > stamp:
                return True
            continue
        for d, _, files in os.walk(base):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return False


def build():
    if os.path.exists(CLASSPATH_FILE) and not sources_newer_than(CLASSPATH_FILE):
        return
    os.makedirs(TARGET, exist_ok=True)
    log("perfbench: building (sbt compile)")
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())


def run_jvm(workload, seed, trace, work, params, deadline):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    # C1 only: in a JVM that lives for one run, C2's background compiles
    # took about half of all CPU time and varied with the host's load
    # (operator_mix CPU spread 0.21 over five seeds, 0.05 with C1). The
    # compiler threads live for the whole run, because the CPU metrics
    # leave their time out (perfbench.Ops.cpuNanos). A fixed heap and the
    # serial collector: with an adaptive parallel heap, peak RSS followed
    # the collector's sizing choices (spread 0.14 over five seeds, 0.01
    # fixed), and the parallel collector's threads spun on a busy host
    # (operator_mix CPU spread 0.12, 0.08 serial). The larger metaspace
    # threshold saves the four full collections start-up triggered.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseSerialGC", "-XX:MetaspaceSize=256m",
           "-XX:TieredStopAtLevel=1", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(trace), work]
    cmd += [f"{k}={v}" for k, v in params.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        start = time.monotonic()
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                proc.kill()
                pid, status, usage = os.wait4(proc.pid, 0)
                raise SystemExit(f"perfbench: JVM exceeded the run limit after "
                                 f"{time.monotonic() - start:.0f} s")
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    result["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    return result


# ---------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def close_enough(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(got, want, tol=1e-9):
    """Row lists equal as multisets, floats within a relative tolerance."""
    if len(got) != len(want):
        return False

    def key(r):
        return tuple((x is None, str(x) if not isinstance(x, float) else "") for x in r)
    return all(len(g) == len(w) and all(close_enough(x, y, tol) for x, y in zip(g, w))
               for g, w in zip(sorted(got, key=key), sorted(want, key=key)))


def check_hourly(con, result):
    """Each warehouse snapshot against a one-shot window computation over
    the same bars: row count, unique (ticker, date), and daily_return and
    rolling_vol_30d within 1e-9."""
    bars = result["bars"]
    verdicts = {}
    for snap in result["snapshots"]:
        wh = f"read_parquet('{snapshot_path(result, snap['name'])}/**/*.parquet', hive_partitioning = true)"
        want = f"""
          WITH b AS (SELECT ticker, date, close FROM read_parquet('{bars}/*.parquet')
                     WHERE date <= TIMESTAMP '{snap['up_to']}'),
          r AS (SELECT ticker, date,
                       (close - lag(close) OVER w) / nullif(lag(close) OVER w, 0) AS dr
                FROM b WINDOW w AS (PARTITION BY ticker ORDER BY date))
          SELECT ticker, date, dr,
                 stddev_samp(dr) OVER (PARTITION BY ticker ORDER BY date
                                       ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS vol
          FROM r"""
        n_got, n_keys = con.execute(
            f"SELECT count(*), count(DISTINCT (ticker, date)) FROM {wh}").fetchone()
        n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
        bad = con.execute(f"""
          SELECT count(*) FROM ({want}) e FULL OUTER JOIN
               (SELECT ticker, date, daily_return, rolling_vol_30d FROM {wh}) g
            ON e.ticker = g.ticker AND e.date = g.date
          WHERE e.ticker IS NULL OR g.ticker IS NULL
             OR (e.dr IS NULL) <> (g.daily_return IS NULL)
             OR abs(e.dr - g.daily_return) > 1e-9
             OR (e.vol IS NULL) <> (g.rolling_vol_30d IS NULL)
             OR abs(e.vol - g.rolling_vol_30d) > 1e-9""").fetchone()[0]
        ok = n_got == n_want == n_keys and bad == 0
        verdicts[snap["name"]] = ok
        if not ok:
            log(f"perfbench: hourly check {snap['name']}: rows {n_got} want {n_want}, "
                f"distinct keys {n_keys}, mismatched rows {bad}")
    return verdicts


def snapshot_path(result, name):
    return os.path.join(result["work"], "snap", name)


def check_rerun(con, result, last):
    """Re-running the last increment must leave the warehouse unchanged."""
    a = f"read_parquet('{snapshot_path(result, last)}/**/*.parquet', hive_partitioning = true)"
    b = f"read_parquet('{snapshot_path(result, 'rerun')}/**/*.parquet', hive_partitioning = true)"
    diff = con.execute(f"""SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))
                                + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))""").fetchone()[0]
    return diff == 0 and result["rerun_ok"]


def dashboard_oracle(kind, tickers, frm, to, sector, gainers):
    """DuckDB SQL for one query of a render; `gainers` picks the movers list."""
    sl = f"""SELECT * FROM wh WHERE ticker IN ({",".join("'%s'" % t for t in tickers) or "NULL"})
             AND date BETWEEN TIMESTAMP '{frm}' AND TIMESTAMP '{to}'"""
    snap = """SELECT w.ticker, d.security_name, d.gics_sector, w.date, w.close,
                     w.daily_return, w.rolling_vol_30d
              FROM (SELECT *, row_number() OVER (PARTITION BY ticker ORDER BY date DESC) AS rn
                    FROM wh) w JOIN dim d ON w.ticker = d.ticker_symbol WHERE rn = 1"""
    cum = f"""SELECT ticker, date, exp(sum(ln(1 + coalesce(daily_return, 0)))
                OVER (PARTITION BY ticker ORDER BY date)) AS c, ingest_ts FROM ({sl})"""
    if kind == "history":
        return f"SELECT date, ticker, close, daily_return, ingest_ts FROM ({sl})"
    if kind == "trends":
        return f"""SELECT ticker, arg_max(c, date) AS final_return, max(ingest_ts) AS last_ingested
                   FROM ({cum}) GROUP BY ticker"""
    if kind == "relative":
        a, b = tickers[:2]
        return f"""SELECT 100.0 * (arg_max(x.c, x.date) - arg_max(y.c, y.date)) AS final_pct_diff
                   FROM ({cum}) x JOIN ({cum}) y ON x.date = y.date
                   WHERE x.ticker = '{a}' AND y.ticker = '{b}'"""
    if kind == "snapshot":
        return snap
    order = "DESC" if gainers else "ASC"
    return f"""WITH s AS (SELECT * FROM ({snap}) WHERE gics_sector = '{sector}')
               SELECT * FROM s ORDER BY daily_return {order}, ticker
               LIMIT (SELECT least(floor(count(*) / 2), 20) FROM s)"""


def check_dashboard(con, result):
    con.execute(f"CREATE VIEW wh AS SELECT * FROM read_parquet('{result['warehouse']}/**/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{result['dim']}/*.parquet')")
    verdicts = {}
    for c in result["checks"]:
        names, frm, to, sector = c["line"].split("|")
        kind, name = c["kind"], f"{c['kind']}-{c['part']}"
        got = con.execute(f"SELECT * FROM read_parquet('{c['out']}/*.parquet')").fetchall()
        want = con.execute(dashboard_oracle(kind, names.split(","), frm, to, sector,
                                            c["part"] == 0)).fetchall()
        verdicts[name] = same_rows(got, want)
        if not verdicts[name]:
            log(f"perfbench: dashboard check {name} failed ({len(got)} rows, want {len(want)})")
    return verdicts


def check_operators(con, result, data):
    import pandas as pd
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data, f)}')")
    verdicts = {}
    for name, sql in sorted(result["oracle"].items()):
        out = os.path.join(result["work"], "out", name)
        if not os.path.isdir(out):
            verdicts[name] = False
            continue
        files = sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        want = con.execute(sql).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        if ok:
            for c in got.columns:
                a, b = got[c].values, want[c].values
                if not ((pd.isna(a) & pd.isna(b)) | (a == b)).all():
                    ok = False
                    log(f"perfbench: {name} differs from its oracle in column {c}")
                    break
        else:
            log(f"perfbench: {name} shape differs from its oracle "
                f"({list(got.columns)} x {len(got)} vs {list(want.columns)} x {len(want)})")
        verdicts[name] = ok
    return verdicts


# ---------------------------------------------------------------- metrics

def per_layer_metrics(result, attempted, failed):
    # the idempotency re-run is a check, traced under op -1; keep it out
    spans = [s for s in result.get("spans", []) if s["op"] > 0]
    selfs = self_times(spans)
    ops = result["ops"]
    m = {}

    def total(pred, counter):
        return sum(s["counters"].get(counter, 0.0) for s in spans if pred(s["name"]))

    # the timed pipeline operations: backfills, or the probe's increments
    piped = [o for o in ops if o["kind"] in ("backfill", "increment")]
    piped_ids = {o["op"] for o in piped}
    for stage in ("ingest", "transform", "load"):
        xs = [selfs[s["id"]] for s in spans
              if s["name"] == "pipeline." + stage and s["op"] in piped_ids]
        m[f"pipeline.{stage}_s"] = median(xs) or 0.0
    m["pipeline.backfill_s"] = sum(o["s"] for o in ops if o["kind"] == "setup_backfill")
    piped_rows = sum(o["rows"] for o in piped)
    read = sum(s["counters"].get("scan_rows", 0.0) for s in spans
               if s["name"] == "pipeline.transform" and s["op"] in piped_ids)
    m["pipeline.transform_rows_read_per_input_row"] = read / piped_rows if piped_rows else 0.0
    m["sources.raw_files_written"] = total(lambda n: n == "pipeline.ingest", "write_files")
    m["sources.warehouse_bytes_written"] = total(lambda n: n == "pipeline.load", "write_bytes")
    in_rows = sum(o.get("rows", 0) for o in ops
                  if o["kind"] in ("setup_backfill", "warmup_backfill", "backfill", "increment"))
    written = total(lambda n: n.startswith("pipeline."), "write_bytes")
    m["sources.bytes_written_per_input_row"] = written / in_rows if in_rows else 0.0
    zones = result.get("zones", {})
    for z in ("raw", "enriched", "warehouse"):
        m[f"sources.files_per_zone.{z}"] = float(zones.get(z, {}).get("parquet_files", 0))

    views = [o for o in ops if o["kind"] in VIEW_KINDS]
    for kind in VIEW_KINDS:
        m[f"dashboard.{kind}_s_p50"] = median([o["s"] for o in views if o["kind"] == kind]) or 0.0
    view_names = set(VIEW_KINDS)
    rows_out = sum(o.get("rows_out", 0) for o in views)
    m["dashboard.rows_read_per_row_out"] = (
        total(lambda n: n in view_names, "scan_rows") / rows_out if rows_out else 0.0)
    m["dashboard.files_read_per_query"] = (
        total(lambda n: n in view_names, "scan_files") / len(views) if views else 0.0)

    for fam in sorted(set(QUERY_FAMILY.values()) - {"stream"}):
        m[f"ops.{fam}_s"] = sum(o["s"] for o in ops if QUERY_FAMILY.get(o["kind"]) == fam)
    stream_ops = {o["op"] for o in ops if QUERY_FAMILY.get(o["kind"]) == "stream"}
    m["streaming.stream_s"] = sum(o["s"] for o in ops if o["op"] in stream_ops)
    trig = result.get("triggers", [])
    m["streaming.triggers"] = float(len(trig))
    m["streaming.trigger_ms_p50"] = float(median([t["triggerExecution_ms"] for t in trig]) or 0.0)
    m["streaming.add_batch_ms"] = float(sum(t["addBatch_ms"] for t in trig))
    m["streaming.wal_commit_ms"] = float(sum(t["walCommit_ms"] for t in trig))
    by_span = {}
    for t in trig:
        by_span[t["span"]] = max(by_span.get(t["span"], 0), t["state_rows"])
    m["streaming.state_rows"] = float(sum(by_span.values()))

    every = lambda n: True
    m["spark.jobs"] = total(every, "jobs")
    m["spark.stages"] = total(every, "stages")
    m["spark.sql_executions"] = total(every, "sql_executions")
    m["spark.task_s"] = total(every, "task_s")
    med = total(every, "stage_task_median_s")
    m["spark.task_skew"] = total(every, "stage_task_max_s") / med if med else 0.0
    m["spark.shuffle_write_bytes"] = total(every, "shuffle_write_bytes")
    m["spark.spill_bytes"] = total(every, "spill_bytes")
    m["spark.session_s"] = result["session"]["s"]
    m["failed_ratio"] = failed / attempted
    return m


def trace_dump(workload, seed, result):
    """Spans with their self times, kept for reading one traced run."""
    selfs = self_times(result.get("spans", []))
    spans = [dict(s, self=selfs[s["id"]]) for s in result.get("spans", [])]
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{workload}-{seed}.json"), "w") as f:
        json.dump({"spans": spans, "triggers": result.get("triggers", [])}, f)


# ---------------------------------------------------------------- main

def cpu_ticks():
    """(steal, total) jiffies across all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run(workload, seed, seconds, trace):
    start = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))
            and os.path.isfile(os.path.join(HERE, "build.sbt"))):
        raise SystemExit("perfbench: run from the repository root of a full checkout "
                         "(src/main/scala/graft is missing)")
    health = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "nproc": os.cpu_count(), "loadavg_before": loadavg()}
    ticks0 = cpu_ticks()
    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        params = {"tickers": TICKERS, "history_from": HISTORY_FROM,
                  "history_days": HISTORY_DAYS}
        if workload == "pipeline_backfill":
            params.update(backfills=max(2, seconds * 3 // 10), increments=0)
        elif workload == "hourly_increments":
            params.update(backfills=0, increments=max(2, seconds * 3 // 10))
        elif workload == "dashboard_serving":
            req = os.path.join(work, "requests.txt")
            with open(req, "w") as f:
                f.write("\n".join(dashboard_renders(seed, max(4, seconds * 3 // 5))) + "\n")
            params.update(requests=req, sectors=",".join(SECTORS))
        elif workload == "operator_mix":
            data = os.path.join(work, "data")
            prepare_tables(seed, os.path.join(HERE, "data", "tables"), data)
            params.update(data=data, queries=",".join(QUERY_FAMILY))
        else:
            raise SystemExit(f"perfbench: unknown workload {workload}")
        t_jvm = time.monotonic()
        result = run_jvm(workload, seed, trace, work, params, deadline)
        result["work"] = work
        t_check = time.monotonic()
        con = duck()
        if workload in PIPELINE:
            verdicts = check_hourly(con, result)
            last = result["snapshots"][-2]["name"]
            verdicts["rerun"] = check_rerun(con, result, last)
        elif workload == "dashboard_serving":
            verdicts = check_dashboard(con, result)
        else:
            verdicts = check_operators(con, result, params["data"])
        ops = result["ops"]
        if workload in PIPELINE:
            names = [s["name"] for s in result["snapshots"] if s["name"] != "rerun"]
            outcome = [o["ok"] and verdicts[n] for o, n in zip(ops, names)] + [verdicts["rerun"]]
        elif workload == "dashboard_serving":
            outcome = [o["ok"] for o in ops] + list(verdicts.values())
        else:
            outcome = [o["ok"] and verdicts.get(o["kind"], False) for o in ops]
        attempted, failed = len(outcome), outcome.count(False)
        for o in ops:
            log(f"perfbench: {o['kind']} #{o['op']} {o['s']:.3f} s {o['cpu_s']:.2f} cpu-s" +
                ("" if o["ok"] else f" failed: {o['error']}"))

        # set-up is the program's start-up: its session, plus the backfill
        # into the warehouse on the two stock workloads
        setup = [result["session"]] + ([result["setup"]] if "setup" in result else [])
        timed = [o for o in ops if o["kind"] not in ("setup_backfill", "warmup_backfill")]
        storage = result["storage"]
        bounded = {
            "setup_s": sum(r["cpu_s"] for r in setup),
            "cpu_total_s": sum(o["cpu_s"] for o in timed),
            "peak_rss_mb": result["peak_rss_mb"],
            "storage_bytes_per_user_byte": storage["bytes"] / storage["user_bytes"],
        }
        unbounded = {"wall.setup_s": sum(r["s"] for r in setup),
                "wall.total_s": sum(o["s"] for o in timed),
                "wall.latency_p50_s": median([o["s"] for o in timed]),
                "cpu.per_op_p50_s": median([o["cpu_s"] for o in timed])}
        if trace:
            metrics = {**per_layer_metrics(result, attempted, failed), **unbounded,
                       "cpu.setup_s": bounded["setup_s"], "cpu.total_s": bounded["cpu_total_s"],
                       "mem.peak_rss_mb": bounded["peak_rss_mb"]}
            trace_dump(workload, seed, result)
        else:
            metrics = bounded
        ticks1 = cpu_ticks()
        health.update(loadavg_after=loadavg(),
                      steal_pct=round(100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 2),
                      **{k: round(v, 4) for k, v in unbounded.items()}, spark=result["spark_version"],
                      java=result["java_version"], samples=len(timed),
                      session_s=round(result["session"]["s"], 3),
                      jvm_s=round(t_check - t_jvm, 3), check_s=round(time.monotonic() - t_check, 3),
                      wall_s=round(time.monotonic() - start, 3))
        assert all(valid_name(k) for k in metrics), sorted(metrics)
        print(json.dumps({"health": health}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest():
    import unittest
    sys.path.insert(0, HERE)
    suite = unittest.defaultTestLoader.loadTestsFromName("selftest")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    raise SystemExit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    if not a.workload:
        ap.error("--workload is required")
    run(a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    main()
