#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: dashboard_cold, dashboard_warm, ingest_serve, contract_batch
(README.md beside this file says what each one measures). The first run in
a checkout builds the program and the harness with sbt and writes the
serving archives; later runs reuse both while the sources are unchanged.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}; the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Progress and the metric table go to stderr."""
import argparse
import concurrent.futures as cf
import datetime as dt
import hashlib
import http.client
import json
import multiprocessing
import os
import queue
import random
import shutil
import socket
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lib  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
ARCHIVE_PARAMS = (lib.ARCHIVE_START.date().isoformat(), "1", ",".join(str(b) for b in lib.BANDS))
EVENTS_ROWS = 10000
COLD_LIMIT_S = 6.4   # the reference's fastest published cold endpoint (BASELINE.md)
WARM_LIMIT_S = 0.265  # the reference's warm full-dashboard refresh (BASELINE.md)
INGEST_DAYS = 3  # days ingest_serve lands per run, one batch each

OPENS = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                     "java.nio", "java.util", "java.util.concurrent",
                     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                     "sun.security.action", "sun.util.calendar")
         for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def source_key():
    """Hash of everything the program and the harness are compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build(key):
    """Compile program + harness with sbt once per source state; returns the
    runtime classpath."""
    out = os.path.join(WORK, f"build-{key}", "classpath.txt")
    if os.path.exists(out):
        with open(out) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(out), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
    log("building program and harness with sbt")
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed (see perfbench/.work/build.log)")
    with open(out, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ---- processes ---------------------------------------------------------------

PROCS = []


def java(cp, main, args, log_name, cwd=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dsun.net.httpserver.nodelay=true", "-cp", cp, main, *args]
    lf = open(os.path.join(WORK, "logs", log_name), "w")
    p = subprocess.Popen(cmd, cwd=cwd or WORK, env=env, stdout=subprocess.PIPE,
                         stderr=lf, text=True)
    lf.close()
    PROCS.append(p)
    return p


def stop(p, kill=False):
    if p.poll() is None:
        (p.kill if kill else p.terminate)()
        try:
            p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.stdout:
        p.stdout.close()


def run_java(cp, main, args, log_name, timeout=900):
    p = java(cp, main, args, log_name)
    try:
        out, _ = p.communicate(timeout=timeout)
    finally:
        stop(p)
    if p.returncode != 0:
        raise SystemExit(f"{main} failed with code {p.returncode} (see perfbench/.work/logs/{log_name})")
    return json.loads(out.strip().splitlines()[-1])


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def proc_cpu_ms(pid):
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")


def cpu_times():
    """The machine's (steal, total) CPU ticks from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


# ---- inputs ------------------------------------------------------------------

def archive(cp, key, name):
    """A prepared archive: `serve` (read-only, for the dashboards) or
    `pristine` (the ingest workload's starting state, which it copies to
    `ingest`). Written once per source state and archive parameters, at the
    path it is served from (`ingest` for the pristine copy), because the
    catalog sidecar records absolute paths."""
    akey = hashlib.sha256(f"{key}|{ARCHIVE_PARAMS}|{WORK}".encode()).hexdigest()[:16]
    base = os.path.join(WORK, f"archive-{akey}")
    ready = os.path.join(base, name + ".ready")
    if not os.path.exists(ready):
        for d in os.listdir(WORK):
            if d.startswith("archive-") and d != os.path.basename(base):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        target = os.path.join(base, "ingest" if name == "pristine" else name)
        shutil.rmtree(target, ignore_errors=True)
        t = run_java(cp, "perfbench.Prepare", [target, *ARCHIVE_PARAMS], f"prepare-{name}.log")
        log(f"prepared {name} archive: {t}")
        if name == "pristine":
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
            shutil.copytree(target, os.path.join(base, name))
        with open(ready, "w") as f:
            json.dump(manifest(os.path.join(base, name)), f)
    return os.path.join(base, name)


def manifest(top):
    """(relative path, size, mtime) of every file under `top`."""
    return sorted([os.path.relpath(os.path.join(d, f), top),
                   os.stat(os.path.join(d, f)).st_size,
                   os.stat(os.path.join(d, f)).st_mtime_ns]
                  for d, _, fs in os.walk(top) for f in fs)


def restore(pristine, root):
    """Replaces `root` with a copy of the pristine archive made of hard
    links: no data is written, so no disk write-back overlaps the timed
    launches. The program only adds, renames and deletes files (Spark's
    writers, the sidecar's overwrite), never rewrites one in place; the
    manifest check stops the run if a shared file was changed anyway."""
    with open(pristine + ".ready") as f:
        if json.load(f) != manifest(pristine):
            raise SystemExit("pristine archive changed; delete perfbench/.work to rebuild it")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(pristine, root, copy_function=os.link)


def events_table(seed, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = lib.events_rows(seed, EVENTS_ROWS)
    table = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))


# ---- serving -----------------------------------------------------------------

class Client:
    """One keep-alive HTTP connection; `get` times send → last body byte."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def get(self, path):
        t0 = time.perf_counter()
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=300)
            self.conn.request("GET", path)
            r = self.conn.getresponse()
            body = r.read()
            return r.status, body, t0, time.perf_counter()
        except (OSError, http.client.HTTPException):
            if self.conn:
                self.conn.close()
            self.conn = None
            return -1, b"", t0, time.perf_counter()


def launch(cp, archive, trace, seed):
    """Start the serving process (harness/Server.scala: ServeMain's recipe
    plus the benchmark's hooks) and wait for its first 200 from /health."""
    port, ctl = free_port(), free_port()
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir, exist_ok=True)
    t0 = time.perf_counter()
    p = java(cp, "perfbench.Server",
             [archive, str(port), str(ctl), str(int(trace)), ",".join(map(str, lib.BANDS)),
              str(seed)], "server.log", cwd=run_dir)
    c = Client(port)
    while time.perf_counter() - t0 < 170:
        if p.poll() is not None:
            raise SystemExit("serving process exited (see perfbench/.work/logs/server.log)")
        status, _, _, _ = c.get("/health")
        if status == 200:
            setup_s = time.perf_counter() - t0
            log(f"serving process up in {setup_s:.3f} s")
            return p, port, ctl, setup_s
        time.sleep(0.02)
    raise SystemExit("serving process did not answer /health")


class Tally:
    """Per-request outcomes of the measured phase."""

    def __init__(self, limit_s):
        self.limit = limit_s  # None: no latency limit (contract cells)
        self.lat, self.ok_in_limit, self.failed, self.attempted = [], 0, 0, 0
        self.bytes, self.values, self.errors = 0, 0, []
        self.lock = threading.Lock()
        self.values_of = {}  # path -> values served (a repeated key returns the same body)

    def add(self, req, status, body, t0, t1, err):
        with self.lock:
            self.attempted += 1
            if err:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(f"{req['path']}: {err}")
                return
            self.lat.append(t1 - t0)
            self.bytes += len(body)
            if req["path"] not in self.values_of:
                self.values_of[req["path"]] = served_values(req, body)
            self.values += self.values_of[req["path"]]
            if self.limit is not None and t1 - t0 <= self.limit:
                self.ok_in_limit += 1

    FIELDS = ("lat", "ok_in_limit", "failed", "attempted", "bytes", "values", "errors")

    def fields(self):
        return {f: getattr(self, f) for f in self.FIELDS}

    def merge(self, fields):
        for f in self.FIELDS:
            setattr(self, f, getattr(self, f) + fields[f])


def served_values(req, body):
    r = json.loads(body)
    kind = req["kind"]
    if kind == "heatmap":
        return r["time_count"] * r["frequency_count"]
    if kind == "daily":
        return sum(r[s + "_length"] for s in ("mean", "min", "max", "count"))
    if kind in ("raw", "daily_broadband", "broadband_agg"):
        return r["point_count"]
    return 0


def fetch(client, req, tally=None):
    status, body, t0, t1 = client.get(req["path"])
    err = lib.check(req, status, body)
    if tally is not None:
        tally.add(req, status, body, t0, t1, err)
    return status, body, t0, t1, err


def control(ctl, path):
    c = http.client.HTTPConnection("127.0.0.1", ctl, timeout=170)
    c.request("GET", path)
    r = c.getresponse()
    body = r.read()
    if r.status != 200:
        raise SystemExit(f"control call {path} failed: {body[:200]!r}")
    return json.loads(body)


def dashboard_cold(a, cp, key):
    root = archive(cp, key, "serve")
    p, port, ctl, setup_s = launch(cp, root, a.trace, a.seed)
    clients = [Client(port) for _ in range(4)]
    gen = lib.cold_refreshes(a.seed)
    tally, rounds = Tally(COLD_LIMIT_S), []
    with cf.ThreadPoolExecutor(4) as pool:
        def refresh(t):
            charts = next(gen)
            t0 = time.perf_counter()
            done = list(pool.map(lambda cr: fetch(cr[0], cr[1], t), zip(clients, charts)))
            return max(d[3] for d in done) - t0
        warm = Tally(COLD_LIMIT_S)
        refresh(warm)  # JIT warm-up on distinct keys, checked, not timed
        start_measuring(a, ctl)
        cpu0, t_start = proc_cpu_ms(p.pid), time.perf_counter()
        while time.perf_counter() - t_start < a.seconds:
            rounds.append(refresh(tally))
        wall = time.perf_counter() - t_start
        cpu = proc_cpu_ms(p.pid) - cpu0
    return finish_serving(a, p, ctl, setup_s, tally, rounds, cpu, wall, warm, len(tally.lat))


def dashboard_warm(a, cp, key):
    root = archive(cp, key, "serve")
    p, port, ctl, setup_s = launch(cp, root, a.trace, a.seed)
    pool_reqs = lib.warm_pool(a.seed)
    clients = [Client(port) for _ in range(CPUS)]
    warm = Tally(COLD_LIMIT_S)
    first = {}

    def prewarm(i):  # every pool key once, checked; client i takes every CPUS-th key
        for req in pool_reqs[i::CPUS]:
            first[req["path"]] = fetch(clients[i], req, warm)[1]

    t0 = time.perf_counter()
    with cf.ThreadPoolExecutor(CPUS) as ex:
        list(ex.map(prewarm, range(CPUS)))
    log(f"pre-warmed {len(pool_reqs)} keys in {time.perf_counter() - t0:.1f} s")
    # One process per connection: threads of one interpreter would queue for
    # its lock between requests, and that queueing, not the server, would set
    # much of the latency of a cache hit.
    mp = multiprocessing.get_context("fork")
    go, results = mp.Event(), mp.Queue()

    def client_loop(i):
        rng = random.Random(a.seed * 1000 + i)
        zipf = lib.Zipf(len(pool_reqs), 1.1, rng)
        c = Client(port)

        def loop(until, t):
            mine = []
            while time.perf_counter() < until:
                t0 = time.perf_counter()
                for _ in range(4):  # one dashboard refresh = 4 chart requests
                    req = pool_reqs[zipf.draw()]
                    status, body, s0, s1 = c.get(req["path"])
                    err = None if status == 200 and body == first[req["path"]] \
                        else lib.check(req, status, body)
                    t.add(req, status, body, s0, s1, err)
                mine.append(time.perf_counter() - t0)
            return mine

        warm_up = Tally(COLD_LIMIT_S)
        loop(time.perf_counter() + 4.0, warm_up)  # untimed warm-up of the hit path
        results.put(None)
        go.wait()
        t = Tally(WARM_LIMIT_S)
        mine = loop(time.perf_counter() + a.seconds, t)
        results.put((warm_up.fields(), t.fields(), mine))

    kids = [mp.Process(target=client_loop, args=(i,)) for i in range(CPUS)]
    try:
        for k in kids:
            k.start()
        for _ in kids:
            results.get(timeout=60)
        start_measuring(a, ctl)
        cpu0, t_start = proc_cpu_ms(p.pid), time.perf_counter()
        go.set()
        tally, rounds = Tally(WARM_LIMIT_S), []
        for _ in kids:
            w, t, mine = results.get(timeout=a.seconds + 60)
            warm.merge(w)
            tally.merge(t)
            rounds.extend(mine)
        wall = time.perf_counter() - t_start
        cpu = proc_cpu_ms(p.pid) - cpu0
    except queue.Empty:
        raise SystemExit("a warm client process stopped without a result")
    finally:
        for k in kids:
            if k.is_alive():
                k.terminate()
            k.join()
    return finish_serving(a, p, ctl, setup_s, tally, rounds, cpu, wall, warm, len(tally.lat))


def ingest_serve(a, cp, key):
    """Lands INGEST_DAYS new days, one batch each: append, then maintain the
    trailing rollups. Once a day is appended, a reader polls the windows
    ending at it; its 1-day window is stale (raw scan) until that day's
    maintenance has rebuilt it. Polling ends when the last day's rollup
    answer has arrived, and lasts at least --seconds."""
    pristine = archive(cp, key, "pristine")
    root = os.path.join(os.path.dirname(pristine), "ingest")
    restore(pristine, root)
    p, port, ctl, setup_s = launch(cp, root, a.trace, a.seed)
    make = lib.reader_requests(a.seed)
    stop_flag = threading.Event()
    tally, checks, warm = Tally(COLD_LIMIT_S), Tally(COLD_LIMIT_S), Tally(COLD_LIMIT_S)
    days = [lib.ARCHIVE_END.date() + dt.timedelta(days=k) for k in range(INGEST_DAYS)]
    current = [days[0]]  # the newest appended day
    first_daily = {}  # day -> the reader's first answer for its 1-day window

    def reader():
        c, day, j = Client(port), None, 0
        while not stop_flag.is_set():
            if current[0] != day:
                day, j = current[0], 0
            r = fetch(c, make(day, j), tally)  # j even: the day's 1-day summary
            if j == 0:
                first_daily[day] = r
            j += 1

    checker = Client(port)
    fetch(checker, make(days[0] - dt.timedelta(days=1), 0), warm)  # JIT warm-up, not timed
    before = control(ctl, "/index")
    start_measuring(a, ctl)
    cpu0, t_start = proc_cpu_ms(p.pid), time.perf_counter()
    th = threading.Thread(target=reader)
    landed, lags, rolled = [], [], {}
    try:
        for k, day in enumerate(days):
            t_day = time.perf_counter()
            landed.append(control(ctl, f"/append?day={day.isoformat()}&batch={k}"))
            # The reader's next poll is this day's 1-day window, sent as the
            # maintenance starts: it has no rollup yet, so it is the
            # raw-scan answer the rollup-served one is checked against.
            current[0] = day
            if not th.is_alive():
                th.start()
            landed[-1].update(control(ctl, "/maintain"))
            rolled[day] = fetch(checker, lib.daily(day, 1, band_low=2), checks)
            lags.append(rolled[day][3] - t_day)
        while time.perf_counter() - t_start < a.seconds:
            time.sleep(0.05)
    finally:
        stop_flag.set()
        if th.is_alive():
            th.join()
    wall = time.perf_counter() - t_start
    cpu = proc_cpu_ms(p.pid) - cpu0
    after = control(ctl, "/index")
    for day, d, lag in zip(days, landed, lags):
        log(f"landed {day}: {d}, fresh lag {lag:.3f} s")
        if day not in first_daily:
            checks.failed += 1
            checks.errors.append(f"{day}: the reader never polled it, so no raw-scan answer")
        elif not (first_daily[day][4] or rolled[day][4]
                  or lib.same_daily(first_daily[day][1], rolled[day][1])):
            checks.failed += 1
            checks.errors.append(f"{day}: rollup answer differs from the raw scan")
    checks.attempted += warm.attempted
    checks.failed += warm.failed
    checks.errors += warm.errors
    res = finish_serving(a, p, ctl, setup_s, tally, lags, cpu, wall, checks, len(days))
    res["landed"] = landed
    res["index_delta"] = {k: after[k] - before[k] for k in ("files", "bytes")}
    return res


def start_measuring(a, ctl):
    if a.trace:
        control(ctl, "/reset")


def finish_serving(a, p, ctl, setup_s, tally, rounds, cpu_ms, wall, checks, ops):
    trace = control(ctl, "/trace") if a.trace else None
    heap = control(ctl, "/heap")["live_heap_mb"]
    stop(p, kill=True)  # everything is collected; skip Spark's shutdown hooks
    return {"setup_s": setup_s, "tally": tally, "rounds": rounds, "cpu_ms": cpu_ms,
            "wall": wall, "heap": heap, "checks": checks, "ops": ops, "trace": trace}


# ---- contract cells ----------------------------------------------------------

def canon(df):
    """tools/check_oracle.py's comparison form: columns by name, values as
    strings, rows sorted."""
    df = df[sorted(df.columns)]
    return sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))


def oracle_check(tables, out_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tables}/events.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    errors = []
    for cell, sql in sorted(oracle.items()):
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{cell}/*.parquet')").fetchdf()
        exp = con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(exp.columns):
            errors.append(f"{cell}: schema {sorted(got.columns)} != {sorted(exp.columns)}")
        elif canon(got) != canon(exp):
            errors.append(f"{cell}: values differ from the DuckDB oracle")
    return len(oracle), errors


def contract_batch(a, cp, key):
    tables = os.path.join(WORK, "contract", f"seed-{a.seed}")
    out_dir = os.path.join(WORK, "contract", "out")
    events_table(a.seed, tables)
    shutil.rmtree(out_dir, ignore_errors=True)
    args = [tables, ",".join(lib.cell_order(a.seed)), str(int(a.trace)), out_dir]
    t0 = time.perf_counter()  # set-up: launch to a built session
    p = java(cp, "perfbench.Contract", args, "contract.log")
    if p.stdout.readline().strip() != "READY":
        raise SystemExit("contract process failed (see perfbench/.work/logs/contract.log)")
    setup_s = time.perf_counter() - t0
    try:
        out, _ = p.communicate(timeout=170)
    finally:
        stop(p, kill=True)
    if p.returncode != 0:
        raise SystemExit("contract cells failed (see perfbench/.work/logs/contract.log)")
    r = json.loads(out.strip().splitlines()[-1])
    n, errors = oracle_check(tables, out_dir)
    shutil.rmtree(tables, ignore_errors=True)
    checks = Tally(COLD_LIMIT_S)
    checks.attempted, checks.failed, checks.errors = n, len(errors), errors
    tally = Tally(None)
    for cell, ms in r["cells"]:
        tally.add({"kind": "cell", "path": cell}, 200, b"{}", 0.0, ms / 1e3, None)
    wall = sum(ms for _, ms in r["cells"]) / 1e3
    return {"setup_s": setup_s, "tally": tally, "rounds": [wall], "cpu_ms": r["cpu_ms"],
            "wall": wall, "heap": r["live_heap_mb"], "checks": checks, "ops": len(r["cells"]),
            "trace": r["trace"] if a.trace else None}


# ---- metrics -----------------------------------------------------------------

def end_to_end(res):
    """The gated metrics (BENCHMARK.json's end_to_end), each meaningful on
    every workload. Request rate and SLO share are logged, not gated: on
    the contract cells they would be 15 / round_p50_s and a latency limit
    nobody published."""
    t = res["tally"]
    pct, tail_s, n = lib.tail(t.lat)
    # informational: the median jumps between clusters of a few dozen samples,
    # and below 20 samples the tail percentile is not above the median
    log(f"ops: p50 {lib.median(t.lat) * 1e3:.1f} ms, "
        f"tail p{pct:.4g} of {n} samples = {tail_s * 1e3:.1f} ms")
    if t.limit is not None:
        log(f"requests: {len(t.lat) / res['wall']:.4g}/s, "
            f"{t.ok_in_limit / t.attempted:.4f} answered 200 within {t.limit * 1e3:g} ms")
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_gmean_ms": (lib.gmean(t.lat) * 1e3, "ms"),
        "round_p50_s": (lib.median(res["rounds"]), "s"),
        "cpu_ms_per_op": (res["cpu_ms"] / res["ops"], "ms"),
        "live_heap_mb": (res["heap"], "MB"),
    }


SERVE_CLASSES = ("heatmap", "daily", "raw", "meta")

# per-layer metric -> (unit, better); BENCHMARK.json lists the same names
LAYERS = {
    "serve.http_self_ms": ("ms", "lower"), "serve.resp_kb": ("KB", "lower"),
    **{f"serve.call_ms.{c}": ("ms", "lower") for c in SERVE_CLASSES},
    "serve.driver_ms": ("ms", "lower"), "serve.lru_hit_ratio": ("ratio", "higher"),
    "catalog.bootstrap_ms": ("ms", "lower"), "catalog.load_ms": ("ms", "lower"),
    "catalog.index_files": ("count", "lower"),
    "rollup.maintain_s": ("s", "lower"), "rollup.hit_ratio": ("ratio", "higher"),
    "sources.append_s": ("s", "lower"), "sources.files_per_day": ("count", "lower"),
    "sources.bytes_per_row": ("bytes/row", "lower"), "sources.rows_per_s": ("rows/s", "higher"),
    "plan.analysis_ms": ("ms", "lower"), "plan.optimization_ms": ("ms", "lower"),
    "plan.physical_ms": ("ms", "lower"), "plan.executions_per_op": ("count", "lower"),
    "ops.jobs_per_op": ("count", "lower"), "ops.stages_per_op": ("count", "lower"),
    "ops.tasks_per_op": ("count", "lower"), "ops.task_run_ms": ("ms", "lower"),
    "ops.task_cpu_ms": ("ms", "lower"), "ops.sched_wait_ms": ("ms", "lower"),
    "ops.gc_ms": ("ms", "lower"),
    "scan.files_read": ("count", "lower"), "scan.bytes_read": ("bytes", "lower"),
    "scan.rows_read": ("count", "lower"), "scan.rows_per_point": ("rows/value", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"), "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.spill_bytes": ("bytes", "lower"),
    **{f"queries.cell_s.{c}": ("s", "lower") for c in lib.PARITY_CELLS},
}


def per_layer(res):
    tr = res["trace"] or {}
    c, spans = tr.get("counters", {}), tr.get("spans", [])
    ops = max(1, res["ops"])
    t = res["tally"]

    def cnt(k):
        return c.get(k, 0)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def dur_ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    serve = [s for s in spans if s["name"].startswith("serve.")]
    data = [s for s in serve if not s["name"].startswith("serve.meta.")]
    by = lambda prefix: [dur_ms(s) for s in spans if s["name"].startswith(prefix)]  # noqa: E731
    daily = [s for s in serve if s["name"] == "serve.daily.summary" and s["jobs"] > 0]
    n_req = len(t.lat) or 1
    # every request whose service call the trace holds, ingest's checks included
    client = t.lat + (res["checks"].lat if res.get("landed") else [])
    landed = res.get("landed", [])
    rows = sum(d["rows"] for d in landed)
    delta = res.get("index_delta", {})
    m = {
        "serve.http_self_ms": max(0.0, (sum(client) * 1e3 - sum(map(dur_ms, serve))) / len(client))
        if serve else 0.0,
        "serve.resp_kb": t.bytes / 1024.0 / n_req if serve else 0.0,
        "serve.driver_ms": mean([max(0.0, dur_ms(s) - s["spark_ms"]) for s in serve]),
        "serve.lru_hit_ratio": mean([1.0 if s["jobs"] == 0 else 0.0 for s in data]),
        "catalog.bootstrap_ms": mean(by("catalog.bootstrap")),
        "catalog.load_ms": mean(by("catalog.load")),
        "catalog.index_files": cnt("catalog.index_files") / max(1, len(by("catalog.load"))),
        "rollup.maintain_s": mean(by("rollup.maintain")) / 1e3,
        "rollup.hit_ratio": mean([1.0 if s["reads_rollup"] else 0.0 for s in daily]),
        "sources.append_s": mean(by("sources.append")) / 1e3,
        "sources.files_per_day": delta["files"] / len(landed) if landed else 0.0,
        "sources.bytes_per_row": delta["bytes"] / rows if rows else 0.0,
        "sources.rows_per_s": rows / (sum(d["append_ms"] for d in landed) / 1e3) if rows else 0.0,
        "plan.analysis_ms": cnt("plan.analysis_ms") / ops,
        "plan.optimization_ms": cnt("plan.optimization_ms") / ops,
        "plan.physical_ms": cnt("plan.physical_ms") / ops,
        "plan.executions_per_op": cnt("plan.executions") / ops,
        "ops.jobs_per_op": cnt("ops.jobs") / ops,
        "ops.stages_per_op": cnt("ops.stages") / ops,
        "ops.tasks_per_op": cnt("ops.tasks") / ops,
        "ops.task_run_ms": cnt("ops.task_run_ms") / ops,
        "ops.task_cpu_ms": cnt("ops.task_cpu_ns") / 1e6 / ops,
        "ops.sched_wait_ms": (cnt("ops.stage_wait_ms") + cnt("ops.task_sched_delay_ms")) / ops,
        "ops.gc_ms": cnt("ops.gc_ms") / ops,
        "scan.files_read": cnt("scan.files_read") / ops,
        "scan.bytes_read": cnt("scan.bytes_read") / ops,
        "scan.rows_read": cnt("scan.rows_read") / ops,
        "scan.rows_per_point": cnt("scan.rows_read") / t.values if t.values else 0.0,
        "shuffle.write_bytes": cnt("shuffle.write_bytes") / ops,
        "shuffle.read_bytes": cnt("shuffle.read_bytes") / ops,
        "shuffle.spill_bytes": cnt("shuffle.spill_bytes") / ops,
    }
    for cls in SERVE_CLASSES:
        m[f"serve.call_ms.{cls}"] = mean(by(f"serve.{cls}."))
    for cell in lib.PARITY_CELLS:
        m[f"queries.cell_s.{cell}"] = lib.median(by(f"queries.cell.{cell}")) / 1e3 \
            if by(f"queries.cell.{cell}") else 0.0
    assert m.keys() == LAYERS.keys()
    return m


def write_trace(a, res, e2e):
    """Spans with self times (duration minus the part child spans cover) and
    the tracing overhead against the last untraced run of this workload."""
    tr = res["trace"] or {}
    spans = tr.get("spans", [])
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered = sum(k["end_ns"] - k["start_ns"] for k in kids.get(s["id"], []))
        s["self_ms"] = (s["end_ns"] - s["start_ns"] - covered) / 1e6
    overhead = {}
    last = os.path.join(WORK, f"last-untraced-{a.workload}.json")
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        overhead = {k: e2e[k][0] - base[k] for k in e2e if k in base}
        log("tracing overhead (traced - untraced): " +
            ", ".join(f"{k}={v:+.4g}" for k, v in overhead.items()))
    else:
        log("tracing overhead: no untraced run of this workload in this checkout yet")
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "counters": tr.get("counters", {}),
                   "traced_end_to_end": {k: v[0] for k, v in e2e.items()},
                   "tracing_overhead": overhead, "spans": spans}, f, indent=1)
    log("trace written to", os.path.relpath(path, ROOT))


WORKLOADS = {"dashboard_cold": dashboard_cold, "dashboard_warm": dashboard_warm,
             "ingest_serve": ingest_serve, "contract_batch": contract_batch}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no program sources beside perfbench/: run from a full checkout of the repository")
        return 2
    drift = lib.session_drift(ROOT, os.path.join(
        HERE, "harness", "src", "main", "scala", "perfbench", "Sessions.scala"))
    if drift:
        for d in drift:
            log("session drift:", d)
        log("harness/.../Sessions.scala no longer builds the sessions the program's mains build")
        return 3
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    # Spark scratch of killed processes; every run starts without it
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    try:
        key = source_key()
        cp = build(key)
        steal0, total0 = cpu_times()
        res = WORKLOADS[a.workload](a, cp, key)
        steal1, total1 = cpu_times()
    finally:
        for p in PROCS:
            stop(p, kill=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    # time the hypervisor gave the VM's CPUs to other guests: a run with a
    # high share was slowed from outside the program
    log(f"steal: {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f} % of CPU time")
    t, checks = res["tally"], res["checks"]
    attempted = t.attempted + checks.attempted
    failed = t.failed + checks.failed
    for e in t.errors + checks.errors:
        log("CHECK FAILED:", e)
    e2e = end_to_end(res)
    if a.trace:
        metrics = {k: (v, LAYERS[k][0]) for k, v in per_layer(res).items()}
        write_trace(a, res, e2e)
    else:
        metrics = e2e
        with open(os.path.join(WORK, f"last-untraced-{a.workload}.json"), "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    for k, (v, unit) in metrics.items():
        log(f"{k:<44} {v:>14.4f} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
