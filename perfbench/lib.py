"""Pure helpers of the benchmark: statistics, seeded input generators and
the response checks. Nothing here starts a process or opens a socket, so
all of it is covered by tests/test_lib.py."""
import datetime as dt
import json
import math
import random
import re

# ---- archive geometry ------------------------------------------------------

HYDROPHONE = "orcasound_lab"
# One month written by HeadToHead.buildArchive (February: the shortest month
# it can write) at delta_t=1 with two third-octave bands.
ARCHIVE_START = dt.datetime(2021, 2, 1)
ARCHIVE_END = dt.datetime(2021, 3, 1)
BANDS = (63.0, 8000.0)

# AmbientService's LRU capacities (aggregations, timeseries).
AGG_LRU = 64
TS_LRU = 128

# RequestPlanner.resolveInterval: the finest interval with <= 1000 buckets.
INTERVALS = (("10s", 10), ("1m", 60), ("5m", 300), ("15m", 900), ("1h", 3600), ("1d", 86400))
AUTO_TARGET = 1000


def resolve_interval(window_s):
    for name, secs in INTERVALS:
        if -(-window_s // secs) <= AUTO_TARGET:
            return name, secs
    return INTERVALS[-1]


def epoch(t):
    return int((t - dt.datetime(1970, 1, 1)).total_seconds())


def expected_buckets(start, end, secs, data_start, data_end):
    """Epoch-aligned buckets of `secs` seconds holding at least one second
    of [start, end) that the archive covers (one sample every second)."""
    lo, hi = max(epoch(start), epoch(data_start)), min(epoch(end), epoch(data_end))
    return 0 if lo >= hi else (hi - 1) // secs - lo // secs + 1


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S")


# ---- statistics --------------------------------------------------------------

def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def gmean(xs):
    """Geometric mean: the typical latency of a run's ops. Every sample
    counts, so it does not jump between clusters as the median of a few
    dozen heterogeneous samples does, and one slow outlier moves it less
    than the arithmetic mean."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs):
    """The highest nearest-rank percentile with at least ten samples beyond
    it: (percentile, value, sample count). With ten samples or fewer there
    is no such percentile and the maximum is returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1], n
    k = n - 10  # 1-based rank with exactly ten samples above it
    return 100.0 * k / n, s[k - 1], n


class Zipf:
    """Seeded Zipf(s) draws over ranks 0..n-1."""

    def __init__(self, n, s, rng):
        w = [1.0 / (i + 1) ** s for i in range(n)]
        total = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / total
            self.cdf.append(acc)
        self.rng = rng

    def draw(self):
        u = self.rng.random()
        lo, hi = 0, len(self.cdf) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return lo


# ---- requests ----------------------------------------------------------------

H = "hydrophone=" + HYDROPHONE


def heatmap(start, end, data_end=ARCHIVE_END):
    name, secs = resolve_interval(epoch(end) - epoch(start))
    return {"kind": "heatmap",
            "path": f"/aggregations/psd?{H}&start={iso(start)}&end={iso(end)}"
                    f"&interval=auto&delta_f=3oct&delta_t=1",
            "buckets": expected_buckets(start, end, secs, ARCHIVE_START, data_end)}


def daily(start_date, days, band_high=8000, band_low=63):
    """A daily summary over all bands: any band_low <= 63 and band_high >=
    8000 select the same bands, so these parameters only vary the key."""
    return {"kind": "daily",
            "path": f"/aggregations/daily-summary?{H}&start_date={start_date.isoformat()}"
                    f"&num_days={days}&band_low={band_low}&band_high={band_high}",
            "window": (start_date.isoformat(), days)}


def daily_broadband(start_date, days):
    lo = max(start_date, ARCHIVE_START.date())
    hi = min(start_date + dt.timedelta(days=days), ARCHIVE_END.date())
    return {"kind": "daily_broadband",
            "path": f"/aggregations/daily-broadband-summary?{H}"
                    f"&start_date={start_date.isoformat()}&num_days={days}",
            "points": max(0, (hi - lo).days)}


def raw(start, minutes=30):
    end = start + dt.timedelta(minutes=minutes)
    return {"kind": "raw",
            "path": f"/timeseries/broadband?{H}&start={iso(start)}&end={iso(end)}&delta_t=1",
            "points": expected_buckets(start, end, 1, ARCHIVE_START, ARCHIVE_END)}


def broadband_agg(start, end):
    name, secs = resolve_interval(epoch(end) - epoch(start))
    return {"kind": "broadband_agg",
            "path": f"/aggregations/broadband?{H}&start={iso(start)}&end={iso(end)}"
                    f"&interval=auto",
            "points": expected_buckets(start, end, secs, ARCHIVE_START, ARCHIVE_END)}


OPTIONS = {"kind": "options", "path": f"/options?{H}"}

HEATMAP_SPANS = (dt.timedelta(hours=1), dt.timedelta(hours=6), dt.timedelta(hours=24),
                 dt.timedelta(days=7), dt.timedelta(days=30))
DAILY_DAYS = (1, 7, 30)


class DistinctKeys:
    """Asserts that no request path repeats (so none can be an LRU hit)."""

    def __init__(self):
        self.seen = set()

    def add(self, req):
        assert req["path"] not in self.seen, "repeated request key: " + req["path"]
        self.seen.add(req["path"])
        return req

    def fresh(self, make):
        """Calls `make` until it yields an unseen key, then records it."""
        for _ in range(1000):
            req = make()
            if req["path"] not in self.seen:
                return self.add(req)
        raise AssertionError("no distinct key left for " + make().get("kind", "?"))


def _seconds(rng, span):
    return dt.timedelta(seconds=rng.randrange(max(1, int(span.total_seconds()))))


def ending(end, span, data_end=ARCHIVE_END):
    """The heatmap of the `span` ending at `end`."""
    return heatmap(end - span, end, data_end)


def _aggregation(start, span):
    return broadband_agg(start, start + span)


def _some_days(rng):
    """A daily broadband window of 5-30 days starting inside the archive."""
    return daily_broadband(ARCHIVE_END.date() - dt.timedelta(days=1 + rng.randrange(28)),
                           rng.randint(5, 30))


def cold_refreshes(seed):
    """Endless seeded dashboard refreshes of four charts each, every key
    distinct: a PSD heatmap, a daily summary, a daily broadband summary and
    either a raw 30 min broadband window or a broadband aggregation.

    Chart shapes rotate (heatmap span; daily window length and whether it
    sits on a maintained trailing window; raw vs aggregated broadband) from
    the same starting point for every seed, so the k-th refresh of every run
    has the same shape and runs of any length compare. The seed picks every
    window offset."""
    rng = random.Random(seed)
    keys = DistinctKeys()
    end_day, month = ARCHIVE_END.date(), ARCHIVE_END - ARCHIVE_START
    band_high = 8001 + rng.randrange(100)
    k = 0
    while True:
        span = HEATMAP_SPANS[k % len(HEATMAP_SPANS)]
        room = month - span if span < month else dt.timedelta(days=7)
        hm = keys.fresh(lambda: ending(ARCHIVE_END - _seconds(rng, room), span))
        days = DAILY_DAYS[k % 3]
        anchored = k // 3 % 2 == 0
        # anchored: exactly a maintained trailing window (rollup-served);
        # off-anchor: shifted back by whole days, so it falls back to the raw scan
        shift = 0 if anchored else 1 + rng.randrange(max(1, 28 - days) if days < 28 else 3)
        dy = keys.add(daily(end_day - dt.timedelta(days=days + shift), days, band_high))
        band_high += 1
        bb = keys.fresh(lambda: _some_days(rng))
        if k % 2 == 0:
            last = keys.fresh(lambda: raw(ARCHIVE_START + _seconds(
                rng, month - dt.timedelta(minutes=30))))
        else:
            agg_span = (dt.timedelta(hours=24), dt.timedelta(days=7))[k // 2 % 2]
            last = keys.fresh(lambda: _aggregation(
                ARCHIVE_START + _seconds(rng, month - agg_span), agg_span))
        k += 1
        yield [hm, dy, bb, last]


def assert_fits_lru(pool):
    """The warm pool must fit AmbientService's LRUs, or warm requests would
    evict each other and recompute. Returns (aggregation keys, timeseries keys)."""
    paths = [r["path"] for r in pool]
    assert len(paths) == len(set(paths)), "warm pool repeats a key"
    agg = sum(r["kind"] in ("heatmap", "daily", "daily_broadband", "broadband_agg")
              for r in pool)
    ts = sum(r["kind"] == "raw" for r in pool)
    assert agg <= AGG_LRU, f"{agg} aggregation keys exceed the {AGG_LRU}-entry LRU"
    assert ts <= TS_LRU, f"{ts} timeseries keys exceed the {TS_LRU}-entry LRU"
    return agg, ts


def warm_pool(seed):
    """A seeded, fixed key pool for the warm dashboard, in Zipf rank order:
    5 heatmaps (one per span), 3 maintained daily summaries (1/7/30 days),
    2 daily broadband summaries, 2 broadband aggregations, 12 raw windows
    and /options. The kinds take turns down the ranks in the same order for
    every seed, so every seed serves the same mix of response shapes; the
    seed picks only the windows."""
    rng = random.Random(seed)
    keys = DistinctKeys()
    end_day, month = ARCHIVE_END.date(), ARCHIVE_END - ARCHIVE_START
    heatmaps, dailies, broadband, aggs, raws = [], [], [], [], []
    for span in HEATMAP_SPANS:
        room = month - span if span < month else dt.timedelta(days=7)
        heatmaps.append(keys.fresh(lambda: ending(ARCHIVE_END - _seconds(rng, room), span)))
    for days in DAILY_DAYS:
        dailies.append(keys.add(daily(end_day - dt.timedelta(days=days), days)))
    for _ in range(2):
        broadband.append(keys.fresh(lambda: _some_days(rng)))
    for _ in range(2):
        aggs.append(keys.fresh(lambda: _aggregation(
            ARCHIVE_START + _seconds(rng, month - dt.timedelta(days=1)), dt.timedelta(days=1))))
    for _ in range(12):
        raws.append(keys.fresh(lambda: raw(ARCHIVE_START + _seconds(
            rng, month - dt.timedelta(minutes=30)))))
    kinds = [heatmaps, dailies, broadband, aggs, raws, [keys.add(dict(OPTIONS))]]
    pool = [k[i] for i in range(max(map(len, kinds))) for k in kinds if i < len(k)]
    assert_fits_lru(pool)
    return pool


def reader_requests(seed):
    """The ingest workload's poller: `make(day, i)` gives its i-th request,
    alternating the trailing 1-day daily summary of `day` and a 24 h heatmap
    ending within its last hour — two requests of similar cost, so the
    median of a run's few polls is steady. Every key is distinct (a fresh
    band_high, a shifted heatmap end), so each poll is computed."""
    rng = random.Random(seed)
    keys = DistinctKeys()
    band_high = [8001 + rng.randrange(100)]

    def make(day, i):
        if i % 2:
            data_end = dt.datetime.combine(day + dt.timedelta(days=1), dt.time())
            return keys.fresh(lambda: ending(data_end - _seconds(rng, dt.timedelta(hours=1)),
                                             dt.timedelta(hours=24), data_end))
        band_high[0] += 1
        return keys.add(daily(day, 1, band_high[0]))
    return make


# ---- contract inputs -----------------------------------------------------------

PARITY_CELLS = (
    "q_ts_points", "q_resample_broadband", "q_resample_bands", "q_band_range_mean",
    "q_daily_summary", "q_tod_bucket_mean", "q_daily_broadband", "q_catalog_inventory",
    "q_distinct_sorted", "q_psd_matrix", "q_finite_filter", "q_file_match_count",
    "q_expected_points", "q_empty_window", "q_merge_lastwins")

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def cell_order(seed):
    order = list(PARITY_CELLS)
    random.Random(seed).shuffle(order)
    return order


def events_rows(seed, n):
    """The `events` table the contract cells read, as column lists: n events
    through January 2024 in time order, in the shape of the program's test
    tables (event_id, ts in microseconds, user_id, event_type, value with
    two decimals, props)."""
    rng = random.Random(seed)
    span_us = 30 * 86400 * 10**6
    t0 = epoch(dt.datetime(2024, 1, 1)) * 10**6
    ts = sorted(t0 + rng.randrange(span_us) for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts": ts,
        "user_id": [rng.randrange(150) for _ in range(n)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(rng.expovariate(1 / 50.0) + 0.01, 2) for _ in range(n)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n)],
    }


# ---- response checks -------------------------------------------------------------

def _finite(xs):
    return all(isinstance(v, (int, float)) and math.isfinite(v) for v in xs)


def check(req, status, body):
    """None when the response is right for the request, else the reason."""
    if status != 200:
        return f"status {status}"
    try:
        r = json.loads(body)
    except ValueError:
        return "body is not JSON"
    kind = req["kind"]
    if kind == "heatmap":
        n = req["buckets"]
        if r["time_count"] != n or len(r["values"]) != n:
            return f"time_count {r['time_count']} != {n}"
        if r["frequency_count"] != len(BANDS):
            return f"frequency_count {r['frequency_count']}"
        if not all(len(row) == len(BANDS) and _finite(row) for row in r["values"]):
            return "non-finite heatmap value"
    elif kind == "daily":
        for s in ("mean", "min", "max", "count"):
            if r[s + "_length"] != 288 or len(r[s]) != 288:
                return f"{s}_length {r[s + '_length']} != 288"
            if not _finite(p["value"] for p in r[s]):
                return f"non-finite {s}"
    elif kind in ("daily_broadband", "raw", "broadband_agg"):
        if r["point_count"] != req["points"] or len(r["points"]) != req["points"]:
            return f"point_count {r['point_count']} != {req['points']}"
        if not _finite(p["value"] for p in r["points"]):
            return "non-finite point"
    elif kind == "options":
        if not r["hydrophones"]:
            return "no hydrophones"
    return None


def same_daily(a, b, rel=1e-9):
    """Two daily-summary bodies carry the same four series (the rollup-served
    answer against the raw-scan one)."""
    ra, rb = json.loads(a), json.loads(b)
    for s in ("mean", "min", "max", "count"):
        xa, xb = ra[s], rb[s]
        if [p["time_of_day"] for p in xa] != [p["time_of_day"] for p in xb]:
            return False
        if any(abs(p["value"] - q["value"]) > rel * max(1.0, abs(q["value"]))
               for p, q in zip(xa, xb)):
            return False
    return True


# ---- session recipes ---------------------------------------------------------------

def builder_calls(source, after=""):
    """The calls of the first `SparkSession.builder()` chain in Scala
    `source` (after the text `after`), up to `.getOrCreate()`: a sorted list
    of `name(args)` strings with comments and whitespace removed."""
    src = re.sub(r"//[^\n]*", "", source)
    start = src.index("SparkSession.builder()", src.index(after))
    chain = src[start + len("SparkSession.builder()"):src.index(".getOrCreate()", start)]
    chain = re.sub(r"\s+", "", chain)
    calls, depth, cur = [], 0, ""
    for ch in chain:
        if ch == "." and depth == 0:
            if cur:
                calls.append(cur)
            cur = ""
            continue
        depth += (ch == "(") - (ch == ")")
        cur += ch
    if cur:
        calls.append(cur)
    return sorted(calls)


SESSION_MAINS = (  # Sessions.scala recipe -> (program main, Scala source)
    ("serving", "graft.serve.ServeMain", "src/main/scala/graft/serve/ServeMain.scala"),
    ("batch", "graft.Verify", "src/main/scala/graft/Verify.scala"),
)


def session_drift(root, sessions_path):
    """Differences between the harness's session recipes and the program
    mains' own builder chains, one line each; empty when they agree."""
    with open(sessions_path) as f:
        harness = f.read()
    out = []
    for recipe, main, rel in SESSION_MAINS:
        with open(f"{root}/{rel}") as f:
            want = builder_calls(f.read())
        got = builder_calls(harness, f"def {recipe}()")
        for c in sorted(set(want) - set(got)):
            out.append(f"Sessions.{recipe} lacks {main}'s .{c}")
        for c in sorted(set(got) - set(want)):
            out.append(f"Sessions.{recipe} adds .{c}, which {main} does not set")
    return out
