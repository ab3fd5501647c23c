"""Seeded input generator for the benchmark workloads.

Every row is drawn from `random.Random(seed)`, so the same seed writes the
same bytes.  Timestamps are anchored to a UTC midnight passed in by the
caller (the run's date), so retention cutoffs computed from the wall clock
(`JdbcSink.retentionDelete`) and from `Pipeline.Retention.asOf` agree and
the expected counts never depend on the calendar.

Beside the parquet files the generator writes the counts every
`Pipeline.run` must report, derived from its own construction by replaying
the pipeline's rules on the rows (see `expect_runs`).
"""

import bisect
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VALUE_MIN, VALUE_MAX = 0.0, 200.0  # operators.Silver.ValueMin/ValueMax

# Workload sizes.  One place, so the doc, the harness and the tests agree.
SIZES = {
    "pipeline_hourly": {"events": 10_000, "days": 35, "users": 1_500,
                        "warmup_events": 1_000,
                        "ticks": 2, "per_tick": 150, "resends": 5},
    "query_suite": {"events": 10_000, "days": 30, "users": 1_500},
}
# The `SparkEntry.queries` of the Silver, Gold BI and quality surface that
# read only the events table, so the generator's events are their whole
# input; each has a DuckDB twin in `SparkEntry.oracleSql`. Left out:
# quality_outlier_fences, whose Spark result and oracle disagree once
# `value` holds nulls (README, "Defects").
QUERIES = [
    "silver_clean", "silver_enrich", "silver_daily_agg", "silver_hourly_agg",
    "serving_latest_per_user", "serving_weekly", "serving_day_night",
    "serving_user_growth", "serving_retention_matrix",
    "quality_dup_scan", "quality_null_scan", "quality_dup_rate_daily",
    "quality_expectations",
]
DUP_SHARE = 0.02      # rows re-using an earlier (user_id, ts) key
NULL_SHARE = 0.01     # per critical column (user_id, value)
RANGE_SHARE = 0.01    # values outside [VALUE_MIN, VALUE_MAX]
ZIPF_S = 1.1

SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def utc_midnight_us(today=None):
    """Microseconds of today's (or `today`'s) 00:00 UTC."""
    d = today or dt.datetime.now(dt.timezone.utc).date()
    return int(dt.datetime(d.year, d.month, d.day,
                           tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


class Gen:
    """Row source: Zipf-skewed users, seeded shares of duplicate keys,
    nulls and out-of-range values (all well under the 10% gate)."""

    def __init__(self, seed, users):
        self.r = random.Random(seed)
        ids = list(range(1, users + 1))
        self.r.shuffle(ids)
        self.user_of_rank = ids
        acc, self.cdf = 0.0, []
        for rank in range(1, users + 1):
            acc += 1.0 / rank ** ZIPF_S
            self.cdf.append(acc)
        self.next_id = 0
        self.keys = []  # (user_id, ts) keys drawn so far; a duplicate re-uses one

    def user(self):
        i = bisect.bisect_left(self.cdf, self.r.random() * self.cdf[-1])
        return self.user_of_rank[min(i, len(self.cdf) - 1)]

    def row(self, lo_us, hi_us):
        r = self.r
        eid = self.next_id
        self.next_id += 1
        if self.keys and r.random() < DUP_SHARE:
            uid, ts = self.keys[int(r.random() * len(self.keys))]
        else:
            uid, ts = self.user(), lo_us + int(r.random() * (hi_us - lo_us))
            self.keys.append((uid, ts))
        value = round(r.random() * 190.0 + 5.0, 2)
        u = r.random()
        if u < RANGE_SHARE:
            value = round(VALUE_MAX + 1.0 + r.random() * 300.0, 2)
        elif u < RANGE_SHARE + NULL_SHARE:
            value = None
        if r.random() < NULL_SHARE:
            uid = None
        etype = EVENT_TYPES[int(r.random() * len(EVENT_TYPES))]
        props = '{"k": %d}' % int(r.random() * 100)
        return (eid, ts, uid, etype, value, props)

    def rows(self, n, lo_us, hi_us):
        return [self.row(lo_us, hi_us) for _ in range(n)]


def write_parquet(rows, path):
    cols = list(zip(*rows)) if rows else [[] for _ in SCHEMA]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, SCHEMA)],
        schema=SCHEMA)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ---- expected counts --------------------------------------------------

def _ymd(ts_us):
    d = dt.datetime.fromtimestamp(ts_us / 1e6, dt.timezone.utc)
    return d.year, d.month, d.day, d.hour


def silver_rows(bronze):
    """operators.Silver.clean: drop null user/ts/value, keep values in
    [VALUE_MIN, VALUE_MAX], then first row by event_id per (user_id, ts)."""
    first = {}
    for row in bronze:
        eid, ts, uid, _, value, _ = row
        if uid is None or value is None or not VALUE_MIN <= value <= VALUE_MAX:
            continue
        k = (uid, ts)
        if k not in first or eid < first[k][0]:
            first[k] = row
    return list(first.values())


def _swept_dirs(partitions, cutoff):
    """Directories `Bronze.retentionSweep` removes from a year/month/day
    layout: the highest level whose last covered date is before cutoff."""
    removed = 0
    for y in sorted({p[0] for p in partitions}):
        if dt.date(y, 12, 31) < cutoff:
            removed += 1
            continue
        for m in sorted({p[1] for p in partitions if p[0] == y}):
            nxt = dt.date(y + (m == 12), m % 12 + 1, 1)
            if nxt - dt.timedelta(days=1) < cutoff:
                removed += 1
                continue
            removed += sum(1 for p in partitions
                           if p[:2] == (y, m) and dt.date(*p) < cutoff)
    return removed


def expect_runs(landings, as_of, retention_days=None):
    """Expected `Pipeline.Report` fields for one `Pipeline.run` after each
    entry of `landings` (a list of row lists; an empty list is a replay).

    Bronze holds every landed row minus those a previous run's retention
    swept; Silver re-processes all of Bronze each run; Gold loads only keys
    it has not seen.  Gold retention deletes nothing because every row is
    younger than the 365-day tier.  Silver's 90-day tier never reaches the
    generated history, so only Bronze directories are swept."""
    bronze, out = [], []
    gold = (set(), set(), set())
    for landed in landings:
        bronze = bronze + landed
        read = len(bronze)
        silver = silver_rows(bronze)
        tiers = ({r[0] for r in silver},
                 {(r[3],) + _ymd(r[1])[:3] for r in silver},
                 {(r[3],) + _ymd(r[1]) for r in silver})
        loaded = [len(t - g) for t, g in zip(tiers, gold)]
        for t, g in zip(tiers, gold):
            g |= t
        deleted = None
        if retention_days is not None:
            cutoff = as_of - dt.timedelta(days=retention_days)
            deleted = _swept_dirs({_ymd(r[1])[:3] for r in bronze}, cutoff)
            bronze = [r for r in bronze if dt.date(*_ymd(r[1])[:3]) >= cutoff]
        out.append({"bronze": read, "silver": len(silver), "gold": loaded,
                    "deleted": deleted})
    return out


# ---- workloads ----------------------------------------------------------

def build(workload, seed, out, anchor_us):
    """Write the inputs of one workload under `out` and return its manifest
    (file names relative to `out`, landed bytes, expected run reports)."""
    os.makedirs(out, exist_ok=True)
    size = SIZES[workload]
    g = Gen(seed, size["users"])
    as_of = dt.datetime.fromtimestamp(anchor_us / 1e6, dt.timezone.utc).date()
    lo = anchor_us - size["days"] * DAY_US
    history = g.rows(size["events"], lo, anchor_us)
    # the queries read `<dir>/events.parquet`
    hist = "events.parquet" if workload == "query_suite" else "history.parquet"
    m = {"workload": workload, "seed": seed, "anchor_us": anchor_us,
         "as_of": as_of.isoformat(), "history": hist}
    landed = write_parquet(history, os.path.join(out, hist))
    if workload == "query_suite":
        m["queries"] = QUERIES
    else:
        # the JIT warm-up lands a prefix: same code paths, a tenth of the rows
        warm = history[:size["warmup_events"]]
        write_parquet(warm, os.path.join(out, "warmup.parquet"))
        m.update(warmup="warmup.parquet",
                 warmup_cold=expect_runs([warm], as_of, 30)[0])
        recent = [r for r in silver_rows(history) if r[1] >= anchor_us - 2 * DAY_US]
        ticks = []
        for h in range(size["ticks"]):
            g.keys = []  # duplicate keys stay inside the hour they land in
            start = anchor_us + h * HOUR_US
            rows = g.rows(size["per_tick"], start, start + HOUR_US)
            rows += [recent[int(g.r.random() * len(recent))]
                     for _ in range(size["resends"])]
            name = "tick_%02d.parquet" % h
            landed += write_parquet(rows, os.path.join(out, name))
            ticks.append((name, rows))
        runs = expect_runs([history] + [t[1] for t in ticks] + [[]], as_of, 30)
        m.update(cold=runs[0], replay=runs[-1],
                 ticks=[{"file": name, "expect": e}
                        for (name, _), e in zip(ticks, runs[1:-1])])
    m["landed_bytes"] = landed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m
