"""Seeded input generator for the benchmark workloads.

Daily OHLCV bars follow the batch producer of the reference pipeline (one
bar per symbol and trading day, a multiplicative random walk on the close);
ticks follow its stream producer (a random-walk price every 10 seconds per
symbol, with `change`, a `change_percent` string ending in '%', a string
volume and an ISO-8601 timestamp). The same seed gives byte-identical
files: every value comes from one `random.Random(seed)` drawn in a fixed
order, and floats are written with fixed formats.
"""
import datetime as dt
import json
import os
import random

SYMBOLS = 1000          # daily_merge: symbols per trading day
LQ_SYMBOLS = 500
SECTORS = 11
DM_CLIENTS = 4          # daily_merge writers, one year each
DM_FIRST_YEAR = 2021
DM_OPS_PER_CLIENT = 40  # more than a run completes at HEAD
RESTATE_EVERY = 5       # every 5th daily_merge op is a restatement
RESTATE_DAYS = 5
LQ_YEAR = 2023
LQ_CLIENTS = 4
LQ_OPS_PER_CLIENT = 1200  # 100 rounds; a 10 s run takes 3
# ops per round and kind, cheapest kind first: the median op falls inside
# range_agg and the 75th percentile inside movers, not between two kinds
LQ_MIX = {"meta": 2, "point": 2, "range_agg": 4, "movers": 2, "indicator": 1,
          "time_travel": 1}
TICK_SYMBOLS = 8        # the reference stream producer's symbol count
TICK_SECONDS = 10
SLICE_MINUTES = 15
TICK_SLICES = 48        # 12 hours; a run at HEAD reads 4
BAR_HEADER = "symbol,date,open,high,low,close,volume"


def symbols(n, prefix="S"):
    width = len(str(n - 1))
    return [f"{prefix}{i:0{width}d}" for i in range(n)]


def weekdays(first, last):
    d = first
    out = []
    while d <= last:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def walk_bars(rng, syms, days):
    """{day: [csv line per symbol]} of daily bars, one random walk per symbol."""
    close = {s: round(rng.uniform(20.0, 400.0), 2) for s in syms}
    out = {}
    for d in days:
        lines = []
        iso = d.isoformat()
        for s in syms:
            o = round(close[s] * (1.0 + rng.gauss(0.0, 0.01)), 2)
            c = round(o * (1.0 + rng.gauss(0.0, 0.02)), 2)
            h = round(max(o, c) * (1.0 + rng.uniform(0.0, 0.01)), 2)
            lo = round(min(o, c) * (1.0 - rng.uniform(0.0, 0.01)), 2)
            v = rng.randint(100_000, 10_000_000)
            close[s] = c
            lines.append(f"{s},{iso},{o:.2f},{h:.2f},{lo:.2f},{c:.2f},{v}")
        out[d] = lines
    return out


def restated(rng, lines):
    """Corrected bars for a restatement: close and volume revised."""
    out = []
    for ln in lines:
        s, d, o, h, lo, c, v = ln.split(",")
        c2 = round(float(c) * (1.0 + rng.uniform(-0.002, 0.002)), 2)
        h2 = max(float(h), c2)
        lo2 = min(float(lo), c2)
        v2 = int(v) + rng.randint(1, 1000)
        out.append(f"{s},{d},{o},{h2:.2f},{lo2:.2f},{c2:.2f},{v2}")
    return out


def write(path, header, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def gen_daily_merge(rng, out):
    """Seed table (the first ten trading days of each client's year) and one op
    file per client op: op k is a day's bars, or, when k % RESTATE_EVERY
    is RESTATE_EVERY - 1, a restatement of the client's last RESTATE_DAYS
    scheduled days."""
    syms = symbols(SYMBOLS)
    seed_lines = []
    for c in range(DM_CLIENTS):
        year = DM_FIRST_YEAR + c
        days = weekdays(dt.date(year, 1, 1), dt.date(year, 12, 31))
        seeded = days[:10]
        n_daily = DM_OPS_PER_CLIENT - DM_OPS_PER_CLIENT // RESTATE_EVERY
        loaded = days[10:10 + n_daily]
        bars = walk_bars(rng, syms, seeded + loaded)
        for d in seeded:
            seed_lines.extend(bars[d])
        done = []
        for k in range(DM_OPS_PER_CLIENT):
            if k % RESTATE_EVERY == RESTATE_EVERY - 1:
                lines = []
                for d in (seeded + done)[-RESTATE_DAYS:]:
                    lines.extend(restated(rng, bars[d]))
                kind = "restate"
            else:
                d = loaded[len(done)]
                done.append(d)
                lines = bars[d]
                kind = "daily"
            write(os.path.join(out, f"c{c}", f"op{k:03d}_{kind}.csv"),
                  BAR_HEADER, lines)
    write(os.path.join(out, "seed.csv"), BAR_HEADER, seed_lines)


def gen_lake_query(rng, out):
    """One year of bars in a full-year load and a restatement of its last
    RESTATE_DAYS trading days, a symbol->sector dimension, one op instance
    per kind and each client's seeded op sequence over them.

    The seed draws the values, the sectors and the symbols the ops read;
    the months the ops and the restatement touch are fixed, because a month
    the restatement rewrote reads at another cost, and letting the seed pick
    them would make runs of different seeds different workloads."""
    syms = symbols(LQ_SYMBOLS)
    days = weekdays(dt.date(LQ_YEAR, 1, 1), dt.date(LQ_YEAR, 12, 31))
    bars = walk_bars(rng, syms, days)
    write(os.path.join(out, "load0.csv"), BAR_HEADER,
          [ln for d in days for ln in bars[d]])
    write(os.path.join(out, "load1.csv"), BAR_HEADER,
          [ln for d in days[-RESTATE_DAYS:] for ln in restated(rng, bars[d])])
    write(os.path.join(out, "sectors.csv"), "symbol,sector",
          [f"{s},SEC{rng.randrange(SECTORS):02d}" for s in syms])
    months = [f"{LQ_YEAR}-{m:02d}" for m in range(1, 13)]
    pool = [
        {"kind": "point", "symbol": rng.choice(syms), "months": months[10:12]},
        {"kind": "range_agg", "months": months[9:12]},
        {"kind": "indicator", "symbols": sorted(rng.sample(syms, 50)),
         "months": months[9:12]},
        {"kind": "movers", "month": months[11], "k": 3},
        {"kind": "time_travel", "version": 1},
        {"kind": "meta", "column": "close"},
    ]
    # Each client runs rounds of LQ_MIX in seeded orders, so every run has
    # the same op mix.
    kind_of = {p["kind"]: i for i, p in enumerate(pool)}
    rnd = [kind_of[k] for k, n in LQ_MIX.items() for _ in range(n)]
    rounds = LQ_OPS_PER_CLIENT // len(rnd)
    schedule = [[i for _ in range(rounds) for i in rng.sample(rnd, len(rnd))]
                for _ in range(LQ_CLIENTS)]
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"pool": pool, "round_ops": len(rnd), "schedule": schedule},
                  f, sort_keys=True)


def gen_tick_stream(rng, out):
    """One CSV per 15-minute slice of 10-second ticks, named and timestamped
    in slice order. Tick times sit 3 s past a 10 s grid, so the watermark
    (max event time - 5 minutes) never lands on a window boundary."""
    syms = symbols(TICK_SYMBOLS, "T")
    price = {s: round(rng.uniform(20.0, 400.0), 2) for s in syms}
    start = dt.datetime(2024, 3, 4, 9, 30, 0)
    per_slice = SLICE_MINUTES * 60 // TICK_SECONDS
    header = "symbol,price,change,change_percent,volume,timestamp"
    for j in range(TICK_SLICES):
        lines = []
        for i in range(per_slice):
            t = start + dt.timedelta(
                seconds=(j * per_slice + i) * TICK_SECONDS + 3)
            ts = t.isoformat()
            for s in syms:
                prev = price[s]
                p = round(prev * (1.0 + rng.uniform(-0.005, 0.005)), 2)
                price[s] = p
                chg = round(p - prev, 2)
                pct = round(chg / prev * 100.0, 2)
                vol = rng.randint(100, 10_000)
                lines.append(f"{s},{p:.2f},{chg:.2f},{pct:.2f}%,{vol},{ts}")
        path = os.path.join(out, f"slice_{j:04d}.csv")
        write(path, header, lines)
        mtime = 1_700_000_000 + 60 * j
        os.utime(path, (mtime, mtime))


GENERATORS = {
    "daily_merge": gen_daily_merge,
    "lake_query": gen_lake_query,
    "tick_stream": gen_tick_stream,
}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out` (created)."""
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](random.Random(seed), out)
