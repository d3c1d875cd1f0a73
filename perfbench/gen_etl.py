"""Seeded daily-ETL fixture and its expectation model.

`generate(root, seed, ...)` writes CSV drops for a list of markets (`tw`
and `us`, with their symbol formats) under `root/drops/<op>/<market>/`, one
`<SYMBOL>_day.csv` per symbol with dense weekday bars:

* drop 0 is the cold backfill: the whole history of every symbol;
* drops 1..K are daily: each re-sends the last `RESEND` trading days with
  revised closes (so the keep-latest merge has real work) plus the new day.

Planted errors, at the rates below:

* backfill: per market one symbol with a non-positive close
  (`invalid_price`) and one with a calendar gap of GAP_MIN..GAP_MAX days
  after `GAP_SINCE` (`gap_<n>d`); in the last market one header-only file;
* every drop: NULL_RATE of the rows get one null OHLC field (the row is
  dropped, the symbol still passes); one header-only file in a market that
  rotates with the drop number;
* every daily drop: in each market BAD_DAILY symbol(s) whose newest bar
  has a non-positive close (rejected for the day), so every day takes
  the same path through the lifecycle.

`Model` replays the lifecycle's contract without the engine: per-drop
validation (null drop, V1 price, V2 gap, V3 OHLC on W/M/Y buckets),
keep-latest merge by (symbol, date) with the drop's version, and the
per-market summary computed from the store. `Model.run(op)` returns what
that `Lifecycle.run` must report; `Model.store_digest()` the store's row
count and order-independent checksum.
"""
import datetime as dt
import hashlib
import os

import numpy as np

MARKETS = ["tw", "us"]
GAP_SINCE = dt.date(2024, 1, 1)
GAP_DAYS = 14
HISTORY_START = dt.date(2024, 1, 2)
HISTORY_END = dt.date(2024, 2, 9)
RESEND = 3
GAP_MIN, GAP_MAX = 16, 30
NULL_RATE = 0.01
BAD_DAILY = 1
HEADER = "date,open,high,low,close,volume\n"


def weekdays(start, n):
    """`n` consecutive weekdays from `start` (inclusive, if a weekday)."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def weekday_range(a, b):
    out, d = [], a
    while d <= b:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def symbols_for(market, n, rng):
    codes = rng.choice(np.arange(1000, 9999), size=n, replace=False)
    if market == "tw":
        return [f"{c}.TW" for c in codes]
    if market != "us":
        raise ValueError(f"no symbol format for market {market!r}")
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters, size=int(rng.integers(2, 5)))))
    return sorted(out)


def _bar_series(rng, days):
    """Clean OHLCV bars (2-decimal prices, low <= open/close <= high)."""
    n = len(days)
    close = np.round(50.0 * np.exp(np.cumsum(rng.normal(0, 0.015, n))) + 5.0, 2)
    opn = np.round(np.r_[close[0], close[:-1]] * (1 + rng.normal(0, 0.004, n)), 2)
    hi = np.round(np.maximum(opn, close) * (1 + rng.uniform(0, 0.01, n)), 2)
    lo = np.round(np.minimum(opn, close) * (1 - rng.uniform(0, 0.01, n)), 2)
    hi = np.maximum(hi, np.maximum(opn, close))
    lo = np.minimum(lo, np.minimum(opn, close))
    vol = rng.integers(1_000, 5_000_000, n)
    return {d: [float(opn[i]), float(hi[i]), float(lo[i]), float(close[i]), int(vol[i])]
            for i, d in enumerate(days)}


def _fmt(v):
    return "" if v is None else (f"{v:.2f}" if isinstance(v, float) else str(v))


def _write(path, rows):
    with open(path, "w") as f:
        f.write(HEADER)
        for d, b in rows:
            f.write(d.isoformat() + "," + ",".join(_fmt(v) for v in b) + "\n")


class Fixture:
    """The generated drops, in memory: drops[op][market] = {symbol: rows},
    rows = [(date, [open, high, low, close, volume])]; an empty file is a
    symbol with no rows. as_of[op] is the run date of drop `op`."""

    def __init__(self, seed, n_symbols, n_daily, markets=MARKETS):
        self.markets = list(markets)
        rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
        history = weekday_range(HISTORY_START, HISTORY_END)
        daily = weekdays(HISTORY_END + dt.timedelta(days=1), n_daily)
        all_days = history + daily
        self.as_of = [history[-1]] + daily
        self.symbols, self.truth = {}, {}
        for m in self.markets:
            syms = symbols_for(m, n_symbols, rng)
            self.symbols[m] = syms
            for s in syms:
                self.truth[(m, s)] = _bar_series(rng, all_days)
        self.drops = []
        for op in range(n_daily + 1):
            drng = np.random.default_rng(np.random.SeedSequence([seed, 11, op]))
            drop = {}
            for mi, m in enumerate(self.markets):
                files = {}
                syms = self.symbols[m]
                if op == 0:
                    bad, gap = syms[0], syms[1]
                    for s in syms:
                        t = self.truth[(m, s)]
                        rows = [(d, list(t[d])) for d in history]
                        if s == bad:
                            i = int(drng.integers(len(rows)))
                            rows[i][1][3] = float(-drng.integers(0, 3))
                            rows[i][1][2] = min(rows[i][1][2], rows[i][1][3])
                        if s == gap:
                            rows = self._cut_gap(rows, drng)
                        files[s] = rows
                    if m == self.markets[-1]:
                        files["99999"] = []
                else:
                    window = all_days[all_days.index(self.as_of[op]) - RESEND + 1:
                                      all_days.index(self.as_of[op]) + 1]
                    for s in syms:
                        t = self.truth[(m, s)]
                        rows = []
                        for d in window:
                            b = list(t[d])
                            if d != window[-1]:
                                # revised close, still inside [low, high]
                                b[3] = round(b[2] + (b[1] - b[2]) * float(drng.uniform()), 2)
                            rows.append((d, b))
                        files[s] = rows
                    for _ in range(BAD_DAILY):
                        s = syms[int(drng.integers(len(syms)))]
                        b = files[s][-1][1]
                        b[3] = float(-drng.integers(0, 3))
                        b[2] = min(b[2], b[3])
                    if mi == op % len(self.markets):
                        files["99999"] = []
                for s, rows in files.items():
                    for _, b in rows:
                        if drng.uniform() < NULL_RATE:
                            b[int(drng.integers(4))] = None
                drop[m] = files
            self.drops.append(drop)

    @staticmethod
    def _cut_gap(rows, rng):
        after = [i for i, (d, _) in enumerate(rows) if d > GAP_SINCE + dt.timedelta(days=7)]
        start = after[int(rng.integers(len(after) // 2))]
        span = int(rng.integers(GAP_MIN, GAP_MAX + 1))
        d0 = rows[start - 1][0]
        return [r for r in rows if not (d0 < r[0] < d0 + dt.timedelta(days=span))]

    def write(self, root):
        for op, drop in enumerate(self.drops):
            for m, files in drop.items():
                d = os.path.join(root, "drops", f"{op:03d}", m)
                os.makedirs(d, exist_ok=True)
                for s, rows in files.items():
                    _write(os.path.join(d, f"{s}_day.csv"), rows)


def generate(root, seed, n_symbols=10, n_daily=3, markets=MARKETS):
    fx = Fixture(seed, n_symbols, n_daily, markets)
    fx.write(root)
    return fx


# ---- expectation model --------------------------------------------------

def _week_end_fri(d):
    return d + dt.timedelta(days=(4 - d.weekday()) % 7)


def _month_end(d):
    nxt = dt.date(d.year + (d.month == 12), d.month % 12 + 1, 1)
    return nxt - dt.timedelta(days=1)


def _ohlc_violation(rows):
    """V3 on the W/M/Y buckets of clean rows sorted by date."""
    for bucket in (_week_end_fri, _month_end, lambda d: d.year):
        groups = {}
        for d, b in rows:
            groups.setdefault(bucket(d), []).append(b)
        for bs in groups.values():
            hi = max(b[1] for b in bs)
            lo = min(b[2] for b in bs)
            if not (lo <= bs[-1][3] <= hi):
                return True
    return False


def validate(files):
    """-> (valid {symbol: clean rows}, rejections {symbol: reason})."""
    clean = {}
    for s, rows in files.items():
        rs = sorted((d, b) for d, b in rows if None not in b[:4])
        if rs:
            clean[s.upper()] = rs
    rej = {}
    for s, rs in clean.items():
        if any(b[3] <= 0 for _, b in rs):
            rej[s] = "invalid_price"
            continue
        ds = [d for d, _ in rs if d >= GAP_SINCE]
        gaps = [(b - a).days for a, b in zip(ds, ds[1:])]
        if gaps and max(gaps) > GAP_DAYS:
            rej[s] = f"gap_{max(gaps)}d"
    for s, rs in clean.items():
        if s not in rej and _ohlc_violation(rs):
            rej[s] = "ohlc_logic_error"
    return {s: rs for s, rs in clean.items() if s not in rej}, rej


def row_hash(symbol, d, b, version):
    """Same canonical row string as the harness's store checksum."""
    cents = [int(round(v * 100)) for v in b[:4]]
    s = "|".join([symbol, d.isoformat(), *map(str, cents), str(b[4]), str(version)])
    return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)


class Model:
    """`keep="first"` models a merge that ignores re-deliveries; the
    benchmark's test uses it to show the revised closes decide the store."""

    def __init__(self, fixture, keep="latest"):
        self.fx = fixture
        self.keep = keep
        self.store = {m: {} for m in fixture.markets}

    def run(self, op):
        """Apply drop `op`; -> {market: summary dict, 'rejections': [...]}."""
        as_of = self.fx.as_of[op]
        version = (as_of - dt.date(1970, 1, 1)).days
        out = {}
        for m in self.fx.markets:
            st = self.store[m]
            ran = not st or max(d for (_, d) in st) < as_of
            rej = {}
            if ran:
                valid, rej = validate(self.fx.drops[op][m])
                for s, rs in valid.items():
                    for d, b in rs:
                        if self.keep == "latest" or (s, d) not in st:
                            st[(s, d)] = (b, version)
            # the harness expects the symbol files the backfill delivered
            n = len(self.fx.drops[0][m])
            success = len({s for (s, _) in st})
            out[m] = {
                "market": m.upper(),
                "expected": n,
                "success": success,
                "coverage": round(success * 10000.0 / max(n, 1)) / 100.0,
                "endDate": max(d for (_, d) in st).isoformat() if st else "N/A",
                "totalRows": len(st),
                "nRejected": len(rej),
                "ranSync": ran,
                "rejections": sorted(f"{m.upper()}:{s}:{r}" for s, r in rej.items()),
            }
        return out

    def store_digest(self):
        """{market: [rows, checksum]} of the current store."""
        return {m: [len(st), sum(row_hash(s, d, b, v) for (s, d), (b, v) in st.items())]
                for m, st in self.store.items()}


def input_rows(fixture, op):
    """Bars in drop `op` (all CSV data rows, nulls included)."""
    return sum(len(rows) for files in fixture.drops[op].values() for rows in files.values())
