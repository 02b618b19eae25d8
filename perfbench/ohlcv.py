"""Seeded OHLCV CSV generator for the medallion-pipeline workloads.

Writes Stooq-style files, one per symbol (FIXTURES.md section 1): equity
files carry a Volume column, FX files do not. At fixed per-row rates it
injects the silver reject rows of FIXTURES.md section 3, rows with an empty
Close (dropped at bronze), duplicate (symbol, date) lines, calendar gaps and
price jumps. Alongside the files it derives, by replaying the pipeline's
documented rules in plain Python, the exact counts a correct run must
produce: bronze, silver, rejected per reason, gold and the DQ FAIL rows per
check.

Everything is a pure function of the seed: a symbol's rows come from its
own `random.Random(f"{seed}:{symbol}:{part}")`, so the same seed always gives
byte-identical files.
"""

import datetime
import os
import random

REJECT_REASONS = ("missing_key", "missing_prices", "non_positive_price",
                  "ohlc_inconsistent", "invalid_volume")

# Per-row injection rates. Reject kinds are drawn once per row, in this
# order; `invalid_volume` only applies to equity rows (FX has no volume).
ROW_KINDS = (("null_close", 0.002), ("missing_open", 0.002),
             ("non_positive", 0.002), ("ohlc", 0.002), ("neg_volume", 0.003))
DUP_RATE = 0.004     # the line is written twice, byte-identical
GAP_RATE = 0.002     # skip 3 to 6 weekdays after this day
JUMP_RATE = 0.002    # close moves 15 to 25 percent in one day
FX_SHARE = 4         # every FX_SHARE-th symbol is an FX pair

# DQ thresholds: QualityChecks' defaults (reference notebook constants).
GAP_DAYS, ABS_RETURN, STALE_DAYS = 4, 0.10, 7
LARGE_MOVE = 0.02    # AnalystQueries.largeMoveAlert's default threshold
TOP_N, RECENT_DAYS = 20, 60


def symbols(n):
    """n symbol names; every FX_SHARE-th one is FX (no Volume column)."""
    return [f"FX{i:04d}" if i % FX_SHARE == FX_SHARE - 1 else f"EQ{i:04d}"
            for i in range(n)]


def is_fx(symbol):
    return symbol.startswith("FX")


def trading_days(start, n):
    """The first n weekdays on or after `start`: the shared calendar."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += datetime.timedelta(days=1)
    return out


def _fmt(x):
    return f"{x:.4f}"


class Walk:
    """One symbol's price path; `day` gives a trading day's CSV lines."""

    def __init__(self, seed, symbol):
        self.fx = is_fx(symbol)
        rng = random.Random(f"{seed}:{symbol}:init")
        self.close = rng.uniform(0.8, 1.6) if self.fx else rng.uniform(20, 400)

    def day(self, rng, d, inject=True):
        """Lines (no newline) for date d: one, or two identical ones when
        the row is duplicated. May carry one injected reject kind; with
        `inject` off the row is always clean and single."""
        prev = self.close
        if rng.random() < JUMP_RATE:
            r = rng.choice((1, -1)) * rng.uniform(0.15, 0.25)
        else:
            r = rng.uniform(-0.03, 0.03)
        # mean-revert the level so decades of history keep prices in range
        lo, hi = (0.5, 2.5) if self.fx else (10.0, 1000.0)
        if (prev < lo and r < 0) or (prev > hi and r > 0):
            r = -r
        close = float(_fmt(prev * (1 + r)))
        self.close = close
        high = max(prev, close) * (1 + rng.uniform(0.001, 0.01))
        low = min(prev, close) * (1 - rng.uniform(0.001, 0.01))
        vol = None if self.fx else str(rng.randint(1_000_000, 90_000_000))
        f = [d.isoformat(), _fmt(prev), _fmt(high), _fmt(low), _fmt(close)]
        kind, u, acc = None, rng.random(), 0.0
        for name, rate in ROW_KINDS if inject else ():
            acc += rate
            if u < acc:
                kind = name
                break
        if kind == "null_close":
            f[4] = ""
        elif kind == "missing_open":
            f[1] = ""
        elif kind == "non_positive":
            f[3] = "-0.5"
        elif kind == "ohlc":
            f[2] = _fmt(min(prev, close) * 0.99)
            f[3] = _fmt(min(prev, close) * 0.98)
        elif kind == "neg_volume" and not self.fx:
            vol = "-100"
        line = ",".join(f if vol is None else f + [vol])
        return [line, line] if inject and rng.random() < DUP_RATE else [line]


def header(symbol):
    return "Date,Open,High,Low,Close" + ("" if is_fx(symbol) else ",Volume")


def write_batch(out_dir, lines_by_symbol):
    """One `<SYMBOL>.csv` per symbol; returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for sym, lines in sorted(lines_by_symbol.items()):
        data = ("\n".join([header(sym)] + lines) + "\n").encode()
        with open(os.path.join(out_dir, f"{sym}.csv"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


def history(seed, n_symbols, calendar, stale_every=0, stale_days=15):
    """({symbol: lines}, {symbol: Walk}) over the calendar. A gap skips the
    next 3 to 6 calendar days of one symbol. When `stale_every` > 0, every
    stale_every-th equity stops `stale_days` days early (a delisted symbol,
    for the staleness check). Later daily batches continue each Walk."""
    out, walks = {}, {}
    for i, sym in enumerate(symbols(n_symbols)):
        w, rng = Walk(seed, sym), random.Random(f"{seed}:{sym}:hist")
        stop = len(calendar)
        if stale_every and not is_fx(sym) and i % stale_every == 0:
            stop -= stale_days
        lines, skip = [], 0
        for d in calendar[:stop]:
            if skip:
                skip -= 1
                continue
            lines += w.day(rng, d)
            if rng.random() < GAP_RATE:
                skip = rng.randint(3, 6)
        out[sym], walks[sym] = lines, w
    return out, walks


def daily_batch(seed, walks, day, k):
    """The k-th appended trading day: one clean row dated `day` for every
    symbol. The injected rows live in the history; keeping them out of the
    one-row-per-symbol batches keeps a batch's byte size, the base of the
    write amplification, steady across seeds."""
    return {sym: w.day(random.Random(f"{seed}:{sym}:day{k}"), day, inject=False)
            for sym, w in sorted(walks.items())}


# ---- expected counts: the pipeline's rules replayed on the written lines --

def _num(s):
    return None if s == "" else float(s)


def parse(line):
    """(date, open, high, low, close, volume) as the bronze cast produces."""
    f = line.split(",")
    vol = int(f[5]) if len(f) > 5 and f[5] != "" else None
    return (datetime.date.fromisoformat(f[0]), _num(f[1]), _num(f[2]),
            _num(f[3]), _num(f[4]), vol)


def reject_reason(row):
    """SilverTransform.rejectRules, first failing rule in declared order.
    `missing_key` cannot reach silver from CSV input: bronze already drops
    null symbols and dates."""
    _, o, h, l, c, v = row
    if o is None or h is None or l is None or c is None:
        return "missing_prices"
    if o <= 0 or h <= 0 or l <= 0 or c <= 0:
        return "non_positive_price"
    if h < max(o, c, l) or l > min(o, c, h):
        return "ohlc_inconsistent"
    if v is not None and v < 0:
        return "invalid_volume"
    return None


class Warehouse:
    """Bronze keyed on (symbol, date), incoming wins, like Catalog.upsert."""

    def __init__(self):
        self.bronze = {}

    def ingest(self, lines_by_symbol):
        for sym, lines in lines_by_symbol.items():
            rows = self.bronze.setdefault(sym, {})
            for line in lines:
                row = parse(line)
                if row[4] is not None:  # bronze drops a null close
                    rows[row[0]] = row

    def expected(self, today):
        """Counts after one pipeline run over the current bronze."""
        silver, rejected = {}, {r: 0 for r in REJECT_REASONS}
        for sym, rows in self.bronze.items():
            good = []
            for d in sorted(rows):
                reason = reject_reason(rows[d])
                if reason:
                    rejected[reason] += 1
                else:
                    good.append(rows[d])
            silver[sym] = good
        gaps = jumps = stale = 0
        for sym, rows in silver.items():
            for a, b in zip(rows, rows[1:]):
                if (b[0] - a[0]).days > GAP_DAYS:
                    gaps += 1
                if abs(b[4] / a[4] - 1) > ABS_RETURN:
                    jumps += 1
            if rows and (today - rows[-1][0]).days > STALE_DAYS:
                stale += 1
        n_silver = sum(len(r) for r in silver.values())
        return {
            "bronze": sum(len(r) for r in self.bronze.values()),
            "silver": n_silver,
            "rejected": sum(rejected.values()),
            "rejected_by_reason": rejected,
            "gold": n_silver,
            "dq_fail_by_check": {"missing_trading_days": gaps,
                                 "sudden_price_jump": jumps,
                                 "stale_data": stale},
            # FAIL rows plus the one row_counts PASS row, appended per run
            "dq_rows_per_run": gaps + jumps + stale + 1,
        }, silver

    def analyst(self, silver, recent_symbol):
        """Row counts the analyst queries must return over this gold."""
        latest = max(r[-1][0] for r in silver.values() if r)
        on_latest, large = 0, 0
        for rows in silver.values():
            if rows and rows[-1][0] == latest:
                on_latest += 1
                if len(rows) > 1 and abs(rows[-1][4] / rows[-2][4] - 1) > LARGE_MOVE:
                    large += 1
        with_rows = sum(1 for r in silver.values() if r)
        return {
            "latest_snapshot": with_rows,
            "top_moves": min(TOP_N, on_latest),
            "volatility_scan": min(TOP_N, on_latest),
            "liquidity_screen": min(TOP_N, on_latest),
            "recent_window": min(RECENT_DAYS, len(silver[recent_symbol])),
            "large_move_alert": large,
            "cross_asset_on": on_latest,
            "completeness": with_rows,
            "completeness_days": sum(len(r) for r in silver.values()),
            "latest_date": latest.isoformat(),
        }
