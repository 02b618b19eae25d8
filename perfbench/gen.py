#!/usr/bin/env python3
"""Input generator for one benchmark workload.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes the workload's inputs under <dir>, plus
  plan.tsv       what the JVM side runs, one tab-separated line per input;
  expected.json  the counts a correct run must produce (pipeline workloads).

Sizes come from spec.json next to this file.
"""

import argparse
import datetime
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ohlcv  # noqa: E402

START = datetime.date(2000, 1, 3)


def spec():
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def day_after(d):
    return d + datetime.timedelta(days=1)


def backfill_deep(seed, out, size):
    cal = ohlcv.trading_days(START, size["days"])
    hist, _ = ohlcv.history(seed, size["symbols"], cal,
                            stale_every=size["stale_every"])
    csv_dir = os.path.join(out, "csv")
    nbytes = ohlcv.write_batch(csv_dir, hist)
    today = day_after(cal[-1])
    wh = ohlcv.Warehouse()
    wh.ingest(hist)
    exp, _ = wh.expected(today)
    plan = [["load", csv_dir, today.isoformat(), str(nbytes)]]
    return plan, {"load": exp, "csv_bytes": nbytes}


def daily_wide(seed, out, size):
    cal = ohlcv.trading_days(START, size["days"])
    hist, walks = ohlcv.history(seed, size["symbols"], cal)
    hist_dir = os.path.join(out, "history")
    nbytes = ohlcv.write_batch(hist_dir, hist)
    wh = ohlcv.Warehouse()
    wh.ingest(hist)
    today = day_after(cal[-1])
    exp, silver = wh.expected(today)
    exp["analyst"] = wh.analyst(silver, "EQ0000")
    plan = [["history", hist_dir, today.isoformat(), str(nbytes), cal[-1].isoformat()]]
    expected = {"history": exp, "history_bytes": nbytes, "days": []}
    day = cal[-1]
    for k in range(1, size["max_days"] + 1):
        day = ohlcv.trading_days(day_after(day), 1)[0]
        batch = ohlcv.daily_batch(seed, walks, day, k)
        d = os.path.join(out, "day", f"{k:04d}")
        b = ohlcv.write_batch(d, batch)
        wh.ingest(batch)
        today = day_after(day)
        exp, silver = wh.expected(today)
        exp["analyst"] = wh.analyst(silver, "EQ0000")
        exp["csv_bytes"] = b
        expected["days"].append(exp)
        plan.append(["day", str(k), d, day.isoformat(), today.isoformat(), str(b)])
    return plan, expected


def gates(seed, out, size):
    import gate_tables
    d = os.path.join(out, "tables")
    gate_tables.write(d, size["scale"], size["data_seed"])
    return [["tables", d]], {}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    gen = {"backfill_deep": backfill_deep, "daily_wide": daily_wide,
           "gates": gates}[a.workload]
    os.makedirs(a.out, exist_ok=True)
    plan, expected = gen(a.seed, a.out, spec()["workloads"][a.workload])
    with open(os.path.join(a.out, "plan.tsv"), "w") as fh:
        fh.write("".join("\t".join(p) + "\n" for p in plan))
    with open(os.path.join(a.out, "expected.json"), "w") as fh:
        json.dump(expected, fh)


if __name__ == "__main__":
    main()
