#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

event_analytics reads an events table drawn from the same distributions
as the `events` table of the sf0.1 test data (TESTDATA.md), on which the
registered queries are verified. Measured on that table (100k rows):

- user_id: uniform over 0..1499; events per user have mean 66.7 and
  standard deviation 8.2, the multinomial figure for a uniform draw;
- event_type: 5 types, each 19.8-20.3 %; the type of a user's next
  event does not depend on the previous one (every transition share is
  0.19-0.21) and per-user type shares vary only as sampling does
  (sd 0.049), so per-user sequences are independent draws;
- ts: arrivals are Poisson (inter-arrival coefficient of variation 1.01,
  3333 ± 55 events a day, flat by hour), 30 days from 2024-01-01, and
  event_id follows ts order;
- value: exponential with mean 50 (mean 49.87, median 34.77),
  rounded to cents;
- props: `{"k": n}` with n uniform over 0..99.

The generated table keeps every one of these but the length: 50k rows
over 15 days, a contiguous half of sf0.1 at its density of events per
user and day (which the time-windowed queries depend on), so that a run
fits the benchmark's time budget. It is one row group, sorted by ts.
stream_replay's events are written while the run measures, by the
harness's generator thread (seeded from the same seed), so it gets an
empty directory here.

Usage: python3 perfbench/gen.py WORKLOAD SEED OUT_DIR
Everything written depends only on WORKLOAD and SEED.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENTS_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                           ("user_id", pa.int64()), ("event_type", pa.string()),
                           ("value", pa.float64()), ("props", pa.string())])
EVENTS, USERS, DAYS = 50_000, 1500, 15


def gen_event_analytics(rng, out):
    n = EVENTS
    table = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (np.sort(rng.integers(0, DAYS * DAY_US, n)) + START_US).astype("datetime64[us]"),
        "user_id": rng.integers(0, USERS, n),
        "event_type": TYPES[rng.integers(0, len(TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    }
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.Table.from_pydict(table, schema=EVENTS_SCHEMA),
                   f"{out}/events.parquet", row_group_size=n)


def gen_stream_replay(rng, out):
    os.makedirs(out, exist_ok=True)


GENERATORS = {
    "event_analytics": gen_event_analytics,
    "stream_replay": gen_stream_replay,
}


def main(argv):
    if len(argv) != 4 or argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} SEED OUT_DIR")
    workload, seed, out = argv[1], int(argv[2]), argv[3]
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    GENERATORS[workload](rng, out)


if __name__ == "__main__":
    main(sys.argv)
