"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``tier(seed, dst)`` runs ``tools/perturb.py`` over the sf0.01 base tier
  kept in ``perfbench/base``. The copy has a new row order, shifted keys and
  jittered values (see that script), so each seed is a data set the oracles
  have never seen, while joins, row counts and schemas stay those of the
  base tier.
* ``events(seed, tier, dst)`` cuts the tier's ``events`` table into the
  files read by the ``stream_events`` workload (see ``STREAM``).
"""
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(HERE, "base")
PERTURB = os.path.join(ROOT, "tools", "perturb.py")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Shape of the stream input. Keys, timestamps and values are those of the
# seed's events table (150 users, near-uniform; 30 days of event time).
# Rows are delivered in event-time order, cut into `files` files of equal
# row count; the workload reads one file per micro-batch.
STREAM = {
    "files": 4,
    # as in the ev_tumbling_hourly query (queries/EventQueries.scala)
    "window_s": 3600,
    # the reference's default bounded out-of-orderness (COVERAGE.md, §2.8)
    "watermark_delay_s": 300,
    # the two shares are the benchmark's own choice, not measured traffic:
    # each file re-delivers this share of already delivered rows ...
    "dup_share": 0.02,
    # ... and this share of rows arrives one or two files (equally likely)
    # later than its time says, never later than the last file
    "out_of_order_share": 0.05,
}
# The last file also holds one row of this user, a day after every other
# row. It advances the watermark, so the final no-data batch emits every
# data window.
FLUSH_USER = "~flush"
MTIME_S = 1_767_225_600  # file modification times, in delivery order

EVENT_SCHEMA = pa.schema([("event_id", pa.string()), ("user", pa.string()),
                          ("ts", pa.timestamp("us", tz="UTC")), ("value", pa.float64())])


def tier(seed: int, dst: str) -> None:
    subprocess.run([sys.executable, PERTURB, BASE, dst, str(seed)], check=True,
                   stdout=subprocess.DEVNULL)


def events(seed: int, tier_dir: str, dst: str) -> dict:
    """Write the stream input files; return the stream shape with counts."""
    p = STREAM
    rng = np.random.default_rng(seed)
    t = pq.read_table(os.path.join(tier_dir, "events.parquet"),
                      columns=["event_id", "user_id", "ts", "value"]).to_pandas()
    t = t.sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    n, f = len(t), p["files"]
    rows = pd.DataFrame({"event_id": t.event_id.astype(str), "user": "u" + t.user_id.astype(str),
                         "ts": t.ts.dt.tz_localize("UTC"), "value": t.value})
    home = np.arange(n) * f // n
    delay = (rng.random(n) < p["out_of_order_share"]) * rng.integers(1, 3, size=n)
    deliver = np.minimum(home + delay, f - 1)
    os.makedirs(dst, exist_ok=True)
    delivered = rows.iloc[:0]
    dups = 0
    per_file = []
    for i in range(f):
        part = rows[deliver == i]
        pool = pd.concat([delivered, part])
        k = int(round(len(part) * p["dup_share"]))
        part = pd.concat([part, pool.iloc[rng.integers(0, len(pool), size=k)]])
        part = part.iloc[rng.permutation(len(part))]
        delivered = pd.concat([delivered, part])
        dups += k
        if i == f - 1:
            flush = pd.DataFrame({"event_id": ["flush"], "user": [FLUSH_USER],
                                  "ts": [rows.ts.max() + pd.Timedelta(days=1)], "value": [0.0]})
            part = pd.concat([part, flush])
        per_file.append(len(part))
        path = os.path.join(dst, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=EVENT_SCHEMA, preserve_index=False), path)
        # the file source picks files oldest first: make that the delivery order
        os.utime(path, (MTIME_S + i, MTIME_S + i))
    users = rows.user.value_counts()
    return dict(p, rows=n, rows_per_file=per_file, duplicates=dups,
                out_of_order=int((deliver > home).sum()), users=int(len(users)),
                top_user_share=float(users.iloc[0] / n))
