"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. Schemas match what `graft.sources.Tables`
and the `SparkEntry.oracleSql` statements expect of the test corpus.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload: the sf0.1 events size, and for the stream
# more batches than a run can feed.
SIZES = {
    "hostgroup_pipeline": {"events": 100_000},
    "hostgroup_stream": {"batches": 120, "rows_per_batch": 2_000},
}

# The events distributions, measured on the sf0.1 test corpus's
# events.parquet (100,000 rows):
# - ts: sorted, uniform over the 30 days from 2024-01-01 (3,205-3,471
#   events per day, 4,074-4,363 per hour of day); event_id is row order
# - user_id: uniform over 0..1499, all 1,500 present, 45-99 events each
#   (mean 66.7, sd 8.2: the Poisson spread of a uniform draw)
# - event_type: the five types uniformly (19,810-20,302 each)
# - value: exponential, mean 49.87 (sd 49.56; quartiles 14.64, 34.77,
#   68.90 against 14.38, 34.66, 69.31 for mean 50), rounded to cents, the
#   same for every event type and user
# - props: '{"k": K}' with K uniform over 0..99
EVENT_DAYS = 30
USERS = 1_500
VALUE_MEAN = 50.0
PROPS_KEYS = 100

# Stream event time: each batch covers BATCH_SECONDS; windows are
# WINDOW_BATCHES batches long, so one window finalises per cycle.
BATCH_SECONDS = 60
WINDOW_BATCHES = 5

EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _micros_since_epoch(seconds):
    return pa.array(EPOCH_US + np.floor(np.asarray(seconds) * 1e6).astype("int64"),
                    type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events(rng, n):
    secs = np.sort(rng.uniform(0, EVENT_DAYS * 86400, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _micros_since_epoch(secs),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype="int64")),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, PROPS_KEYS, n)]),
    })


def netlist_hosts(rng, n):
    """Hosts inside the reference networks list: 10.0.0.0/24 (as four
    /26s) and 10.0.1.0/24 .. 10.0.5.0/24."""
    net = rng.integers(0, 6, n)
    last = rng.integers(1, 255, n)
    return np.array(["10.0.%d.%d" % (a, b) for a, b in zip(net, last)])


def stream_rows(rng, batches, per_batch):
    n = batches * per_batch
    batch = np.repeat(np.arange(batches, dtype="int64"), per_batch)
    # strictly inside the batch's time slice, so no row sits on a window
    # boundary
    offs = rng.integers(1, BATCH_SECONDS * 1_000_000, n)
    us = EPOCH_US + batch * BATCH_SECONDS * 1_000_000 + offs
    return pa.table({
        "batch": pa.array(batch),
        "host": pa.array(netlist_hosts(rng, n)),
        "ts": pa.array(us, type=pa.timestamp("us")),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
    })


def generate(workload, seed, out_dir):
    """Write the workload's tables under out_dir (idempotent per seed)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    size = SIZES[workload]
    if workload == "hostgroup_pipeline":
        _write(events(rng, size["events"]), os.path.join(out_dir, "events.parquet"))
    elif workload == "hostgroup_stream":
        _write(stream_rows(rng, size["batches"], size["rows_per_batch"]),
               os.path.join(out_dir, "stream.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")
    open(done, "w").close()
