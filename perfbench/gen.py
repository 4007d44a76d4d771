"""Seeded inputs of the `event_dag` workload and the self-test, cut from
the fixture tables in perfbench/data.

perfbench/data holds byte-identical copies of the repository's test
fixture: every table at sf0.01 (`operator_batch` reads them as they are)
and `orders` at sf0.1. This module only slices `orders` into day
partitions. Outputs are cached: a directory whose `.complete` stamp names
the same version, source table and parameters is reused as is.
"""
import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the staging changes its output; cached inputs of another
# version are restaged.
VERSION = "2"

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture(scale, table=None):
    """Directory of the vendored fixture at `scale` (e.g. "sf0.01"), or
    the path of one of its tables."""
    d = os.path.join(DATA, scale)
    return d if table is None else os.path.join(d, f"{table}.parquet")


def _cached(out_dir, key, build):
    stamp = os.path.join(out_dir, ".complete")
    key = f"{VERSION} {key}"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    tmp = out_dir + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, ".complete"), "w") as f:
        f.write(key)
    os.rename(tmp, out_dir)


def stage_orders(out_dir, scale, seed, days):
    """Stage a seed-chosen window of `days` consecutive calendar days of
    the fixture's `orders` at `scale`, each day holding orders, the way
    `graft.Pipeline.stageOrdersByDay` stages them: one `<yyyy-MM-dd>/`
    partition per day with one parquet file and a `_SUCCESS` marker,
    under `work/source/orders_daily`. The window's rows also go to
    `orders.parquet`, so the pipeline finds every day it stages already
    there. Returns the sorted day list."""
    src = fixture(scale, "orders")
    table = pq.read_table(src)
    day = pc.cast(pc.cast(table["o_orderdate"], pa.timestamp("s")), pa.date32())
    day_num = np.asarray(pc.cast(day, pa.int32()))
    present = np.unique(day_num)
    # a window start is valid when all of its days hold orders
    ends = np.searchsorted(present, present + days)
    starts = present[ends - np.arange(len(present)) == days]
    if len(starts) == 0:
        raise SystemExit(f"perfbench: {src} has no {days} consecutive days with orders")
    start = int(starts[np.random.default_rng(seed).integers(0, len(starts))])
    day_list = list(range(start, start + days))

    def build(tmp):
        keep = (day_num >= start) & (day_num < start + days)
        window = table.filter(pa.array(keep))
        wday = day_num[keep]
        pq.write_table(window, os.path.join(tmp, "orders.parquet"))
        root = os.path.join(tmp, "work", "source", "orders_daily")
        for d in day_list:
            part = os.path.join(root, _iso(d))
            os.makedirs(part)
            pq.write_table(window.filter(pa.array(wday == d)),
                           os.path.join(part, "part-00000.snappy.parquet"))
            open(os.path.join(part, "_SUCCESS"), "w").close()

    _cached(out_dir, f"orders {scale} {os.path.getsize(src)} {seed} {days}", build)
    return [_iso(d) for d in day_list]


def _iso(day):
    return (datetime.date(1970, 1, 1) + datetime.timedelta(days=int(day))).isoformat()
