"""Seeded ingest generator: gzip JSON-lines day batches derived from the
events of the engine's sf fixture (`fixture/sf*/events.parquet`, 30 days
from 2024-01-01).

The same seed gives byte-identical files; a different seed gives different
ones. Only numpy and pyarrow are used, so no engine code runs while the
inputs are made.
"""
import gzip
import io
import json
import os

import numpy as np
import pyarrow.parquet as pq

EVENT_DAYS = 30
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400_000_000


def write_batches(out_dir, seed, fixture_events, n_batches, late_share):
    """Write `n_batches` gzip JSON-lines batches of 24 hours each.

    Batch k holds the fixture's events of day k mod 30, shifted to day
    30 + k, the first day past everything landed before it. A seeded
    `late_share` of its rows instead gets a timestamp in one of the three
    days landed just before. Returns per-batch rows, bytes and late share.
    """
    os.makedirs(out_dir, exist_ok=True)
    ev = pq.read_table(fixture_events).to_pydict()
    ts = np.array(ev["ts"], dtype="datetime64[us]").astype(np.int64)
    day = (ts - EPOCH_US) // DAY_US
    # string columns repeat a few values: escape each distinct value once
    etype = [json.dumps(v) for v in ev["event_type"]]
    props = [json.dumps(v) for v in ev["props"]]
    next_id = len(ts)
    rng = np.random.default_rng([seed, 7])
    out = []
    for k in range(n_batches):
        idx = np.nonzero(day == k % EVENT_DAYS)[0]
        shift = (EVENT_DAYS + k - k % EVENT_DAYS) * DAY_US
        late = rng.random(len(idx)) < late_share
        back = rng.integers(1, 4, len(idx)) * DAY_US
        bts = np.datetime_as_string((ts[idx] + shift - np.where(late, back, 0))
                                    .astype("datetime64[us]"), unit="us")
        buf = io.StringIO()
        for j, i in enumerate(idx):
            buf.write(f'{{"event_id": {next_id + j}, "ts": "{bts[j]}", '
                      f'"user_id": {ev["user_id"][i]}, "event_type": {etype[i]}, '
                      f'"value": {ev["value"][i]!r}, "props": {props[i]}}}\n')
        next_id += len(idx)
        path = os.path.join(out_dir, f"batch_{k:04d}.json.gz")
        with open(path, "wb") as f, gzip.GzipFile(filename="", mode="wb", fileobj=f, compresslevel=6,
                                                  mtime=0) as gz:
            gz.write(buf.getvalue().encode())
        out.append({"path": path, "rows": int(len(idx)), "bytes": os.path.getsize(path),
                    "late_share": float(late.mean()) if len(idx) else 0.0})
    return out
