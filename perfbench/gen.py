"""Seeded input generators for the pipeline benchmark.

Every generator derives its randomness from ``random.Random`` seeded by
the run seed plus a fixed per-generator tag, so the same seed gives
byte-identical files and a different seed gives different ones. The
program under test only ever sees the files written here.

- Kaggle CSV drops (``batch_refresh``): the reference's landing-zone
  format, with the hostile mix the pipeline must survive — one
  re-delivered file per drop, one latin-1 file, unparseable dates,
  out-of-range and empty temperatures, duplicate (device, ts) keys.
- The events table (``mart_serve``): the fixture-shaped ``events``
  parquet the registry's IoT mapping reads.
- Stream batches (``batch_refresh``'s incremental leg): keyed
  readings with late, out-of-order, corrected and re-delivered rows.
- Document batches (``batch_refresh``'s curation leg): the
  ``documents`` table with set exact-duplicate and near-duplicate
  fractions.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, *tag) -> random.Random:
    return random.Random(f"{seed}/" + "/".join(map(str, tag)))


def write_bytes(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


# ------------------------------------------------------------ Kaggle CSV drops

KAGGLE_HEADER = ["id", "room_id/id", "noted_date", "temp", "out/in"]
KAGGLE_EPOCH = dt.datetime(2018, 7, 1)


class KaggleDrops:
    """Landing-zone drops in the reference's Kaggle CSV format.

    Drop ``k`` covers day ``k`` of the series; a share of its rows are
    late readings for earlier days, and a share repeat an earlier
    (device, minute) key with a different temperature."""

    def __init__(self, seed: int, n_devices: int = 24):
        r = rng_for(seed, "kaggle-devices")
        self.seed = seed
        self.devices = [
            (r.randrange(100000, 999999), "%08x" % r.getrandbits(32))
            for _ in range(n_devices)
        ]
        self.recent_keys: list[tuple[int, str]] = []  # (device index, noted_date)
        self.written: list[bytes] = []  # every original file, for re-delivery

    def _row(self, r: random.Random, day: int) -> list[str]:
        dev = r.randrange(len(self.devices))
        if self.recent_keys and r.random() < 0.04:
            # duplicate (device, ts) key with a different reading
            dev, noted = r.choice(self.recent_keys)
        else:
            late = r.randrange(1, 4) if r.random() < 0.1 else 0
            ts = KAGGLE_EPOCH + dt.timedelta(
                days=max(day - late, 0), minutes=r.randrange(24 * 60)
            )
            noted = ts.strftime("%d-%m-%Y %H:%M")
            self.recent_keys.append((dev, noted))
            if len(self.recent_keys) > 4000:
                del self.recent_keys[:2000]
        u = r.random()
        if u < 0.01:
            noted = r.choice(["31-02-2018 10:00", "n/a", "2018-07-01T10:00"])
        temp = str(r.randrange(21, 52))
        u = r.random()
        if u < 0.01:
            temp = r.choice(["120", "-75", "250"])
        elif u < 0.015:
            temp = ""
        num, tag = self.devices[dev]
        side = "In" if r.random() < 0.7 else "Out"
        return [f"__export__.temp_log_{num}_{tag}", None, noted, temp, side]

    def _csv(self, rows: list[list[str]], room: str, encoding: str) -> bytes:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(KAGGLE_HEADER)
        for row in rows:
            row[1] = room
            w.writerow(row)
        return buf.getvalue().encode(encoding)

    def drop(
        self, out_dir: str, k: int, n_files: int, rows_per_file: int,
        redeliver: bool = True,
    ) -> dict:
        """Write drop ``k`` into ``out_dir``; returns its manifest:
        files, re-delivered file names, and landed row count."""
        os.makedirs(out_dir, exist_ok=True)
        r = rng_for(self.seed, "kaggle-drop", k)
        names, originals, rows_landed = [], [], 0
        for i in range(n_files):
            rows = [self._row(r, k) for _ in range(rows_per_file)]
            latin1 = i == n_files - 1 and n_files > 1
            data = self._csv(
                rows,
                "Room Café" if latin1 else "Room Admin",
                "latin-1" if latin1 else "utf-8",
            )
            name = f"drop{k:04d}_{i}.csv"
            write_bytes(os.path.join(out_dir, name), data)
            names.append(name)
            originals.append(data)
            rows_landed += rows_per_file
        redelivered = []
        if redeliver and self.written:
            data = r.choice(self.written)
            name = f"drop{k:04d}_redelivered.csv"
            write_bytes(os.path.join(out_dir, name), data)
            names.append(name)
            redelivered.append(name)
        self.written.extend(originals)
        return {"files": names, "redelivered": redelivered, "rows": rows_landed}


# -------------------------------------------------------------- events table

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_EPOCH = dt.datetime(2024, 1, 1)
EVENT_DAYS = 14


def write_events(path: str, seed: int, n_rows: int, n_users: int = 60) -> None:
    """The fixture-shaped ``events`` table: ts spread over 14 days, value
    a temperature-like reading with a thin tail of outliers so the
    anomaly flags fire, duplicate (user, ts) keys for the dedup step."""
    r = rng_for(seed, "events")
    span_us = EVENT_DAYS * 86400 * 10**6
    ts, users, kinds, values = [], [], [], []
    for i in range(n_rows):
        if i and r.random() < 0.02:
            j = r.randrange(i)
            ts.append(ts[j])
            users.append(users[j])
        else:
            ts.append(EVENTS_EPOCH + dt.timedelta(microseconds=r.randrange(span_us)))
            users.append(r.randrange(n_users))
        kinds.append(r.choice(EVENT_TYPES))
        v = r.gauss(22.0, 6.0)
        if r.random() < 0.01:
            v = r.choice([-60.0, 140.0, 75.0, -20.0])
        values.append(round(v, 2))
    table = pa.table(
        {
            "event_id": pa.array(range(n_rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(kinds, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([f'{{"k": {i % 97}}}' for i in range(n_rows)]),
        }
    )
    pq.write_table(table, path)


# ------------------------------------------------------------- stream batches

STREAM_HEADER = "device_id,ts_micros,temp_centi,dlt_id\n"
STREAM_EPOCH_US = int(dt.datetime(2024, 2, 1).timestamp()) * 10**6
DAY_US = 86400 * 10**6


class StreamBatches:
    """Keyed readings for the incremental mart. Batch ``k`` is mostly new
    readings for day ``k``, plus late readings for the previous days,
    corrections (same key, newer ``dlt_id``, new value) and exact
    re-deliveries of a key's current row. Re-deliveries only ever repeat
    the CURRENT winner of a key, so latest-merged-wins (the versioned
    upsert) and max-``dlt_id``-wins (the oracle) agree by construction."""

    def __init__(self, seed: int, n_devices: int = 40):
        self.seed = seed
        self.n_devices = n_devices
        self.next_id = 0
        self.current: dict[tuple[str, int], tuple[int, str]] = {}
        self.keys: list[tuple[str, int]] = []

    def _new_row(self, r: random.Random, day: int) -> tuple:
        dev = f"DEV_{r.randrange(self.n_devices)}"
        ts = STREAM_EPOCH_US + day * DAY_US + r.randrange(DAY_US // 10**6) * 10**6
        return dev, ts, int(round(r.gauss(2200, 700)))

    def batch(self, path: str, k: int, n_rows: int) -> int:
        r = rng_for(self.seed, "stream", k)
        lines = []
        for _ in range(n_rows):
            u = r.random()
            if self.keys and u < 0.05:
                key = r.choice(self.keys)
                temp, dlt = self.current[key]
                lines.append(f"{key[0]},{key[1]},{temp},{dlt}\n")
                continue
            if self.keys and u < 0.15:
                key = r.choice(self.keys)
                temp = int(round(r.gauss(2200, 700)))
            else:
                late = r.randrange(1, 4) if u < 0.3 else 0
                dev, ts, temp = self._new_row(r, max(k - late, 0))
                key = (dev, ts)
            dlt = f"{self.next_id:012d}"
            self.next_id += 1
            if key not in self.current:
                self.keys.append(key)
            self.current[key] = (temp, dlt)
            lines.append(f"{key[0]},{key[1]},{temp},{dlt}\n")
        r.shuffle(lines)  # out-of-order within the file
        write_bytes(path, (STREAM_HEADER + "".join(lines)).encode())
        return n_rows


# ----------------------------------------------------------- document batches

VOCAB = (
    "the a data spark stream batch table scan join merge sort hash key row "
    "column value filter group agg window order part line query vector "
    "customer fast slow big small sensor device reading room office "
    "anomaly mart load file drop late merge commit shard token dedup"
).split()
LANGS = ["en", "en", "fr", "es", "de", "zh"]


def write_documents(
    path: str, seed: int, k: int, n_docs: int,
    exact_dup: float = 0.06, near_dup: float = 0.06,
) -> int:
    """Documents batch ``k``: Zipf-ish word draws; ``exact_dup`` of docs
    copy an earlier text verbatim and ``near_dup`` copy one with a few
    token edits."""
    r = rng_for(seed, "docs", k)
    weights = [1.0 / (i + 1) ** 0.9 for i in range(len(VOCAB))]
    texts: list[str] = []
    for i in range(n_docs):
        u = r.random()
        if texts and u < exact_dup:
            text = r.choice(texts)
        elif texts and u < exact_dup + near_dup:
            toks = r.choice(texts).split(" ")
            for _ in range(r.randrange(1, 4)):
                toks[r.randrange(len(toks))] = r.choice(VOCAB)
            text = " ".join(toks)
        else:
            n = r.randrange(12, 90)
            text = " ".join(r.choices(VOCAB, weights=weights, k=n))
        texts.append(text)
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([r.choice(LANGS) for _ in texts], pa.string()),
            "source": pa.array([f"src{r.randrange(20)}" for _ in texts], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)
    return n_docs
