"""Seeded input generation for the benchmark.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
stream drives every value, parquet and CSV are written with fixed writer
settings, so the same seed gives byte-identical files and a different seed
gives different ones. The engine only ever sees these files.

Schemas follow the repo's test tables (TPC-H-ish ``customer``/``orders``
plus the ``events`` stream table, TESTDATA.md) and the ImportHub wide CSV
of FIXTURES.md section 4.
"""

from __future__ import annotations

import csv
import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# tables at sf0.02 of the test tables, per registry workload: the entries
# are bound by fixed per-query overhead at any size this box affords, and
# each checked result is collected into the driver
SIZES = {
    "dashboard": {"customer": 3_000, "orders": 30_000, "events": 20_000, "users": 300},
    "replay": {"events": 20_000, "users": 300},
}

# ingest: one wide CSV per upload of a round; each upload is the next day of
# readings, and every round replays the same uploads into fresh tables
INGEST_UPLOADS = 3
INGEST_ROWS = 4_000
INGEST_USERS = 60
INGEST_DUP_FRAC = 0.01
INGEST_LATE_FRAC = 0.05
INGEST_COLUMNS = ["Patient Email", "Start_Time", "Heart Rate (bpm)", "calorie_burn", "Wt", "junk_col"]
INGEST_DAY0 = datetime(2016, 8, 1)

_EPOCH = datetime(1970, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the values of another
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(key))


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * 1_000_000


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True, write_statistics=True)


def customers(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, len(SEGMENTS), n)],
        }
    )


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    r = _rng(seed, "orders")
    day0 = _us(datetime(1995, 1, 1))
    days = r.integers(0, 2404, n).astype(np.int64)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(day0 + days * 86_400_000_000, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, len(PRIORITIES), n)],
        }
    )


def events(seed: int, n: int, n_users: int) -> pa.Table:
    """30 days of events in time order, like the test tables' stream."""
    r = _rng(seed, "events")
    t0 = _us(datetime(2024, 1, 1))
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, n)).astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(t0 + offs, pa.timestamp("us")),
            "user_id": r.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def ingest_uploads(seed: int, n_uploads: int, rows: int) -> list[list[list[str]]]:
    """Wide ImportHub uploads. Upload ``i`` holds day ``i``'s readings plus
    a share of late rows into the two days before it: half re-send a key
    an earlier upload already wrote (with a new value, so the latest upload
    must win), half are keys never sent before. About 1% of rows repeat a
    ``(user, timestamp)`` key inside the upload as an exact copy."""
    r = _rng(seed, "ingest")
    users = [f"user{u:04d}@example.org" for u in range(INGEST_USERS)]
    sent: list[list[tuple[int, int]]] = []  # per upload: (user idx, second of day offset)
    out = []
    for i in range(n_uploads):
        n_late = int(rows * INGEST_LATE_FRAC) if i > 0 else 0
        n_dup = int(rows * INGEST_DUP_FRAC)
        n_new = rows - n_late - n_dup
        base = i * 86_400
        keys = set()
        # fresh keys of day i: a user and a second of the day
        while len(keys) < n_new:
            need = n_new - len(keys)
            u = r.integers(0, INGEST_USERS, need)
            s = r.integers(0, 86_400, need)
            keys.update(zip(u.tolist(), (base + s).tolist()))
        fresh = sorted(keys)
        late = []
        if n_late:
            prev = sorted({k for j in range(max(0, i - 2), i) for k in sent[j]})
            resend = [prev[j] for j in r.choice(len(prev), n_late // 2, replace=False)]
            late = resend
            lo = max(0, i - 2) * 86_400
            seen = set(prev) | set(fresh)
            while len(late) < n_late:
                k = (int(r.integers(0, INGEST_USERS)), int(lo + r.integers(0, base - lo)))
                if k not in seen:
                    seen.add(k)
                    late.append(k)
        keyrows = fresh + late
        sent.append(keyrows)
        hr = np.round(np.clip(r.normal(75.0, 12.0, len(keyrows)), 40, 190), 1)
        cal = np.round(r.exponential(2.0, len(keyrows)), 3)
        wt = np.round(r.normal(75.0, 15.0, len(keyrows)), 1)
        body = [
            [
                users[u],
                (INGEST_DAY0 + timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S"),
                repr(float(h)),
                repr(float(c)),
                repr(float(w)),
                f"x{j}",
            ]
            for j, ((u, s), h, c, w) in enumerate(zip(keyrows, hr, cal, wt))
        ]
        dups = [list(body[j]) for j in r.choice(len(body), n_dup, replace=False)]
        body.extend(dups)
        order = r.permutation(len(body))
        out.append([body[j] for j in order])
    return out


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def make_inputs(workload: str, seed: int, root: str) -> dict:
    """Write the inputs of one ``(workload, seed)`` under ``root`` and return
    ``{"dir", "files": {name: path}, "rows": {name: n}, "digests": {name: sha}}``.
    A finished directory is reused: its files are a function of the seed and
    of the sizes, which name the directory."""
    sizes = SIZES.get(workload) or (INGEST_UPLOADS, INGEST_ROWS, INGEST_USERS, INGEST_DUP_FRAC, INGEST_LATE_FRAC)
    tag = hashlib.sha256(repr(sizes).encode()).hexdigest()[:8]
    d = os.path.join(root, f"{workload}-{seed}-{tag}")
    done = os.path.join(d, "DONE")
    files: dict[str, str] = {}
    rows: dict[str, int] = {}
    if workload == "ingest":
        names = [f"upload_{i:03d}.csv" for i in range(INGEST_UPLOADS)]
        files = {n: os.path.join(d, n) for n in names}
        if not os.path.exists(done):
            os.makedirs(d, exist_ok=True)
            for n, body in zip(names, ingest_uploads(seed, INGEST_UPLOADS, INGEST_ROWS)):
                with open(files[n], "w", newline="") as f:
                    w = csv.writer(f, lineterminator="\n")
                    w.writerow(INGEST_COLUMNS)
                    w.writerows(body)
        for n, p in files.items():
            with open(p) as f:
                rows[n] = sum(1 for _ in f) - 1
    else:
        sz = SIZES[workload]
        make = {
            "customer": lambda: customers(seed, sz["customer"]),
            "orders": lambda: orders(seed, sz["orders"], sz["customer"]),
            "events": lambda: events(seed, sz["events"], sz["users"]),
        }
        files = {t: os.path.join(d, f"{t}.parquet") for t in make if t in sz}
        if not os.path.exists(done):
            os.makedirs(d, exist_ok=True)
            for t, p in files.items():
                _write_parquet(make[t](), p)
        rows = {t: pq.ParquetFile(p).metadata.num_rows for t, p in files.items()}
    digests = {n: sha256_file(p) for n, p in files.items()}
    if not os.path.exists(done):
        with open(done, "w") as f:
            f.write("\n")
    return {"dir": d, "files": files, "rows": rows, "digests": digests}
