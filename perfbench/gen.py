"""Input generators for the pipeline workloads. Every input is a pure
function of a seed, built with numpy + pyarrow so the benchmark's inputs
never depend on engine code. (ops_sf001 reads the committed sf0.01 corpus
in perfbench/data/ instead and does not use the seed.)

  customers(path, seed, n)     the reference pipeline's bank-customer table.
  stream(...)                  the open-loop event generator (run as its own
                               process: `python3 gen.py stream ...`).
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def customers(path, seed, n, parts=4):
    """The reference DAG's source table (`clientes`): ids 1..n in a seeded
    order, DECIMAL(10,2) balances, Faker-style names and addresses; a
    directory of `parts` files, like a range-partitioned JDBC read."""
    rng = np.random.default_rng(seed)
    first = np.array(["Maria", "Juan", "Carlos", "Ana", "Lucia", "Pedro", "Sofia", "Diego"])
    last = np.array(["Garcia", "Lopez", "Martinez", "Perez", "Gomez", "Diaz", "Torres", "Ruiz"])
    ids = rng.permutation(np.arange(1, n + 1))
    pesos = rng.integers(0, 10000000, n)
    dolares = rng.integers(0, 1000000, n)
    dec = pa.decimal128(10, 2)
    from decimal import Decimal
    tab = pa.table({
        "id": pa.array(ids, pa.int32()),
        "nombre": first[rng.integers(0, 8, n)],
        "apellido": last[rng.integers(0, 8, n)],
        "direccion": [f"{a} Calle {b}" for a, b in
                      zip(rng.integers(1, 10000, n), last[rng.integers(0, 8, n)])],
        "telefono": [f"+54{p:010d}" for p in rng.integers(0, 10**9, n)],
        "caja_ahorro_pesos": pa.array([Decimal(int(v)).scaleb(-2) for v in pesos], dec),
        "caja_ahorro_dolares": pa.array([Decimal(int(v)).scaleb(-2) for v in dolares], dec)})
    step = -(-n // parts)
    for i in range(parts):
        _write(tab.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return n


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("created_ms", pa.float64())])


def stream(landing, seed, start_at, phases, tick_s, speed, log_path):
    """Open-loop generator: from wall time `start_at`, every `tick_s` land
    one parquet file holding the events created in the previous tick, on
    schedule whether or not the job keeps up. `phases` is a list of
    (seconds, events_per_second). Each event carries `created_ms`, its
    scheduled creation time (wall clock, ms since the epoch).

    Event time runs `speed`× faster than wall time from 2024-01-01, so
    1-hour windows close every 3600/speed wall seconds and the store grows.
    ~10% of events are redelivered 1-4 ticks later with the same id and
    event time; ~20% carry up to 20 minutes of event-time disorder, inside
    the job's 30-minute watermark, so no original is ever late.
    """
    rng = np.random.default_rng(seed)
    t0_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    os.makedirs(landing, exist_ok=True)
    pending = []  # (due_tick, arrays) redeliveries
    next_id, tick, late = 0, 0, []
    bounds, acc = [], 0.0
    for secs, rate in phases:
        bounds.append((acc, acc + secs, rate))
        acc += secs
    n_ticks = int(round(acc / tick_s))
    while time.time() < start_at:
        time.sleep(min(0.05, max(0.0, start_at - time.time())))
    for tick in range(n_ticks):
        lo = tick * tick_s
        rate = next(r for a, b, r in bounds if a <= lo < b)
        n = int(rng.poisson(rate * tick_s))
        created = start_at + lo + np.sort(rng.uniform(0, tick_s, n))
        ev_us = t0_us + ((created - start_at) * speed * 1e6).astype(np.int64)
        disorder = rng.random(n) < 0.2
        ev_us[disorder] -= rng.integers(0, 20 * 60 * 10**6, int(disorder.sum()))
        ids = np.arange(next_id, next_id + n)
        next_id += n
        cols = {"event_id": ids, "ts": ev_us,
                "user_id": rng.integers(0, 500, n),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.uniform(0.01, 490.0, n), 2),
                "created_ms": created * 1000.0}
        redo = rng.random(n) < 0.1
        if redo.any():
            due = tick + rng.integers(1, 5)
            pending.append((due, {k: v[redo] for k, v in cols.items()}))
        parts = [cols] + [c for d, c in pending if d == tick]
        pending = [(d, c) for d, c in pending if d != tick]
        merged = {k: np.concatenate([p[k] for p in parts]) for k in cols}
        due_at = start_at + (tick + 1) * tick_s
        while time.time() < due_at:
            time.sleep(max(0.0, min(0.02, due_at - time.time())))
        if len(merged["event_id"]):
            tab = pa.table({
                "event_id": pa.array(merged["event_id"], pa.int64()),
                "ts": pa.array(merged["ts"], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(merged["user_id"], pa.int64()),
                "event_type": pa.array(merged["event_type"], pa.string()),
                "value": pa.array(merged["value"], pa.float64()),
                "created_ms": pa.array(merged["created_ms"], pa.float64())},
                schema=EVENT_SCHEMA)
            tmp = os.path.join(landing, f".t{tick:06d}.parquet.tmp")
            pq.write_table(tab, tmp)
            os.replace(tmp, os.path.join(landing, f"t{tick:06d}.parquet"))
        late.append((time.time() - due_at) * 1000.0)
    with open(log_path, "w") as f:
        json.dump({"events": next_id, "files": n_ticks, "late_ms": late}, f)


if __name__ == "__main__":
    a = json.loads(sys.argv[2])
    if sys.argv[1] == "stream":
        stream(a["landing"], a["seed"], a["start_at"], a["phases"], a["tick_s"],
               a["speed"], a["log"])
    else:
        sys.exit(f"unknown generator {sys.argv[1]}")
