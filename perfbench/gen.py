"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments and the seed: the
same seed writes byte-identical parquet. The program under test only
ever sees the files written here.

- ``telemetry``: a backlog of telemetry records (id, ts, machine, status,
  signal; mostly 10-sample arrays with a few long 2 kHz readings) split
  into one parquet file per micro-batch, plus a manifest of
  what was planted (invalid records, premature and on-time redeliveries,
  late events) so the pipeline's sinks can be checked exactly.
- ``tables``: the ten star-schema tables the query surface reads, at a
  chosen scale factor, with the shapes of the reference test tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- telemetry

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
BACKOFF_BASE_MS = 1000  # Streaming.BackoffBaseMillis
MAX_RETRIES = 5  # Streaming.MaxRetries
LATE_BY_MS = 20 * 60_000  # far behind the pipeline's 5-minute watermark


def _machine_weights(n):
    """Uneven machine mix: Zipf(1.2) over n machines."""
    w = 1.0 / np.arange(1, n + 1) ** 1.2
    return w / w.sum()


def _normal_signal(rng, length):
    """A valid reading: the reference's integer 10-sample batch arrays, or
    a 2 kHz vibration (sinusoid plus noise) for long ones.
    Neither can exceed the |z| > 4 outlier bound: one value of n samples
    reaches at most sqrt(n - 1) = 3 for n = 10, and a sinusoid with small
    noise stays near sqrt(2)."""
    if length <= 10:
        return rng.integers(-100, 101, size=length).astype(np.float64)
    t = np.arange(length) / 2000.0
    f = rng.uniform(20.0, 400.0)
    amp = rng.uniform(0.5, 2.0)
    return amp * np.sin(2 * np.pi * f * t) + rng.normal(0.0, 0.05 * amp, length)


def _spike_signal(rng, length):
    """An invalid reading: near-flat with one spike, as in PipelineSpec.
    At least 20 samples, because a 10-sample array cannot fail the
    check; the spike's |z| is about sqrt(n - 1) > 4."""
    n = max(length, 20)
    sig = rng.normal(0.0, 0.01, n)
    sig[rng.integers(0, n)] = 100.0
    return sig


def telemetry(out_dir, seed, files, per_file, long_every=0, long_len=2048,
              machines=12, invalid_share=0.02, late_share=0.01, warmup=True):
    """Write ``files`` parquet files of about ``per_file`` short records
    (10 samples each); every ``long_every``-th file also carries one long
    record of ``long_len`` samples (0: none).

    File k covers event times [k, k + 1) * span; files get increasing
    modification times so a file source with maxFilesPerTrigger=1 reads
    them in event-time order. Invalid records come in three planted
    shapes, each kept inside one file so their attempts share a batch:

    - bounce: a failure, then a redelivery before its 1 s backoff due
      time -> exactly one "retry" row on the DLQ leg;
    - exhaust: five failures, each after its due time -> one "dlq" row;
    - single: one failure -> no DLQ-leg output.

    Late events are valid records stamped 20 minutes behind their file,
    at most one per (file, machine, minute), so the windowed-feature leg
    drops each of them at its stateful operator (one row each). They
    start at the third file: the pipeline's watermark only takes effect
    from its third micro-batch.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    span_ms = 120_000  # two minutes of event time per file
    weights = _machine_weights(machines)
    names = np.array([f"M{i + 1:02d}" for i in range(machines)])
    invalid_ids = {"bounce": [], "exhaust": [], "single": []}
    late_ids = []
    next_invalid_id = 1 << 40
    total = 0
    next_id = 0
    for k in range(files):
        start = T0_MS + k * span_ms
        rows = []  # (id, ts_ms, machine, status, signal)
        n_invalid = int(round(per_file * invalid_share))
        n_late = int(round(per_file * late_share)) if k > 1 else 0
        n_long = 1 if long_every and k % long_every == long_every - 1 else 0
        n_valid = per_file - n_invalid - n_late + n_long
        mach = names[rng.choice(machines, size=n_valid + n_late, p=weights)]
        offs = np.sort(rng.integers(0, span_ms, size=n_valid))
        status = np.where(rng.random(n_valid) < 0.95, "Good", "Degraded")
        long_at = set(rng.choice(n_valid, size=n_long, replace=False).tolist())
        for i in range(n_valid):
            length = long_len if i in long_at else 10
            rows.append((next_id, start + int(offs[i]), str(mach[i]),
                         str(status[i]), _normal_signal(rng, length)))
            next_id += 1
        # late valid records: distinct (machine, minute) slots per file
        slots = set()
        for i in range(n_valid, n_valid + n_late):
            m = str(mach[i])
            minute = int(rng.integers(0, 10))
            while (m, minute) in slots:
                minute += 1
            slots.add((m, minute))
            ts = start - LATE_BY_MS - minute * 60_000 + int(rng.integers(0, 60_000))
            rows.append((next_id, ts, m, "Good", _normal_signal(rng, 10)))
            late_ids.append(next_id)
            next_id += 1
        # invalid incidents; planted attempts stay inside this file's span
        left = n_invalid
        while left > 0:
            kind = ("bounce", "exhaust", "single")[int(rng.integers(0, 3))]
            need = {"bounce": 2, "exhaust": MAX_RETRIES, "single": 1}[kind]
            if need > left:
                kind, need = "single", 1
            rid = next_invalid_id
            next_invalid_id += 1
            m = str(names[rng.choice(machines, p=weights)])
            sig = _spike_signal(rng, 10)
            t = start + int(rng.integers(0, span_ms // 2))
            times = [t]
            if kind == "bounce":
                times.append(t + int(rng.integers(100, BACKOFF_BASE_MS)))
            elif kind == "exhaust":
                for r in range(1, MAX_RETRIES):
                    due = times[-1] + (BACKOFF_BASE_MS << (r - 1))
                    times.append(due + int(rng.integers(1, 500)))
            for ts in times:
                rows.append((rid, ts, m, "Bad", sig))
            invalid_ids[kind].append(rid)
            left -= need
        _write_batch(os.path.join(out_dir, "backlog"), k, rows)
        total += len(rows)
    manifest = {
        "records": total,
        "long_records": files // long_every if long_every else 0,
        "late_rows": len(late_ids),
        "retry_rows": len(invalid_ids["bounce"]),
        "dlq_rows": len(invalid_ids["exhaust"]),
        "late_ids": late_ids,
        "retry_ids": invalid_ids["bounce"],
        "dlq_ids": invalid_ids["exhaust"],
    }
    if warmup:
        # a small backlog for the untimed warm-up replay: the same schema
        # and plans, short signals only so it stays cheap
        telemetry(os.path.join(out_dir, "warmup"), seed + 1, 2, 50,
                  machines=machines, warmup=False)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


_TELEMETRY_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("machine", pa.string()),
    ("status", pa.string()),
    ("signal", pa.list_(pa.float64())),
])


def _write_batch(dir_, k, rows):
    os.makedirs(dir_, exist_ok=True)
    rows.sort(key=lambda r: (r[1], r[0]))
    table = pa.table({
        "id": [r[0] for r in rows],
        "ts": pa.array([r[1] * 1000 for r in rows], pa.timestamp("us", tz="UTC")),
        "machine": [r[2] for r in rows],
        "status": [r[3] for r in rows],
        "signal": [r[4].tolist() for r in rows],
    }, schema=_TELEMETRY_SCHEMA)
    path = os.path.join(dir_, f"batch-{k:05d}.parquet")
    pq.write_table(table, path)
    mtime = 1_700_000_000 + k
    os.utime(path, (mtime, mtime))


# ------------------------------------------------------------------- tables

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line data table agg value key stream window a spark "
          "part group big sort query fast the").split()
_COLORS = "blue cold hot large new old red small".split()
_NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(out_dir, seed, sf):
    """Write the star schema at scale factor ``sf`` (sf 1 ~ 6M lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": _REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n)))
    # about 5% near-duplicates: a later document's text plus " dup"
    for i in range(n_docs - 1):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(i + 1, n_docs))] + " dup"
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
