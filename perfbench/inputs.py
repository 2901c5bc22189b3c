"""Seeded inputs of the graft benchmark.

Everything the program under test reads is made here, from a seed, so the
same seed gives byte-identical inputs on every machine:

* ``warehouse(dir, sf)`` writes the ten parquet tables the batch operators
  read (the TPC-H-ish star schema of TESTDATA.md plus ``events``,
  ``documents`` and ``embeddings``) at scale factor ``sf``. The tables use
  one fixed seed, so the expected result of every query can be stored next
  to the benchmark; the workload seed only permutes the query order.
* ``query_order(names, seed)`` is that permutation.
* ``event_log(seed, ...)`` is the KSE stream input: JSON events with skewed
  user ids, redeliveries and corrupt records, plus the answers the stream's
  outputs are checked against.
"""

import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = datetime.timezone.utc
TABLE_SEED = 42

# Subsets of the report batches the benchmark was specified with, cut so
# that a run (set-up, warm-up batch and two measured batches) stays near
# half a minute on four cores; perfbench/README.md lists what was left out.
ANALYTICS = [
    "q01_pricing_summary", "q68_basket_pairs", "q49_part_concentration",
    "e01_sessionize", "e102_markov_stationary",
]
CURATION = ["d48_weighted_jaccard", "d17_containment_capped", "m07_payload_clusters"]
QUERIES = {"analytics": ANALYTICS, "curation": CURATION}

WORDS = ("a the data spark stream batch table column row key value join "
         "group sort hash scan filter merge window vector query agg order "
         "line part customer big small fast slow").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def query_order(names, seed):
    """The workload's queries in the order the seed picks."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def _ts_us(day0, rng, n, days):
    base = int(datetime.datetime(*day0, tzinfo=UTC).timestamp()) * 1_000_000
    return base + rng.integers(0, days, n) * 86_400_000_000


def warehouse(dir_, sf, only=()):
    """Write the batch tables (or the ``only`` ones) into ``dir_`` at scale
    factor ``sf``: one parquet file with one row group each, like the
    test tables. Tables are the same whichever subset is written."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)

    def _write(dir_, name, cols):
        if not only or name in only:
            pq.write_table(pa.table(cols), f"{dir_}/{name}.parquet",
                           row_group_size=1 << 30)

    def rows(at_sf1):
        return max(1, round(at_sf1 * sf))
    ts = pa.timestamp("us")

    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    n = rows(150_000)
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n)]})
    n = rows(10_000)
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n)})
    n = rows(200_000)
    adj = ["red", "blue", "green", "hot", "cold", "small", "large", "old"]
    noun = ["anvil", "bolt", "gear", "rod", "ring", "widget", "gizmo", "nut"]
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)})
    n = rows(1_500_000)
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows(150_000), n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": money(1000, 500_000, n),
        "o_orderdate": pa.array(_ts_us((1995, 1, 1), rng, n, 2405), ts),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n)]})
    n = rows(6_000_000)
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, rows(1_500_000), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows(200_000), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows(10_000), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_ts_us((1995, 1, 2), rng, n, 2499), ts)})
    n = rows(1_000_000)
    t0 = int(datetime.datetime(2024, 1, 1, tzinfo=UTC).timestamp()) * 1_000_000
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n)), ts),
        "user_id": pa.array(rng.integers(0, rows(15_000), n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = rows(50_000)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    # 5% near-duplicates: another document's text with a marker word added
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n = rows(20_000)
    label = rng.integers(0, 10, n)
    centroids = rng.normal(0, 0.6, (10, 64))
    vec = rng.normal(0, 1, (n, 64)) + centroids[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def event_log(seed, n_events, rate, window_s, time_scale, redeliver=0.02, corrupt=0.005):
    """The KSE topic for one stream phase.

    Event ``i`` is created on schedule ``i / rate`` seconds after the
    phase's producer clock starts. Its event time runs ``time_scale`` times
    faster than the schedule, from midnight of a fixed logical day, so that
    windows of event-time hours close within seconds of schedule. Returns
    ``(records, windows)``:

    * ``records``: ``(scheduled ms, event id, payload)`` in topic order. A
      redelivery repeats an earlier payload 50 to 500 records later; a
      corrupt record is a truncated payload and carries id -1.
    * ``windows``: ``"<event_type>|<window start s>" -> [count, scheduled
      ms of its last record]`` over the valid records, redeliveries
      included, i.e. what each rollup doc must say (``window_s`` long
      tumbling windows of event time).
    """
    rng = random.Random(seed)
    users = rng.choices(range(5000), weights=[1 / (k + 1) for k in range(5000)],
                        k=n_events)
    day0 = datetime.datetime(2024, 3, 1, tzinfo=UTC)
    base_s = int(day0.timestamp())
    records, pending, windows = [], [], {}
    for i in range(n_events):
        ms = i * 1000 / rate
        etype = EVENT_TYPES[rng.randrange(5)]
        t = int(ms * time_scale)  # event time: ms after day0
        ts = (day0 + datetime.timedelta(milliseconds=t)).strftime("%Y-%m-%dT%H:%M:%S")
        ts += f".{t % 1000:03d}Z"
        value = round(rng.expovariate(0.02), 2)
        payload = (f'{{"event_id":{i},"ts":"{ts}","user_id":{users[i]},'
                   f'"event_type":"{etype}","value":{value},'
                   f'"props":"{{\\"k\\": {rng.randrange(100)}}}"}}')
        records.append((ms, i, payload, etype))
        if rng.random() < redeliver:
            pending.append((i + rng.randrange(50, 500), i, payload, etype))
            pending.sort()
        if rng.random() < corrupt:
            records.append((ms, -1, payload[:rng.randrange(5, len(payload) - 5)], None))
        while pending and pending[0][0] <= i:
            _, j, p, et = pending.pop(0)
            records.append((ms, j, p, et))
    for ms, i, _, etype in records:
        if i >= 0:
            start = (base_s + int(i * 1000 / rate * time_scale) // 1000) // window_s * window_s
            key = f"{etype}|{start}"
            windows[key] = [windows.get(key, [0, 0])[0] + 1, ms]
    records = [r[:3] for r in records]
    return records, windows


def write_event_log(path, records, windows):
    """``path``: one record per line, ``<scheduled ms>\t<id>\t<payload>``;
    ``path.windows``: ``<window key>\t<count>\t<last id>``."""
    with open(path, "w", encoding="utf-8") as f:
        for ms, i, payload in records:
            f.write(f"{ms:.3f}\t{i}\t{payload}\n")
    with open(path + ".windows", "w", encoding="utf-8") as f:
        for key, (n, last) in sorted(windows.items()):
            f.write(f"{key}\t{n}\t{last:.3f}\n")
