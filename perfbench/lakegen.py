"""Seeded generators for the benchmark's inputs.

``write_lake`` writes the ten TPC-H-ish tables the registered queries
read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), one parquet file with one row group
each, with the schemas, row counts per scale factor and value
distributions of the read-only test lake the query suite is written
against (``l_extendedprice`` is drawn off the cent grid; see there). ``write_eeg_csvs`` writes
MindBigData-format raw files for the medallion, and ``make_corpus``
builds the document corpus the streaming ingest drains.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: rows per unit of scale factor (the test lake's sizes: sf0.01 has
#: 60,000 lineitems)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def lake_sizes(sf: float) -> dict[str, int]:
    sizes = {k: max(1, int(round(v * sf))) for k, v in _ROWS_PER_SF.items()}
    sizes["region"] = len(REGIONS)
    sizes["nation"] = 25
    sizes["documents"] = max(500, int(round(50_000 * sf)))
    sizes["embeddings"] = max(500, int(round(20_000 * sf)))
    return sizes


def _days(rng, start: datetime.date, end: datetime.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int, dup_share: float = 0.05) -> list[str]:
    """``n`` space-separated texts over a 31-word vocabulary; a
    ``dup_share`` of them repeat an earlier text with a marker token, so
    near-duplicate and repeated-span operators have work to find."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lens]
    n_dup = int(n * dup_share)
    dup_at = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    for i in sorted(dup_at):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def lake_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = lake_sizes(sf)
    users = max(10, int(round(15_000 * sf)))
    out: dict[str, pa.Table] = {}
    i32 = pa.int32()
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": np.round(900.0 + np.arange(p) % 1000 * 0.1, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(
                rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), o
            ),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            # off the cent grid: a sum of whole-cent prices times
            # whole-percent discounts lands exactly on a half cent about
            # once in a hundred groups, and rounding such a tie depends on
            # summation order, so two correct engines disagree
            "l_extendedprice": rng.uniform(900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(
                rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), li
            ),
        }
    )
    # an odd number of events per user: per-user means of cent amounts
    # are then never exactly half a rounding step, where the engines'
    # double rounding can disagree (r67's cusum_range did, on 1 seed in 14)
    per_user = rng.multinomial(n["events"], np.full(users, 1.0 / users))
    per_user += per_user % 2 == 0
    e = int(per_user.sum())
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, e))
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.permutation(np.repeat(np.arange(users, dtype=np.int64), per_user)),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = documents(rng, d)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, m), i32),
        }
    )
    return out


def write_lake(out_dir: str, sf: float, seed: int) -> int:
    """Write the lake under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in lake_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        total += os.path.getsize(path)
    return total


#: (channel, frequency in Hz) of the synthetic EEG signals
EEG_CHANNELS = [("AF3", 8.0), ("AF4", 10.0), ("T7", 6.0), ("T8", 12.0), ("Pz", 4.0)]
EEG_FS = 128


def write_eeg_csvs(
    out_dir: str, n_files: int, seconds: int, seed: int, first_image: int = 0
) -> tuple[int, int]:
    """MindBigData raw files (headerless ``channel,v1..vN`` rows, the
    metadata in the file name). Returns (samples, bytes) written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = seconds * EEG_FS
    t = np.arange(n) / EEG_FS
    samples = written = 0
    for i in range(n_files):
        image = first_image + i
        synset = int(rng.integers(0, 10**8))
        name = f"MindBigData_Imagenet_Insight_n{synset:08d}_{image}_0_{image % 3}.csv"
        lines = []
        for ch, freq in EEG_CHANNELS:
            amp = rng.uniform(5.0, 50.0)
            phase = rng.uniform(0, 2 * np.pi)
            sig = amp * np.sin(2 * np.pi * freq * t + phase)
            sig += rng.normal(0.0, 0.1 * amp, n)
            lines.append(ch + "," + ",".join(f"{v:.4f}" for v in sig))
        body = "\n".join(lines) + "\n"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(body)
        samples += n * len(EEG_CHANNELS)
        written += len(body)
    return samples, written


def make_corpus(n_docs: int, seed: int, dup_share: float = 0.2) -> pa.Table:
    """Document corpus for the streaming ingest: (doc_id, text), with a
    fixed share of documents repeating an earlier one."""
    rng = np.random.default_rng(seed)
    texts = documents(rng, n_docs, dup_share)
    return pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
