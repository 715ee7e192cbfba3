"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes files into a directory
the caller owns; the same seed gives the same bytes.

- ``write_tables``: the ten TESTDATA.md tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) as parquet, with the column
  names, types and value ranges of the fixture tables the registered queries
  and their DuckDB oracles read.
- ``write_cmapss``: the FIXTURES.md §1 tabular train/test pair as CSV
  (C-MAPSS-shaped, all-NULL ``sensor_22``, ``RUL`` label).
- ``write_grouped_ts``: the FIXTURES.md §2 grouped time series as CSV
  (AR(1) ``storage`` with phi=0.7, scattered NULLs in ``temp``).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()

_DAY = np.timedelta64(1, "D")
_US = "datetime64[us]"


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, table), so adding a table or changing
    one table's generator leaves the others' bytes unchanged."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, key])


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / _DAY)
    return (lo + rng.integers(0, span + 1, n) * _DAY).astype(_US)


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path)


def _tables(seed: int, sf: float) -> dict[str, tuple[pd.DataFrame, pa.Schema]]:
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(150_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else min(2000, int(50_000 * sf))
    out: dict[str, tuple[pd.DataFrame, pa.Schema]] = {}

    out["region"] = (pd.DataFrame({"r_regionkey": range(5), "r_name": _REGIONS}),
                     pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))

    out["nation"] = (pd.DataFrame({
        "n_nationkey": range(25),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }), pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))

    r = _rng(seed, "customer")
    out["customer"] = (pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    }), pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))

    r = _rng(seed, "supplier")
    out["supplier"] = (pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    }), pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    adj = np.array(_PART_ADJ)[r.integers(0, 8, n_part)]
    noun = np.array(_PART_NOUN)[r.integers(0, 8, n_part)]
    out["part"] = (pd.DataFrame({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }), pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    r = _rng(seed, "orders")
    out["orders"] = (pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    }), pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]))

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = (pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    }), pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))

    r = _rng(seed, "events")
    # strictly increasing microsecond timestamps over January 2024
    month_us = 30 * 86_400 * 1_000_000
    offs = np.sort(r.choice(month_us, n_events, replace=False))
    out["events"] = (pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": r.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": np.round(r.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    }), pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    r = _rng(seed, "documents")
    texts = []
    for i in range(n_docs):
        if i >= 10 and r.random() < 0.02:   # planted near-duplicate
            words = texts[int(r.integers(0, i))].split(" ")
            words[int(r.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), k)]))
    out["documents"] = (pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[r.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + r.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = (pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }), pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
    return out


def write_tables(dest: str, seed: int, sf: float) -> str:
    """Write the ten tables as ``<dest>/<table>.parquet``; returns ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, (df, schema) in _tables(seed, sf).items():
        _write_parquet(df, os.path.join(dest, f"{name}.parquet"), schema)
    return dest


CMAPSS_SENSORS = 22
CMAPSS_LABEL = "RUL"
# README-listed exclusions: ids, the near-constant setting and sensors
CMAPSS_EXCLUDED = ["engine_no", "time_in_cycles", "op_setting_3",
                   "sensor_16", "sensor_19"]


def _cmapss_frame(rng: np.random.Generator, engines: int, first_engine: int,
                  min_cycles: int, max_cycles: int) -> pd.DataFrame:
    slopes = rng.normal(0.0, 1.0, CMAPSS_SENSORS)
    bases = rng.uniform(10.0, 600.0, CMAPSS_SENSORS)
    parts = []
    for e in range(engines):
        life = int(rng.integers(min_cycles, max_cycles + 1))
        cyc = np.arange(1, life + 1)
        wear = cyc / life
        d = {"engine_no": np.full(life, first_engine + e, dtype=np.int64),
             "time_in_cycles": cyc.astype(np.int64),
             "op_setting_1": np.round(rng.normal(0.0, 0.002, life), 4),
             "op_setting_2": np.round(rng.normal(0.0, 0.0003, life), 4),
             "op_setting_3": np.full(life, 100.0)}
        for s in range(1, CMAPSS_SENSORS + 1):
            if s == 22:
                d["sensor_22"] = np.full(life, np.nan)
            elif s in (16, 19):
                d[f"sensor_{s}"] = np.full(life, round(float(bases[s - 1]), 2))
            else:
                noise = rng.normal(0.0, 0.5, life)
                d[f"sensor_{s}"] = np.round(
                    bases[s - 1] + 8.0 * slopes[s - 1] * wear ** 2 + noise, 4)
        d[CMAPSS_LABEL] = (life - cyc).astype(np.float64)
        parts.append(pd.DataFrame(d))
    return pd.concat(parts, ignore_index=True)


def write_cmapss(dest: str, seed: int, engines: int = 16, test_engines: int = 8,
                 min_cycles: int = 40, max_cycles: int = 90) -> tuple[str, str]:
    """FIXTURES.md §1 train/test pair; returns (train_csv, test_csv)."""
    os.makedirs(dest, exist_ok=True)
    rng = _rng(seed, "cmapss")
    train = _cmapss_frame(rng, engines, 1, min_cycles, max_cycles)
    test = _cmapss_frame(rng, test_engines, engines + 1, min_cycles, max_cycles)
    paths = (os.path.join(dest, "cmapss_train.csv"),
             os.path.join(dest, "cmapss_test.csv"))
    for df, path in zip((train, test), paths):
        df.to_csv(path, index=False, na_rep="")
    return paths


TS_GROUP, TS_ORDER, TS_LABEL = "site", "date", "demand"
TS_FEATURES = ("storage", "temp")
TS_PHI = 0.7


def write_grouped_ts(dest: str, seed: int, sites: int = 8,
                     min_rows: int = 100, max_rows: int = 400) -> str:
    """FIXTURES.md §2 grouped series; the last site is shorter than
    look_back + 1 rows (the zero-windows edge case). Returns the CSV path."""
    os.makedirs(dest, exist_ok=True)
    rng = _rng(seed, "grouped_ts")
    parts = []
    for s in range(sites):
        n = 3 if s == sites - 1 else int(rng.integers(min_rows, max_rows + 1))
        storage = np.empty(n)
        storage[0] = rng.normal(0.0, 1.0)
        eps = rng.normal(0.0, 1.0, n)
        for t in range(1, n):
            storage[t] = TS_PHI * storage[t - 1] + eps[t]
        temp = np.round(rng.normal(20.0, 5.0, n), 3)
        temp[rng.random(n) < 0.05] = np.nan
        demand = np.round(2.0 * storage + 0.1 * np.nan_to_num(temp, nan=20.0)
                          + rng.normal(0.0, 0.3, n), 4)
        parts.append(pd.DataFrame({
            TS_ORDER: (np.datetime64("2023-01-01") + np.arange(n) * _DAY)
            .astype("datetime64[D]").astype(str),
            TS_GROUP: f"site_{s}",
            "storage": np.round(storage + 50.0, 4),
            "temp": temp,
            TS_LABEL: demand,
        }))
    path = os.path.join(dest, "grouped_ts.csv")
    pd.concat(parts, ignore_index=True).to_csv(path, index=False, na_rep="")
    return path


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
