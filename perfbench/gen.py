"""Seeded input generator for the benchmark.

Everything the program sees is made here from ``--seed``: the same
seed gives byte-identical inputs. Three products:

- ``write_tables``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads,
  with the column names, types and value domains of the package's
  testdata layout, at the sf0.01 row counts.
- ``query_order``: the order of the query_mix queries in each pass.
- ``scene_stream``: the stream_ingest pixel values and their
  pre-encoded wire-format messages, split into waves and spool
  partitions.
- ``scene_bands``: the red, nir and qa bands of one synthetic UTM
  scene, with a cloud patch flagged in qa.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 layout
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _choice(rng, values: list[str], size: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), size, p=p)]


def _tables(seed: int) -> dict[str, dict]:
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    nat = np.arange(n["nation"], dtype=np.int32)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": nat,
        "n_name": [f"NATION_{i}" for i in nat],
        "n_regionkey": (nat % 5).astype(np.int32),
    }
    c = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = {
        "c_custkey": c,
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": rng.integers(0, 25, c.size).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c.size),
        "c_mktsegment": _choice(rng, SEGMENTS, c.size),
    }
    s = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": s,
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": rng.integers(0, 25, s.size).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.size),
    }
    p = np.arange(n["part"], dtype=np.int64)
    t["part"] = {
        "p_partkey": p,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, p.size), rng.integers(0, 8, p.size))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p.size)],
        "p_type": _choice(rng, PART_TYPES, p.size),
        "p_size": rng.integers(1, 51, p.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + (p % 1000) / 10.0, 1),
    }
    o = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = {
        "o_orderkey": o,
        "o_custkey": rng.integers(0, c.size, o.size).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], o.size),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o.size),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o.size),
        "o_orderpriority": _choice(rng, PRIORITIES, o.size),
    }
    m = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, o.size, m).astype(np.int64),
        "l_partkey": rng.integers(0, p.size, m).astype(np.int64),
        "l_suppkey": rng.integers(0, s.size, m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], m),
        "l_linestatus": _choice(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", 2499, m),
    }
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    t["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": t0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": _choice(rng, EVENT_TYPES, e),
        "value": np.round(rng.uniform(0.01, 490.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    t["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    v = n["embeddings"]
    vecs = rng.normal(size=(v, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(np.int32),
    }
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns the
    row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in _tables(seed).items():
        table = pa.table({k: pa.array(v) if not isinstance(v, pa.Array) else v
                          for k, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def query_order(seed: int, names: list[str], pass_index: int) -> list[str]:
    """The query order of one query_mix pass."""
    rng = np.random.default_rng([seed, 2, pass_index])
    return [names[i] for i in rng.permutation(len(names))]


@dataclass
class SceneStream:
    """One stream_ingest input: ``n_tiles`` tiles of ``size``² pixels
    laid out ``grid`` tiles wide, sent as ``waves`` horizontal bands of
    every tile over ``parts`` spool partitions."""

    values: np.ndarray  # (n_tiles, size, size) int pixel values
    waves: list[dict[int, list[str]]]  # per wave: partition -> messages
    grid: int

    @property
    def n_messages(self) -> int:
        return int(self.values.size)

    @property
    def value_sum(self) -> int:
        return int(self.values.sum())


def scene_stream(
    seed: int, n_tiles: int = 16, size: int = 256, waves: int = 3, parts: int = 4
) -> SceneStream:
    """Pixel values in [0, 250] and their ``label;value;SpatialKey(c,r);
    px;py`` messages (band 0 in the label, the value as the single
    feature), pre-encoded so the timed op only appends and drains."""
    rng = np.random.default_rng([seed, 3])
    values = rng.integers(0, 251, (n_tiles, size, size))
    grid = int(np.ceil(np.sqrt(n_tiles)))
    band_rows = size // waves
    out: list[dict[int, list[str]]] = [{} for _ in range(waves)]
    for t in range(n_tiles):
        key = f"SpatialKey({t % grid},{t // grid})"
        for py, row in enumerate(values[t].tolist()):
            w = min(py // band_rows, waves - 1)
            out[w].setdefault(t % parts, []).extend(
                f"0.0;{float(v)};{key};{px};{py}" for px, v in enumerate(row)
            )
    return SceneStream(values=values, waves=out, grid=grid)


# the qa bit the scene marks cloud with (the reference's cloud bit)
CLOUD_BIT = 0x8000


@dataclass
class SceneBands:
    """One synthetic scene: ``bands`` maps red, nir and qa to
    ``size``² uint16 arrays; ``cloud`` is the (row0, row1, col0, col1)
    patch whose qa has ``CLOUD_BIT`` set."""

    bands: dict[str, np.ndarray]
    cloud: tuple[int, int, int, int]


def scene_bands(seed: int, size: int) -> SceneBands:
    """Red in [500, 3000) and nir in [3000, 6000), so NDVI lies in
    (0, 1) wherever it is defined, over a smooth seeded field plus
    noise; qa flags one seeded rectangle of about a sixth of the scene
    side as cloud."""
    rng = np.random.default_rng([seed, 4])
    yy, xx = np.mgrid[0:size, 0:size] / size
    fx, fy, px, py = rng.uniform(1, 4, 2).tolist() + rng.uniform(0, 6.28, 2).tolist()
    field = 0.5 + 0.25 * (np.sin(6.28 * fx * xx + px) + np.sin(6.28 * fy * yy + py))
    noise = rng.uniform(0, 1, (2, size, size))
    red = 500 + 2499 * (0.7 * field + 0.3 * noise[0])
    nir = 3000 + 2999 * (0.7 * (1 - field) + 0.3 * noise[1])
    side = size // 6
    r0, c0 = rng.integers(0, size - side, 2).tolist()
    qa = np.zeros((size, size), np.uint16)
    qa[r0:r0 + side, c0:c0 + side] = CLOUD_BIT
    return SceneBands(
        bands={"red": red.astype(np.uint16), "nir": nir.astype(np.uint16),
               "qa": qa},
        cloud=(r0, r0 + side, c0, c0 + side),
    )
