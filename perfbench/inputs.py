"""Seeded benchmark inputs.

Two input sets, both written as parquet inside the run directory:

* ``write_tables`` — the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the contract queries in
  ``__spark_entry__.py`` read from an ``sf`` directory. Row counts follow
  the usual ``sf`` multipliers; value ranges follow the fixture tables the
  contract was written against (see TESTDATA.md).
* ``make_catalog`` — the service catalog for the ``service_mix``
  workload, built with the package's own pandas generators
  (``datagen.synth_*_pandas``): two image datasets ``ds-a`` and ``ds-b``
  (``ds-b`` plants jittered near-duplicates of ``ds-a``), a street-grid
  edge layer and a quad zone layer.

Everything derives from ``numpy.random.default_rng(seed)`` or the
generators' own seeded hashes, so a seed always yields the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "red", "small", "old", "new", "hot", "cold", "big"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(path: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema,
                                        preserve_index=False), path)


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n) * np.timedelta64(86_400_000_000, "us")


def write_tables(sf_dir: str, seed: int, sf: float) -> None:
    """Write every table the contract queries read."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(50_000 * sf)
    i32, i64, f64, s, ts = (pa.int32(), pa.int64(), pa.float64(), pa.string(),
                            pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(f"{sf_dir}/region.parquet", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{sf_dir}/nation.parquet", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(f"{sf_dir}/customer.parquet", pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(f"{sf_dir}/supplier.parquet", pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{sf_dir}/part.parquet", pd.DataFrame({
        "p_partkey": pk,
        "p_name": (pd.Series(rng.choice(_ADJ, n_part)) + " "
                   + pd.Series(rng.choice(_NOUN, n_part))),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(f"{sf_dir}/orders.parquet", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(f"{sf_dir}/lineitem.parquet", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64),
                   ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]))
    # events arrive in time order: event_id follows ts
    gaps = rng.exponential(30 * 86_400 * 1e6 / max(n_ev, 1), n_ev)
    _write(f"{sf_dir}/events.parquet", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
              + np.cumsum(gaps).astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 2), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))
    vocab = np.asarray(_VOCAB, dtype=object)
    lens = rng.integers(10, 100, n_doc)
    text = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    _write(f"{sf_dir}/documents.parquet", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centroids[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{sf_dir}/embeddings.parquet", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": labels.astype(np.int32)}),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))



@dataclass
class Catalog:
    """Driver-side copy of the service catalog, for output checks."""
    images: pd.DataFrame
    edges: pd.DataFrame
    zones: pd.DataFrame
    n_dups: int


def make_catalog(seed: int, n_images: int, n_edges: int, n_zones: int,
                 dup_share: float = 0.1) -> Catalog:
    """Two image datasets plus edges and zones. ``ds-b`` ids follow
    ``ds-a``'s, and its first ``dup_share`` rows copy the content of
    hash-spread ``ds-a`` rows, moved by at most 1e-6 degrees — well inside
    the union's default 0.5 m proximity."""
    from tdei_backend_service_spark.datagen import images as G

    a = G.synth_images_pandas(np.arange(n_images), seed=seed,
                              dataset_id="ds-a", with_bytes=False)
    d = int(n_images * dup_share)
    b_ids = np.arange(n_images, 2 * n_images)
    src = np.full(n_images, -1, dtype=np.int64)
    src[:d] = np.random.default_rng(seed + 1).choice(n_images, d,
                                                     replace=False)
    b = G.synth_images_pandas(b_ids, seed=seed, dataset_id="ds-b",
                              with_bytes=False, dup_src_ids=src,
                              jitter_deg=1e-6)
    edges = G.synth_edges_pandas(n_edges, seed=seed, dataset_id="ds-a")
    zones = G.synth_zones_pandas(n_zones, seed=seed, dataset_id="ds-a")
    return Catalog(pd.concat([a, b], ignore_index=True), edges, zones, d)


def _props(col) -> pa.Array:
    return pa.array([list(d.items()) for d in col],
                    type=pa.map_(pa.string(), pa.string()))


def write_catalog(cat: Catalog, data_dir: str) -> dict[str, str]:
    """Write the catalog's three layers as parquet; return their paths."""
    os.makedirs(data_dir, exist_ok=True)
    im, ed, zo = cat.images, cat.edges, cat.zones
    tables = {
        "images": pa.table({
            "image_id": pa.array(im.image_id, pa.string()),
            "bytes": pa.array(im.bytes, pa.binary()),
            "w": pa.array(im.w, pa.int32()), "h": pa.array(im.h, pa.int32()),
            "fmt": pa.array(im.fmt, pa.string()),
            "caption": pa.array(im.caption, pa.string()),
            "phash": pa.array(im.phash, pa.int64()),
            "lon": pa.array(im.lon, pa.float64()),
            "lat": pa.array(im.lat, pa.float64()),
            "props": _props(im.props),
            "dataset_id": pa.array(im.dataset_id, pa.string())}),
        "edges": pa.table({
            "edge_id": pa.array(ed.edge_id, pa.int64()),
            "orig_node_id": pa.array(ed.orig_node_id, pa.int64()),
            "dest_node_id": pa.array(ed.dest_node_id, pa.int64()),
            "geometry": pa.array(ed.geometry, pa.binary()),
            "props": _props(ed.props),
            "dataset_id": pa.array(ed.dataset_id, pa.string())}),
        "zones": pa.table({
            "zone_id": pa.array(zo.zone_id, pa.int64()),
            "node_ids": pa.array(zo.node_ids, pa.list_(pa.int64())),
            "geometry": pa.array(zo.geometry, pa.binary()),
            "props": _props(zo.props),
            "dataset_id": pa.array(zo.dataset_id, pa.string())}),
    }
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
