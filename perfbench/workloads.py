"""The benchmark's workloads: their op lists and each op's output check.

An op is one unit a user waits for: one queue message through
``backend_service.dispatch`` (``service_mix``), or one contract query
built by ``__spark_entry__.queries()[name](spark, sf)`` and materialized
into the ``noop`` sink (the batch workloads). ``build`` returns the
unmaterialized result; ``materialize`` forces it; ``check`` returns None
or a reason the output is wrong.
"""

from __future__ import annotations

import random
import struct
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from tdei_backend_service_spark.datagen.images import REGION

# Workload -> (contract queries, timed passes at least); why each exists
# is in BENCHMARK.json and README.md. The batch list keeps one query per
# layer the roadmap wants measured. The pass count is fixed so that it
# cannot change with the host's speed: a pass right after the warm-up
# runs 5-20% slower than the next one, so a varying count would move
# every figure.
WORKLOADS = {
    "service_mix": ((), 2),
    "batch_mix": (("edge_cross_count", "co_travelers", "minhash_dedup",
                   "streaming_tiles"), 1),
}

SF = 0.01  # scale of the generated contract tables
CATALOG = {"n_images": 2000, "n_edges": 80, "n_zones": 25}


@dataclass
class Op:
    name: str
    service: str | None
    build: Callable[[], Any]
    materialize: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    # materializes for the warm-up pass, in a form ``check`` can read
    materialize_check: Callable[[Any], Any]
    expect_reject: bool = False


# ---------------------------------------------------------------------------
# batch workloads: contract queries
# ---------------------------------------------------------------------------


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_ops(spark, sf_dir: str, names, seed: int, oracle) -> list[Op]:
    import __spark_entry__ as E

    qs = E.queries()
    order = list(names)
    random.Random(seed).shuffle(order)
    return [Op(f"q.{n}", None, (lambda n=n: qs[n](spark, sf_dir)), noop_sink,
               (lambda pdf, n=n: oracle.check(n, pdf)),
               lambda df: df.toPandas()) for n in order]


# ---------------------------------------------------------------------------
# service_mix: seeded queue messages
# ---------------------------------------------------------------------------

# A synthetic mix, not a traffic-weighted one: no record of real message
# traffic exists, so each service appears about equally often
# (``spatial_join`` twice, for its edge and zone shapes), with one
# malformed message, and the catalog is sized so a pass fits the time
# budget.
SERVICE_COUNTS = {"bbox_intersect": 1, "spatial_join": 2,
                  "dataset_tag_road": 1, "union_dataset": 1,
                  "osw_osm_query": 1, "malformed": 1}
SERVICES = [s for s in SERVICE_COUNTS if s != "malformed"]


def _msg(service: str, i: int, **params) -> dict:
    # queue-message shape from README.md
    return {"messageId": f"m{i}", "messageType": service,
            "data": {"service": service, "parameters": params,
                     "user_id": "bench"}}


def service_messages(seed: int) -> list[dict]:
    """A seeded stream of queue messages: ``SERVICE_COUNTS`` of each kind
    in a seeded order, with seeded parameters."""
    rng = random.Random(seed)
    kinds = [s for s, c in SERVICE_COUNTS.items() for _ in range(c)]
    rng.shuffle(kinds)
    x0, y0, x1, y1 = REGION  # the catalog generator's extent
    out = []
    for i, kind in enumerate(kinds):
        ds = rng.choice(["ds-a", "ds-b"])
        if kind == "bbox_intersect":
            cx, cy = rng.uniform(x0, x1), rng.uniform(y0, y1)
            h = rng.uniform(0.002, 0.03)
            out.append(_msg(kind, i, tdei_dataset_id=ds,
                            bbox=f"{cx - h:.6f},{cy - h:.6f},{cx + h:.6f},{cy + h:.6f}"))
        elif kind == "spatial_join":
            flt = rng.choice([None, "highway = 'street_lamp'",
                              "ada_compliant = 'true'"])
            extra = {"join_filter_source": flt} if flt else {}
            if rng.random() < 0.5:
                d = rng.choice([10, 25, 50, 100])
                out.append(_msg(
                    kind, i, target_dataset_id="ds-a", target_dimension="edge",
                    source_dataset_id=ds, source_dimension="point",
                    join_condition=f"ST_DWithin(geometry_target, geometry_source, {d})",
                    aggregate=["count(*) as n"], **extra))
            else:
                pred = rng.choice(["ST_Intersects", "ST_Contains"])
                out.append(_msg(
                    kind, i, target_dataset_id="ds-a", target_dimension="zone",
                    source_dataset_id=ds, source_dimension="point",
                    join_condition=f"{pred}(geometry_target, geometry_source)",
                    aggregate=["count(*) as n"], **extra))
        elif kind == "dataset_tag_road":
            out.append(_msg(kind, i, target_dataset_id=ds,
                            source_dataset_id="ds-a",
                            cutoff_m=float(rng.choice([10, 25, 50, 100]))))
        elif kind == "union_dataset":
            out.append(_msg(kind, i, tdei_dataset_id_one="ds-a",
                            tdei_dataset_id_two="ds-b"))
        elif kind == "osw_osm_query":
            out.append(_msg(kind, i, tdei_dataset_id=ds))
        else:  # malformed: a required parameter missing, or no such service
            if rng.random() < 0.5:
                out.append(_msg("bbox_intersect", i, tdei_dataset_id=ds))
            else:
                out.append(_msg("teleport", i, tdei_dataset_id=ds))
            out[-1]["malformed"] = True
    return out


def _wkb_coords(blob: bytes) -> np.ndarray:
    """Vertices of a little-endian 2-D WKB LineString or single-ring
    Polygon (the only shapes the catalog generator writes)."""
    kind = struct.unpack_from("<I", blob, 1)[0]
    off = 5
    if kind == 3:
        off += 4  # ring count
    n = struct.unpack_from("<I", blob, off)[0]
    return np.frombuffer(blob, "<f8", 2 * n, off + 4).reshape(n, 2)


def _segment_hits_box(p, q, box) -> bool:
    """Liang-Barsky: does the closed segment p-q meet the closed box?"""
    (x0, y0), (x1, y1) = p, q
    bx0, by0, bx1, by1 = box
    t0, t1 = 0.0, 1.0
    dx, dy = x1 - x0, y1 - y0
    for pk, qk in ((-dx, x0 - bx0), (dx, bx1 - x0), (-dy, y0 - by0), (dy, by1 - y0)):
        if pk == 0:
            if qk < 0:
                return False
        else:
            t = qk / pk
            if pk < 0:
                t0 = max(t0, t)
            else:
                t1 = min(t1, t)
            if t0 > t1:
                return False
    return True


class ServiceChecks:
    """Engine-independent expected outputs, from the generated pandas
    catalog: closed forms for bbox and zone joins, row counts for the
    rest."""

    def __init__(self, cat):
        self.cat = cat
        self.edge_xy = [_wkb_coords(b) for b in cat.edges["geometry"]]
        self.zone_box = np.array([[c[:, 0].min(), c[:, 1].min(),
                                   c[:, 0].max(), c[:, 1].max()]
                                  for c in map(_wkb_coords, cat.zones["geometry"])])

    def _images(self, ds):
        return self.cat.images[self.cat.images["dataset_id"] == ds]

    def bbox(self, p, out) -> str | None:
        x0, y0, x1, y1 = (float(v) for v in p["bbox"].split(","))
        im = self._images(p["tdei_dataset_id"])
        want_img = int(((im.lon >= x0) & (im.lon <= x1)
                        & (im.lat >= y0) & (im.lat <= y1)).sum())
        want_edges = 0
        if p["tdei_dataset_id"] == "ds-a":
            want_edges = sum(any(_segment_hits_box(c[k], c[k + 1], (x0, y0, x1, y1))
                                 for k in range(len(c) - 1)) for c in self.edge_xy)
        got = {k: len(v) for k, v in out.items()}
        if got.get("images") != want_img or got.get("edges") != want_edges:
            return f"bbox rows {got}, expected images={want_img} edges={want_edges}"
        return None

    def spatial_join(self, p, out) -> str | None:
        if p["target_dimension"] == "edge":
            want = len(self.cat.edges)
            return None if len(out) == want else f"{len(out)} rows, expected {want}"
        if len(out) != len(self.cat.zones):
            return f"{len(out)} rows, expected {len(self.cat.zones)}"
        im = self._images(p["source_dataset_id"])
        flt = p.get("join_filter_source")
        if flt:
            col, val = (s.strip().strip("'") for s in flt.split("="))
            im = im[[props[col] == val for props in im["props"]]]
        lon, lat = im.lon.to_numpy(), im.lat.to_numpy()
        want = {int(z): int(((lon >= b[0]) & (lon <= b[2])
                             & (lat >= b[1]) & (lat <= b[3])).sum())
                for z, b in zip(self.cat.zones["zone_id"], self.zone_box)}
        got = {int(z): int(dict(pr)["ext:n"])
               for z, pr in zip(out["zone_id"], out["props"])}
        if got != want:
            bad = [z for z in want if got.get(z) != want[z]][:3]
            return f"zone counts differ at {bad}"
        return None

    def tag_road(self, p, out) -> str | None:
        want = len(self._images(p["target_dataset_id"]))
        if len(out) != want or "nearest_edge_id" not in out.columns:
            return f"{len(out)} rows, expected {want} with nearest_edge_id"
        return None

    def union(self, p, out) -> str | None:
        want = len(self.cat.images) - self.cat.n_dups
        return None if len(out) == want else f"{len(out)} rows, expected {want}"

    def osm(self, p, path) -> str | None:
        with open(path) as f:
            text = f.read()
        ds = p["tdei_dataset_id"]
        want_n = len(self._images(ds))
        want_w = len(self.cat.edges) if ds == "ds-a" else 0
        got_n, got_w = text.count("<node id="), text.count("<way id=")
        if (got_n, got_w) != (want_n, want_w):
            return f"osm nodes/ways {got_n}/{got_w}, expected {want_n}/{want_w}"
        return None


def _to_pandas(result):
    if isinstance(result, dict):
        return {k: v.toPandas() for k, v in result.items()}
    if isinstance(result, str):  # an export path: already written
        return result
    return result.toPandas()


def service_ops(catalog_sdf, checks: ServiceChecks, seed: int) -> list[Op]:
    from tdei_backend_service_spark.backend_service import dispatch

    by_service = {"bbox_intersect": checks.bbox,
                  "spatial_join": checks.spatial_join,
                  "dataset_tag_road": checks.tag_road,
                  "union_dataset": checks.union,
                  "osw_osm_query": checks.osm}
    ops = []
    for m in service_messages(seed):
        svc = m["data"]["service"]
        if m.get("malformed"):
            msg = {k: v for k, v in m.items() if k != "malformed"}
            ops.append(Op(f"svc.rejected.{m['messageId']}", None,
                          (lambda msg=msg: dispatch(catalog_sdf, msg)),
                          _to_pandas, lambda _r: "malformed message accepted",
                          _to_pandas, expect_reject=True))
            continue
        fn = by_service[svc]
        ops.append(Op(f"svc.{svc}.{m['messageId']}", svc,
                      (lambda m=m: dispatch(catalog_sdf, m)), _to_pandas,
                      (lambda out, p=m["data"]["parameters"], fn=fn: fn(p, out)),
                      _to_pandas))
    return ops
