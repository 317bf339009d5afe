"""Seeded CAP 1.2 alert feeds and the engine-free reference for them.

Field values come from DuckDB running the harness's own derivation
(``harness/derive.DUCK_CAP_CTE``) over a seeded ``orders`` table, so the
feed carries the same value families the oracle tests use: certificate
shapes, colour parameters, multi-polygon, poisoned-polygon and circle
alerts, and blank identifiers or senders that the parser must drop.
On top of that this module varies what the derivation keeps fixed:

* polygon vertex counts are drawn from a seeded log-normal (tens to
  hundreds of vertices), where the derivation emits 3- and 4-vertex
  shapes;
* a seeded share of alerts is already expired at ``NOW``;
* a seeded share of documents is malformed (truncated mid-document).

Every document is one line, the layout ``--per-line`` reads.

``expected`` recomputes the feature fan-out (ids and geometry,
including the shoelace centroid in the engine's arithmetic order) in
plain Python from the generated records, so outputs are checked by a
computation that shares nothing with the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass
from xml.sax.saxutils import escape

import duckdb
import pyarrow as pa

from etl_capnz_spark.harness.derive import DUCK_CAP_CTE

#: Fixed expiry-filter instant handed to the program (``--now``/``active``).
NOW = "2026-08-13 00:00:00"
NOW_TS = dt.datetime(2026, 8, 13)

NZ_CENTER = (174.0, -41.0)
EXPIRED_SHARE = 0.03
MALFORMED_SHARE = 0.02
VERTEX_MEDIAN = 60
VERTEX_MIN, VERTEX_MAX = 8, 400

_CAP_NS = "urn:oasis:names:tc:emergency:cap:1.2"


@dataclass
class Alert:
    """One generated document and what the reference needs to know of it."""

    xml: str
    identifier: str
    sender: str
    malformed: bool
    expired: bool
    polygons: list[str]
    circle: str


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _ngon(rng: random.Random, lat0: int, lon0: int) -> str:
    """A seeded star-shaped polygon inside the derivation's 1x1 cell."""
    n = int(rng.lognormvariate(math.log(VERTEX_MEDIAN), 0.7))
    n = max(VERTEX_MIN, min(VERTEX_MAX, n))
    clat, clon = lat0 + 0.5, lon0 + 0.5
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        r = 0.2 + 0.25 * rng.random()
        pts.append(f"{clat + r * math.sin(a):.4f},{clon + r * math.cos(a):.4f}")
    return " ".join(pts)


def _derived_rows(seed: int, n: int, first_key: int) -> list[tuple]:
    """Rows of the harness CAP derivation over ``n`` seeded orders."""
    rng = random.Random(seed)
    keys = [first_key + i for i in range(n)]
    # spread the key residues (families are k mod 2..97) without repeats
    rng.shuffle(keys)
    dates = [
        NOW_TS - dt.timedelta(minutes=rng.randrange(0, 10 * 24 * 60))
        for _ in range(n)
    ]
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        orders = pa.table(
            {"o_orderkey": pa.array(keys, pa.int64()),
             "o_orderdate": pa.array(dates, pa.timestamp("us"))}
        )
        con.register("orders", orders)
        cur = con.execute(
            f"WITH {DUCK_CAP_CTE} SELECT k, lat0, lon0, g, identifier, "
            "sender, sent_ts, status, msg_type, scope, category, event, "
            "urgency, severity, certainty, sender_name, headline, "
            "description, instruction, response_type, onset_ts, web, "
            "area_desc, polygons, circle, parameters, x509_certificate "
            "FROM cap ORDER BY k"
        )
        return cur.fetchall()
    finally:
        con.close()


def _el(tag: str, value: str) -> str:
    return f"<{tag}>{escape(value)}</{tag}>" if value else ""


def generate(
    seed: int,
    n: int,
    first_key: int = 1,
    sent: dt.datetime | None = None,
    expires_default: bool = True,
) -> list[Alert]:
    """``n`` seeded one-line CAP documents.

    ``sent`` overrides every ``<sent>`` stamp (the stream generator stamps
    generation time); ``expires_default=False`` leaves unexpired alerts
    without ``<expires>`` so a wall-clock ``sent`` never meets a stale
    expiry.
    """
    rng = random.Random(seed * 7919 + first_key)
    out = []
    for row in _derived_rows(seed, n, first_key):
        (k, lat0, lon0, g, ident, sender, sent_ts, status, msg_type, scope,
         category, event, urgency, severity, certainty, sender_name,
         headline, description, instruction, response_type, onset_ts, web,
         area_desc, polygons, circle, parameters, cert) = row
        polygons = list(polygons)
        if g in (0, 1, 2, 3):
            polygons[0] = _ngon(rng, lat0, lon0)
        expired = rng.random() < EXPIRED_SHARE
        if expired:
            expires = _iso(NOW_TS - dt.timedelta(hours=rng.randint(1, 48)))
        elif g == 6 or not expires_default:
            expires = ""
        else:
            expires = _iso(NOW_TS + dt.timedelta(hours=rng.randint(1, 48)))
        stamp = sent if sent is not None else sent_ts
        info = "".join([
            _el("category", category), _el("event", event),
            _el("urgency", urgency), _el("severity", severity),
            _el("certainty", certainty), _el("senderName", sender_name),
            _el("headline", headline), _el("description", description),
            _el("instruction", instruction),
            _el("responseType", response_type),
            _el("onset", _iso(onset_ts) if onset_ts else ""),
            _el("expires", expires), _el("web", web),
            *(
                f"<parameter>{_el('valueName', p['value_name'])}"
                f"{_el('value', p['value'])}</parameter>"
                for p in parameters
            ),
            "<area>", _el("areaDesc", area_desc),
            *(_el("polygon", p) for p in polygons),
            _el("circle", circle), "</area>",
        ])
        sig = ""
        if cert:
            # the derivation's certificate carries an entity plus a line
            # break; one document per line keeps the entity only
            body = cert.replace("\n", "")
            sig = (
                "<Signature><KeyInfo><X509Data><X509Certificate>"
                f"{body}</X509Certificate></X509Data></KeyInfo></Signature>"
            )
        xml = (
            f'<alert xmlns="{_CAP_NS}">'
            f"<identifier>{escape(ident)}</identifier>"
            f"<sender>{escape(sender)}</sender><sent>{_iso(stamp)}</sent>"
            f"{_el('status', status)}{_el('msgType', msg_type)}"
            f"{_el('scope', scope)}<info>{info}</info>{sig}</alert>"
        )
        malformed = rng.random() < MALFORMED_SHARE
        if malformed:
            xml = xml[: rng.randrange(20, len(xml) // 2)]
        out.append(Alert(xml, ident, sender, malformed, expired,
                         polygons, circle))
    return out


def write_files(alerts: list[Alert], directory: str, n_files: int) -> None:
    """Spread the documents round-robin over ``n_files`` landed files."""
    os.makedirs(directory, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(directory, f"cap-{i:05d}.xml"), "w") as fh:
            fh.write("\n".join(a.xml for a in alerts[i::n_files]) + "\n")


# -- engine-free reference ---------------------------------------------------


def _parse_ring(polygon: str) -> list[list[float]] | None:
    pts = []
    for pair in polygon.split():
        lat_s, lon_s = pair.split(",")
        lat, lon = float(lat_s), float(lon_s)
        if not (-90 <= lat <= 90 and -180 <= lon <= 180):
            return None
        pts.append([lon, lat])
    if len(pts) < 3:
        return None
    return pts if pts[0] == pts[-1] else pts + [pts[0]]


def _centroid(ring: list[list[float]]) -> list[float]:
    """Shoelace centroid in the engine's summation order (bit-identical)."""
    n = len(ring)
    a2 = cx = cy = 0.0
    for p, q in zip(ring[: n - 1], ring[1:]):
        cross = p[0] * q[1] - q[0] * p[1]
        a2 += cross
        cx += (p[0] + q[0]) * cross
        cy += (p[1] + q[1]) * cross
    area = a2 * 0.5
    if abs(area) < 1e-10:
        mx = my = 0.0
        for p in ring:
            mx += p[0]
            my += p[1]
        return [mx / n, my / n]
    return [cx / (6.0 * area), cy / (6.0 * area)]


def _parse_circle(circle: str) -> list[float] | None:
    parts = circle.strip().split(" ")
    if len(parts) < 2:
        return None
    lat_s, lon_s = parts[0].split(",")[:2]
    lat, lon, radius = float(lat_s), float(lon_s), float(parts[1])
    if radius <= 0 or not (-90 <= lat <= 90 and -180 <= lon <= 180):
        return None
    return [lon, lat]


def alert_features(a: Alert) -> list[tuple[str, str, object]]:
    """(feature_id, geometry type, coordinates) the alert must emit."""
    if a.malformed or not a.identifier or not a.sender or a.expired:
        return []
    fid = a.identifier
    if not a.polygons:
        pt = _parse_circle(a.circle) if a.circle else None
        return [(fid, "Point", pt or list(NZ_CENTER))]
    feats = []
    multi = len(a.polygons) > 1
    for i, poly in enumerate(a.polygons):
        ring = _parse_ring(poly)
        if ring is None:
            feats.append((fid, "Point", list(NZ_CENTER)))
            break
        pid = f"{fid}-{i}" if multi else fid
        if len(ring) >= 4:
            feats.append((pid, "Polygon", [ring]))
            feats.append((f"{pid}-center", "Point", _centroid(ring)))
    return feats


def digest(features) -> str:
    """Order-independent digest of (feature_id, type, coordinates)."""
    lines = sorted(f"{fid}\t{kind}\t{coords!r}" for fid, kind, coords in features)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def expected(alerts: list[Alert]) -> list[tuple[str, str, object]]:
    return [f for a in alerts for f in alert_features(a)]


def read_ndjson_features(directory: str) -> list[tuple[str, str, object]]:
    """(id, type, coordinates) of every Feature line under ``directory``."""
    out = []
    for root, _, files in os.walk(directory):
        for name in files:
            if name.startswith("part-"):
                with open(os.path.join(root, name)) as fh:
                    for line in fh:
                        if line.strip():
                            f = json.loads(line)
                            g = f["geometry"]
                            out.append((f["id"], g["type"], g["coordinates"]))
    return out
