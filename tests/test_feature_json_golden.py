"""Exact Feature documents from ``sinks.geojson.feature_json``.

Byte-level goldens for every document shape the sink emits: a polygon
with colour (flat stroke/fill keys, web link) and its centroid
(``isCenter``), a polygon without colour and its centroid, a circle
point (nested ``style``, web link) and an NZ-fallback point whose
``style`` is ``{}``. Key order, number rendering, escaping and the
``geometry`` splice are all pinned, not just the parsed values.
"""

import datetime

from etl_capnz_spark.operators.features import build_features
from etl_capnz_spark.sinks.geojson import feature_json
from tests.test_features_golden import ALERT_SCHEMA, BASE

COLOUR = [("ColourCodeHex", "#336699")]

ALERTS = [
    dict(
        identifier="POLY",
        polygons=["0,10 1,10 1,11 0,11"],
        parameters=COLOUR,
        web="https://x.nz/a.xml",
        expires_ts="2026-09-01 00:00:00",
    ),
    dict(identifier="PLAIN", polygons=["0,10 1,10 1,11 0,11"]),
    dict(
        identifier="CIRCLE",
        circle="-41.5,174.5 30",
        parameters=COLOUR,
        web="https://x.nz/c.xml",
    ),
    dict(identifier="NZ", headline=""),  # no geometry → NZ fallback point
]

GOLDEN = {
    'CIRCLE': (
        '{"id":"CIRCLE","type":"Feature"'
        ',"properties":{"callsign":"Strong Wind Watch","type":"a-f-X-i"'
        ',"time":"2026-08-01T00:00:00.000Z"'
        ',"start":"2026-08-01T00:00:00.000Z"'
        ',"icon":"bb4df0a6-ca8d-4ba8-bb9e-3deb97ff015e:NaturalHazards/NH.04.StrongWind.png"'
        ',"metadata":{"sender":"met","sent":"2026-08-01T00:00:00.000Z"'
        ',"status":"Actual","msgType":"Alert","scope":"Public"'
        ',"category":"Met","event":"strongWind","urgency":""'
        ',"severity":"Severe","certainty":"Likely"'
        ',"senderName":"MetService","headline":"Strong Wind Watch"'
        ',"description":"","instruction":"","responseType":"","onset":""'
        ',"expires":"","web":"https://x.nz/c.xml","areaDesc":"Zone"}'
        ',"remarks":"Description: \\nInstruction: \\n'
        'Category: Meteorological (including flood)\\nEvent: Strong Wind\\n'
        'Urgency: Unknown\\nSeverity: Severe\\nCertainty: Likely\\n'
        'Response: Unknown"'
        ',"links":[{"uid":"CIRCLE","relation":"r-u","mime":"text/html"'
        ',"url":"https://x.nz/c.xml","remarks":"CAP Alert Details"}]'
        ',"style":{"stroke":"#336699","stroke-opacity":0.5019607843137255'
        ',"stroke-width":3,"stroke-style":"solid"'
        ',"fill-opacity":0.5019607843137255,"fill":"#336699"}'
        ',"archived":false},"geometry":{"type":"Point"'
        ',"coordinates":[174.5,-41.5]}}'
    ),
    'NZ': (
        '{"id":"NZ","type":"Feature","properties":{"callsign":"CAP Alert"'
        ',"type":"a-f-X-i","time":"2026-08-01T00:00:00.000Z"'
        ',"start":"2026-08-01T00:00:00.000Z"'
        ',"icon":"bb4df0a6-ca8d-4ba8-bb9e-3deb97ff015e:NaturalHazards/NH.04.StrongWind.png"'
        ',"metadata":{"sender":"met","sent":"2026-08-01T00:00:00.000Z"'
        ',"status":"Actual","msgType":"Alert","scope":"Public"'
        ',"category":"Met","event":"strongWind","urgency":""'
        ',"severity":"Severe","certainty":"Likely"'
        ',"senderName":"MetService","headline":"","description":""'
        ',"instruction":"","responseType":"","onset":"","expires":""'
        ',"web":"","areaDesc":"Zone"}'
        ',"remarks":"Description: \\nInstruction: \\n'
        'Category: Meteorological (including flood)\\nEvent: Strong Wind\\n'
        'Urgency: Unknown\\nSeverity: Severe\\nCertainty: Likely\\n'
        'Response: Unknown"'
        ',"style":{},"archived":false},"geometry":{"type":"Point"'
        ',"coordinates":[174.0,-41.0]}}'
    ),
    'PLAIN': (
        '{"id":"PLAIN","type":"Feature"'
        ',"properties":{"callsign":"Strong Wind Watch","type":"a-f-X-i"'
        ',"time":"2026-08-01T00:00:00.000Z"'
        ',"start":"2026-08-01T00:00:00.000Z","metadata":{"sender":"met"'
        ',"sent":"2026-08-01T00:00:00.000Z","status":"Actual"'
        ',"msgType":"Alert","scope":"Public","category":"Met"'
        ',"event":"strongWind","urgency":"","severity":"Severe"'
        ',"certainty":"Likely","senderName":"MetService"'
        ',"headline":"Strong Wind Watch","description":"","instruction":""'
        ',"responseType":"","onset":"","expires":"","web":""'
        ',"areaDesc":"Zone"}'
        ',"remarks":"Description: \\nInstruction: \\n'
        'Category: Meteorological (including flood)\\nEvent: Strong Wind\\n'
        'Urgency: Unknown\\nSeverity: Severe\\nCertainty: Likely\\n'
        'Response: Unknown"'
        ',"archived":false},"geometry":{"type":"Polygon"'
        ',"coordinates":[[[10.0,0.0],[10.0,1.0],[11.0,1.0],[11.0,0.0],[10.0,0.0]]]}}'
    ),
    'PLAIN-center': (
        '{"id":"PLAIN-center","type":"Feature"'
        ',"properties":{"callsign":"Strong Wind Watch","type":"a-f-X-i"'
        ',"time":"2026-08-01T00:00:00.000Z"'
        ',"start":"2026-08-01T00:00:00.000Z"'
        ',"icon":"bb4df0a6-ca8d-4ba8-bb9e-3deb97ff015e:NaturalHazards/NH.04.StrongWind.png"'
        ',"metadata":{"sender":"met","sent":"2026-08-01T00:00:00.000Z"'
        ',"status":"Actual","msgType":"Alert","scope":"Public"'
        ',"category":"Met","event":"strongWind","urgency":""'
        ',"severity":"Severe","certainty":"Likely"'
        ',"senderName":"MetService","headline":"Strong Wind Watch"'
        ',"description":"","instruction":"","responseType":"","onset":""'
        ',"expires":"","web":"","areaDesc":"Zone","isCenter":true}'
        ',"remarks":"Description: \\nInstruction: \\n'
        'Category: Meteorological (including flood)\\nEvent: Strong Wind\\n'
        'Urgency: Unknown\\nSeverity: Severe\\nCertainty: Likely\\n'
        'Response: Unknown"'
        ',"archived":false},"geometry":{"type":"Point"'
        ',"coordinates":[10.5,0.5]}}'
    ),
    'POLY': (
        '{"id":"POLY","type":"Feature"'
        ',"properties":{"callsign":"Strong Wind Watch","type":"a-f-X-i"'
        ',"time":"2026-08-01T00:00:00.000Z"'
        ',"start":"2026-08-01T00:00:00.000Z"'
        ',"stale":"2026-09-01T00:00:00.000Z","metadata":{"sender":"met"'
        ',"sent":"2026-08-01T00:00:00.000Z","status":"Actual"'
        ',"msgType":"Alert","scope":"Public","category":"Met"'
        ',"event":"strongWind","urgency":"","severity":"Severe"'
        ',"certainty":"Likely","senderName":"MetService"'
        ',"headline":"Strong Wind Watch","description":"","instruction":""'
        ',"responseType":"","onset":"","expires":"2026-09-01T00:00:00.000Z"'
        ',"web":"https://x.nz/a.xml","areaDesc":"Zone"}'
        ',"remarks":"Description: \\nInstruction: \\n'
        'Category: Meteorological (including flood)\\nEvent: Strong Wind\\n'
        'Urgency: Unknown\\nSeverity: Severe\\nCertainty: Likely\\n'
        'Response: Unknown\\nExpires: 1/09/2026, 12:00:00 PM NZT"'
        ',"links":[{"uid":"POLY","relation":"r-u","mime":"text/html"'
        ',"url":"https://x.nz/a.xml","remarks":"CAP Alert Details"}]'
        ',"stroke":"#336699","stroke-opacity":0.5,"stroke-width":3'
        ',"stroke-style":"solid","fill-opacity":0.4,"fill":"#336699"'
        ',"archived":false},"geometry":{"type":"Polygon"'
        ',"coordinates":[[[10.0,0.0],[10.0,1.0],[11.0,1.0],[11.0,0.0],[10.0,0.0]]]}}'
    ),
    'POLY-center': (
        '{"id":"POLY-center","type":"Feature"'
        ',"properties":{"callsign":"Strong Wind Watch","type":"a-f-X-i"'
        ',"time":"2026-08-01T00:00:00.000Z"'
        ',"start":"2026-08-01T00:00:00.000Z"'
        ',"stale":"2026-09-01T00:00:00.000Z"'
        ',"icon":"bb4df0a6-ca8d-4ba8-bb9e-3deb97ff015e:NaturalHazards/NH.04.StrongWind.png"'
        ',"metadata":{"sender":"met","sent":"2026-08-01T00:00:00.000Z"'
        ',"status":"Actual","msgType":"Alert","scope":"Public"'
        ',"category":"Met","event":"strongWind","urgency":""'
        ',"severity":"Severe","certainty":"Likely"'
        ',"senderName":"MetService","headline":"Strong Wind Watch"'
        ',"description":"","instruction":"","responseType":"","onset":""'
        ',"expires":"2026-09-01T00:00:00.000Z","web":"https://x.nz/a.xml"'
        ',"areaDesc":"Zone","isCenter":true}'
        ',"remarks":"Description: \\nInstruction: \\n'
        'Category: Meteorological (including flood)\\nEvent: Strong Wind\\n'
        'Urgency: Unknown\\nSeverity: Severe\\nCertainty: Likely\\n'
        'Response: Unknown\\nExpires: 1/09/2026, 12:00:00 PM NZT"'
        ',"links":[{"uid":"POLY-center","relation":"r-u","mime":"text/html"'
        ',"url":"https://x.nz/a.xml","remarks":"CAP Alert Details"}]'
        ',"archived":false},"geometry":{"type":"Point"'
        ',"coordinates":[10.5,0.5]}}'
    ),
}


def test_feature_json_golden_documents(spark):
    rows = []
    for overrides in ALERTS:
        row = {**BASE, **overrides}
        for ts in ("sent_ts", "onset_ts", "expires_ts"):
            if isinstance(row[ts], str):
                row[ts] = datetime.datetime.fromisoformat(row[ts])
        rows.append(tuple(row.values()))
    feats = build_features(spark.createDataFrame(rows, ALERT_SCHEMA))
    docs = feature_json(feats)
    assert docs.columns == ["feature_id", "feature"]
    got = {r["feature_id"]: r["feature"] for r in docs.collect()}
    assert sorted(got) == sorted(GOLDEN)
    for fid, want in GOLDEN.items():
        assert got[fid] == want, fid
