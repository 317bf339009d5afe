"""S4/S5: feature rows → GeoJSON Feature documents and a FeatureCollection
(SURVEY.md §2.1).

The reference accumulates features into one in-memory FeatureCollection and
POSTs it (task.ts:615-623, 882). Distributed translation:

* ``feature_json`` — per-row Feature document via ``to_json`` (pure
  Catalyst; nulls dropped so conditional keys like ``links``/``stroke``
  disappear exactly as the reference's object spreads do).
* ``write_features`` — the scalable sink: newline-delimited GeoJSON
  features partitioned however the caller chooses. At 100 TB you never
  materialize ONE collection document.
* ``feature_collection_json`` — the reference-shape single document for
  API submission; driver-side by construction (bounded output: one batch
  of alerts, dozens of features — task.ts workload shape).
* ``counted`` — S5 diagnostics via ``observe`` (no extra action, unlike
  the reference's console.log which is free only because it is
  single-process).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


# The Feature document as SQL text: two ``selectExpr`` calls hand the
# whole expression tree to the JVM in two py4j round trips. Built from
# ``F.*`` Columns it took one round trip per node (plus a captured Python
# call site each), ~0.2 s per ``feature_json`` call — paid by every
# streaming micro-batch and every CLI refresh.
#
# to_json drops NULL fields (ignoreNullFields) — conditional keys like
# links/stroke/stale vanish exactly as the reference's object spreads
# and undefined values do under JSON.stringify.
_HEAD_SQL = """to_json(named_struct(
  'id', feature_id,
  'type', 'Feature',
  'properties', named_struct(
    'callsign', callsign,
    'type', cot_type,
    'time', time_iso,
    'start', start_iso,
    'stale', stale_iso,
    'icon', icon,
    'metadata', named_struct(
      'sender', metadata.sender,
      'sent', metadata.sent,
      'status', metadata.status,
      'msgType', metadata.msgType,
      'scope', metadata.scope,
      'category', metadata.category,
      'event', metadata.event,
      'urgency', metadata.urgency,
      'severity', metadata.severity,
      'certainty', metadata.certainty,
      'senderName', metadata.senderName,
      'headline', metadata.headline,
      'description', metadata.description,
      'instruction', metadata.instruction,
      'responseType', metadata.responseType,
      'onset', metadata.onset,
      'expires', metadata.expires,
      'web', metadata.web,
      'areaDesc', metadata.areaDesc,
      -- null unless centroid: to_json drops the key except there
      'isCenter', CASE WHEN is_center THEN true END),
    'remarks', remarks,
    'links', CASE WHEN link_uid IS NOT NULL THEN array(named_struct(
      'uid', link_uid,
      'relation', 'r-u',
      'mime', 'text/html',
      'url', link_url,
      'remarks', 'CAP Alert Details')) END,
    -- flat styling: polygon features only (reference key order,
    -- fill-opacity BEFORE fill: task.ts:723-730)
    'stroke', CASE WHEN geom_type = 'Polygon' THEN stroke END,
    'stroke-opacity', CASE WHEN geom_type = 'Polygon' THEN stroke_opacity END,
    'stroke-width', CASE WHEN geom_type = 'Polygon' THEN stroke_width END,
    'stroke-style', CASE WHEN geom_type = 'Polygon' THEN stroke_style END,
    'fill-opacity', CASE WHEN geom_type = 'Polygon' THEN fill_opacity END,
    'fill', CASE WHEN geom_type = 'Polygon' THEN fill END,
    -- nested styling: point-branch features only, always present there
    'style', CASE WHEN geom_type = 'Point' AND NOT is_center THEN named_struct(
      'stroke', stroke,
      'stroke-opacity', stroke_opacity,
      'stroke-width', stroke_width,
      'stroke-style', stroke_style,
      'fill-opacity', fill_opacity,
      'fill', fill) END,
    'archived', archived)))"""

_GEOMETRY_SQL = """CASE WHEN geom_type = 'Polygon'
  THEN to_json(named_struct('type', 'Polygon', 'coordinates', array(ring)))
  ELSE to_json(named_struct('type', 'Point', 'coordinates', array(lon, lat)))
END"""

# Splice the geometry in as the head object's last key.
_FEATURE_SQL = """concat(
  substring(_head, 1, length(_head) - 1), ',"geometry":', _geom, '}')"""


def feature_json(features: DataFrame) -> DataFrame:
    """One GeoJSON Feature document per row: (feature_id, feature).

    Document-shape asymmetries reproduced from the reference:

    * ``properties.metadata`` — the 19-field CAP object on every feature
      (task.ts:673-693, 825-844), with ``isCenter: true`` merged onto
      centroid features only (task.ts:752-755; absent otherwise, exactly
      as the object spread adds the key only there).
    * polygon features carry FLAT ``stroke``/``fill`` keys, present only
      when a colour is set (task.ts:723-730).
    * point-branch features (circle centre / NZ fallback) carry a nested
      ``style`` object that is ALWAYS present — ``{}`` when no colour,
      because the reference assigns ``style: baseStyle`` unconditionally
      with ``baseStyle = {}`` (task.ts:860-868, 870).
    * centroid features carry neither (task.ts:744-772).
    """
    staged = features.selectExpr(
        "feature_id", f"{_HEAD_SQL} AS _head", f"{_GEOMETRY_SQL} AS _geom"
    )
    return staged.selectExpr("feature_id", f"{_FEATURE_SQL} AS feature")


def write_features(features: DataFrame, path: str, partitions: int | None = None):
    """Scalable sink: newline-delimited Feature JSON."""
    docs = feature_json(features)
    if partitions is not None:
        docs = docs.repartition(partitions)
    docs.select("feature").write.mode("overwrite").text(path)


def feature_collection_json(features: DataFrame) -> str:
    """The reference-shape single FeatureCollection document (bounded
    output only — one scheduled batch)."""
    rows = feature_json(features).select("feature").collect()
    body = ",".join(r["feature"] for r in rows)
    return '{"type":"FeatureCollection","features":[' + body + "]}"


def counted(features: DataFrame) -> tuple[DataFrame, Observation]:
    """S5: attach an Observation counting emitted features — read
    ``obs.get`` after the action, zero extra passes."""
    obs = Observation("feature_metrics")
    observed = features.observe(
        obs, F.count(F.lit(1)).alias("n_features")
    )
    return observed, obs
