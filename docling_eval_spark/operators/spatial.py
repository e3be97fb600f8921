"""Spatial join operators (SURVEY J6).

- point_in_box_join — point → smallest enclosing box (range-predicate
  join + min-area tie-break), reference semantics of the CVAT
  polyline-point lookup (`cvat_annotation/create.py:58-90`).

Scale shape: it joins on a coarse equi-key first (page/document id →
partition-pruned hash join); the range predicate only filters within
key groups.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def point_in_box_join(
    points: DataFrame,
    boxes: DataFrame,
    point_keys: list[str] | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Each point row (keys..., point_id, x, y) matched to the
    smallest-area enclosing box row (keys..., box_id, l, t, r, b);
    points with no enclosing box are kept with null box_id (the
    reference warns+skips — surfacing the miss is strictly more
    informative)."""
    keys = keys or ["page_no"]
    cond = [points[k] == boxes[k] for k in keys] + [
        (points["x"] >= boxes["l"]),
        (points["x"] <= boxes["r"]),
        (points["y"] >= boxes["t"]),
        (points["y"] <= boxes["b"]),
    ]
    joined = points.join(boxes, cond, "left").select(
        *[points[k] for k in keys],
        points["point_id"],
        points["x"],
        points["y"],
        boxes["box_id"],
        ((boxes["r"] - boxes["l"]) * (boxes["b"] - boxes["t"])).alias("box_area"),
    )
    w = Window.partitionBy(*keys, "point_id").orderBy(
        F.asc_nulls_last("box_area"), F.asc_nulls_last("box_id")
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
