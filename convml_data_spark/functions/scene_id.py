"""Scene-id construction — SURVEY §2.8 E1.

Reference: ``make_scene_id``/``parse_scene_id`` format ids as
``{source}__{%Y%m%d%H%M}`` (convml_data/pipeline/scene_sources.py:14-28).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCENE_ID_SEP = "__"
SCENE_ID_TIME_FORMAT = "yyyyMMddHHmm"


def make_scene_id(source: Column, t: Column) -> Column:
    return F.concat_ws(SCENE_ID_SEP, source, F.date_format(t, SCENE_ID_TIME_FORMAT))

