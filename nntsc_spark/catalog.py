"""Collection catalog: the engine's metadata surface — SURVEY.md §2.1 S6/S7.

The reference keeps a ``collections`` table (id, module, modsubtype,
streamtable, datatable; libnntsc/database.py:558-564) and serves catalog
queries: list_collections, streams by collection with incremental
``stream_id > minid`` fetch, schema probes (database.py:296-364,
dbselect.py:112-179).

Here the catalog derives from the static schema registry plus the streams
dimension tables; the schema probe is ``df.schema`` (no information_schema
round-trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import COLLECTIONS
from .session import local_frame


def list_collections(spark: SparkSession) -> DataFrame:
    """S6: the collections catalog as a DataFrame (ids assigned by sorted
    name, stable across runs)."""
    rows = [
        (i + 1, cs.module, cs.modsubtype, cs.stream_table, cs.data_table)
        for i, (name, cs) in enumerate(sorted(COLLECTIONS.items()))
    ]
    return local_frame(
        spark, rows, "id long, module string, modsubtype string, "
        "streamtable string, datatable string"
    )


def collection_schema(name: str) -> dict[str, list[str]]:
    """S7 schema probe: stream + data column names for a collection
    (replaces the reference's information_schema / LIMIT 1 probe,
    dbselect.py:112-139)."""
    cs = COLLECTIONS[name]
    return {
        "streamcols": [f.name for f in cs.stream_schema().fields],
        "datacols": [f.name for f in cs.data_schema().fields],
    }


def select_streams_by_collection(
    streams: DataFrame, minid: int = 0
) -> DataFrame:
    """Incremental stream fetch: only streams with id > minid
    (dbselect.py:141-179) — clients poll for new streams this way."""
    return streams.where(F.col("stream_id") > int(minid))
