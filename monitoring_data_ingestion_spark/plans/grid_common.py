"""Shared scaffold for the GRIB catalog modules (grid_codec_q,
grid_packing_q, grid_product_q, grid_spectral_q).

Every synthetic-archive query there has the same body: a documents
gate, a per-document archive ``build`` function, a decode stage and a
handful of witness aggregates.  Only ``build`` and the witness columns
are the query's own; the rest lives here, once.

The data format, written and parsed only in this module:

* a **gate** ``(m, r, limit)`` selects ``doc_id % m = r AND doc_id <
  limit`` from ``documents`` — the same predicate the query's oracle
  states;
* ``build(doc_id) -> bytes`` returns that document's archive (one or
  more concatenated GRIB messages);
* a landed archive's file path is ``doc://<doc_id>``; ``doc_id()``
  parses it back, and ``landed_records`` puts that column in front.

Stage contract: exactly TWO Arrow stages, both narrow over the
documents scan — (1) gate → synth: ``build`` runs once per gated
document; (2) decode: ``landed_records`` runs the landing decode
(``sources.grib_source._decode_batches``, the stage the binaryFile
source runs) and ``doc_archives`` runs the query's own per-archive
decoder.  Both return ``doc_id`` in front of the decoded columns.
Nothing shuffles before the queries' own aggregates, so only
statistic rows move.  Two queries keep their own stages:
grid_grib1_anomaly synthesizes one archive per MONTH, and
grid_geotiff_publish_scan round-trips GeoTIFF, not GRIB.

The witness expressions below are the exact checksum columns that at
least three queries share; a query whose arithmetic differs keeps its
own spelling (array-aggregate and posexplode+groupBy sums cast at
different points, so they are deliberately NOT unified).
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.grib_source import (
    INVENTORY_SCHEMA,
    RECORD_SCHEMA,
    _columns,
    _decode_batches,
    _inventory_batches,
)
from ..sources.readers import table

Gate = tuple[int, int, int]
Build = Callable[[int], bytes]


def _per_document(
    spark: SparkSession,
    sf_dir: str,
    gate: Gate,
    row: Callable[[int], tuple],
    schema: str,
) -> DataFrame:
    """Stage 1: the gated documents, one ``row(doc_id)`` each."""
    m, r, limit = gate
    ids = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % m == r) & (F.col("doc_id") < limit))
        .select("doc_id")
    )
    columns = _columns(schema)

    def synth(batches: "Iterator") -> "Iterator":
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [row(int(d)) for d in pdf["doc_id"]], columns=columns
            )

    return ids.mapInPandas(synth, schema=schema)


def doc_archives(
    spark: SparkSession,
    sf_dir: str,
    gate: Gate,
    build: Build,
    decode: Callable[[int, bytes], Iterator[dict]],
    schema: str,
) -> DataFrame:
    """The gated archives through the query's own codec call:
    ``decode(doc_id, archive)`` yields one dict per output row over the
    ``schema`` columns, and ``doc_id`` goes in front of each row."""
    archives = _per_document(
        spark, sf_dir, gate, lambda d: (d, build(d)),
        "doc_id bigint, grib binary",
    )
    columns = ["doc_id", *_columns(schema)]

    def run(batches: "Iterator") -> "Iterator":
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [
                    {"doc_id": int(d), **row}
                    for d, buf in zip(pdf["doc_id"], pdf["grib"])
                    for row in decode(int(d), bytes(buf))
                ],
                columns=columns,
            )

    run.__name__ = decode.__name__  # the plan names the stage after it
    return archives.mapInPandas(run, schema="doc_id bigint, " + schema)


def doc_id() -> Column:
    """The document a ``doc://<doc_id>`` landing ``path`` names."""
    return (
        F.regexp_extract("path", r"doc://(\d+)", 1)
        .cast("bigint")
        .alias("doc_id")
    )


def _landed(
    spark: SparkSession,
    sf_dir: str,
    gate: Gate,
    build: Build,
    decode: Callable,
    schema: str,
) -> DataFrame:
    files = _per_document(
        spark, sf_dir, gate, lambda d: (f"doc://{d}", build(d)),
        "path string, content binary",
    )
    return files.mapInPandas(decode, schema=schema).select(doc_id(), "*")


def landed_records(
    spark: SparkSession, sf_dir: str, gate: Gate, build: Build, **scan
) -> DataFrame:
    """The gated archives through the landing decode: ``doc_id`` then
    every ``RECORD_SCHEMA`` column.  ``scan`` goes to
    ``_decode_batches`` as is (``match``, ``on_error``,
    ``predefined_bitmaps``, ``synthesize_spectral``)."""
    decode = partial(_decode_batches, **scan)
    decode.__name__ = _decode_batches.__name__  # the plan's stage name
    return _landed(spark, sf_dir, gate, build, decode, RECORD_SCHEMA)


def landed_inventory(
    spark: SparkSession, sf_dir: str, gate: Gate, build: Build
) -> DataFrame:
    """The gated archives through the header-only landing inventory:
    ``doc_id`` then every ``INVENTORY_SCHEMA`` column."""
    return _landed(
        spark, sf_dir, gate, build, _inventory_batches, INVENTORY_SCHEMA
    )


# --- witness expressions ----------------------------------------------------


def _present(x: Column | str) -> Column:
    """Cell carries a value.  The codec marks masked cells NaN, Arrow
    maps NaN to NULL on the ``array<double>`` transfer, and Spark's
    ``isnan(NULL)`` is FALSE (not NULL) — so presence checks both
    representations explicitly.  Takes a column name or a Column (an
    ``F.filter`` / ``F.aggregate`` lambda variable)."""
    c = F.col(x) if isinstance(x, str) else x
    return c.isNotNull() & ~F.isnan(c)


def vsum() -> Column:
    """``vsum``: Σ of the landed ``values`` array, each cell cast to
    BIGINT before the add (exact for the integer-valued fixtures)."""
    return F.aggregate(
        "values", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
    ).alias("vsum")


def wsum() -> Column:
    """``wsum``: Σ pos·value over the landed ``values`` array, pos from
    0 in storage order — a field shifted by one cell cannot match."""
    weighted = F.zip_with(
        "values",
        F.sequence(F.lit(0), F.size("values") - 1),
        lambda v, idx: v.cast("bigint") * idx.cast("bigint"),
    )
    return F.aggregate(
        weighted, F.lit(0).cast("bigint"), lambda a, x: a + x
    ).alias("wsum")


def present_stats() -> list[Column]:
    """Aggregates over posexploded ``(pos, v)`` cells of a masked
    field: ``n_present``, the present-value sum ``vsum``, the
    position-weighted present sum ``wsum`` and the missing-position
    checksum ``misspos``."""
    return [
        F.count(F.when(_present("v"), F.lit(1)))
        .cast("bigint")
        .alias("n_present"),
        F.sum(F.when(_present("v"), F.col("v")).otherwise(F.lit(0.0)))
        .cast("bigint")
        .alias("vsum"),
        F.sum(
            F.when(_present("v"), F.col("v") * F.col("pos")).otherwise(
                F.lit(0.0)
            )
        )
        .cast("bigint")
        .alias("wsum"),
        F.sum(F.when(~_present("v"), F.col("pos")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("misspos"),
    ]
