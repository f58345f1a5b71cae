"""The one Arrow stage pair behind both byte families (`operators/pdflayout`
and `operators/multimodal`): `synthesize` turns doc ids into payload bytes,
`parse_stage` runs a plain `parse(bytes) -> records` function per document.
Each is ONE mapInPandas stage over Arrow batches — many documents per
batch, no per-row UDF, no shuffle — so a face differs from its siblings
only in the payload function or the parser it plugs in.

A null payload is read as b"": every parser already answers b"" with its
empty result, so a null row never raises and yields what an empty one does.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def synthesize(df: DataFrame, payload_fn) -> DataFrame:
    """(doc_id, payload) with payload_fn(doc_id) -> bytes — one Arrow
    batch of doc ids in, their payloads out."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [payload_fn(int(d)) for d in pdf["doc_id"]],
            })

    return df.select("doc_id").mapInPandas(fn, "doc_id long, payload binary")


def parse_stage(media: DataFrame, payload_col: str, parse,
                schema: str) -> DataFrame:
    """ONE Arrow stage over (key, payload): parse(bytes) -> records runs
    per document, each record becoming a row tagged with its key — the
    schema's first column, read from `media` by that name; the other
    columns are the record's own.  Values reach Arrow as the Python
    objects the parser made (object columns), so a nullable int stays an
    exact int.  Output order is the caller's business."""
    cols = [c.split()[0] for c in schema.split(",")]
    key = cols[0]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for k, payload in zip(pdf[key], pdf[payload_col]):
                for rec in parse(b"" if payload is None else bytes(payload)):
                    out[key].append(int(k))
                    for c in cols[1:]:
                        out[c].append(rec[c])
            yield pd.DataFrame({c: pd.Series(v, dtype=object)
                                for c, v in out.items()})

    return media.select(key, payload_col).mapInPandas(fn, schema)
