"""CSV → Versa model via Literate string templates.

Mirrors /root/reference/tools/py/serial/csv.py:129-145 (template fill per
row → Literate parse) and header-key slugification (csv.py:32-33,139-143).

Spark surface: ``parse_df`` runs the template+parse per Arrow batch inside
``mapInPandas`` — the archetype of the row→links extraction stage (each
CSV row is an independent subgraph, so this parallelizes embarrassingly,
like the KG job's per-conversation fan-out).
"""

from __future__ import annotations

import csv as _csv
import io
import re

from versa_spark.serial.literate import parse_to_quads

_OMIT_FROM_SLUG = re.compile(r"[^a-zA-Z0-9\-\_]")


def adapt_keys(fieldnames) -> dict:
    """Header → identifier-safe template keys (csv.py:139-143)."""
    return {k: _OMIT_FROM_SLUG.sub("_", k) for k in fieldnames or ()}


def rows_to_quads(rows, template: str) -> list[tuple]:
    """Dict rows → quads: fill the Literate template per row, parse, and
    concatenate (dedup happens at model construction)."""
    quads = []
    for row in rows:
        ad = adapt_keys(row.keys())
        full = dict(row)
        for k, adk in ad.items():
            full[adk] = row[k]
        text = template.format(**full)
        row_quads, _ = parse_to_quads(text)
        quads.extend(row_quads)
    return quads


def parse(csvfp, vliterate_template: str) -> list[tuple]:
    """CSV file-like/text → quads (reference csv.py:129-145)."""
    if isinstance(csvfp, str):
        csvfp = io.StringIO(csvfp)
    reader = _csv.DictReader(csvfp, delimiter=",", quotechar='"',
                             quoting=_csv.QUOTE_MINIMAL)
    return rows_to_quads(reader, vliterate_template)


def parse_df(df, vliterate_template: str):
    """Spark DataFrame of rows → link DataFrame via mapInPandas (batched
    template render + parse; no per-row Python crossing the JVM boundary).
    """
    from versa_spark.model import LINK_SCHEMA
    from versa_spark.shipping import ensure_shipped
    ensure_shipped(df.sparkSession)
    cols = df.columns

    def _batches(pdf_iter):
        import pandas as pd
        from versa_spark.model import quads_to_rows
        for pdf in pdf_iter:
            rows = pdf.to_dict("records")
            quads = rows_to_quads(
                ({k: ("" if v is None else str(v)) for k, v in r.items()}
                 for r in rows), vliterate_template)
            out = quads_to_rows(quads)
            yield pd.DataFrame(
                [(o, r, t, ti, [{"k": k, "v": v} for (k, v) in a], None)
                 for (o, r, t, ti, a, _ix) in out],
                columns=["origin", "rel", "target", "t_iri", "attrs",
                         "link_ix"])

    return df.mapInPandas(_batches, LINK_SCHEMA)
