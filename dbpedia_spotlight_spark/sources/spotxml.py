"""Spot-XML source (SURVEY.md §2.1 S2) — the /disambiguate input format.

Reference behavior: ``core/.../spot/SpotXmlParser.scala`` [U] parses
pre-spotted XML of the form

    <annotation text="President Obama visited ...">
      <surfaceForm name="Obama" offset="10"/>
      ...
    </annotation>

into (Text, List[SurfaceFormOccurrence]); the /disambiguate endpoint then
skips spotting and runs candidate-generation + disambiguation on the
given spots (rest/.../resources/Disambiguate.java [U]).

Spark mapping: a deterministic stdlib-XML pandas parse inside one
mapInPandas (same fused-pipeline shape as /annotate, SURVEY §3.1) — the
document is the unit of work, so parsing and disambiguation share the
single JVM↔Python crossing.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType,
)


def parse_spot_xml(xml: str) -> tuple[str, list[tuple[str, int]]]:
    """→ (text, [(surface_form, offset), ...]). Malformed XML → ('', []).

    Offsets are char offsets into ``text`` exactly as the reference's
    SpotXmlParser reads the ``offset`` attribute."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return "", []
    text = root.get("text") or (root.text or "")
    spots = []
    for sf in root.iter("surfaceForm"):
        name = sf.get("name")
        off = sf.get("offset")
        if name is None or off is None:
            continue
        try:
            spots.append((name, int(off)))
        except ValueError:
            continue
    return text, spots


def to_spot_xml(text: str, spots: list[tuple[str, int]]) -> str:
    """Inverse serializer (used by tests/fixtures)."""
    root = ET.Element("annotation", {"text": text})
    for name, off in spots:
        ET.SubElement(root, "surfaceForm",
                      {"name": name, "offset": str(off)})
    return ET.tostring(root, encoding="unicode")


SPOTTED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("begin", IntegerType()),
    StructField("end", IntegerType()),
    StructField("surface_form", StringType()),
])


def spots_from_xml(df: DataFrame, xml_col: str = "xml",
                   url_col: str = "url") -> DataFrame:
    """(url, xml) → exploded spotted rows (url, text, begin, end, sf)."""
    def run(batches):
        for pdf in batches:
            rows = []
            for url, xml in zip(pdf[url_col], pdf[xml_col]):
                text, spots = parse_spot_xml(xml)
                for name, off in spots:
                    rows.append((url, text, off, off + len(name), name))
            yield pd.DataFrame(rows, columns=[f.name for f in SPOTTED_SCHEMA.fields])

    return df.select(url_col, xml_col).mapInPandas(run, SPOTTED_SCHEMA)


def disambiguate_xml(spark: SparkSession, df: DataFrame, model_bc,
                     cfg=None, xml_col: str = "xml",
                     url_col: str = "url") -> DataFrame:
    """/disambiguate endpoint: pre-spotted XML in, scored annotations out.

    Same fused mapInPandas design as annotate() — zero shuffles; spots are
    taken from the XML instead of the FSA, everything downstream (C1
    candidate lookup, D1–D7 scoring, F1–F3 filters) is shared.
    """
    from dbpedia_spotlight_spark.functions.tokenizer import tokenize
    from dbpedia_spotlight_spark.pipeline import (
        ANNOTATION_SCHEMA, PipelineConfig, _get_model, _para_bags,
        _para_of, _passes_filters, _score_doc,
    )

    cfg = cfg or PipelineConfig()

    def run(batches):
        model = _get_model(model_bc)
        # built ONCE per task, not per document: with a real multi-million
        # entry lexicon an in-loop rebuild is O(|lexicon|) per doc and
        # dominates the /disambiguate path
        sf_index = {name: i for i, name in enumerate(model.sf_names)}
        for pdf in batches:
            rows = []
            for url, xml in zip(pdf[url_col], pdf[xml_col]):
                text, named_spots = parse_spot_xml(xml)
                if not named_spots:
                    continue
                # context bags per paragraph, same as the annotate path
                _, bounds, bags = _para_bags(model, text, tokenize(text))
                spots = []
                for name, off in named_spots:
                    sf_id = sf_index.get(name.lower())
                    if sf_id is None:
                        continue  # unknown surface form → NIL (C3)
                    spots.append((off, off + len(name), sf_id,
                                  _para_of(bounds, off)))
                for (begin, end, sf_id, eid, rank, sim, pct2) in _score_doc(
                    model, cfg, spots, bags
                ):
                    if not _passes_filters(model, cfg, eid, sim, pct2):
                        continue
                    rows.append((url, begin, end, model.sf_names[sf_id],
                                 model.ent_uris[eid], rank, sim, pct2,
                                 int(model.ent_support[eid]),
                                 list(model.ent_types[eid])))
            yield pd.DataFrame(
                rows, columns=[f.name for f in ANNOTATION_SCHEMA.fields]
            )

    return df.select(url_col, xml_col).mapInPandas(run, ANNOTATION_SCHEMA)
