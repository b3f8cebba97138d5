"""J8: entity linking — broadcast-hash join against the surface dictionary.

The reference's analog is a per-char dict lookup with UNK fallback
(crf_utils.py:158-159) and the GloVe join (chinese_CONLL.py:177-188);
[NORTH] mandates dictionary+embedding linking against a canonical entity
table.

Scale design (SURVEY.md §4 item 1):
- The surface→entity dictionary is a dimension table (≤ millions of
  rows): ``broadcast()`` join — NO shuffle of the (huge) mentions fact
  table, and skew from Zipfian head surfaces is irrelevant because a
  broadcast join never co-locates by key.
- The dictionary arrives resolved: ``KGPipeline._dimensions`` builds it
  once per pipeline (``surface_dictionary_rows`` on the driver, or
  ``surface_dictionary`` above ``materialize.DRIVER_MAX_EDGES``) and
  passes the same frame to ``link_mentions`` and
  ``triples.emit_triples_narrow``.
- No embedding tie-break: the dictionary keys each (surface,
  label_type) to its smallest entity_id, so a mention links to at most
  one entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_surface(col) -> F.Column:
    """THE surface-normalization convention (chinese_CONLL.py:17-18:
    every digit → '0'), applied at every surface boundary — dictionary
    build (below), mention join keys (here and
    triples.emit_triples_narrow), and equivalence-edge endpoints
    (canonicalize.surface_components).  Python twin:
    core.textops.normalize_digits.  One shared function so the three
    join paths and the numpy oracle can never diverge on the
    convention (round-2 verdict finding #1).

    ``(?U)`` matters: the Python twin is ``re.sub(r"\\d", "0")`` whose
    ``\\d`` matches every Unicode Nd digit (full-width ２０２２, Arabic-
    Indic …), while Java's default ``\\d`` is ASCII-only — without the
    flag a CJK corpus surface like '奥运２０２２' would normalize on the
    oracle side but not in Spark and silently miss the dictionary."""
    return F.regexp_replace(col, r"(?U)\d", "0")


def surface_dictionary(entities: DataFrame) -> DataFrame:
    """entities(entity_id, canonical_name, aliases, label_type, ...) →
    (surface, entity_id, label_type) — one row per canonical name/alias,
    digit-normalized (chinese_CONLL.py:17-18 semantics)."""
    surfaces = entities.select(
        F.explode(
            F.array_union(F.array(F.col("canonical_name")), F.col("aliases"))
        ).alias("surface"),
        "entity_id",
        "label_type",
    )
    # Deterministic dedup: one row per (surface, label_type) keyed to the
    # smallest entity_id.  (dropDuplicates(['surface']) picked an arbitrary
    # row when digit-normalization made surfaces collide, and silently
    # dropped cross-type homonyms — the label_type filter downstream then
    # lost those mentions entirely.)
    return (
        surfaces.withColumn("surface", normalize_surface(F.col("surface")))
        .groupBy("surface", "label_type")
        .agg(F.min("entity_id").alias("entity_id"))
    )


def surface_dictionary_rows(entities: list) -> list[tuple[str, str, int]]:
    """Driver twin of ``surface_dictionary`` for DIMENSION-scale entity
    lists that exist as plain python objects (the seed dictionary): the
    exact same semantics — one row per (normalized surface, label_type)
    keyed to the smallest entity_id — with zero Spark jobs (the r06
    entity_component_map_rows precedent; parity pytest-asserted).
    ``entities``: objects with entity_id / canonical_name / aliases /
    label_type.  → rows sorted by (surface, label_type)."""
    from ..core.textops import normalize_digits

    dic: dict[tuple[str, str], int] = {}
    for e in entities:
        for s in [e.canonical_name, *e.aliases]:
            k = (normalize_digits(s), e.label_type)
            if k not in dic or e.entity_id < dic[k]:
                dic[k] = e.entity_id
    return sorted((s, t, eid) for (s, t), eid in dic.items())


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """mentions + dictionary → linked mentions (adds entity_id).

    Inner join: unlinked mentions are dropped (NIL linking is a filter,
    not a null column, for the triple path). Label types must agree.
    ``dictionary``: the (surface, label_type, entity_id) frame of
    ``surface_dictionary`` or its driver twin.
    """
    dic = dictionary.withColumnRenamed("label_type", "dict_label")
    m = mentions.withColumn("norm_surface", normalize_surface(F.col("surface")))
    return (
        m.join(F.broadcast(dic), m.norm_surface == dic.surface, "inner")
        .filter(F.col("label_type") == F.col("dict_label"))
        .drop("surface", "dict_label")
        .withColumnRenamed("norm_surface", "surface")
    )
