"""M8/M9: mention pairing + rule-based triple emission.

The reference's entity-pair generation is dead code
(mrc_gen_taggers.py:4-19, empty loop body) and its NRE path scores
pre-paired (sentence, head, tail) items row-at-a-time (models.py:10-18);
[NORTH] replaces the model with rule-based relation emission. Semantics:
for linked mentions m1, m2 in the same packed record with
``m1.start_pos < m2.start_pos``, both in the same sentence (no sentence
delimiter between them), emit (subj, pred, obj) when a rule for
(m1.label_type, m2.label_type) exists whose connective ``pattern``
occurs in the between-text.

Scale design (the pairing runs on the detect stage's nested output):
- a record's mentions arrive co-located in one array, so pairs are
  generated and delimiter-filtered inside the array — a narrow map, no
  self-join and no shuffle of the fact table.
- rules, the entity dictionary and the canonicalization map are
  dimension tables → ``broadcast()`` joins.
- the only shuffle in the pages→triples plan is the final ``distinct``.
- everything is Catalyst expressions (transform/filter/substring/instr)
  — no Python in this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The reference delimiter set (text_segment.py:27): '；' '，' '？' '。'
# '！' and the TWO-character ellipsis '……' — a lone '…' is NOT a sentence
# delimiter in the reference.  Single source of truth shared with the
# numpy oracle (oracle/pipeline.py) so the Spark regex and the oracle's
# substring check can never diverge.
DELIMITERS = ("；", "，", "？", "。", "！", "……")
_DELIM_RE = "|".join(DELIMITERS)


def emit_triples_narrow(
    records_mentions: DataFrame,
    rules: DataFrame,
    dictionary: DataFrame,
    component_map: DataFrame,
) -> DataFrame:
    """Shuffle-minimal triple emission from the fused detect output.

    ``records_mentions``: (url, rec_id, text, mentions array<struct>) —
    the detect stage's nested output. Because a record's mentions are
    already co-located in one array, the M8 pairing needs NO self-join:
    pairs are generated and delimiter-filtered inside the array
    (transform×transform → filter → explode), which is a narrow map.
    Rules, the entity dictionary, and the canonicalization map are all
    dimension tables → broadcast joins. The ONLY shuffle in the whole
    pages→triples plan is the final ``distinct``.

    At 10^12 pages this is the plan that survives: the fact table never
    shuffles until it has been reduced to (subj, pred, obj, url, rec)
    tuples.

    ``dictionary``: the (surface, label_type, entity_id) frame of
    link.surface_dictionary or its driver twin — the same frame
    link_mentions gets.  Mention surfaces are digit-normalized
    (link.normalize_surface) before the dictionary joins — the same
    convention link_mentions applies to the mentions snapshot and the
    dictionary itself applies, so a digit-bearing alias links
    identically in the triples and in the linked table.
    """
    from .link import normalize_surface

    def _pair_ok(p):
        between = F.col("text").substr(
            p["m1"]["end_pos"] + 1, p["m2"]["start_pos"] - p["m1"]["end_pos"]
        )
        return (p["m1"]["start_pos"] < p["m2"]["start_pos"]) & ~between.rlike(
            _DELIM_RE
        )

    pair_expr = F.filter(
        F.flatten(
            F.transform(
                F.col("mentions"),
                lambda m1: F.transform(
                    F.col("mentions"), lambda m2: F.struct(m1.alias("m1"), m2.alias("m2"))
                ),
            )
        ),
        _pair_ok,
    )

    pairs = (
        records_mentions.withColumn("p", F.explode(pair_expr))
        .select(
            "url",
            "rec_id",
            F.expr("substring(text, p.m1.end_pos + 1, p.m2.start_pos - p.m1.end_pos)").alias(
                "between"
            ),
            F.col("p.m1.label_type").alias("t1"),
            normalize_surface(F.col("p.m1.surface")).alias("surf1"),
            F.col("p.m2.label_type").alias("t2"),
            normalize_surface(F.col("p.m2.surface")).alias("surf2"),
        )
    )

    with_rules = pairs.join(
        F.broadcast(rules),
        (F.col("t1") == F.col("subj_label")) & (F.col("t2") == F.col("obj_label")),
        "inner",
    ).filter(F.instr(F.col("between"), F.col("pattern")) > 0)

    subj_dic = dictionary.select(
        F.col("surface").alias("surf1"),
        F.col("label_type").alias("t1"),
        F.col("entity_id").alias("subj_entity"),
    )
    obj_dic = dictionary.select(
        F.col("surface").alias("surf2"),
        F.col("label_type").alias("t2"),
        F.col("entity_id").alias("obj_entity"),
    )
    linked = with_rules.join(F.broadcast(subj_dic), ["surf1", "t1"]).join(
        F.broadcast(obj_dic), ["surf2", "t2"]
    )

    subj_map = component_map.withColumnRenamed("entity_id", "subj_entity").withColumnRenamed(
        "canonical_id", "subj_canon"
    )
    obj_map = component_map.withColumnRenamed("entity_id", "obj_entity").withColumnRenamed(
        "canonical_id", "obj_canon"
    )
    return (
        linked.join(F.broadcast(subj_map), "subj_entity", "left")
        .join(F.broadcast(obj_map), "obj_entity", "left")
        .select(
            F.coalesce("subj_canon", "subj_entity").alias("subj_id"),
            "predicate",
            F.coalesce("obj_canon", "obj_entity").alias("obj_id"),
            "url",
            "rec_id",
        )
        .distinct()
    )
