"""M4/M5: MRC span extraction — Spark plumbing.

Two stages, mirroring mrc_albert.py:82-150 and the ALBERT squad-v2
assembly (mrc_utils.py:350-464):

1. ``mrc_candidates`` — the model stage: one Arrow-batched
   ``mapInPandas`` runs featurize → encode → start/end/cls heads
   (core/mrc.py) and emits per-feature top-(5×5) candidate rows after
   the accumulate_predictions_v2 validity filters.  Python touches only
   the model math; weights arrive once per executor via broadcast.
2. ``assemble_answers`` — the n-best stage, pure Catalyst: per-position
   logprob averaging (groupBy), total-score ranking (window W4), text
   dedup keep-first (W5), n-best cut, softmax (A8/F13), mean-cls null
   score (A7), best-non-null election (W6).  One shuffle on the
   example key; the candidate volume is ≤ 25·features per example so
   the shuffle is tiny relative to the scan.

Scale notes: examples = pages × 8 types. The model stage is
embarrassingly parallel (repartition upstream on the page key); the
assembly shuffles only (example, candidate) rows — at 10^12 pages this
is the same shape as the CRF detect path, whose plan survives 100×.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.mrc import MAX_ANSWER_LENGTH, N_BEST_SIZE, QUESTIONS
from ..materialize import local_frame

CANDIDATE_SCHEMA = (
    "url string, label_type string, span_index int, start_orig int, "
    "end_orig int, start_lp double, end_lp double, cls double"
)

# Every char CPython's str.isspace() accepts (verified by exhaustive
# scan of the BMP+astral planes): the numpy twin trims answer text with
# str.strip() (core/mrc.py assemble_nbest), while F.trim strips ASCII
# space only — tabs/newlines/full-width spaces at answer edges would
# give the two paths different answer text AND different dedup keys.
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def py_strip(col) -> F.Column:
    """Catalyst equivalent of Python ``str.strip()`` (no arguments)."""
    cls = f"[{_PY_WHITESPACE}]+"
    return F.regexp_replace(col, f"^{cls}|{cls}$", "")


def mrc_examples(pages_text: DataFrame) -> DataFrame:
    """(url, text) → (url, label_type, context): one MRC example per
    (page, entity type) — NER-as-MRC, mrc_processor.py:25-52."""
    types = local_frame(
        pages_text.sparkSession, [(t,) for t in QUESTIONS], "label_type string"
    )
    return pages_text.crossJoin(F.broadcast(types)).select(
        "url", "label_type", F.col("text").alias("context")
    )


def mrc_candidates(examples: DataFrame, weights_bc) -> DataFrame:
    """Model stage: (url, label_type, context) → candidate rows.

    Emits one marker row per feature (start_orig = -1) so featureless
    spans still contribute their cls logit to the example's null score
    (squad_utils cls_dict appends per feature unconditionally).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.mrc import batch_candidates
        from ..core.vocab import build_vocab

        weights = weights_bc.value
        vocab = build_vocab()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {k: [] for k in (
                "url", "label_type", "span_index", "start_orig", "end_orig",
                "start_lp", "end_lp", "cls",
            )}

            def emit(url, typ, si, s, e, slp, elp, cls):
                out["url"].append(url)
                out["label_type"].append(typ)
                out["span_index"].append(si)
                out["start_orig"].append(s)
                out["end_orig"].append(e)
                out["start_lp"].append(slp)
                out["end_lp"].append(elp)
                out["cls"].append(cls)

            ex = [(typ, ctx or "") for typ, ctx in zip(pdf["label_type"], pdf["context"])]
            for (url, typ), (rows, feat_cls) in zip(
                zip(pdf["url"], pdf["label_type"]), batch_candidates(ex, weights, vocab)
            ):
                for si, cls in feat_cls:
                    emit(url, typ, si, -1, -1, None, None, cls)
                for si, s, e, slp, elp in rows:
                    emit(url, typ, si, s, e, slp, elp, None)
            yield pd.DataFrame(out)

    return examples.mapInPandas(run, schema=CANDIDATE_SCHEMA)


def assemble_answers(
    candidates: DataFrame,
    examples: DataFrame,
    n_best_size: int = N_BEST_SIZE,
) -> DataFrame:
    """n-best assembly (get_predictions_v2) → one row per example:
    (url, label_type, answer, prob, score_diff)."""
    ex_key = ["url", "label_type"]

    cls_rows = candidates.filter(F.col("start_orig") < 0)
    score_diff = cls_rows.groupBy(*ex_key).agg(
        F.avg("cls").alias("score_diff")
    )

    cand = candidates.filter(F.col("start_orig") >= 0)
    # average logprobs per (feature, start, end) — accumulate_predictions_v2
    avg = cand.groupBy(*ex_key, "span_index", "start_orig", "end_orig").agg(
        F.avg("start_lp").alias("start_lp"), F.avg("end_lp").alias("end_lp")
    )
    with_text = avg.join(examples, ex_key).withColumn(
        "answer",
        py_strip(
            F.expr("substring(context, start_orig + 1, end_orig - start_orig + 1)")
        ),
    ).withColumn("total", F.col("start_lp") + F.col("end_lp"))

    # prelim order: total desc, then position asc (deterministic)
    order = [
        F.desc("total"), F.asc("start_orig"), F.asc("end_orig"), F.asc("span_index")
    ]
    w_prelim = Window.partitionBy(*ex_key).orderBy(*order)
    ranked = with_text.withColumn("prelim_rank", F.row_number().over(w_prelim))

    # dedup by answer text keep-first (W5), then n-best cut (W4)
    w_text = Window.partitionBy(*ex_key, "answer").orderBy("prelim_rank")
    dedup = ranked.withColumn("rn", F.row_number().over(w_text)).filter(
        F.col("rn") == 1
    )
    w_best = Window.partitionBy(*ex_key).orderBy("prelim_rank")
    nbest = dedup.withColumn("rank", F.row_number().over(w_best)).filter(
        F.col("rank") <= n_best_size
    )

    # softmax over the n-best (A8: max-shifted exp-normalize)
    w_ex = Window.partitionBy(*ex_key)
    sm = (
        nbest.withColumn("m", F.max("total").over(w_ex))
        .withColumn("ex", F.exp(F.col("total") - F.col("m")))
        .withColumn("prob", F.col("ex") / F.sum("ex").over(w_ex))
    )

    best = sm.filter(F.col("rank") == 1).select(
        *ex_key, "answer", F.col("prob").alias("prob")
    )
    # examples with zero valid candidates get the nonce "" answer with
    # prob 1.0 (get_predictions_v2's no-valid-prediction fallback)
    return (
        examples.select(*ex_key)
        .join(best, ex_key, "left")
        .join(score_diff, ex_key, "left")
        .select(
            "url",
            "label_type",
            F.coalesce("answer", F.lit("")).alias("answer"),
            F.coalesce("prob", F.lit(1.0)).alias("prob"),
            F.col("score_diff"),
        )
    )


def mrc_answers(pages_text: DataFrame, weights_bc) -> DataFrame:
    """pages (url, text) → best answer per (page, entity type)."""
    from pyspark import StorageLevel

    ex = mrc_examples(pages_text)
    # persisted: the assembly consumes candidates in TWO aggregation
    # branches (cls marker rows and span candidates) with different
    # group keys — without the persist the encoder mapInPandas stage
    # executes twice.  Released by the session's cache manager (bench
    # clears caches between timed queries).
    cands = mrc_candidates(ex, weights_bc).persist(StorageLevel.MEMORY_AND_DISK)
    return assemble_answers(cands, ex)
