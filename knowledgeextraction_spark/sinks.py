"""Eval/prediction sinks (S13/S14) and the GloVe embedding source (S8).

- ``conll_eval_lines`` / ``write_conll_eval``: the CoNLL eval artifact
  (chinese_CONLL.py:298-318 — ``'%d %s _ _ %s %s'`` per token, blank
  line after each sentence; eval_estimator.py:42-46 uses the same
  format).
- ``write_predictions_tsv``: the predict-loop TSV pair
  (run_crf_albert.py:326-347 — ``test_results.tsv`` of tab-joined
  per-class probabilities, ``submit_results.tsv`` of
  ``guid \\t prediction`` under an ``index\\tprediction`` header).
- ``load_glove``: GloVe-format text embeddings → (word, vec) DataFrame
  (chinese_CONLL.py:146-174 — whitespace split, skip empty lines,
  digit-normalized keys, dimension check).  The J7 fallback join
  (construct_init_word_vecs, :177-188) is the ``coalesce_join`` query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialize import local_frame


def conll_eval_lines(sentences: DataFrame) -> DataFrame:
    """sentences(sent_id, words array<string>, gold array<string>,
    pred array<string>) → one ``value:string`` row per output line, in
    sentence order: token lines ``idx word _ _ gold pred`` then one
    blank line (CoNLLWriter.write semantics, chinese_CONLL.py:309-318).
    """
    per_tok = F.transform(
        F.arrays_zip("words", "gold", "pred"),
        lambda t, i: F.concat_ws(
            " ",
            (i + 1).cast("string"),
            t["words"],
            F.lit("_"),
            F.lit("_"),
            t["gold"],
            t["pred"],
        ),
    )
    # token lines + the sentence-terminating blank line, kept ordered
    return (
        sentences.withColumn("lines", F.concat(per_tok, F.array(F.lit(""))))
        .select("sent_id", F.posexplode("lines").alias("pos", "value"))
        .orderBy("sent_id", "pos")
        .select("value")
    )


# ceiling for the single-file (coalesce(1)) eval-artifact writers: far
# above any real eval set, far below corpus scale — the point is that a
# corpus-sized frame pointed at a one-task writer FAILS LOUDLY instead
# of silently funneling terabytes through one task
MAX_EVAL_ROWS = 2_000_000


def _assert_eval_sized(df: DataFrame, what: str, max_rows: int) -> DataFrame:
    """Guard for the coalesce(1) writers.  ``limit(max+1).count()``
    bounds the guard's own cost: the scan short-circuits once the
    ceiling is exceeded instead of counting the whole frame."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{what}: >{max_rows} rows for a single-file eval artifact — "
            "this writer funnels everything through ONE task by design "
            "(the format needs one ordered file); write the distributed "
            "table form instead"
        )
    return df


def write_conll_eval(
    sentences: DataFrame, path: str, max_rows: int = MAX_EVAL_ROWS
) -> None:
    """Materialize the eval artifact as a single ordered text file
    (an eval artifact is driver-sized by definition — one file keeps
    the reference's exact layout; the distributed table form is
    ``conll_eval_lines``).  Raises if the frame exceeds ``max_rows``
    (see ``_assert_eval_sized``)."""
    lines = _assert_eval_sized(conll_eval_lines(sentences), "write_conll_eval", max_rows)
    lines.coalesce(1).write.mode("overwrite").text(path)


def write_predictions_tsv(
    predictions: DataFrame, out_dir: str, max_rows: int = MAX_EVAL_ROWS
) -> None:
    """predictions(guid string, probabilities array<double>,
    prediction long) → ``test_results.tsv`` + ``submit_results.tsv``
    (run_crf_albert.py:326-347 formats).

    Both files are written as ONE part, guid-ordered: the reference
    associates test_results row i with example i, so a multi-part
    unordered write would scramble the correspondence.  Eval artifacts
    are driver-sized by definition; the distributed form is the
    ``predictions`` DataFrame itself.  Raises if the frame exceeds
    ``max_rows`` (see ``_assert_eval_sized``).
    """
    predictions = _assert_eval_sized(predictions, "write_predictions_tsv", max_rows)
    ordered = predictions.orderBy("guid").coalesce(1)
    probs = ordered.select(
        F.array_join(
            F.transform("probabilities", lambda p: p.cast("string")), "\t"
        ).alias("value")
    )
    probs.write.mode("overwrite").text(f"{out_dir}/test_results.tsv")

    submit = predictions.select(
        F.lit(1).alias("k0"),
        F.col("guid").alias("k1"),
        F.concat_ws("\t", "guid", F.col("prediction").cast("string")).alias("value"),
    )
    header = local_frame(
        predictions.sparkSession,
        [(0, "", "index\tprediction")],
        "k0 int, k1 string, value string",
    )
    # explicit sort keys — union partition order is not a contract
    (
        header.unionByName(submit)
        .orderBy("k0", "k1")
        .coalesce(1)
        .select("value")
        .write.mode("overwrite")
        .text(f"{out_dir}/submit_results.tsv")
    )


def load_glove(
    spark: SparkSession,
    path: str,
    emb_dim: int,
    normalize_digits: bool = True,
) -> DataFrame:
    """GloVe text file → (word string, vec array<double>).

    chinese_CONLL.py:146-174 semantics: whitespace-split each line,
    skip empties, key = digit-normalized word, and any row whose vector
    length ≠ ``emb_dim`` is an error (surfaced as a ``raise_error``
    expression — the scan fails like the reference's ValueError).  Later
    duplicates win in the reference's dict; here the max doc-order line
    wins via a window, keeping determinism.
    """
    from pyspark.sql import Window

    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    parts = F.split(F.trim("value"), r"\s+")
    word = F.element_at(parts, 1)
    if normalize_digits:
        word = F.regexp_replace(word, r"\d", "0")
    vec = F.transform(F.slice(parts, 2, 1_000_000), lambda v: v.cast("double"))
    df = lines.select(
        word.alias("word"),
        F.when(
            F.size(vec) == emb_dim, vec
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("Inconsistent word vector sizes: "),
                    F.size(vec).cast("string"),
                    F.lit(f" vs {emb_dim}"),
                )
            )
        ).alias("vec"),
        F.monotonically_increasing_id().alias("line_no"),
    )
    w = Window.partitionBy("word").orderBy(F.desc("line_no"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("word", "vec")
    )
