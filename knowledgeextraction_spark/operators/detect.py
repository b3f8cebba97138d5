"""M1+M2: encoder + CRF-Viterbi mention detection as one mapInPandas stage.

The Spark re-expression of the reference's serving path
(ner_server.py:11-27 → crf_albert.py:209-226): extract → pack →
featurize → encode → decode → recover tags → mention spans, fused into
ONE Arrow-batched ``mapInPandas`` stage so features never hit a shuffle
and inputs stay keyed (no order-based zip — the reference's J5 trap,
ner_server.py:16-19).  Its output nests each record's mentions;
``explode_mentions`` flattens them JVM-side for the consumers that
need one row per mention (linking, the mentions snapshot).

Scale design:
- model weights ship via ``sc.broadcast`` once (the warm-start analog,
  crf_albert.py:199-206); each Python worker deserializes once thanks to
  broadcast-value caching.
- compute is batch-vectorized numpy over the Arrow batch (batch size
  bounded by spark.sql.execution.arrow.maxRecordsPerBatch), trimmed to
  the batch's max real length — the reference pads everything to 384
  (crf_utils.py:185-198); we keep rectangular batches but avoid padded
  matmul work.
- 1→N row fan-out (page → records) makes this UDTF-shaped, hence
  mapInPandas rather than a scalar UDF (SURVEY.md §2.10).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# fused extract→pack→detect output: one row per packed record, mentions
# nested (exploded JVM-side) — keeps the hot path at ONE python stage
RECORDS_MENTIONS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("rec_id", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField(
            "mentions",
            ArrayType(
                StructType(
                    [
                        StructField("start_pos", IntegerType(), False),
                        StructField("end_pos", IntegerType(), False),
                        StructField("label_type", StringType(), False),
                        StructField("surface", StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def detect_records_from_pages(
    pages: DataFrame, weights_bc, max_seq_length: int = 382
) -> DataFrame:
    """FUSED hot path: pages(url, html) → records+nested mentions.

    One mapInPandas covering extract (F16) → segment+pack (F1/W3) →
    featurize (F11) → encode+Viterbi (M1/M2) → mention decode. Chaining
    these as separate UDF stages spawns one python worker per UDF node
    per task (4× process oversubscription at local[32], measured to
    erase the parallel speedup); fusing keeps exactly one python worker
    per task and never ships the 384-int feature vectors anywhere.

    Returns (url, rec_id, text, mentions array<struct>) — callers
    explode ``mentions`` JVM-side; the record text rides along for the
    pairing stage so no second extract/pack pass is needed.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..core.bio import tags_to_mentions
        from ..core.featurize import convert_single_example, recover_tags
        from ..core.labels import INV_LABEL_MAP
        from ..core.model import encode_logits_trimmed, viterbi_decode
        from ..core.packing import pack_sentences
        from ..core.textops import extract_text
        from ..core.vocab import build_vocab

        weights = weights_bc.value
        vocab = build_vocab()
        # numpy sub-batch: bounds the encode's intermediate arrays
        # (window-concat is ~2.7 KB/position — a 512-row Arrow batch
        # would materialize >500 MB, which across 32 workers saturates
        # memory bandwidth and erases the parallel speedup; 128 rows ×
        # ~384 positions ≈ 130 MB total working set measured optimal
        # under 32-way contention)
        SUB = 128

        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls: list[str] = []
            rids: list[int] = []
            texts: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                text = extract_text(html) if html is not None else ""
                for rid, (rec_text, _e) in enumerate(
                    pack_sentences(text, [], max_seq_length)
                ):
                    urls.append(url)
                    rids.append(rid)
                    texts.append(rec_text)
            if not texts:
                continue

            feats = [convert_single_example(t, vocab=vocab) for t in texts]
            all_ids = np.asarray([f[0] for f in feats], dtype=np.int64)
            all_lengths = np.asarray([sum(f[1]) for f in feats], dtype=np.int64)
            mention_lists = []
            for lo in range(0, len(texts), SUB):
                ids = all_ids[lo : lo + SUB]
                lens = all_lengths[lo : lo + SUB]
                tmax = int(lens.max())
                logits = encode_logits_trimmed(ids, tmax, weights)
                paths = viterbi_decode(logits, lens, weights["trans"])
                for row_i in range(len(ids)):
                    text = texts[lo + row_i]
                    tags = recover_tags(
                        paths[row_i].tolist(), ids[row_i].tolist(), INV_LABEL_MAP
                    )
                    mention_lists.append(
                        [
                            {
                                "start_pos": s,
                                "end_pos": e,
                                "label_type": label,
                                "surface": text[s:e],
                            }
                            for label, s, e in tags_to_mentions(tags)
                        ]
                    )
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype=object),
                    "rec_id": pd.Series(rids, dtype="int32"),
                    "text": pd.Series(texts, dtype=object),
                    "mentions": pd.Series(mention_lists, dtype=object),
                }
            )

    return pages.mapInPandas(run, RECORDS_MENTIONS_SCHEMA)


def explode_mentions(records_mentions: DataFrame) -> DataFrame:
    """(url, rec_id, text, mentions) → one row per mention:
    (url, rec_id, start_pos, end_pos, label_type, surface)."""
    return records_mentions.select(
        "url", "rec_id", F.explode("mentions").alias("m")
    ).select("url", "rec_id", "m.*")
