"""Custom stateful streaming operator: incremental sessionization.

The batch engine expresses S4's running-sum grouping as the
``sessionize`` query (queries_relational.py); this is its streaming
twin — the brief's ``applyInPandasWithState`` surface — carrying each
user's OPEN session in group state across micro-batches and appending
a row whenever a session CLOSES (a new event arrives more than
``gap_sec`` after the session's last event).

State is one row per user: (session_id, n_events, first_event,
last_event, last_ts_micros).  Arrow-batched per group; event-time
ordering inside a batch is (ts, event_id) — the same total order the
batch query uses, so a stream fed the same events in any
micro-batch split emits exactly the batch query's closed sessions
(asserted in tests/test_streaming_stateful.py).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "first_event bigint, last_event bigint"
)
STATE_SCHEMA = (
    "session_id bigint, n_events bigint, first_event bigint, "
    "last_event bigint, last_ts_micros bigint"
)


def _update(
    key: Any,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_micros: int,
):
    (user_id,) = key
    if state.exists:
        session_id, n_events, first_ev, last_ev, last_ts = state.get
    else:
        # 1-based, matching the batch q_sessionize (its session_id is a
        # running sum of new-session markers, so the first session is 1)
        session_id, n_events, first_ev, last_ev, last_ts = 1, 0, None, None, None

    closed = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, event_id in zip(
            pdf["ts"].astype("int64"), pdf["event_id"].astype("int64")
        ):
            ts = int(ts)  # pandas datetime64[ns] → ns; convert to micros
            ts_micros = ts // 1000
            event_id = int(event_id)
            if last_ts is not None and ts_micros - last_ts > gap_micros:
                closed.append((user_id, session_id, n_events, first_ev, last_ev))
                session_id += 1
                n_events, first_ev, last_ev = 0, None, None
            n_events += 1
            # min/max over event ids, matching the batch query's
            # F.min/F.max aggregates (NOT arrival order — ids need not
            # be monotone in ts)
            first_ev = event_id if first_ev is None else min(first_ev, event_id)
            last_ev = event_id if last_ev is None else max(last_ev, event_id)
            last_ts = ts_micros

    state.update((session_id, n_events, first_ev, last_ev, last_ts))
    if closed:
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_id", "n_events", "first_event", "last_event"],
        )


def sessionize_stream(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Streaming events(user_id, ts, event_id) → closed-session rows.

    Append mode: a session row is emitted exactly once, when a later
    event proves it closed.  The open tail session lives in state until
    then (at-most one state row per user — bounded state, no watermark
    needed because the emission trigger is data, not time).

    Contract: a user's events must arrive in event-time order ACROSS
    micro-batches (within a batch they are sorted here); out-of-order
    arrival needs an upstream watermark + sort stage, the standard
    discipline for any gap-based streaming sessionizer.
    """
    gap_micros = gap_sec * 1_000_000

    def f(key, pdfs, state):
        yield from _update(key, pdfs, state, gap_micros)

    return events.groupBy("user_id").applyInPandasWithState(
        f,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUTPUT_SCHEMA = (
    "doc_id bigint, content_hash string, keeper bigint, keep boolean"
)
DEDUP_STATE_SCHEMA = "keeper bigint"


def _dedup_update(key, pdfs, state: GroupState):
    (content_hash,) = key
    ids: list[int] = []
    for pdf in pdfs:
        ids.extend(int(x) for x in pdf["doc_id"])
    if not ids:
        return
    if state.exists:
        (keeper,) = state.get
    else:
        # first batch this hash appears in: the in-batch min is the
        # keeper (deterministic — no arrival-order dependence inside a
        # batch, unlike built-in dropDuplicates' arbitrary survivor)
        keeper = min(ids)
        state.update((keeper,))
    # the elected keeper rides along in every output row so a
    # downstream audit can DETECT a violated arrival contract (a
    # keeper ≠ group-min row is visible, not silently wrong)
    yield pd.DataFrame(
        {
            "doc_id": sorted(ids),
            "content_hash": content_hash,
            "keeper": keeper,
            "keep": [i == keeper for i in sorted(ids)],
        }
    )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming docs(doc_id, text) → (doc_id, content_hash, keep):
    incremental exact dedup — the streaming twin of dedup_exact /
    dedup_keep's exact branch, with the keep verdict emitted exactly
    once per arriving document.

    State is ONE long per distinct content hash (the elected keeper),
    carried across micro-batches; a duplicate arriving any number of
    batches later is flagged keep=false against it.  At production
    scale the state is bounded by distinct-content count — add a state
    TTL (GroupStateTimeout) when the dedup horizon is time-limited,
    the same discipline as any long-lived streaming dedup.

    Contract (mirrors sessionize_stream's event-time contract): a
    hash's globally-minimal doc_id must not arrive AFTER another
    member of its group's first batch — guaranteed when drops ascend
    in doc_id — so stream output == the batch window rule
    (keep ⇔ doc_id = min(doc_id) over content_hash).  The elected
    ``keeper`` is emitted in every row precisely so a violating
    producer is DETECTABLE downstream (any row with
    keeper ≠ min(doc_id) over its hash is the violation signature)
    rather than silently mis-verdicted.
    """
    import pyspark.sql.functions as F

    from ..operators.dedup import normalized_text

    hashed = docs.select(
        "doc_id", F.md5(normalized_text()).alias("content_hash")
    )

    def f(key, pdfs, state):
        yield from _dedup_update(key, pdfs, state)

    return hashed.groupBy("content_hash").applyInPandasWithState(
        f,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NEARDUP_OUTPUT_SCHEMA = "doc_id bigint, band int, rep_id bigint"
NEARDUP_STATE_SCHEMA = "rep_id bigint"


def _neardup_update(key, pdfs, state: GroupState):
    band, _sig = key
    ids: list[int] = []
    for pdf in pdfs:
        ids.extend(int(x) for x in pdf["doc_id"])
    if not ids:
        return
    if state.exists:
        (rep,) = state.get
    else:
        rep = min(ids)
        state.update((rep,))
    ids.sort()
    yield pd.DataFrame({"doc_id": ids, "band": int(band), "rep_id": rep})


def neardup_stream(docs: DataFrame, n_bands: int | None = None) -> DataFrame:
    """Streaming docs(doc_id, text) → (doc_id, band, rep_id):
    incremental minhash-LSH NEAR-dup — the streaming twin of the batch
    ``lsh_candidate_pairs`` contract (operators/dedup.py:179), replayed
    incrementally: state keyed by (band, sig) holds that bucket's
    elected representative, and every arriving document is verdicted
    against it per band, exactly once.

    Per-band signatures are computed NARROW — ``array_min`` over a
    ``transform`` of the row's own distinct-shingle array reproduces
    the batch ``min(md5(band:shingle))`` per-band minhash without any
    streaming groupBy/shuffle — then exploded to (doc_id, band, sig)
    rows.  A document emits one row per band; ``rep_id == doc_id``
    means this document opened (represents) the bucket.  The per-doc
    verdict is the stateless fold ``keep ⇔ every(rep_id = doc_id)``
    over a doc's n_bands rows — all emitted in its arrival
    micro-batch, so any downstream consumer (foreachBatch, or the
    batch read-back in q_streaming_neardup) can fold without more
    state.

    State: one long per DISTINCT (band, sig) bucket — n_bands rows per
    distinct near-dup family representative, the same bound as the
    batch LSH bucket table; add a GroupStateTimeout TTL when the dedup
    horizon is time-limited (same discipline as dedup_stream).

    Contract (same as dedup_stream): a bucket's globally-minimal
    doc_id must not arrive after another member's first batch —
    guaranteed when drops ascend in doc_id — so stream output == the
    batch rule rep_id = min(doc_id) over (band, sig), and the emitted
    rep_id makes any violation detectable downstream.
    """
    import pyspark.sql.functions as F

    from ..operators.dedup import N_BANDS, normalized_words, word_shingles

    nb = N_BANDS if n_bands is None else n_bands

    def _band_sig(b: int):
        # the band prefix must be closed over OUTSIDE the lambda: a
        # two-parameter lambda (e.g. ``lambda s, b=b``) is treated by
        # F.transform as the (element, index) form and silently binds
        # the second name to the ARRAY INDEX column
        prefix = F.lit(f"{b}:")
        return F.array_min(
            F.transform(F.col("_shingles"), lambda s: F.md5(F.concat(prefix, s)))
        )

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"), _band_sig(b).alias("sig")
            )
            for b in range(nb)
        ]
    )
    sigs = (
        docs.withColumn("_words", normalized_words())
        .withColumn("_shingles", word_shingles(F.col("_words")))
        .select("doc_id", F.explode(band_structs).alias("bs"))
        .select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .filter(F.col("sig").isNotNull())
    )

    def f(key, pdfs, state):
        yield from _neardup_update(key, pdfs, state)

    return sigs.groupBy("band", "sig").applyInPandasWithState(
        f,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
