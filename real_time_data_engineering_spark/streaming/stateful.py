"""Custom stateful streaming operators (`applyInPandasWithState`).

The reference's streaming engines have no arbitrary-state operator
(SURVEY.md §2.8: "no mapGroupsWithState-style arbitrary state") — this
is the Spark-native superset: gap-based sessionization maintained as
keyed state with event-time timeouts, the canonical shape for any
custom stateful op (funnels, CDC reconciliation, per-entity models).

Scale notes: state lives in the state store partitioned by the group
key, so memory is O(active keys), not O(events); the watermark bounds
both late data and state lifetime (timeout fires one gap after a
session's last event). Arrow batches keep the Python hop amortized.
Closures are self-contained — executors never import this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

SESSION_SCHEMA = "user_id bigint, session_start timestamp, n_events bigint, duration_sec bigint"
_STATE_SCHEMA = "start_us long, last_us long, n long"


def sessionize_stream_native(
    events: DataFrame,
    gap_sec: int = 1800,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-sessionization via Spark's JVM-side ``F.session_window`` —
    the DEFAULT plan for plain gap sessions.

    Same contract as `sessionize_stream` (one row per CLOSED session,
    append mode finalizes a session when the watermark passes its last
    event + gap), but the whole operator stays inside the streaming
    aggregation engine: no Python worker hop, no Arrow transfer, state
    merge handled by the native session-window state store. Use the
    `applyInPandasWithState` twin only when the per-session logic
    outgrows an aggregation (custom emission, per-event models) — it is
    kept as the arbitrary-state exemplar, equivalence-tested against
    this plan and the q18 batch oracle.

    ``session_start``/``duration_sec`` come from min/max event-time
    aggregates, NOT the window bounds (the window end includes the gap),
    so the output schema is value-identical to the pandas-state twin.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(F.col(ts_col), f"{gap_sec} seconds"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                f"(unix_micros(max({ts_col})) - unix_micros(min({ts_col}))) div 1000000"
            ).alias("duration_sec"),
        )
        .select(key_col, "session_start", "n_events", "duration_sec")
    )


def sessionize_stream(
    events: DataFrame,
    gap_sec: int = 1800,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming gap-sessionization with event-time-timeout state.

    Emits a row per CLOSED session: either an in-batch gap closes it, or
    the event-time timeout (watermark passing last_event + gap) does.
    Sessions still open when the stream idles stay in state — exactly
    the semantics a continuous pipeline needs; the batch twin
    (q18_sessionization) is the recompute oracle for closed sessions.
    """
    gap_us = gap_sec * 1_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        def emit(rows):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in rows],
                    "n_events": [n for _, _, n in rows],
                    "duration_sec": [(last - s) // 1_000_000 for s, last, n in rows],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit([(start, last, n)])
            return

        us_parts = []
        for pdf in pdfs:
            col = pdf[ts_col]
            us_parts.extend((col.astype("int64") // 1000).tolist())
        us_parts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in us_parts:
            if start is None:
                start = last = t
                n = 1
            elif t - last > gap_us:
                closed.append((start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        state.update((start, last, n))
        # timeout when the watermark passes last event + gap (ms epoch)
        state.setTimeoutTimestamp(last // 1000 + gap_sec * 1000)
        if closed:
            yield emit(closed)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, SESSION_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


NEARDUP_SCHEMA = "doc_id bigint, band int, dup_of bigint, est_jaccard double"
_ND_STATE_SCHEMA = "ids array<bigint>, sigs array<string>, tss array<bigint>"


def neardup_filter_stream(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    retention_sec: int | None = None,
    ts_col: str = "ts",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming near-duplicate filter: the d5 MinHash-LSH dedup ladder
    as a CONTINUOUS operator — each arriving document is flagged when
    its estimated Jaccard against ANY earlier document sharing one of
    its LSH band buckets reaches ``threshold``. This is the shape a
    production ingest dedup takes: the signature index lives in keyed
    state, new data probes it, and nothing re-scans the corpus.

    Construction mirrors the batch path exactly so the two are
    equivalence-testable:

    * signatures are the same md5 min-hashes — computed here as pure
      array expressions (``array_min(transform(...))``: MIN is
      duplicate-insensitive, so the non-distinct shingle array yields
      the identical signature to the batch distinct-explode-groupBy,
      without a streaming aggregation before the stateful op);
    * buckets come from the batch banding itself (`operators.dedup._banded`,
      the ``stack`` that d5/d24/d46 band with);
    * the flag predicate ("∃ earlier doc sharing a band with full-
      signature est ≥ τ") is the batch `minhash_candidate_pairs`
      filter — bucket-mates ARE candidates and vice versa.

    State per (band, band_hash) bucket = the ids+signatures seen there:
    O(docs·bands) across the state store, hash-partitioned by bucket —
    the honest memory cost of any streaming dedup index. Per-batch cost
    scales with ARRIVING docs × bands (each touched bucket is one
    Arrow-batched state group), so a bootstrap batch replaying a whole
    corpus pays a one-off group-overhead spike; steady-state ingest
    touches only the new docs' buckets. Production
    deployments bound it by retention: with ``retention_sec`` set, each
    stored signature carries its event time (``ts_col``) and is EVICTED
    on the data path once the bucket sees an event more than the
    horizon past it — pure event-time logic, deterministic under
    replay — while an event-time state timeout (watermark past the
    bucket's last activity + horizon) removes wholly idle buckets from
    the store. The default stays unbounded because the
    batch-equivalence contract is over the full history.
    Docs emit once per flagging band; consumers aggregate
    ``max(est_jaccard)`` per doc (the equivalence test does exactly
    that). Emission order inside a micro-batch is doc_id-sorted, so a
    single-batch replay is arrival-order-independent.
    """
    from ..functions.text import tokens, word_ngrams_tokens
    from ..operators.dedup import _banded

    arr = word_ngrams_tokens(tokens(F.col(text_col)), n)

    def sig(i: int):
        # seed captured via factory closure, NOT a lambda default arg:
        # `lambda s, i=i` has arity 2, which F.transform interprets as
        # (element, array_index) — the seed would silently become the
        # element index and every signature would be wrong
        return F.array_min(
            F.transform(F.col("_sh"), lambda s: F.md5(F.concat_ws("|", F.lit(str(i)), s)))
        )

    retention_ms = None if retention_sec is None else int(retention_sec) * 1000
    if retention_ms is not None:
        # the WATERMARKED column itself must survive projection into the
        # stateful operator (event-time timeout resolves it by its
        # watermark metadata, which unix_millis() would strip)
        docs = docs.withWatermark(ts_col, watermark)
        ts_keep = F.col(ts_col).alias("_ts")
    else:
        ts_keep = F.lit("1970-01-01 00:00:00").cast("timestamp").alias("_ts")
    wide = (
        docs.select(F.col(id_col).alias("doc_id"), arr.alias("_sh"), ts_keep)
        .filter(F.size("_sh") > 0)  # <n-token docs have no signature (batch parity)
        .select("doc_id", "_ts", *[sig(i).alias(f"sig_{i}") for i in range(k)])
    )
    sigcat = F.concat_ws("|", *[F.col(f"sig_{i}") for i in range(k)])
    exploded = _banded(wide.withColumn("sigcat", sigcat), k, bands, "doc_id", "_ts", "sigcat")
    thr = float(threshold)
    kk = int(k)

    ret_ms = retention_ms

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            # bucket idle past the horizon: every entry is expired
            state.remove()
            return

        incoming = []
        for pdf in pdfs:
            ms = pdf["_ts"].values.astype("datetime64[ms]").astype("int64")  # unit-safe
            incoming.extend(zip(pdf["doc_id"].tolist(), pdf["sigcat"].tolist(), ms.tolist()))
        incoming.sort()  # doc_id order: deterministic within a micro-batch
        if state.exists:
            ids, sigs, tss = state.get
            ids, sigs, tss = list(ids), list(sigs), list(tss)
        else:
            ids, sigs, tss = [], [], []
        if ret_ms is not None and incoming:
            # event-time eviction on the data path: entries more than
            # the horizon older than this batch's newest event are out
            # of the dedup window regardless of whether a timeout batch
            # ran — deterministic under replay, no wall clock anywhere
            horizon = max(t for _, _, t in incoming) - ret_ms
            kept = [j for j, t in enumerate(tss) if t >= horizon]
            ids = [ids[j] for j in kept]
            sigs = [sigs[j] for j in kept]
            tss = [tss[j] for j in kept]
        out_id, out_dup, out_est = [], [], []
        for did, sc, t in incoming:
            parts = sc.split("|")
            best = None
            for eid, esc in zip(ids, sigs):
                m = sum(1 for a, b in zip(parts, esc.split("|")) if a == b)
                est = m / kk
                if est >= thr and (
                    best is None or est > best[1] or (est == best[1] and eid < best[0])
                ):
                    best = (eid, est)
            if best is not None:
                out_id.append(did)
                out_dup.append(best[0])
                out_est.append(best[1])
            ids.append(did)
            sigs.append(sc)
            tss.append(t)
        state.update((ids, sigs, tss))
        if ret_ms is not None and tss:
            # wholesale cleanup for buckets that never see data again
            state.setTimeoutTimestamp(max(tss) + ret_ms)
        if out_id:
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "band": [key[0]] * len(out_id),
                    "dup_of": out_dup,
                    "est_jaccard": out_est,
                }
            )

    timeout_mode = (
        GroupStateTimeout.NoTimeout
        if retention_ms is None
        else GroupStateTimeout.EventTimeTimeout
    )
    return exploded.groupBy("band", "band_hash").applyInPandasWithState(
        fn, NEARDUP_SCHEMA, _ND_STATE_SCHEMA, "append", timeout_mode
    )


def attribution_join_stream(
    views: DataFrame,
    clicks: DataFrame,
    window_sec: int = 3600,
    ts_col: str = "ts",
    key_col: str = "user_id",
    view_watermark: str = "2 hours",
    click_watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the attribution primitive
    (every click joins each view by the same user in the preceding
    ``window_sec``). The reference's streaming engines expose no
    stream-stream join (SURVEY.md §2.8); this is the Spark-native
    superset, and the one join class where state management IS the
    operator.

    Scale contract: the time-range condition plus both-side watermarks
    let Spark derive a state watermark — a buffered view row is evicted
    once the click-side watermark passes ``view.ts + window_sec``, and
    unmatched clicks are dropped once the view-side watermark passes
    their eligibility. State is O(events inside the window) per key
    range partition, never O(stream history). Inner-join matches emit
    immediately (no watermark hold), so an availableNow run over files
    equals the batch join over the same inputs — asserted in
    tests/test_streaming.py.

    Input contract: each side carries (``key_col``, ``ts_col``) plus
    its own id/payload columns; rename PAYLOAD collisions BEFORE calling
    (the join keeps every non-conflicting column from both sides). The
    shared columns are disambiguated in the output: one ``key_col``
    (values equal by the join condition) and both timestamps — the
    VIEW side keeps the ``ts_col`` name, the click side comes back as
    ``click_{ts_col}`` so downstream ``select(ts_col)`` never hits
    AMBIGUOUS_REFERENCE.

    Outer-variant caveat (verified empirically on Spark 4.1.2): with
    ``how='left_outer'`` the null-padded rows for unmatched views are
    only emitted by a LATER trigger after the watermark passes their
    eligibility — an ``availableNow`` run over a static file set
    terminates before that trigger fires, so bounded backfills either
    run the inner join (complete by construction) or append a
    watermark-advancing heartbeat and re-trigger. Continuous
    deployments are unaffected (the next micro-batch flushes).
    """
    v = views.withWatermark(ts_col, view_watermark).alias("v")
    c = clicks.withWatermark(ts_col, click_watermark).alias("c")
    cond = (
        (F.col(f"v.{key_col}") == F.col(f"c.{key_col}"))
        & (F.col(f"c.{ts_col}") > F.col(f"v.{ts_col}"))
        & (
            F.col(f"c.{ts_col}")
            <= F.col(f"v.{ts_col}") + F.expr(f"INTERVAL {window_sec} SECONDS")
        )
    )
    out = v.join(c, cond, "inner")
    # One key column in the output (values are equal by the join cond),
    # and the click-side timestamp renamed so the output never carries
    # two columns named ts_col (AMBIGUOUS_REFERENCE downstream).
    keep = [F.col(f"v.{name}") for name in views.columns]
    keep += [
        F.col(f"c.{name}").alias(f"click_{ts_col}") if name == ts_col else F.col(f"c.{name}")
        for name in clicks.columns
        if name != key_col
    ]
    return out.select(*keep)
