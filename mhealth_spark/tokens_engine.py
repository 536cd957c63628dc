"""The north-rule flagship: point-in-time / windowed feature engine over
the pre-tokenized sequence table ``(doc_id, tokens array<int32>, n_tok,
source)`` (BASELINE.json input_hint), at 10^12-sequence posture.

Physical contract: each per-entity op rides ONE hash exchange on the
entity — the window's own ``hashpartitioning(entity)`` plus a sort by
(entity, ts) — and every later window / groupBy on the same entity reuses
it; tables written by ``source.write_bucketed_layout`` already carry that
partitioning, so the same plans run with no exchange at all. Heavy
entities (the synthetic ``web`` source holds ~50% of rows) are handled
with salted two-phase aggregation; joins split under AQE.

Feature surface (all JVM-side, zero Python in the hot path):

- ``row_features``       — lag/lead/delta + bounded rolling window aggs
                           per (entity, ts); token arrays PASS THROUGH
                           byte-identical (input_hint invariant).
- ``sessionized``        — gap-based sessionization + per-session rollup.
- ``backfill_features``  — as-of lookback aggregates for a requests
                           table with the structural leakage guard.
- ``daily_source_stats`` — skew-safe daily rollup per source (salted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from mhealth_spark.asof import horizon_label_join, point_in_time_join
from mhealth_spark.intervals import sessionize
from mhealth_spark.skew import salted_agg


def row_features(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_rows: int = 10,
    payload_join: bool = True,
) -> DataFrame:
    """Per-row lag/lead + bounded rolling features; tokens untouched.

    Scale shape (``payload_join=True``, default): the window runs over the
    NARROW projection ``(doc_id, entity, ts, n_tok)`` — the ~2 KB token
    payload never enters the window's hash exchange (which is skewed: a
    heavy writer pins one reducer) and is never sorted. The payload is
    equi-joined back on ``doc_id``, a UNIFORM key AQE can split freely,
    with a shuffled-hash hint on the narrow build side so the payload is
    streamed, not sorted. Net payload movement is one skew-free shuffle
    instead of one skewed shuffle + sort.

    ``payload_join=False`` is the one-exchange fallback for inputs already
    small or already bucketed by entity (``write_bucketed_layout``), where
    the window adds no exchange at all.
    """
    if not payload_join:
        w = Window.partitionBy(entity_col).orderBy(ts_col, "doc_id")
        wb = w.rowsBetween(-lookback_rows, -1)
        n = F.col("n_tok")
        return tokens.select(
            "doc_id",
            entity_col,
            ts_col,
            "tokens",
            "n_tok",
            F.lag(n).over(w).alias("prev_n_tok"),
            F.lead(n).over(w).alias("next_n_tok"),
            (n - F.lag(n).over(w)).alias("delta_n_tok"),
            F.avg(n).over(wb).alias("roll_mean_n_tok"),
            F.sum(n).over(wb).alias("roll_sum_n_tok"),
            F.count(n).over(wb).alias("roll_count"),
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(F.lag(ts_col).over(w).cast("timestamp"))
            ).alias("gap_us"),
        )
    features = feature_vectors(tokens, entity_col, ts_col, lookback_rows)
    payload = tokens.select("doc_id", "tokens")
    joined = payload.join(features.hint("SHUFFLE_HASH"), "doc_id")
    return joined.select(
        "doc_id",
        entity_col,
        ts_col,
        "tokens",  # pass-through, byte-identical
        "n_tok",
        "prev_n_tok",
        "next_n_tok",
        "delta_n_tok",
        "roll_mean_n_tok",
        "roll_sum_n_tok",
        "roll_count",
        "gap_us",
    )


def feature_vectors(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_rows: int = 10,
) -> DataFrame:
    """The NARROW feature-vector tier: per-(entity, ts) lag/lead/delta and
    bounded rolling aggregates over ``(doc_id, entity, ts, n_tok)`` only.

    This is the engine's window workhorse: reading it straight off parquet
    scans FOUR columns — column pruning never touches the token arrays —
    so the exchange and sort move ~40 B/row regardless of payload width.
    ``row_features`` composes this with the payload pass-through join.
    """
    narrow = tokens.select("doc_id", entity_col, ts_col, "n_tok")
    w = Window.partitionBy(entity_col).orderBy(ts_col, "doc_id")
    wb = w.rowsBetween(-lookback_rows, -1)  # strictly past rows: no leakage
    n = F.col("n_tok")
    return narrow.select(
        "doc_id",
        entity_col,
        ts_col,
        "n_tok",
        F.lag(n).over(w).alias("prev_n_tok"),
        F.lead(n).over(w).alias("next_n_tok"),
        (n - F.lag(n).over(w)).alias("delta_n_tok"),
        F.avg(n).over(wb).alias("roll_mean_n_tok"),
        F.sum(n).over(wb).alias("roll_sum_n_tok"),
        F.count(n).over(wb).alias("roll_count"),
        (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(F.lag(ts_col).over(w).cast("timestamp"))
        ).alias("gap_us"),
    )


def trailing_time_features(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_hours: float = 24.0,
) -> DataFrame:
    """Time-based trailing aggregates per (entity, ts): the RANGE-frame
    twin of ``feature_vectors``'s ROWS frame. Every aggregate sees only
    rows with ts in ``[t - lookback, t)`` — strictly past (ties at t are
    excluded), so the zero-leakage guarantee is structural here too.

    Same scale shape as ``feature_vectors``: narrow projection, one hash
    exchange (zero over a ``write_bucketed_layout`` table), monotonic
    long order key so the range frame is a sliding pointer, not a
    re-scan. Reference analogue: the hourly/daily lookback aggregations
    of ``simple_features.py`` expressed per-row instead of per-bin.
    """
    narrow = tokens.select("doc_id", entity_col, ts_col, "n_tok")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lb = int(lookback_hours * 3_600_000_000)
    w = Window.partitionBy(entity_col).orderBy(us).rangeBetween(-lb, -1)
    n = F.col("n_tok")
    return narrow.select(
        "doc_id",
        entity_col,
        ts_col,
        "n_tok",
        F.count(n).over(w).alias(f"trail_docs_{int(lookback_hours)}h"),
        F.sum(n).over(w).alias(f"trail_tokens_{int(lookback_hours)}h"),
        F.avg(n).over(w).alias(f"trail_mean_{int(lookback_hours)}h"),
        F.max(n).over(w).alias(f"trail_max_{int(lookback_hours)}h"),
    )


def trailing_quantiles(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    value_col: str = "n_tok",
    lookback_hours: float = 24.0,
    qs: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """EXACT trailing quantiles per (entity, ts) over the strictly-past
    time-RANGE frame ``[t - lookback, t)`` — the order-statistics
    companion to ``trailing_time_features``'s moments. Linear
    interpolation at rank ``q*(n-1)`` (quantile_cont / numpy-linear
    semantics), so the DuckDB windowed ``quantile_cont`` is an exact
    value oracle.

    Scale shape: one hash exchange on the entity (zero over a bucketed
    layout), then ``collect_list`` over the bounded frame + one in-row
    ``array_sort`` per row. Cost and state are LOOKBACK-bounded (max
    events per entity per 24 h), not corpus-bounded — the same bound a
    streaming state store would carry; heavy entities are a data-rate
    question, not a plan question. For sketch-sized memory at extreme
    rates, swap in ``percentile_approx`` (same frame) and drop the
    exact oracle."""
    narrow = tokens.select("doc_id", entity_col, ts_col, value_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lb = int(lookback_hours * 3_600_000_000)
    w = Window.partitionBy(entity_col).orderBy(us).rangeBetween(-lb, -1)
    arr = F.array_sort(F.collect_list(value_col).over(w))
    n = F.size(arr)
    ht = f"{int(lookback_hours)}h"

    def qv(q: float):
        idx = (n - F.lit(1)).cast("double") * F.lit(float(q))
        lo = F.floor(idx).cast("int")
        frac = idx - lo.cast("double")
        a_lo = F.element_at(arr, lo + F.lit(1)).cast("double")
        a_hi = F.element_at(arr, lo + F.lit(2)).cast("double")
        interp = F.when(frac > 0.0, a_lo + (a_hi - a_lo) * frac).otherwise(
            a_lo
        )
        return F.when(n > 0, interp)

    cols = [
        qv(q).alias(f"p{int(q * 100)}_{ht}") for q in qs
    ]
    return narrow.select(
        "doc_id",
        entity_col,
        ts_col,
        value_col,
        n.alias(f"trail_n_{ht}"),
        *cols,
    )


def sequence_features(tokens: DataFrame) -> DataFrame:
    """Map-only per-sequence feature vector (no shuffle: scan → project):
    length, token-id moments, distinct ratio, rolling fingerprint. This is
    the CPU-bound tier of the engine — it scales linearly with cores
    because no exchange is involved, and at 10^12 sequences it is the
    dominant cost of a pass over the corpus."""
    t = F.col("tokens")
    n = F.size(t)
    # ONE fold computes sum, sum-of-squares and the rolling fingerprint:
    # Catalyst does NOT common-subexpression-eliminate across higher-order
    # lambdas, so separate folds would each rescan the array per output
    # column referencing them.
    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0.0).alias("q"),
        F.lit(0).cast("long").alias("h"),
    )
    acc = F.aggregate(
        t,
        zero,
        lambda a, x: F.struct(
            (a["s"] + x).alias("s"),
            (a["q"] + x.cast("double") * x.cast("double")).alias("q"),
            F.xxhash64(a["h"], x).alias("h"),
        ),
    )
    out = tokens.withColumn("_acc", acc)
    mean = F.col("_acc.s") / n
    return out.select(
        "doc_id",
        "writer_id",
        "source",
        "ts",
        "n_tok",
        mean.alias("tok_mean"),
        F.sqrt(F.col("_acc.q") / n - mean * mean).alias("tok_std"),
        F.array_min(t).alias("tok_min"),
        F.array_max(t).alias("tok_max"),
        (F.size(F.array_distinct(t)) / n).alias("distinct_ratio"),
        F.col("_acc.h").alias("fingerprint64"),
    )


def sessionized(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    gap_minutes: float = 60.0,
) -> DataFrame:
    """Gap-sessionize arrivals per entity and roll up per session.

    One exchange: the session window's ``hashpartitioning(entity)`` and
    sort feed both the window and the (entity, session_id) rollup, since
    HashPartitioning(entity) satisfies clustering on (entity, session_id)
    too. Inputs already bucketed by entity (``write_bucketed_layout``
    tables) plan with no exchange at all (asserted in
    tests/test_layout.py).
    """
    s = sessionize(
        tokens,
        entity_col=entity_col,
        start_col=ts_col,
        end_col=None,
        gap_minutes=gap_minutes,
    )
    return s.groupBy(entity_col, "session_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("session_tokens"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )


def backfill_features(
    tokens: DataFrame,
    requests: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    lookback_hours: float = 24.0,
) -> DataFrame:
    """As-of lookback features per (entity, request ts): every aggregate
    sees only ``ts <= request.ts`` (leakage guard inside the join)."""
    return point_in_time_join(
        tokens,
        requests,
        agg_exprs=[
            F.count(F.col("e.n_tok")).alias("docs_24h"),
            F.sum(F.col("e.n_tok")).alias("tokens_24h"),
            F.avg(F.col("e.n_tok")).alias("mean_len_24h"),
            F.max(F.col("e.n_tok")).alias("max_len_24h"),
        ],
        entity_col=entity_col,
        event_ts=ts_col,
        request_ts="ts",
        lookback_hours=lookback_hours,
        request_keys=[entity_col, "ts"],
    )


def label_horizon_features(
    tokens: DataFrame,
    requests: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    horizon_hours: float = 24.0,
) -> DataFrame:
    """Forward-horizon LABEL aggregates per (entity, request ts): every
    aggregate sees only ``request.ts < ts <= request.ts + horizon`` — the
    supervised-learning mirror of ``backfill_features``. Together the two
    emit a leakage-clean training row: features from the strict past,
    labels from the strict future, the request timestamp tiling the
    boundary (at-request events are feature-side only).

    ``first_gap_s`` is the time to the entity's next document (NULL when
    the horizon is empty) — the "time-to-next-event" target family.
    """
    return horizon_label_join(
        tokens,
        requests,
        agg_exprs=[
            F.count(F.col("e.n_tok")).alias("docs_next"),
            F.sum(F.col("e.n_tok")).alias("tokens_next"),
            (
                F.unix_timestamp(F.min(F.col(f"e.{ts_col}")))
                - F.unix_timestamp(F.first(F.col("r.ts")))
            ).alias("first_gap_s"),
        ],
        entity_col=entity_col,
        event_ts=ts_col,
        request_ts="ts",
        horizon_hours=horizon_hours,
        request_keys=[entity_col, "ts"],
    )


def training_set(
    tokens: DataFrame,
    requests: DataFrame | None = None,
    entity_col: str = "source",
    ts_col: str = "ts",
    lookbacks_hours: tuple[float, ...] = (1.0, 24.0),
    horizon_hours: float = 24.0,
) -> DataFrame:
    """Leakage-clean TRAINING-SET assembly — the full feature_eng
    composition in one call: multi-horizon PAST features plus
    forward-horizon labels per (entity, request ts), every emitted
    value using only data strictly on its own side of the request
    timestamp (features ``(ts-lb, ts]``, labels ``(ts, ts+h]``).

    Scale shape: ONE as-of join pass covers ALL feature horizons — the
    join ranges over ``max(lookbacks_hours)`` and each shorter horizon
    is a conditional aggregate (``count(CASE WHEN in-horizon ...)``)
    over the same joined rows, so K horizons cost one shuffle, not K.
    Labels need the mirrored forward range (one more bounded join); the
    final assembly is an equi-join of two request-grid frames on the
    same keys. At 10^12 events only the two bounded event joins touch
    the big table; everything downstream is grid-sized. The request
    grid is eagerly ``localCheckpoint``-ed: it feeds BOTH joins and
    Catalyst does not reuse the grid subplan across them (measured: 4
    scans of the event table → 2, the irreducible per-side joins).

    With ``requests=None`` and every horizon a whole number of hours,
    the default hourly grid is served by ``training_set_grid``
    instead — one rollup scan plus range windows, value-identical to
    this path (exact-equality pytest + shared DuckDB oracle). Explicit
    ``requests`` or fractional hours take the generic as-of path."""
    from mhealth_spark.asof import _epoch

    if requests is None:
        if all(float(h).is_integer() for h in (*lookbacks_hours, horizon_hours)):
            return training_set_grid(
                tokens,
                entity_col,
                ts_col,
                lookbacks_hours=tuple(int(h) for h in lookbacks_hours),
                horizon_hours=int(horizon_hours),
            )
        requests = hourly_requests(tokens, entity_col)
    requests = requests.localCheckpoint()
    lbs = sorted(set(float(h) for h in lookbacks_hours))
    max_lb = lbs[-1]

    def tag(h: float) -> str:
        return f"{int(h)}h" if h.is_integer() else f"{h}h"

    aggs = []
    for lb in lbs:
        if lb == max_lb:
            v = F.col("e.n_tok")
        else:
            in_h = _epoch(F.col(f"e.{ts_col}")) > (
                _epoch(F.col("r.ts")) - F.lit(int(lb * 3600))
            )
            v = F.when(in_h, F.col("e.n_tok"))
        t = tag(lb)
        aggs += [
            F.count(v).alias(f"docs_{t}"),
            F.sum(v).alias(f"tokens_{t}"),
            F.avg(v).alias(f"mean_len_{t}"),
            F.max(v).alias(f"max_len_{t}"),
        ]
    feats = point_in_time_join(
        tokens,
        requests,
        agg_exprs=aggs,
        entity_col=entity_col,
        event_ts=ts_col,
        request_ts="ts",
        lookback_hours=max_lb,
        request_keys=[entity_col, "ts"],
    )
    labels = label_horizon_features(
        tokens, requests, entity_col, ts_col, horizon_hours
    )
    return feats.join(labels, on=[entity_col, "ts"], how="inner")


def backfill_features_grid(
    tokens: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    lookback_hours: int = 24,
) -> DataFrame:
    """As-of lookback features for the REGULAR hourly request grid
    (hourly_requests), via hierarchical aggregation instead of the generic
    bucketized join: events roll up to per-(entity, hour] partials in ONE
    groupBy (map-side combine shrinks 10^12 events to |entities|×|hours|
    rows before the shuffle), then each request's (ts-24h, ts] window is
    a 24-row range-window over the partial table — decomposable
    aggregates only (count/sum/max; mean = sum/count).

    Exactness: the request window (H-24, H] is the disjoint union of the
    24 half-open hour intervals (h-1, h]; partials are keyed by the hour
    CEILING so an event exactly on a boundary lands in the lower
    interval, matching ``point_in_time_join``'s strict-lower/inclusive-
    upper guard. Equality with ``backfill_features`` is pytest- and
    oracle-checked. Use the generic join for irregular request sets.

    At 10^12 events this turns the dominant join (events × requests per
    bucket) into a pre-aggregation whose shuffle is bounded by the grid,
    not the corpus — the standard rollup-cube trick for dense grids.
    """
    t = F.col(ts_col).cast("timestamp")
    hour_floor = F.date_trunc("HOUR", t)
    # ceil to hour; events exactly on a boundary stay in the lower interval
    hr = F.when(t == hour_floor, hour_floor).otherwise(
        hour_floor + F.expr("INTERVAL 1 HOUR")
    )
    partials = (
        tokens.select(
            F.col(entity_col),
            hr.alias("_hr"),
            F.col("n_tok"),
        )
        .groupBy(entity_col, "_hr")
        .agg(
            F.count("n_tok").alias("_n"),
            F.sum("n_tok").alias("_s"),
            F.max("n_tok").alias("_mx"),
        )
    )
    # dense spine: every request hour appears even when no events did
    spine = hourly_requests(tokens, entity_col).select(
        entity_col, F.col("ts").alias("_hr")
    )
    dense = spine.join(partials, [entity_col, "_hr"], "left")
    hours_num = (F.unix_micros(F.col("_hr")) / 3.6e9).cast("long")
    w = (
        Window.partitionBy(entity_col)
        .orderBy(hours_num)
        .rangeBetween(-(lookback_hours - 1), 0)
    )
    n = F.sum("_n").over(w)
    s = F.sum("_s").over(w)
    return dense.select(
        F.col(entity_col),
        F.col("_hr").alias("ts"),
        F.coalesce(n, F.lit(0)).alias("docs_24h"),
        s.alias("tokens_24h"),
        (s / n).alias("mean_len_24h"),
        F.max("_mx").over(w).alias("max_len_24h"),
    )


def hour_partials(
    tokens: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """The (entity, hour-ceiling] rollup every grid op builds on:
    ``(_n, _s, _mx, _mnts, _mxts)`` per (entity, _hr) — count, token sum,
    max length, min/max event ts. One map-side-combined groupBy; keyed
    by hour CEILING so boundary events land in the lower interval
    (matching ``point_in_time_join``'s strict-lower/inclusive-upper).

    Every field is a COMMUTATIVE MONOID (sum/sum/max/min/max), so
    partials are mergeable: ``merge_hour_partials(hour_partials(a),
    hour_partials(b)) == hour_partials(a ∪ b)`` exactly — the
    incremental-ingest contract at 10^12 rows (persist the partial
    table, roll each new batch up alone, merge grid-sized frames, never
    rescan history; pytest + shared-oracle-proven)."""
    t = F.col(ts_col).cast("timestamp")
    hour_floor = F.date_trunc("HOUR", t)
    hr = F.when(t == hour_floor, hour_floor).otherwise(
        hour_floor + F.expr("INTERVAL 1 HOUR")
    )
    return (
        tokens.select(
            F.col(entity_col), hr.alias("_hr"), F.col("n_tok"), t.alias("_ts")
        )
        .groupBy(entity_col, "_hr")
        .agg(
            F.count("n_tok").alias("_n"),
            F.sum("n_tok").alias("_s"),
            F.max("n_tok").alias("_mx"),
            F.min("_ts").alias("_mnts"),
            F.max("_ts").alias("_mxts"),
        )
    )


def merge_hour_partials(
    existing: DataFrame, delta: DataFrame, entity_col: str = "source"
) -> DataFrame:
    """Fold a new batch's partials into the persisted partial table —
    each field merged by its monoid (counts/sums add, max/min combine).
    Shuffle is bounded by the grids being merged, never the event
    history; at scale only the (entity, hour) keys the batch touched
    change."""
    u = existing.unionByName(delta)
    return u.groupBy(entity_col, "_hr").agg(
        F.sum("_n").alias("_n"),
        F.sum("_s").alias("_s"),
        F.max("_mx").alias("_mx"),
        F.min("_mnts").alias("_mnts"),
        F.max("_mxts").alias("_mxts"),
    )


def training_set_grid(
    tokens: DataFrame | None,
    entity_col: str = "source",
    ts_col: str = "ts",
    lookbacks_hours: tuple[int, ...] = (1, 24),
    horizon_hours: int = 24,
    partials: DataFrame | None = None,
    extra_label_horizons: tuple[int, ...] = (),
) -> DataFrame:
    """Grid-scale twin of ``training_set`` for the dense hourly request
    grid — the whole leakage-clean training row from ONE scan of the
    event table: events roll up to (entity, hour-ceiling] partials
    (count/sum/max/min-ts/max-ts, all decomposable) in a single
    map-side-combined groupBy, the request spine is derived FROM the
    partials (no second pass over events), and then every horizon in
    both directions is a bounded range window over the partial table:
    trailing windows for the feature lookbacks, a leading window for
    the labels (min-ts partial → time-to-next-event). Value-identical
    to ``training_set`` (shared DuckDB oracle + exact-equality pytest).

    Boundary semantics match ``point_in_time_join``: partials key by
    the hour CEILING, so an event exactly on a request timestamp is
    feature-side (strict-lower/inclusive-upper) and the leading label
    window starting at +1 excludes it. Partial hours past the spine end
    (events after the last request hour) join the frame so labels see
    them, but emit no request row.

    At 10^12 events the shuffle is bounded by the grid (|entities| ×
    |hours|), not the corpus; the partial table is localCheckpoint-ed
    because it feeds both the spine and the windows and Catalyst would
    otherwise recompute the big aggregation per consumer.

    Pass ``partials`` (a ``hour_partials``/``merge_hour_partials``
    frame) to assemble from a maintained partial table instead of
    scanning events — the incremental-ingest path; ``tokens`` is then
    ignored and may be None."""
    if partials is None:
        partials = hour_partials(tokens, entity_col, ts_col)
    partials = partials.localCheckpoint()
    spine = (
        partials.groupBy(entity_col)
        .agg(
            F.date_trunc("HOUR", F.min("_mnts")).alias("_t0"),
            F.date_trunc("HOUR", F.max("_mxts")).alias("_t1"),
        )
        .select(
            entity_col,
            F.explode(
                F.sequence("_t0", "_t1", F.expr("INTERVAL 1 HOUR"))
            ).alias("_hr"),
            F.lit(True).alias("_req"),
        )
    )
    dense = spine.join(partials, [entity_col, "_hr"], "full")
    hours_num = (F.unix_micros(F.col("_hr")) / 3.6e9).cast("long")
    cols = []
    for lb in sorted(set(int(h) for h in lookbacks_hours)):
        w = (
            Window.partitionBy(entity_col)
            .orderBy(hours_num)
            .rangeBetween(-(lb - 1), 0)
        )
        n = F.sum("_n").over(w)
        s = F.sum("_s").over(w)
        tg = f"{lb}h"
        cols += [
            F.coalesce(n, F.lit(0)).alias(f"docs_{tg}"),
            s.alias(f"tokens_{tg}"),
            (s / n).alias(f"mean_len_{tg}"),
            F.max("_mx").over(w).alias(f"max_len_{tg}"),
        ]
    wf = (
        Window.partitionBy(entity_col)
        .orderBy(hours_num)
        .rangeBetween(1, int(horizon_hours))
    )
    nf = F.sum("_n").over(wf)
    sf = F.sum("_s").over(wf)
    cols += [
        F.coalesce(nf, F.lit(0)).alias("docs_next"),
        sf.alias("tokens_next"),
        (
            F.unix_timestamp(F.min("_mnts").over(wf))
            - F.unix_timestamp(F.col("_hr"))
        ).alias("first_gap_s"),
    ]
    # multi-task label heads: one more leading window per extra horizon
    # over the SAME partial table — K label horizons, still one scan
    for h in sorted(set(int(x) for x in extra_label_horizons)):
        if h == int(horizon_hours):
            continue
        wfh = (
            Window.partitionBy(entity_col)
            .orderBy(hours_num)
            .rangeBetween(1, h)
        )
        cols += [
            F.coalesce(F.sum("_n").over(wfh), F.lit(0)).alias(
                f"docs_next_{h}h"
            ),
            F.sum("_s").over(wfh).alias(f"tokens_next_{h}h"),
        ]
    return (
        dense.select(
            F.col(entity_col), F.col("_hr").alias("ts"), F.col("_req"), *cols
        )
        .filter(F.col("_req"))
        .drop("_req")
    )


def expanding_entity_stats(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    value_col: str = "n_tok",
) -> DataFrame:
    """Expanding (all-history, strictly-past) per-entity normalization:
    for every row, the count / mean / sample-std of the entity's PRIOR
    values and the row's z-score against them — the classic leakage-safe
    target/feature encoding (each row normalized by what was known just
    before it).

    Std is computed from exact integer prefix sums (``sum``, ``sum of
    squares`` over the expanding ROWS frame, cast to double only at the
    final ``sqrt((s2 - s²/n)/(n-1))``), NOT from a streaming variance
    aggregate — both engines then evaluate the identical expression on
    identical integers, so the DuckDB oracle matches to the ulp rather
    than depending on matching Welford update orders. One hash exchange
    on the entity (zero over the bucketed layout); the frame is a
    running accumulator, not a re-scan."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(entity_col)
        .orderBy(us, "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = F.col(value_col)
    n = F.count(x).over(w)
    s = F.sum(x).over(w).cast("double")
    # square in LONG: an int32 value_col would compute x*x in int and
    # silently wrap past 46340 in non-ANSI mode, corrupting exp_std/exp_z.
    # (The long PREFIX SUM of squares is exact to 2^63 — with per-doc
    # token counts ≤1M that is ~9M docs per entity; entities hotter than
    # that should roll up through the decimal path trailing_correlation
    # uses.)
    xl = x.cast("long")
    s2 = F.sum(xl * xl).over(w).cast("double")
    nd = n.cast("double")
    var = (s2 - s * s / nd) / (nd - F.lit(1.0))
    std = F.when(n >= 2, F.sqrt(var))
    mean = F.when(n >= 1, s / nd)
    return tokens.select(
        "doc_id",
        entity_col,
        ts_col,
        value_col,
        n.alias("exp_n"),
        mean.alias("exp_mean"),
        std.alias("exp_std"),
        F.when(std > 0.0, (x.cast("double") - mean) / std).alias("exp_z"),
    )


def decayed_rate_features(
    tokens: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    half_life_hours: float = 24.0,
    window_hours: int = 168,
) -> DataFrame:
    """Exponentially-decayed activity per (entity, request hour): hourly
    doc/token counts folded with per-hour decay ``d = 2^(-1/half_life)``
    over the trailing ``window_hours`` grid — EWMA-style recency
    weighting, the standard "how active was this entity lately" feature
    with smooth forgetting.

    Scale + parity shape: events roll to (entity, hour] partials (one
    map-side-combined groupBy, grid-bounded shuffle), the dense spine
    comes FROM the partials, and the decayed sum is a HORNER fold
    (``acc*d + x``) over the window's hour-ordered values — no ``pow``
    anywhere, so the DuckDB ``list_reduce`` oracle is bit-identical
    (multiply/add in the same order on the same doubles; the truncated
    tail beyond ``window_hours`` is part of the definition on both
    sides). Empty hours contribute an exact ``+0.0``."""
    d = 0.5 ** (1.0 / float(half_life_hours))
    t = F.col(ts_col).cast("timestamp")
    hour_floor = F.date_trunc("HOUR", t)
    hr = F.when(t == hour_floor, hour_floor).otherwise(
        hour_floor + F.expr("INTERVAL 1 HOUR")
    )
    partials = (
        tokens.select(F.col(entity_col), hr.alias("_hr"), F.col("n_tok"))
        .groupBy(entity_col, "_hr")
        .agg(
            F.count("n_tok").alias("_n"),
            F.sum("n_tok").alias("_s"),
        )
        .localCheckpoint()
    )
    spine = (
        partials.groupBy(entity_col)
        .agg(
            F.date_trunc("HOUR", F.min("_hr")).alias("_t0"),
            F.date_trunc("HOUR", F.max("_hr")).alias("_t1"),
        )
        .select(
            entity_col,
            F.explode(
                F.sequence("_t0", "_t1", F.expr("INTERVAL 1 HOUR"))
            ).alias("_hr"),
        )
    )
    dense = spine.join(partials, [entity_col, "_hr"], "left")
    hours_num = (F.unix_micros(F.col("_hr")) / 3.6e9).cast("long")
    w = (
        Window.partitionBy(entity_col)
        .orderBy(hours_num)
        .rangeBetween(-(int(window_hours) - 1), 0)
    )

    def horner(col):
        xs = F.array_sort(
            F.collect_list(
                F.struct(
                    hours_num.alias("h"),
                    F.coalesce(col.cast("double"), F.lit(0.0)).alias("x"),
                )
            ).over(w)
        )
        return F.aggregate(
            xs,
            F.lit(0.0),
            lambda acc, s_: acc * F.lit(d) + s_["x"],
        )

    return dense.select(
        F.col(entity_col),
        F.col("_hr").alias("ts"),
        F.coalesce(F.col("_n"), F.lit(0)).alias("docs_this_hour"),
        horner(F.col("_s")).alias("decayed_tokens"),
        horner(F.col("_n")).alias("decayed_docs"),
    )


def recency_weights(
    tokens: DataFrame,
    ts_col: str = "ts",
    half_life_hours: float = 7 * 24.0,
    entity_col: str | None = None,
    reference_ts: str | None = None,
    broadcast_refs: bool = True,
) -> DataFrame:
    """Per-document recency sampling weight for training-mix assembly:
    ``w = 0.5 ** (age_hours / half_life_hours)`` with age measured back
    from the corpus (or per-``entity_col``) max timestamp, or from an
    explicit ``reference_ts`` literal (the reproducible choice for a
    pinned training snapshot: 'as of T'). Weight 1.0 at the reference,
    0.5 one half-life back — feed straight into the same weighted
    sampler as ``temperature_rates`` (the time axis of the mixing
    policy, where temperature is the source axis).

    Scale shape: with ``reference_ts`` or a global reference the job is
    MAP-ONLY (one scalar aggregate broadcast into a literal-free join);
    per-entity references add one entity-keyed aggregation joined back.
    The reference table has one row per entity — broadcast by default;
    pass ``broadcast_refs=False`` when entity cardinality exceeds the
    broadcast budget (e.g. per-document entities at corpus scale) and
    the join falls back to a shuffled hash join on the entity key. No
    window, no sort, no per-row Python."""
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    if reference_ts is not None:
        ref = F.unix_micros(F.lit(reference_ts).cast("timestamp"))
        joined = tokens
    elif entity_col is not None:
        refs = tokens.groupBy(entity_col).agg(
            F.max(t).alias("_ref_us")
        )
        if broadcast_refs:
            refs = F.broadcast(refs)
        joined = tokens.join(refs, entity_col)
        ref = F.col("_ref_us")
    else:
        refs = tokens.agg(F.max(t).alias("_ref_us"))
        joined = tokens.crossJoin(F.broadcast(refs))
        ref = F.col("_ref_us")
    age_h = (ref - t) / F.lit(3.6e9)
    w = F.pow(F.lit(0.5), age_h / F.lit(float(half_life_hours)))
    drop = [] if reference_ts is not None else ["_ref_us"]
    return joined.withColumn("age_hours", age_h).withColumn(
        "recency_weight", w
    ).drop(*drop)


def drift_psi(
    tokens: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    alpha: float = 0.5,
    baseline_days: int = 7,
    max_bucket: int = 13,
) -> DataFrame:
    """Distribution-drift monitor: per (entity, day), the Population
    Stability Index of the sequence-length distribution against the
    POOLED trailing ``baseline_days`` window —
    ``PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)`` over log2 length buckets
    with add-α smoothing (every bucket has mass on both sides, so no
    log-of-zero). The standard "did today's data change shape?"
    ingestion alarm; PSI ≳ 0.2 conventionally flags action.

    Scale + parity shape: ONE groupBy rolls events to (entity, day,
    bucket) counts — everything after is bounded by entities × days ×
    ~14 buckets. The dense (day × bucket) spine comes from the
    histogram itself; baseline counts are a per-(entity, bucket) range
    window over days; the PSI sum folds IN BUCKET ORDER inside one
    row's sorted struct array, so the DuckDB ordered-list oracle adds
    the same doubles in the same sequence. Days with an empty baseline
    (the first ``baseline_days`` of each entity) are not emitted."""
    n_buckets = int(max_bucket) + 1
    t = F.col(ts_col).cast("timestamp")
    day = F.date_trunc("DAY", t)
    bucket = F.least(
        F.floor(F.log2(F.greatest(F.col("n_tok"), F.lit(1)))),
        F.lit(int(max_bucket)),
    ).cast("int")
    hist = (
        tokens.select(F.col(entity_col), day.alias("_day"), bucket.alias("_b"))
        .groupBy(entity_col, "_day", "_b")
        .agg(F.count("*").alias("_c"))
        .localCheckpoint()
    )
    spine = (
        hist.groupBy(entity_col)
        .agg(F.min("_day").alias("_d0"), F.max("_day").alias("_d1"))
        .select(
            entity_col,
            F.explode(
                F.sequence("_d0", "_d1", F.expr("INTERVAL 1 DAY"))
            ).alias("_day"),
        )
        .select(
            entity_col,
            "_day",
            F.explode(
                F.sequence(F.lit(0), F.lit(int(max_bucket)))
            ).alias("_b"),
        )
    )
    dense = spine.join(hist, [entity_col, "_day", "_b"], "left").select(
        entity_col,
        "_day",
        "_b",
        F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
    )
    daynum = (F.unix_micros(F.col("_day")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    wb = (
        Window.partitionBy(entity_col, "_b")
        .orderBy(daynum)
        .rangeBetween(-int(baseline_days), -1)
    )
    dense = dense.withColumn(
        "_cb", F.coalesce(F.sum("_c").over(wb), F.lit(0))
    )
    g = dense.groupBy(entity_col, F.col("_day").alias("day")).agg(
        F.array_sort(
            F.collect_list(F.struct("_b", "_c", "_cb"))
        ).alias("bs")
    )
    bs = F.col("bs")
    nt = F.aggregate(
        bs, F.lit(0).cast("long"), lambda a, s: a + s["_c"]
    )
    nb = F.aggregate(
        bs, F.lit(0).cast("long"), lambda a, s: a + s["_cb"]
    )
    a_lit = F.lit(float(alpha))
    denom_t = nt.cast("double") + F.lit(float(alpha) * n_buckets)
    denom_b = nb.cast("double") + F.lit(float(alpha) * n_buckets)

    def psi_term(s):
        p = (s["_c"].cast("double") + a_lit) / denom_t
        q = (s["_cb"].cast("double") + a_lit) / denom_b
        return (p - q) * F.log(p / q)

    out = g.select(
        entity_col,
        "day",
        nt.alias("n_today"),
        nb.alias("n_base"),
        F.aggregate(bs, F.lit(0.0), lambda a, s: a + psi_term(s)).alias(
            "psi"
        ),
    )
    return out.filter((F.col("n_today") > 0) & (F.col("n_base") > 0))


def purged_folds(
    tokens: DataFrame,
    ts_col: str = "ts",
    k: int = 5,
    embargo_hours: float = 24.0,
) -> DataFrame:
    """Purged time-series cross-validation assignment (the leakage-
    controlled CV split, de Prado's purging+embargo): the global time
    span divides into ``k`` contiguous folds; each row gets its fold id
    plus a k-char mask — char j is '1' iff the row may TRAIN when fold
    j validates, i.e. the row sits strictly outside fold j's boundaries
    widened by the embargo on both sides. Rows adjacent to a validation
    block are excluded from its training set, killing boundary leakage
    through windowed/as-of features.

    Exactness + scale: fold boundaries are INTEGER microsecond
    arithmetic (``t0 + (j*span) div k``) computed once from a 2-value
    aggregate and shipped as literals — fold id is a sum of boundary
    indicators and the mask a concat of boundary comparisons, so the
    whole op is one tiny collect + a pure map (no doubles anywhere, no
    shuffle; the DuckDB oracle rebuilds the identical integers)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    row = tokens.agg(
        F.min(us).alias("t0"), F.max(us).alias("t1")
    ).collect()[0]
    t0, t1 = int(row["t0"]), int(row["t1"])
    span = t1 - t0 + 1
    emb = int(embargo_hours * 3_600_000_000)
    bounds = [t0 + (j * span) // k for j in range(k + 1)]

    fold = F.lit(0)
    for j in range(1, k):
        fold = fold + F.when(us >= F.lit(bounds[j]), 1).otherwise(0)
    mask_chars = []
    for j in range(k):
        ok = (us < F.lit(bounds[j] - emb)) | (us >= F.lit(bounds[j + 1] + emb))
        mask_chars.append(F.when(ok, F.lit("1")).otherwise(F.lit("0")))
    return tokens.select(
        "doc_id",
        F.col(ts_col),
        fold.cast("int").alias("fold"),
        F.concat(*mask_chars).alias("train_mask"),
    )


def contrastive_positives(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    max_gap_hours: float = 6.0,
) -> DataFrame:
    """Positive-pair generation for contrastive training — the twin of
    ``corpus.contrastive_negatives``: each doc pairs with the SAME
    writer's next doc when it arrives within ``max_gap_hours`` (temporal
    adjacency as the supervision signal: same author, same sitting).
    One lead over the per-entity window the whole engine already
    partitions by (zero exchange over the bucketed layout), then a gap
    filter; output ≤ n rows."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(entity_col).orderBy(us, "doc_id")
    gap_us = F.lead(us, 1).over(w) - us
    out = tokens.select(
        F.col("doc_id").alias("anchor_id"),
        F.col(entity_col),
        F.lead("doc_id", 1).over(w).alias("positive_id"),
        gap_us.alias("gap_us"),
    )
    return out.filter(
        F.col("positive_id").isNotNull()
        & (F.col("gap_us") <= int(max_gap_hours * 3_600_000_000))
    )


def writer_streaks(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-entity activity/retention features on the daily grain —
    gaps-and-islands: for each (entity, active day), the current
    consecutive-day streak length, days since the previous active day,
    days since first seen, and the running count of active days. The
    standard engagement feature block (streaks via the
    ``daynum − dense_rank`` island constant).

    One distinct + two windows, all on the entity key; state bounded by
    entities × active days."""
    day = F.date_trunc("DAY", F.col(ts_col).cast("timestamp"))
    d = tokens.select(F.col(entity_col), day.alias("day")).distinct()
    daynum = (F.unix_micros(F.col("day")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    w = Window.partitionBy(entity_col).orderBy(daynum)
    grp = daynum - F.row_number().over(w)
    b = d.select(
        entity_col,
        "day",
        daynum.alias("_dn"),
        (daynum - F.first(daynum).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )).alias("days_since_first"),
        (daynum - F.lag(daynum, 1).over(w)).alias("days_since_prev"),
        F.row_number().over(w).cast("long").alias("active_day_rank"),
        grp.alias("_grp"),
    )
    ws = Window.partitionBy(entity_col, "_grp").orderBy("_dn")
    return b.select(
        entity_col,
        "day",
        "days_since_first",
        "days_since_prev",
        "active_day_rank",
        F.row_number().over(ws).cast("long").alias("streak_len"),
    )


def trailing_correlation(
    tokens: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    window_hours: int = 24,
) -> DataFrame:
    """Trailing Pearson correlation between two per-entity hourly
    series — docs/hour (x) vs tokens/hour (y) over the active hours
    within the trailing ``window_hours``: the volume↔size interaction feature
    ("are busy hours also long-form hours lately?"). Computed in closed
    form from exact integer window sums (m, Σx, Σy, Σxy, Σx², Σy²) so
    both engines evaluate one identical expression on identical
    integers — the same no-streaming-variance trick as
    ``expanding_entity_stats``. NULL when fewer than 2 active hours or
    a degenerate (zero-variance) side. Grid-bounded: one hourly rollup,
    one bounded range window.

    The second moments accumulate in DECIMAL(38,0), not long: ``y`` is
    tokens/hour for one source, so Σy² over a 24 h window crosses 2^63
    once a heavy source sustains ~6×10⁸ tokens/hour — realistic on a
    100 TB crawl — and a long sum would wrap silently in non-ANSI mode
    (the int-square class from round 3, one level up). DuckDB's oracle
    side is hugeint (128-bit) natively; decimal keeps Spark exact too,
    and below the old bound the exact integer converts to the identical
    double either way."""
    partials = hour_partials(tokens, entity_col, ts_col).select(
        entity_col, "_hr", "_n", "_s"
    )
    hours_num = (F.unix_micros(F.col("_hr")) / 3.6e9).cast("long")
    w = (
        Window.partitionBy(entity_col)
        .orderBy(hours_num)
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    x = F.col("_n")
    y = F.col("_s")
    xd = x.cast("decimal(19,0)")
    yd = y.cast("decimal(19,0)")
    m = F.count(x).over(w).cast("double")
    sx = F.sum(x).over(w).cast("double")
    sy = F.sum(y).over(w).cast("double")
    sxy = F.sum(xd * yd).over(w).cast("double")
    sxx = F.sum(xd * xd).over(w).cast("double")
    syy = F.sum(yd * yd).over(w).cast("double")
    cov = m * sxy - sx * sy
    vx = m * sxx - sx * sx
    vy = m * syy - sy * sy
    corr = F.when(
        (m >= 2) & (vx > 0.0) & (vy > 0.0),
        cov / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return partials.select(
        entity_col,
        F.col("_hr").alias("ts"),
        F.col("_n").alias("docs_this_hour"),
        m.cast("long").alias("active_hours"),
        corr.alias("corr_docs_tokens"),
    )


def hourly_requests(tokens: DataFrame, entity_col: str = "source") -> DataFrame:
    """Deterministic request grid: one request per (entity, hour) over the
    observed span — the backfill workload for benchmarks."""
    span = tokens.groupBy(entity_col).agg(
        F.date_trunc("HOUR", F.min("ts")).alias("_t0"),
        F.date_trunc("HOUR", F.max("ts")).alias("_t1"),
    )
    return span.select(
        entity_col,
        F.explode(
            F.sequence(F.col("_t0"), F.col("_t1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("ts"),
    )


def daily_source_stats(
    tokens: DataFrame, entity_col: str = "source", salt_buckets: int = 16
) -> DataFrame:
    """Skew-safe daily rollup (the heavy 'web' entity would otherwise pin
    one reducer): salted partials → merge."""
    with_day = tokens.withColumn("_day", F.to_date("ts"))
    return salted_agg(
        with_day,
        keys=[entity_col, "_day"],
        partial_exprs=[
            F.sum("n_tok").alias("s"),
            F.count("*").alias("n"),
            F.max("n_tok").alias("mx"),
        ],
        final_exprs=[
            F.sum("n").alias("n_docs"),
            F.sum("s").alias("total_tokens"),
            (F.sum("s") / F.sum("n")).alias("mean_len"),
            F.max("mx").alias("max_len"),
        ],
        salt_buckets=salt_buckets,
    )


def consecutive_repeat_flags(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_rows: int = 16,
) -> DataFrame:
    """Within-entity near-consecutive duplicate flag: a doc is a repeat
    when its content fingerprint already appeared in the entity's last
    ``lookback_rows`` docs — the batch twin of the streaming near-dup
    guard (same bounded-state semantics: K fingerprints per entity, not
    an unbounded seen-set). Catches retry storms, double-ingest and
    crawler loops that global exact-dedup also finds but only after a
    full corpus shuffle; this flags them inside the existing (entity, ts)
    window layout with one O(K)-per-row pass.

    Fingerprint is md5 of the comma-joined token text — engine-portable
    (DuckDB twin: ``md5(array_to_string(tokens, ','))``).
    """
    fp = F.md5(
        F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))
    )
    narrow = tokens.select(
        "doc_id", entity_col, ts_col, F.col("n_tok"), fp.alias("_fp")
    )
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col, "doc_id")
        .rowsBetween(-lookback_rows, -1)
    )
    recent = F.collect_list("_fp").over(w)
    return narrow.select(
        "doc_id",
        entity_col,
        ts_col,
        "n_tok",
        F.col("_fp").alias("fp"),
        F.array_contains(recent, F.col("_fp")).alias("is_repeat"),
    )


def distribution_features(tokens: DataFrame) -> DataFrame:
    """Per-document token-distribution diversity features, all within-row
    (no shuffle, no Python):

    - ``unigram_entropy`` — Shannon entropy (nats) of the doc's token
      histogram, computed as ``ln(n) − Σ c·ln(c) / n`` over sorted-run
      lengths: ``array_sort`` the tokens, find run boundaries with a
      filtered index sequence, diff adjacent boundaries for the counts.
      No explode/groupBy — a 10^12-sequence scan stays embarrassingly
      parallel with zero exchange.
    - ``bigram_distinct_ratio`` — distinct adjacent-pair count over
      (n−1), via the shifted-slice zip (the n-gram pattern used by the
      dedup family); pairs packed into one long (vocab < 2^32).

    Low entropy / low bigram diversity flag degenerate or boilerplate
    sequences — the token-level analogue of the text repetition filter.
    """
    # Stage the sorted array and run-start positions as real columns:
    # Catalyst does NOT common-subexpression-eliminate inside HOF lambdas,
    # so `element_at(array_sort(t), i)` in the filter body would re-sort
    # the whole array once PER ELEMENT (O(n² log n) per row — measured as
    # a hang at 3k docs). Bound column refs keep each lambda step O(1).
    t = F.col("tokens")
    n = F.col("n_tok").cast("int")
    staged = tokens.select(
        "doc_id",
        "n_tok",
        t.alias("_t"),
        F.array_sort(t).alias("_s"),
    ).withColumn(
        # 1-indexed run-start positions: i == 1 or s[i] != s[i-1]
        "_bpos",
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == F.lit(1))
            | (F.element_at(F.col("_s"), i) != F.element_at(F.col("_s"), i - F.lit(1))),
        ),
    )
    bpos = F.col("_bpos")
    ends = F.concat(
        F.slice(bpos, 2, F.greatest(F.size(bpos) - 1, F.lit(0))),
        F.array(n + F.lit(1)),
    )
    run_lens = F.zip_with(bpos, ends, lambda a, b: (b - a).cast("double"))
    sclc = F.aggregate(
        run_lens, F.lit(0.0), lambda acc, c: acc + c * F.log(c)
    )
    nd = n.cast("double")
    big = F.lit(4294967296)  # 2^32: injective pair packing for int32 vocab
    tc = F.col("_t")
    bigrams = F.zip_with(
        F.slice(tc, 1, n - 1),
        F.slice(tc, 2, n - 1),
        lambda a, b: a.cast("long") * big + b.cast("long"),
    )
    return staged.select(
        "doc_id",
        "n_tok",
        (F.log(nd) - sclc / nd).alias("unigram_entropy"),
        (
            F.size(F.array_distinct(bigrams)).cast("double") / (nd - 1)
        ).alias("bigram_distinct_ratio"),
    )


def anomaly_scores(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_rows: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Per-(entity, ts) anomaly score: z of ``n_tok`` against the entity's
    trailing window mean/std (strictly past rows — the same leakage-free
    frame as ``feature_vectors``). Sequences whose length jumps out of
    their writer's recent distribution are flagged — the stream-QA pass
    that catches ingestion glitches (truncation, concatenation bugs,
    format changes) per source/writer. ``min_history`` gates the score so
    an entity's first rows never alarm on an undefined std. One window
    exchange over the narrow projection — identical plan shape (and
    layout reuse) as the feature-vector tier."""
    narrow = tokens.select("doc_id", entity_col, ts_col, "n_tok")
    w = Window.partitionBy(entity_col).orderBy(ts_col, "doc_id")
    wb = w.rowsBetween(-lookback_rows, -1)
    n = F.col("n_tok")
    mean = F.avg(n).over(wb)
    std = F.stddev_samp(n).over(wb)
    cnt = F.count(n).over(wb)
    z = F.when(
        (cnt >= min_history) & (std > 0), (n - mean) / std
    )
    return narrow.select(
        "doc_id",
        entity_col,
        ts_col,
        "n_tok",
        mean.alias("roll_mean"),
        std.alias("roll_std"),
        cnt.alias("roll_count"),
        z.alias("z_score"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )
