"""End-to-end batch dataflow: journal -> decoded change events ->
compacted current state.

This is the Spark re-expression of the reference's hot path
(``As400StreamingChangeEventSource.execute`` -> decode -> dispatch,
SURVEY.md §3.2): declarative filters (pushed to the scan), a
codegen'd op-type map, window-based UB/UP pairing (event consumers
only), a ``max_by`` last-per-key hash aggregation, and ONE vectorized
decode UDF over the survivors.

Plan-shape invariants (checked in tests via ``.explain``):
- table/code/type filters appear in ``PushedFilters`` of the scan;
- the decode UDF runs AFTER compaction in ``current_state`` (decode
  cost scales with distinct keys, not event count);
- exactly one shuffle for compaction (hash by key), one for pairing
  (hash by key) — Catalyst reuses the exchange when partitioning
  matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.config import EngineConfig
from debezium_connector_ibmi_spark.functions.decode import extract_text_udf
from debezium_connector_ibmi_spark.functions.optype import op_type_col
from debezium_connector_ibmi_spark.operators.compaction import last_event_per_key
from debezium_connector_ibmi_spark.operators.filters import apply_standard_filters
from debezium_connector_ibmi_spark.operators.pairing import pair_before_after

STATE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def decoded_events(journal: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Filtered, op-mapped, UB/UP-paired data events (c/u/d rows).

    Does NOT run the text-extraction UDF — callers that materialize
    state decode after compaction; callers that need per-event text
    add it explicitly (``with_text``).
    """
    f = apply_standard_filters(journal, cfg)
    f = f.withColumn("op", op_type_col())
    data = f.filter(F.col("op").isin("c", "u", "d", "b"))
    return pair_before_after(data)


def with_text(events: DataFrame) -> DataFrame:
    """Attach extracted text (the C3 decode) to after-images."""
    return events.withColumn("text", extract_text_udf(F.col("html")))


def compact_batch(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Last-writer-wins per key over a (micro-)batch of paired events."""
    return last_event_per_key(events, cfg.key_column)


def pair_and_compact(journal_slice: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Fused UB/UP pairing + last-per-key compaction in ONE window
    pass (one shuffle of the event payloads, vs two for
    pair -> compact), for consumers that need before-images (the
    envelope/event path; the MERGE path uses ``compact_for_state``).

    Single window over (table_name, url) ordered by (receiver_idx,
    seq): ``lag`` recovers the before-image for updates;
    ``max(position) over unbounded`` marks the last *data* event per
    key; the filter keeps exactly that row. Skew note: a pathological
    hot key serializes inside one window partition; the state path's
    ``max_by`` aggregation does not have this limit.
    """
    from pyspark.sql import Window

    f = apply_standard_filters(journal_slice, cfg)
    f = f.withColumn("op", op_type_col())
    data = f.filter(F.col("op").isin("c", "u", "d", "b"))

    w = Window.partitionBy("table_name", cfg.key_column).orderBy(
        "receiver_idx", "seq"
    )
    wa = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pos = F.struct(F.col("receiver_idx"), F.col("seq"))
    prev_op = F.lag("op").over(w)
    prev_before = F.lag("before_html").over(w)
    last_data_pos = F.max(F.when(F.col("op") != "b", pos)).over(wa)
    out = (
        data.withColumn(
            "before_html",
            F.coalesce(
                F.when((F.col("op") == "u") & (prev_op == "b"), prev_before),
                F.col("before_html"),
            ),
        )
        .withColumn("__last", (F.col("op") != "b") & (pos == last_data_pos))
        .filter(F.col("__last"))
        .drop("__last")
    )
    return out


def compact_for_state(journal_slice: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Last-per-key compaction for the MERGE/state path.

    Final state never uses before-images, so UB rows are filtered out
    BEFORE the shuffle and the ``before_html``/``null_mask`` columns
    never leave the scan — roughly halving shuffled bytes vs the
    pairing-aware path (the biggest single cost at 2KB+ payloads).

    The fold is a ``max_by`` hash aggregation, not a window: each map
    task ships at most one candidate row per key (partial map-side
    combine), so shuffle volume is O(keys x map_tasks) instead of
    O(events) and nothing is sorted. ``max_by`` is deterministic
    because (receiver_idx, seq) is unique per entry, and a hot key's
    events collapse map-side before they can pile onto one reducer.
    """
    f = apply_standard_filters(journal_slice, cfg)
    f = f.withColumn("op", op_type_col())
    data = f.filter(F.col("op").isin("c", "u", "d")).select(
        "table_name",
        cfg.key_column,
        "receiver_idx",
        "seq",
        "op",
        "html",
        "warc_ts",
        "lang",
    )
    pos = F.struct(F.col("receiver_idx"), F.col("seq"))
    payload = F.struct(
        "receiver_idx", "seq", "op", "html", "warc_ts", "lang"
    )
    return (
        data.groupBy("table_name", cfg.key_column)
        .agg(F.max_by(payload, pos).alias("w"))
        .select(
            "table_name",
            cfg.key_column,
            "w.receiver_idx",
            "w.seq",
            "w.op",
            "w.html",
            "w.warc_ts",
            "w.lang",
        )
    )


def current_state(journal: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Full-replay materialization: the final table the reference's
    downstream would hold after consuming the whole changelog.

    Decode runs on the compacted survivors only — at 10^10 events
    over 10^8 urls that is a 100x reduction in UDF work.
    """
    last = compact_for_state(journal, cfg)
    if cfg.delete_mode == "drop":
        state = last.filter(F.col("op") != "d")
    else:
        state = last.withColumn("__deleted", F.col("op") == "d")
    state = with_text(state)
    cols = list(STATE_COLUMNS) + (
        ["__deleted"] if cfg.delete_mode == "rewrite" else []
    )
    return state.select(*cols)
