"""Seeded input generators for the benchmark workloads.

Every generator is executor-side (``spark.range`` plus ``xxhash64(seed,
...)`` column arithmetic), so the same seed gives the same rows on any
core count, and no Python row loop sits in set-up.  The program under
test only ever sees the parquet these functions write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledge_graph_spark.synth import TRANSCRIPTS_SQL, synth_transcripts

# the five event types of the sf0.1 `events` test table
EVENT_TYPES = ["error", "view", "signup", "purchase", "click"]
# mean gap between events (seconds): 100k events spread over ~30 days
EVENT_GAP_S = 26
T0 = 1704067200  # 2024-01-01T00:00:00Z


def _h(seed: int, salt: int, col: str):
    return F.abs(F.xxhash64(F.lit(seed), F.lit(salt), F.col(col)))


def events(
    spark: SparkSession, seed: int, n_users: int, events_per_user: int, user_offset: int = 0
) -> DataFrame:
    """An ``events`` table with the shape of the sf0.1 test table:
    uniform user ids, five event types, event ids in time order.  Only
    the columns ``TRANSCRIPTS_SQL`` reads are generated.  ``user_offset``
    shifts both user and event ids, so successive CDC rounds add fresh
    conversations that never collide with earlier ones."""
    n = n_users * events_per_user
    first_event = user_offset * events_per_user
    return spark.range(first_event, first_event + n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(T0) + F.col("id") * EVENT_GAP_S + _h(seed, 1, "id") % EVENT_GAP_S
        ).alias("ts"),
        (F.lit(user_offset) + _h(seed, 2, "id") % n_users).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in EVENT_TYPES]),
            (_h(seed, 3, "id") % len(EVENT_TYPES) + 1).cast("int"),
        ).alias("event_type"),
    )


def events_transcripts(
    spark: SparkSession, seed: int, n_users: int, events_per_user: int, user_offset: int = 0
) -> DataFrame:
    """Transcripts derived from generated events by the program's own
    ``TRANSCRIPTS_SQL`` (the events grammar: USER_k / EVT_x / ITEM_k /
    AGENT_k mentions, claims on every ``USER saw EVT on ITEM`` turn)."""
    events(spark, seed, n_users, events_per_user, user_offset).createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_SQL)


def wide_transcripts(spark: SparkSession, seed: int, n_convs: int, base_turns: int) -> DataFrame:
    """``synth_transcripts`` with a vocabulary proportional to the corpus
    (n_person ~ n_convs, n_city ~ n_convs / 3), so the graph grows with
    the input instead of saturating at a few dozen nodes."""
    return synth_transcripts(
        spark,
        n_convs=n_convs,
        base_turns=base_turns,
        seed=seed,
        n_person=max(20, n_convs),
        n_city=max(6, n_convs // 3),
    )


def delete_set(spark: SparkSession, seed: int, users_before: int, round_no: int) -> DataFrame:
    """conv_ids retracted in CDC round ``round_no`` (>= 1): the earlier
    users whose seeded bucket (1 of 20) is ``round_no - 1``.  Each round
    takes a new bucket, so no conversation is deleted twice and every
    round retracts ~5% of what was inserted before it."""
    bucket = F.abs(F.xxhash64(F.lit(seed), F.lit(4), F.col("id"))) % 20
    return (
        spark.range(users_before)
        .filter(bucket == (round_no - 1) % 20)
        .select(F.concat(F.lit("conv_"), F.col("id").cast("string")).alias("conv_id"))
    )
