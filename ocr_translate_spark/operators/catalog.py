"""Catalog/ledger relational operators (SURVEY.md §2.2-2.7).

The reference's catalog queries — ranked model lists, most-used language,
cache-only reads, manual-override priority, language-pair sync — as
generic DataFrame operators.
Each wrapper documents the reference site it re-expresses; they are thin
by design (Catalyst already provides the physical strategy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def ranked_by_count(df: DataFrame, key: str, count_alias: str = "n") -> DataFrame:
    """A1/O1: popularity ranking — groupBy + count + order desc
    (ref ocr_tsl/cached_lists.py:48-64: models ranked by run count).
    Deterministic: ties order by key."""
    return (
        df.groupBy(key)
        .agg(F.count("*").alias(count_alias))
        .orderBy(F.desc(count_alias), F.col(key))
    )


def most_used(df: DataFrame, key: str) -> DataFrame:
    """A2/O2: argmax by count (ref ocr_tsl/initializers.py:67-77)."""
    return ranked_by_count(df, key).limit(1)


def lang_pair_sync(
    models: DataFrame,
    src: str,
    dst: str,
    src_col: str = "supported",
    dst_col: str | None = None,
) -> DataFrame:
    """Catalog referential-consistency sync: flag installed models that do
    (not) support a newly selected language pair (ref views.py:146-163 —
    models are unloaded when the new pair leaves their src/dst sets;
    ref base.py:374-383 filters models by M2M language membership).

    ``keep`` = the model's supported-language arrays contain both ends of
    the pair; the ``keep=false`` rows are the unload set.  Pure column
    expressions over a (tiny, broadcastable) models dimension."""
    dst_col = dst_col or src_col
    keep = F.array_contains(F.col(src_col), src) & F.array_contains(
        F.col(dst_col), dst
    )
    return models.withColumn("keep", keep)


def semi_lazy(requested: DataFrame, committed: DataFrame, key: str) -> DataFrame:
    """S3: cache-only read — semi-join of requested items against committed
    results (ref ocr_tsl/full.py:28-74 lazy pipeline)."""
    return requested.join(committed.select(key), key, "left_semi")


def override_coalesce(
    base: DataFrame, overrides: DataFrame, key: str, value: str, override_value: str
) -> DataFrame:
    """J5: manual-priority left join + coalesce (ref models/tsl.py:269-271)."""
    ov = F.broadcast(
        overrides.select(F.col(key), F.col(override_value).alias("_ov"))
    )
    return base.join(ov, key, "left").withColumn(
        value, F.coalesce(F.col("_ov"), F.col(value))
    ).drop("_ov")


def sessionize(
    events: DataFrame, user: str, ts: str, gap_minutes: int = 30
) -> DataFrame:
    """Sessionization: lag + cumulative sum over gap breaks — the batch
    analog of the reference's timeout-based request batching
    (ref messaging.py:260-273)."""
    w = Window.partitionBy(user).orderBy(ts)
    # NTZ timestamps can't cast straight to long under ANSI; hop via timestamp
    epoch = F.col(ts).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
