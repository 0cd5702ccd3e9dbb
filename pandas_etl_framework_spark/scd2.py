"""SCD Type 2 merge (full historization).

Re-expresses the reference's COMMENTED Spark template
(`/root/reference/src/PandasETLHelpers/SCDHelpers.py:129-220` merge_scd2,
:88-108 get_valid_from_date, :297-301 historize_dataset, :311-316
split_merged_dataset) with a fundamentally better physical plan:

The reference evaluates FIVE separate spark.sql joins over the same
current/new pair (current_only, new_only, unchanged_current,
changed_current, changed_new — SCDHelpers.py:139-213), scanning
``current_df`` up to five times and forcing five ``.show()`` jobs. Here the
same five-way routing is ONE full-outer join on KEY_HASH followed by a
CASE that emits an array of output rows (1 row for pass-through /
unchanged / insert, 2 rows for a change: the closed-out old version and
the new open version) and an ``explode``. Closed (historized) rows never
enter the join at all — they are filtered out up front and unioned back,
so the join only shuffles the *open* slice of the store.

Semantics preserved exactly, including the edge case that a new row whose
key exists *only as closed rows* in current is dropped (the reference's
NOT-IN covers all of current, SCDHelpers.py:154-156).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import (
    CURRENT_RUN_DAY,
    CURRENT_RUN_ID,
    CURRENT_RUN_TS,
    KEY_HASH,
    RECORD_HASH,
    SCD2_LOWER_BOUND,
    SCD2_UPPER_BOUND,
    UPDATE_RUN_ID,
    UPDATE_TS,
    VALID_FROM,
    VALID_FROM_MODE_CUSTOM,
    VALID_FROM_MODE_LOAD_DATE,
    VALID_FROM_MODE_LOWER_BOUND,
    VALID_TO,
)
from .schema import create_empty_hist_dataframe


def get_valid_from_date(
    valid_from_mode: int,
    valid_from_date: str | None = None,
    currents: dict | None = None,
) -> str:
    """VALID_FROM for newly inserted keys, per mode. ref: SCDHelpers.py:88-108.

    Raises on missing parameters / unknown modes instead of the reference's
    print-and-return-None (SURVEY.md §7 phase 1.4).
    """
    if valid_from_mode == VALID_FROM_MODE_LOWER_BOUND:
        return SCD2_LOWER_BOUND
    if valid_from_mode == VALID_FROM_MODE_LOAD_DATE:
        if currents is None:
            raise ValueError(
                "valid_from_mode=LOAD_DATE requires the currents parameter"
            )
        return currents[CURRENT_RUN_DAY]
    if valid_from_mode == VALID_FROM_MODE_CUSTOM:
        if valid_from_date is None:
            raise ValueError(
                "valid_from_mode=CUSTOM requires the valid_from_date parameter"
            )
        return valid_from_date
    raise ValueError(f"unknown valid_from_mode: {valid_from_mode}")


def merge_scd2_open(
    cur_open: DataFrame,
    new_df: DataFrame,
    currents: dict,
    valid_from_mode: int,
    valid_from_date: str | None = None,
    closed_keys: DataFrame | None = None,
) -> DataFrame:
    """Route the five SCD2 branches out of one full-outer join over the
    *open* slice of the store (closed rows are the caller's concern — they
    pass through unchanged and, at scale, should never be re-read or
    re-written; Scd2Store keeps them in closed dirs its merges only add to).

    ``closed_keys`` — one-column (KEY_HASH) frame of keys that exist only
    as closed rows; new rows for those keys are dropped (reference NOT-IN
    parity, SCDHelpers.py:154-156). Pass None when no closed rows exist.
    """
    out_cols = cur_open.columns
    upper = F.to_date(F.lit(SCD2_UPPER_BOUND))
    run_day = F.to_date(F.lit(currents[CURRENT_RUN_DAY]))
    run_ts = F.to_timestamp(F.lit(currents[CURRENT_RUN_TS]), "yyyy-MM-dd HH:mm:ss")
    valid_from = F.to_date(
        F.lit(get_valid_from_date(valid_from_mode, valid_from_date, currents))
    )

    new_prepped = new_df
    for col in (VALID_FROM, VALID_TO):
        if col not in new_prepped.columns:
            new_prepped = new_prepped.withColumn(col, F.lit(None).cast("date"))

    if closed_keys is not None:
        flagged = closed_keys.select(KEY_HASH).distinct().withColumn(
            "__KEY_IN_CLOSED", F.lit(True)
        )
        new_flagged = new_prepped.join(flagged, on=[KEY_HASH], how="left")
    else:
        new_flagged = new_prepped.withColumn(
            "__KEY_IN_CLOSED", F.lit(None).cast("boolean")
        )

    c = cur_open.alias("c")
    n = new_flagged.alias("n")
    joined = c.join(n, F.col(f"c.{KEY_HASH}") == F.col(f"n.{KEY_HASH}"), "full_outer")

    def row(side: str, **overrides) -> F.Column:
        return F.struct(
            *[
                overrides.get(col, F.col(f"{side}.{col}")).alias(col)
                for col in out_cols
            ]
        )

    current_row = row("c")
    closed_current_row = row(
        "c",
        **{
            UPDATE_TS: run_ts,
            UPDATE_RUN_ID: F.lit(currents[CURRENT_RUN_ID]),
            VALID_TO: F.date_sub(run_day, 1),
        },
    )
    new_only_row = row("n", **{VALID_FROM: valid_from, VALID_TO: upper})
    changed_new_row = row("n", **{VALID_FROM: run_day, VALID_TO: upper})

    # typed empty array (dropped-row marker): slice keeps the struct type
    no_rows = F.slice(F.array(current_row), 1, 0)
    routed = joined.select(
        F.when(
            F.col(f"n.{KEY_HASH}").isNull(), F.array(current_row)
        )
        .when(
            F.col(f"c.{KEY_HASH}").isNull(),
            F.when(
                F.col("n.__KEY_IN_CLOSED").isNull(), F.array(new_only_row)
            ).otherwise(no_rows),
        )
        .when(
            F.col(f"c.{RECORD_HASH}") == F.col(f"n.{RECORD_HASH}"),
            F.array(current_row),
        )
        .otherwise(F.array(closed_current_row, changed_new_row))
        .alias("__rows")
    )
    return routed.select(F.explode("__rows").alias("__r")).select("__r.*")


def merge_scd2(
    current_df: DataFrame,
    new_df: DataFrame,
    currents: dict,
    valid_from_mode: int,
    valid_from_date: str | None = None,
) -> DataFrame:
    """Five-way SCD2 merge in a single pass. ref: SCDHelpers.py:129-220.

    ``current_df`` must carry the meta columns plus VALID_FROM/VALID_TO;
    ``new_df`` must carry the meta columns (add_meta_columns output).
    Output columns = ``current_df``'s columns. The store is consumed three
    times (open slice, closed slice, closed-key set) — cheap pruned
    re-scans for a parquet-backed store; for a plan-backed store cache it,
    or use Scd2Store, whose manifest lists the two slices as separate dirs.
    """
    upper = F.to_date(F.lit(SCD2_UPPER_BOUND))
    cur_open = current_df.filter(F.col(VALID_TO) == upper)
    cur_closed = current_df.filter(F.col(VALID_TO) != upper)
    merged_open = merge_scd2_open(
        cur_open,
        new_df,
        currents,
        valid_from_mode,
        valid_from_date,
        closed_keys=cur_closed.select(KEY_HASH),
    )
    return merged_open.unionByName(cur_closed.select(current_df.columns))


def historize_dataset(
    new_df: DataFrame,
    current_df: DataFrame | None,
    currents: dict,
    valid_from_mode: int,
    valid_from_date: str | None = None,
) -> DataFrame:
    """merge_scd2 with empty-store bootstrap. ref: SCDHelpers.py:297-301.

    The empty-store case short-circuits: merging against an empty current
    degenerates to "every new row is new_only", so the rows are stamped
    directly — no join, no shuffle (the reference runs the full 5-way merge
    against the empty frame, SCDHelpers.py:297-301).
    """
    if current_df is None:
        valid_from = F.to_date(
            F.lit(get_valid_from_date(valid_from_mode, valid_from_date, currents))
        )
        return new_df.withColumns(
            {
                VALID_FROM: valid_from,
                VALID_TO: F.to_date(F.lit(SCD2_UPPER_BOUND)),
            }
        )
    return merge_scd2(current_df, new_df, currents, valid_from_mode, valid_from_date)


def snapshot_at(df: DataFrame, as_of_date: str) -> DataFrame:
    """Point-in-time read of an SCD2 dataset: the row version of each key
    that was valid on ``as_of_date`` (VALID_FROM <= d <= VALID_TO). The
    read-side payoff of SCD2 historization: any past state of the table is
    one filter away — on a store partitioned or sorted by validity, both
    predicates push into the scan."""
    d = F.to_date(F.lit(as_of_date))
    return df.filter((F.col(VALID_FROM) <= d) & (F.col(VALID_TO) >= d))


def split_merged_dataset(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (historized, active) by VALID_TO against the upper bound.

    ref: SCDHelpers.py:311-316 — with the reference's unsatisfiable
    ``> SCD2_UPPER_BOUND`` predicate fixed to ``<`` (SURVEY.md §2.2 P5) and
    without its debugging ``.show()`` side effects.
    """
    upper = F.to_date(F.lit(SCD2_UPPER_BOUND))
    hist = df.filter(F.col(VALID_TO) < upper)
    active = df.filter(F.col(VALID_TO) == upper)
    return hist, active
