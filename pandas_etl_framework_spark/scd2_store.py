"""Scd2Store: an SCD2 dataset whose incremental merges never rewrite the
accumulated history, published through ``VersionedStore``'s manifest.

The reference rewrites its entire store every run (main.py:24); a full SCD2
store at 100 TB is overwhelmingly *closed* rows, which a merge can only ever
append to. Each merge reads the open slice and the closed keys from the
dirs the latest manifest lists, routes the batch via merge_scd2_open (one
full-outer join), writes the result ONCE into a fresh ``data/v{N}/`` split
into ``state=open`` / ``state=closed``, commits a manifest listing the
earlier closed dirs plus the new ones, and vacuums the superseded open
slice. I/O per merge is proportional to |open| + |batch|, not |history|,
and the output dir is never an input of its own plan (no checkpoint).

Crash story: before the manifest rename the pre-merge state stays visible
(the retry replaces the unlisted dir); after it the post-merge state is
visible, and replaying the batch is a no-op merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import KEY_HASH, SCD2_UPPER_BOUND, VALID_TO
from .meta_columns import create_currents
from .scd2 import historize_dataset, merge_scd2_open
from .versioned_store import VersionedStore

STATE_COL = "state"
STATE_OPEN = "open"
STATE_CLOSED = "closed"


class Scd2Store:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log = VersionedStore(spark, path)

    def _slices(self):
        """(open dirs, closed dirs, schema) of the latest version; the
        schema is None for an empty store."""
        dirs, schema = self._log._snapshot() or ([], None)
        closed = [d for d in dirs if d.endswith(f"/{STATE_COL}={STATE_CLOSED}")]
        return [d for d in dirs if d not in closed], closed, schema

    def read(self) -> DataFrame | None:
        """Full store (open ∪ closed), without the physical state column."""
        return self._log.read()

    def read_active(self) -> DataFrame | None:
        open_dirs, _, schema = self._slices()
        return None if schema is None else self._log._read_dirs(open_dirs, schema)

    def merge(
        self,
        new_df: DataFrame,
        currents: dict | None = None,
        valid_from_mode: int = 2,  # VALID_FROM_MODE_LOAD_DATE
        valid_from_date: str | None = None,
    ) -> None:
        """One incremental SCD2 merge; ``new_df`` must be add_meta_columns
        output."""
        if STATE_COL in new_df.columns:  # the files would lose it to the slice split
            raise ValueError(f"column '{STATE_COL}' is reserved by Scd2Store")
        currents = currents or create_currents()
        open_dirs, closed_dirs, schema = self._slices()
        if schema is None:
            merged = historize_dataset(
                new_df, None, currents, valid_from_mode, valid_from_date
            )
        else:
            merged = merge_scd2_open(
                self._log._read_dirs(open_dirs, schema),
                new_df,
                currents,
                valid_from_mode,
                valid_from_date,
                closed_keys=(
                    self._log._read_dirs(closed_dirs, schema).select(KEY_HASH)
                    if closed_dirs else None
                ),
            )
        upper = F.to_date(F.lit(SCD2_UPPER_BOUND))
        state = F.when(F.col(VALID_TO) == upper, STATE_OPEN).otherwise(STATE_CLOSED)
        self._log._publish(merged.withColumn(STATE_COL, state), closed_dirs,
                           "scd2_merge", merged.schema, partition_by=STATE_COL)
        self._log.vacuum(keep_latest=1)

    def compact_closed(self, target_files: int | None = None) -> None:
        """Closed-slice small-file compaction (every merge adds one closed
        dir): rewrite the closed dirs into one fresh dir and commit it."""
        open_dirs, closed_dirs, schema = self._slices()
        if not closed_dirs:
            return
        n = target_files or max(1, self.spark.sparkContext.defaultParallelism)
        closed = self._log._read_dirs(closed_dirs, schema).repartition(n)
        self._log._publish(closed.withColumn(STATE_COL, F.lit(STATE_CLOSED)),
                           open_dirs, "compact_closed", schema, partition_by=STATE_COL)
        self._log.vacuum(keep_latest=1)
