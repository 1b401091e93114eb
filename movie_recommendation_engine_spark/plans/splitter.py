"""Train/validation/test splitter — reference E3 at cluster scale.

The reference's working splitter is pandas-on-one-machine
(new_split_script.py): per-user 25% -> validation, 25% of remainder ->
test, remainder -> train, written as three CSVs.  Its deprecated Spark
predecessor (split_script.py) was broken (lexicographic userId sort —
SURVEY §2.13.4).

Engine version (SURVEY §7.2 M1): one window pass assigns every row a
split label from its content hash (operators.sampling.split_assign) —
deterministic across partitionings, disjoint & exhaustive by
construction, every user in every split.  Writing uses
``partitionBy(split)`` so downstream readers get partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.sampling import split_assign
from ..sources.writers import write_partitioned

# the MovieLens ratings columns (reference als.py:24)
USER_COL, ITEM_COL, RATING_COL = "userId", "movieId", "rating"


def split_ratings(ratings: DataFrame) -> DataFrame:
    """Label every rating train/validation/test, 25/25/50 per user."""
    return split_assign(ratings, group_col=USER_COL, key_cols=[USER_COL, ITEM_COL])


def split_and_write(ratings: DataFrame, path: str) -> DataFrame:
    """Assign splits and persist a single partitioned dataset (one job —
    not the reference's three separate CSV writes)."""
    labeled = split_ratings(ratings)
    write_partitioned(labeled, path, partition_by=["split"])
    return labeled
