"""``sources.tables.load_table`` memoizes its scan frames per session;
the memo must not outlive the file it scanned."""

from __future__ import annotations

import pandas as pd

from akvorado_spark.sources.tables import load_table


def _write(path, ids):
    pd.DataFrame({"n_nationkey": ids, "n_name": [f"n{i}" for i in ids]}).to_parquet(
        path, index=False
    )


def test_load_table_memo_follows_a_rewritten_file(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    _write(path, [1, 2, 3])
    first = load_table(spark, "nation", str(tmp_path))
    assert sorted(r.n_nationkey for r in first.collect()) == [1, 2, 3]
    # unchanged file: the memoized frame is handed back
    assert load_table(spark, "nation", str(tmp_path)) is first

    # a larger file: a frame still holding the old file's length reads
    # a split that misses the new row group
    new_ids = list(range(10, 5010))
    _write(path, new_ids)
    again = load_table(spark, "nation", str(tmp_path))
    assert sorted(r.n_nationkey for r in again.collect()) == new_ids
