"""The MinHash shape is fixed: 32 hashes in 8 bands of 4 rows. Both the
Spark expressions and the DuckDB oracle SQL derive from these names."""

from __future__ import annotations

from yanwenxian_week3_data_pipeline_spark import constants as c


def test_defaults_import_clean():
    assert (c.MINHASH_NUM_HASHES, c.MINHASH_BANDS, c.MINHASH_ROWS_PER_BAND) == (32, 8, 4)
