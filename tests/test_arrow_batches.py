"""The Arrow byte bound session.configure pins: a partition of large
rows reaches a Python UDF in several batches of at most
``spark.sql.execution.arrow.maxBytesPerBatch`` (64m) plus one row, even
when the 128-row bound alone would send it in one."""

import pandas as pd

ROW_BYTES = 1 << 20  # ~1 MB a row
N_ROWS = 80  # 80 MB in one partition: over 64m, under 128 rows


def test_one_partition_of_large_rows_reaches_the_udf_in_byte_bounded_batches(spark):
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == "64m"

    def sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"rows": [len(pdf)], "bytes": [int(pdf["s"].str.len().sum())]})

    df = spark.range(0, N_ROWS, 1, numPartitions=1).selectExpr(f"repeat('x', {ROW_BYTES}) AS s")
    got = df.mapInPandas(sizes, schema="rows long, bytes long").collect()
    assert sum(r["rows"] for r in got) == N_ROWS
    assert len(got) > 1
    assert max(r["rows"] for r in got) < N_ROWS
    assert max(r["bytes"] for r in got) < 64 * (1 << 20) + ROW_BYTES
