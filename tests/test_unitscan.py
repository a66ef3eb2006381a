"""The unit scan's launch: every posting-scan task evaluates exactly one
unit (no round-robin packing of two units into one task)."""

from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rt_etl_yahoo_search_engine_spark.operators.codec import (
    encode_doc_ids,
    encode_varbyte,
)
from rt_etl_yahoo_search_engine_spark.operators.topk import decode_unit_postings_raw
from rt_etl_yahoo_search_engine_spark.operators.unitscan import scan_units


def _fake_units(root, n: int) -> list[str]:
    """n one-block unit directories; unit i's only posting is doc i."""
    units = []
    for i in range(n):
        d = root / f"shard={i}"
        d.mkdir()
        pq.write_table(pa.table({
            "term": ["a"],
            "first_doc_id": [i],
            "last_doc_id": [i],
            "doc_ids_vb": [encode_doc_ids([i])],
            "tfs_vb": [encode_varbyte([1])],
            "doc_lens_vb": [encode_varbyte([7])],
        }), str(d / "part-0.parquet"))
        units.append(str(d))
    return units


@pytest.mark.parametrize("n", [4, 8, 16])
def test_one_unit_per_task(spark, tmp_path, n):
    units = _fake_units(tmp_path, n)

    def _tag_task(tdata, deleted):  # local: pickled by value to executors
        from pyspark import TaskContext

        yield pd.DataFrame({
            "task": [TaskContext.get().partitionId()],
            "unit": [int(tdata["a"][0][0])],
        })

    rows = scan_units(
        spark, units, ["a"], [], decode_unit_postings_raw, _tag_task,
        "task int, unit long",
    ).collect()
    assert sorted(r.unit for r in rows) == list(range(n))
    per_task = Counter(r.task for r in rows)
    assert len(per_task) == n and set(per_task.values()) == {1}
