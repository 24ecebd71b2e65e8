"""Registry entries on inputs the sf test tables do not exercise: scan
paths given as URIs, and part keys past 2^40."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from outbreak_kg_spark.entry_fixtures import _spread_partitions
from outbreak_kg_spark.entry_kg import q_kg_isa_closure

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _local_rule(par: int, path: str) -> int:
    """The spread rule over os.path sizes: the counts bare local paths
    got before the probe went through the Hadoop FS."""
    n_files, total = 1, os.path.getsize(path)
    if n_files >= par or total >= par * (16 << 20):
        return 0
    return max(4, min(par, total // (128 << 10)))


def test_uri_inputs_spread_like_bare_paths(spark):
    par = spark.sparkContext.defaultParallelism
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        bare = _spread_partitions(spark, path)
        assert bare == _local_rule(par, path), t
        assert _spread_partitions(spark, "file://" + path) == bare, t
    assert _spread_partitions(spark, f"{SF_DIR}/missing.parquet") == 0


def test_isa_closure_covers_keys_past_2_pow_40(spark, tmp_path):
    keys = [1, 2, 3, 5, 1 << 40, (1 << 40) + 7, (1 << 62) + 3, (1 << 63) - 1]
    pq.write_table(pa.table({"p_partkey": pa.array(keys, pa.int64())}),
                   tmp_path / "part.parquet")
    got = {tuple(r) for r in q_kg_isa_closure(spark, str(tmp_path)).collect()}
    want = {(p, p >> k, k) for p in keys
            for k in range(1, p.bit_length())}
    assert got == want
