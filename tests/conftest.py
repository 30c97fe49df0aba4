import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# numpy runs with one BLAS thread here, as in the engine's Python workers
# (session.get_spark sets the same for executors) and the benchmark. Set
# before anything imports numpy. A multi-threaded sgemm splits a batched
# gauss3 differently from a one-doc call and can round a cell differently,
# so the kernel's batch == per-doc bit identity holds single-threaded.
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")


@pytest.fixture(scope="session")
def spark():
    from image_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name="ife-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def token_parquet(tmp_path_factory):
    """60 synth docs as ONE parquet file of 3 row groups (~200 KB): far
    below one split, and with openCostInBytes lowered to 1k the planner
    cuts it into 4 byte ranges, one of which holds no row-group midpoint
    (an empty task)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from image_feature_extraction_spark import synth

    path = str(tmp_path_factory.mktemp("tokens") / "tokens.parquet")
    pq.write_table(
        pa.Table.from_pandas(synth.token_table_pandas(60), preserve_index=False),
        path, row_group_size=20,
    )
    return path
