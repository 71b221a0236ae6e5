import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parser_indexer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="pytest-engine", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---- shared t_tiny index (reused by build/search + fixture tests) ---------

from parser_indexer_spark.config import EngineConfig  # noqa: E402

T_TINY_TURNS = 2000
T_TINY_CFG = EngineConfig(n_buckets=8, build_partitions=8,
                          salt_df_threshold=500, n_salts=4, chunk_bits=9)


@pytest.fixture(scope="session")
def corpus():
    from parser_indexer_spark.transcripts import synthesize_pandas
    pdf = synthesize_pandas(T_TINY_TURNS)
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="session")
def index_dir(spark, corpus, tmp_path_factory):
    from parser_indexer_spark.build import build_index
    out = str(tmp_path_factory.mktemp("index") / "t_tiny")
    df = spark.createDataFrame(corpus.sample(frac=1.0, random_state=7))
    build_index(spark, df, out, T_TINY_CFG, segments=2, input_desc="t_tiny")
    return out


@pytest.fixture(scope="session")
def oracle(corpus):
    from parser_indexer_spark.oracle import OracleIndex
    return OracleIndex(range(len(corpus)), corpus["text"].tolist())


@pytest.fixture(scope="session")
def engine(spark, index_dir):
    from parser_indexer_spark.search import Index
    return Index(spark, index_dir)


@pytest.fixture
def exchange_path(monkeypatch):
    """Turn the driver path's size gate off: every query is scored through
    the distributed path (pruned scan -> chunk exchange -> mapInPandas
    scorer), as scans above one scoring task's quota are. Returns the list
    of term lists the gate was asked about, so a test can check that the
    scorer tail really ran."""
    from parser_indexer_spark.search import Index
    asked = []

    def never(self, terms, quota):
        asked.append(list(terms))
        return False

    monkeypatch.setattr(Index, "_scan_fits", never)
    return asked
