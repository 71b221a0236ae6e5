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
def fine_engine(spark, corpus, tmp_path_factory):
    """t_tiny's corpus on a fine chunk grid (32 docs per chunk), so every
    query term spans dozens of chunks and block-max pruning has chunks to
    skip: a lossy skip shows up as a changed top-k here, where t_tiny's
    four chunks per term can hide it."""
    from dataclasses import replace
    from parser_indexer_spark.build import build_index
    from parser_indexer_spark.search import Index
    out = str(tmp_path_factory.mktemp("index") / "t_tiny_fine")
    build_index(spark, spark.createDataFrame(corpus), out,
                replace(T_TINY_CFG, chunk_bits=5), segments=2)
    return Index(spark, out)


@pytest.fixture(scope="session")
def oracle(corpus):
    from parser_indexer_spark.oracle import OracleIndex
    return OracleIndex(range(len(corpus)), corpus["text"].tolist())


@pytest.fixture(scope="session")
def engine(spark, index_dir):
    from parser_indexer_spark.search import Index
    return Index(spark, index_dir)


class PlanLog(list):
    """The plans a patched Index._plan handed out, in call order, and the
    fields it replaces in each (``set`` changes them for later queries)."""

    def __init__(self, fields):
        super().__init__()
        self.fields = dict(fields)

    def set(self, **fields):
        self.fields.update(fields)


def force_plan(monkeypatch, **fields):
    """Patch Index._plan — the one seam tests use to pick an execution
    path: every later query runs the plan the planner chose with
    ``fields`` replaced (see search.Plan). The scorers only see the plain
    values the plan hands them, so this holds on executors too. Patches
    stack: a second force_plan edits the first one's plans. Returns the
    PlanLog."""
    from parser_indexer_spark.search import Index
    log = PlanLog(fields)
    planner = Index._plan

    def forced(self, *args, **kw):
        plan = planner(self, *args, **kw)._replace(**log.fields)
        log.append(plan)
        return plan

    monkeypatch.setattr(Index, "_plan", forced)
    return log


# a plan with no impact sidecar, no θ seed and no WAND pruning that keeps
# the top-k heap: the exhaustive reference a pruned answer must equal
EXHAUSTIVE = dict(sidecar=False, prune=False, seed_sidecar=False,
                  seed_scan=False)


@pytest.fixture
def exchange_path(monkeypatch):
    """Score every query through the distributed path (pruned scan ->
    chunk exchange -> mapInPandas scorer), as scans above one scoring
    task's quota are, with the planner's task count or the one given by
    ``exchange_path.set(tasks=n)``. The impact sidecar is off, so every
    planned query reaches the scorer. Returns the PlanLog, so a test can
    check that the scorer tail really ran."""
    return force_plan(monkeypatch, driver=False, sidecar=False)


@pytest.fixture
def exhaustive(monkeypatch):
    """Run every query with the EXHAUSTIVE plan (on whichever path the
    planner, or an exchange_path fixture requested first, picks)."""
    return force_plan(monkeypatch, **EXHAUSTIVE)
