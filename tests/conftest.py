from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from radar_log_parser_spark.codec import Vocab  # noqa: E402
from radar_log_parser_spark.config import load_config  # noqa: E402
from radar_log_parser_spark.sources.fixtures import (  # noqa: E402
    generate_corpus,
    write_fixture,
)

N_ROWS = 2000
SEED = 7
GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "goldens.json")


@pytest.fixture(scope="session")
def spark():
    from radar_log_parser_spark.session import get_spark

    s = get_spark(app="radar-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fx_unit")
    write_fixture(str(d), n_rows=N_ROWS, seed=SEED)
    return str(d)


@pytest.fixture(scope="session")
def fx(fixture_dir):
    from radar_log_parser_spark.sources.fixtures import Fixture

    return Fixture(
        logs_path=os.path.join(fixture_dir, "logs.parquet"),
        vocab_path=os.path.join(fixture_dir, "vocab.json"),
        config_path=os.path.join(fixture_dir, "config.yaml"),
        sources=("Ios", "my-android-bucket"),
    )


@pytest.fixture(scope="session")
def cfg(fx):
    return load_config(fx.config_path)


@pytest.fixture(scope="session")
def vocab(fx):
    return Vocab.load(fx.vocab_path)


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(n_rows=N_ROWS, seed=SEED)


@pytest.fixture(scope="session")
def golden():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="session")
def pipeline_run(spark, cfg, vocab, fx, tmp_path_factory):
    """The checkpointed pipeline on the unit fixture: its result, and the
    frame each stage handed to `Checkpointer.write`."""
    from radar_log_parser_spark.plans.pipeline import Pipeline

    work = str(tmp_path_factory.mktemp("pipeline_ckpt"))
    pipe = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    written = {}
    write = pipe.ckpt.write

    def recording_write(stage, df, *args, **kw):
        written[stage] = df
        return write(stage, df, *args, **kw)

    pipe.ckpt.write = recording_write
    return pipe.run(), written


@pytest.fixture(scope="session")
def pipeline_result(pipeline_run):
    return pipeline_run[0]
