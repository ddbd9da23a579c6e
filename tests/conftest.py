from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from accelerating_tc_spark.session import get_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_tiny() -> str:
    return SF_TINY


class CutLog(list):
    """Lineage cuts in call order: "L" per localCheckpoint, the target path
    per parquet write (a hard cut or a checkpoint commit)."""

    def longest_local_chain(self) -> int:
        longest = run = 0
        for event in self:
            run = run + 1 if event == "L" else 0
            longest = max(longest, run)
        return longest


@pytest.fixture
def cut_log(spark, monkeypatch) -> CutLog:
    """Spy on every localCheckpoint and parquet write for one test."""
    log = CutLog()
    df_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)
    real_checkpoint, real_parquet = df_cls.localCheckpoint, writer_cls.parquet

    def local_checkpoint(self, *args, **kwargs):
        log.append("L")
        return real_checkpoint(self, *args, **kwargs)

    def parquet(self, path, *args, **kwargs):
        log.append(str(path))
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", local_checkpoint)
    monkeypatch.setattr(writer_cls, "parquet", parquet)
    return log
