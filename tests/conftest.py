from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from instagram_data_pipeline_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = build_session(
        app_name="pytest",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp()},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def dying_publish():
    """A ``TransactionLogFormat`` whose next manifest publish, once
    ``armed``, raises — a crash after the data files are written and
    before the commit point."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    class DyingPublish(TransactionLogFormat):
        def __init__(self):
            self.armed = False

        def _publish(
            self, wh, table, version, files, schema_json=None, rows=None,
            stats=None, **extra,
        ):
            if self.armed:
                self.armed = False
                raise OSError("simulated crash before manifest publish")
            super()._publish(
                wh, table, version, files, schema_json, rows=rows,
                stats=stats, **extra,
            )

    return DyingPublish()
