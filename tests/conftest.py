import dataclasses
import shutil
import tempfile

import pytest

from ds_floodexposure_monitoring_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="sparkgraft-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def legacy_manifest():
    """Recommit a table's current files as a legacy manifest: the same
    paths, with no tombstone counts, integral sums or key blooms — the
    entries ``operators/analyze.analyze`` backfills."""

    def strip(table):
        fs = table.files()
        return table.commit(
            {f.path for f in fs},
            [
                dataclasses.replace(
                    f, tombstones=None, col_sums=None, key_bloom=None
                )
                for f in fs
            ],
            operation="legacy-manifest",
        )

    return strip
