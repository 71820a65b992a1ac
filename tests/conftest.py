from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Bound the test JVM's heap like perfbench does: a quarter of RAM within
# 1..4 GB. The session default (48g) lets a long run grow the driver past
# what a small machine holds. An explicit setting wins.
if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
    _ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, _ram_gb // 4))}g"


@pytest.fixture(scope="session")
def spark():
    from lance_trino_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


_REFERENCE_FIXTURES = Path(
    "/root/reference/plugin/trino-lance/src/test/resources/example_db"
)


def _fixture_census() -> dict[str, list[str]]:
    return {
        str(p.relative_to(_REFERENCE_FIXTURES)): None
        for p in sorted(_REFERENCE_FIXTURES.rglob("*"))
        if p.is_file()
    }


@pytest.fixture(scope="session", autouse=True)
def reference_fixtures_stay_pristine():
    """Tripwire: the reference fixture datasets are READ-ONLY input —
    tests must copy them to tmp before any write (a leaked commit once
    appended a version 7 to test_table1 and silently broke every
    version-pinned assertion). Fails the session loudly if the file
    census changed, naming exactly what appeared/vanished."""
    if not _REFERENCE_FIXTURES.is_dir():
        yield
        return
    before = _fixture_census()
    yield
    after = _fixture_census()
    added = sorted(set(after) - set(before))
    removed = sorted(set(before) - set(after))
    assert not added and not removed, (
        f"reference fixtures MUTATED during the test session: "
        f"added={added} removed={removed} — tests must copytree to tmp "
        f"before writing"
    )
