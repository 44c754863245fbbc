"""The test-tier guard in conftest: every slow-tier entry must name a
file that exists, so a rename fails collection instead of silently
moving a slow file into the default tier."""

from __future__ import annotations

from tests import conftest


def test_renamed_slow_file_is_reported(monkeypatch):
    monkeypatch.setattr(
        conftest, "SLOW_TEST_FILES", conftest.SLOW_TEST_FILES | {"test_gone.py"}
    )
    assert conftest.missing_slow_test_files() == ["test_gone.py"]
