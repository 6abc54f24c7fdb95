"""Source guards for the library's single-path design:

- no ``CRUX_SPARK_*`` environment switch changes library behaviour; the
  only name read is the deployment path ``CRUX_SPARK_BLOB_DIR``;
- Catalyst's size estimate is read in one place, ``_conf.py``.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "crux_spark"
ALLOWED_ENV = {"CRUX_SPARK_BLOB_DIR"}
SIZE_IDIOM = "optimizedPlan().stats().sizeInBytes()"


def _sources():
    return sorted(PKG.rglob("*.py"))


def test_no_crux_spark_behaviour_switches():
    found = {}
    for path in _sources():
        names = set(re.findall(r"CRUX_SPARK_[A-Z0-9_]+", path.read_text()))
        if names - ALLOWED_ENV:
            found[path.relative_to(PKG).as_posix()] = sorted(names - ALLOWED_ENV)
    assert not found, f"CRUX_SPARK_* switches in the library: {found}"


def test_size_estimate_read_only_in_conf():
    users = [
        path.relative_to(PKG).as_posix()
        for path in _sources()
        if SIZE_IDIOM in path.read_text()
    ]
    assert users == ["_conf.py"]
