"""Source guards for the library's single-path design:

- no ``CRUX_SPARK_*`` environment switch changes library behaviour; the
  only name read is the deployment path ``CRUX_SPARK_BLOB_DIR``;
- Catalyst's size estimate is read in one place, ``_conf.py``;
- no operator picks its algorithm by a row-count probe or by a
  threshold an instance can override.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "crux_spark"
ALLOWED_ENV = {"CRUX_SPARK_BLOB_DIR"}
SIZE_IDIOM = "optimizedPlan().stats().sizeInBytes()"
# `.limit(<expr> + 1).count()`: a count job that only asks "more than N?"
COUNT_PROBE = re.compile(
    r"\.limit\(\s*(?:[^()]|\([^()]*\))*?\+\s*1\s*\)\s*\.count\(\s*\)"
)
# `getattr(self, "THRESHOLD"`: a class constant an instance may override
OVERRIDABLE_THRESHOLD = re.compile(
    r"getattr\(\s*self\s*,\s*[\"'][A-Z][A-Z0-9_]*[\"']"
)


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


def test_no_size_probes():
    found = []
    for path in _sources():
        text = path.read_text()
        for pattern in (COUNT_PROBE, OVERRIDABLE_THRESHOLD):
            for m in pattern.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{path.relative_to(PKG).as_posix()}:{line}")
    assert not found, f"size-gated forks in the library: {sorted(found)}"
