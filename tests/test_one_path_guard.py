"""Source guards for the library's single-path design:

- no ``CRUX_SPARK_*`` environment switch changes library behaviour; the
  only name read is the deployment path ``CRUX_SPARK_BLOB_DIR``;
- Catalyst's size estimate is read in one place, ``_conf.py``;
- the incremental indexes' final-op rule lives in one place,
  ``bitemporal/replay.py``, and their lineage cadence is its module
  constant ``CHECKPOINT_EVERY``, not a per-index parameter;
- no operator picks its algorithm by a row-count probe or by a
  threshold an instance can override, with one named exception:
  ``connected_components`` resolves edge sets up to
  ``graph.DRIVER_LIMIT_EDGES`` with a driver union-find and larger ones
  with distributed label-propagation rounds. The driver path is the one
  ``dedup_pipeline`` runs; ``tools/scale_smoke.py`` and
  ``tests/test_graph_ops.py`` cover the distributed rounds by setting
  the constant to 0.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "crux_spark"
ALLOWED_ENV = {"CRUX_SPARK_BLOB_DIR"}
SIZE_IDIOM = "optimizedPlan().stats().sizeInBytes()"
# each entity's last op in an ops batch (bitemporal/replay.final_ops)
FINAL_OP_IDIOM = 'F.struct("op", "doc_json")'
# the per-index cadence parameter replay.CHECKPOINT_EVERY replaced
# (a regex, so that this file holds no literal match of its own)
CADENCE_KNOB = re.compile(r"checkpoint_ever[y]")
# `.limit(<expr> + 1).count()` or `.collect()`: a bounded job that asks
# "more than N?"
COUNT_PROBE = re.compile(
    r"\.limit\(\s*(?:[^()]|\([^()]*\))*?\+\s*1\s*\)\s*\.(?:count|collect)\(\s*\)"
)
# Probes the library keeps, per file. graph.py's is the size-selected path
# named in the module docstring. The others select no algorithm: the two
# quantized top-k scorers raise past `max_queries`, and the tx-log page
# reads one row ahead to know whether a next page exists.
KEPT_PROBES = {
    "http.py": 1,
    "operators/graph.py": 1,
    "operators/similarity.py": 2,
}
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


def test_one_replay_seam():
    users = [
        path.relative_to(PKG).as_posix()
        for path in _sources()
        if FINAL_OP_IDIOM in path.read_text()
    ]
    assert users == ["bitemporal/replay.py"]
    knobs = [
        path.relative_to(PKG).as_posix()
        for path in _sources()
        if CADENCE_KNOB.search(path.read_text())
    ]
    assert not knobs, f"per-index cadence parameters: {knobs}"


def test_no_size_probes():
    found, probes = [], {}
    for path in _sources():
        rel, text = path.relative_to(PKG).as_posix(), path.read_text()
        for m in OVERRIDABLE_THRESHOLD.finditer(text):
            found.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}")
        n = len(COUNT_PROBE.findall(text))
        if n:
            probes[rel] = n
    assert not found, f"size-gated forks in the library: {sorted(found)}"
    assert probes == KEPT_PROBES, f"bounded probes in the library: {probes}"
