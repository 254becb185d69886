"""The scale harness, scripts/scale.py: each family's checks hold at its
smallest n, a new record is compared against the previous one, and the
one-off scale scripts it replaced do not grow back."""

from __future__ import annotations

import copy
import importlib.util
import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]

_spec = importlib.util.spec_from_file_location("scale", REPO / "scripts" / "scale.py")
scale = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale)


@pytest.mark.parametrize("family", sorted(scale.FAMILIES))
def test_family_checks_hold_at_smallest_n(spark, sf_dir, family, monkeypatch):
    """Planted duplicates and asset families are recovered, every gated
    ANN path keeps its recall floor against the exact top-k, the
    compacted lakehouse snapshot equals its model, and the streams emit
    rows. One warm run per leg instead of three: the checks read the
    rows of the run after the clock, which the warm count does not
    change."""
    monkeypatch.setattr(scale, "WARM_RUNS", 1)
    rec = scale.measure(spark, family, scale.FAMILIES[family][2], donor=sf_dir)
    assert rec["legs"] and rec["sanity"]
    assert all(rec["sanity"].values()), rec["sanity"]
    assert not spark.streams.active


def test_changes_warns_on_moved_rows_or_recall():
    prev = {
        "n": 100,
        "legs": {"q_a": {"rows": 5}, "q_b": {"rows": 7}},
        "recall": {"q_b": 1.0},
    }
    assert scale.changes(None, prev) == []
    assert scale.changes(prev, copy.deepcopy(prev)) == []

    cur = copy.deepcopy(prev)
    cur["legs"]["q_a"]["rows"] = 6
    cur["recall"]["q_b"] = 0.98
    assert scale.changes(prev, cur) == ["q_a: rows 5 -> 6", "q_b: recall 1.0 -> 0.98"]

    # a record at another n is reported, not compared
    assert scale.changes(prev, {**cur, "n": 200}) == ["previous record is at n=100, not compared"]


#: citations of a script or a dated log section that no longer exists:
#: the per-topic scale scripts and SCALE.md's round-by-round sections
_STALE_CITATION = re.compile(
    r"\w+_smoke\.py|ivfpq_ab\.py|SCALE\.md\W{0,3}(r\d+|round[ -]?\d+)",
    re.IGNORECASE,
)


def test_one_scale_harness():
    """scripts/ holds scale.py and no per-topic scale script, and no
    engine or test module cites one or a SCALE.md round."""
    stale = [
        p.name
        for p in (REPO / "scripts").iterdir()
        if p.name.endswith("_smoke.py") or p.name == "ivfpq_ab.py"
    ]
    assert (REPO / "scripts" / "scale.py").exists() and not stale, stale
    hits = [
        f"{path.relative_to(REPO)}:{i}: {line.strip()}"
        for root in ("hive_gateway_spark", "tests")
        for path in sorted((REPO / root).rglob("*.py"))
        if path.name != "test_scale.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _STALE_CITATION.search(line)
    ]
    assert not hits, hits
