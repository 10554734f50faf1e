"""Spark-free checks of the tools/ scripts: every module imports (a
dangling import between tools fails here, not at the next manual run), and
the generated SCALING.md sections keep the text around them."""

from __future__ import annotations

import importlib
import shutil
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402


@pytest.mark.parametrize("module", sorted(p.stem for p in (REPO / "tools").glob("*.py")))
def test_tool_module_imports(module):
    importlib.import_module(f"tools.{module}")


def test_scale_stress_section_keeps_later_sections(tmp_path):
    """The decade-stress section is followed by the corpus decomposition
    and the RocksDB state-scale sections; rewriting it leaves both, and
    everything before it, byte for byte."""
    from tools import scale_stress

    md = tmp_path / "SCALING.md"
    shutil.copy(REPO / "SCALING.md", md)
    text = md.read_text()
    later = ("### pipeline_corpus_build decomposition", "## Streaming state scale under RocksDB")
    start = text.index(scale_stress._MARK)
    tail = text.index(later[0])
    assert start < tail < text.index(later[1])

    sf01 = scale_stress.sf01_points(text)
    assert set(sf01) == set(HEADLINE)
    results = {f: {n: 2 * f * t for n, t in sf01.items()} for f in scale_stress.FACTORS}
    scale_stress.write_section(md, sf01, results)

    new = md.read_text()
    assert new.startswith(text[:start])
    assert new.endswith(text[tail:])
    name = HEADLINE[0]
    assert f"| {name} | {sf01[name]:.2f} | {results[10][name]:.2f} |" in new


def test_corpus_decompose_section_keeps_attribution(tmp_path):
    """The decomposition table is generated; the attribution under it is
    hand-written under its own heading, so rewriting the table leaves it,
    and everything after it, byte for byte."""
    from tools import corpus_decompose

    md = tmp_path / "SCALING.md"
    shutil.copy(REPO / "SCALING.md", md)
    text = md.read_text()
    attribution = text.index("### pipeline_corpus_build attribution")
    assert text.index(corpus_decompose._MARK) < attribution

    counts = {"docs": 5000, "final_docs": 4306}
    rows = [
        (label, {k: v * f for k, v in counts.items()}, 2.0 * f, 1024 * f, 1024 * f)
        for label, f in (("1x", 1), ("10x", 10), ("100x", 100))
    ]
    corpus_decompose.write_section(md, rows)

    new = md.read_text()
    assert new.endswith(text[attribution:])
    assert "| docs | 5000 | 50000 | 500000 | +1.00 | +1.00 |" in new
