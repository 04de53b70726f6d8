"""``bench.py --scaling`` rewrites BENCH/BASELINE.md: the generated block
is replaced and every hand-written section after it survives."""

from __future__ import annotations

import bench

OLD = """# BENCH/BASELINE — scaling-efficiency evidence

stale generated table

### Correction: a hand-written section

kept text

## spark-submit --py-files (the north_rule invocation shape)

kept evidence
"""


def test_scaling_rewrite_keeps_every_hand_written_section(tmp_path,
                                                          monkeypatch):
    md = tmp_path / "BASELINE.md"
    md.write_text(OLD)
    monkeypatch.setattr(bench, "BASELINE_MD", str(md))
    results = {n: {"docs": 100, "wall_sec": 1.0, "docs_per_sec": 100.0}
               for n in (2, 8, 32)}
    bench.write_baseline_md(results, 0.9, 0.6, 0.6)
    first = md.read_text()
    assert "stale generated table" not in first
    assert first.endswith(OLD[OLD.index("### Correction"):])
    # the corrected claim is not regenerated from the template
    assert "Python-worker overheads" not in first
    bench.write_baseline_md(results, 0.9, 0.6, 0.6)
    assert md.read_text() == first
