"""Consecutive-block dedup (R3) — the HardsubX subtitle-dedup analog.

Specified by BASELINE.json's north_star (the logic lives in CCExtractor's
hardsubx consumer of the reference, not in the reference repo itself —
SURVEY.md §2.6 R3):

  * drop empty / whitespace-only blocks (already empty after normalization)
  * double_enter collapse is handled by normalization (blank-line runs)
  * suppress a block whose Levenshtein similarity ratio to the PREVIOUS
    KEPT block is >= DEDUP_SIM_THRESHOLD (repeated nav/footer collapse)

Document-local and order-sensitive: block order is defined by region start
offsets (never partition order), so the result is deterministic under any
Spark partitioning.  The relational shadow is a lag() window + similarity
filter (exposed in __spark_entry__).
"""

from __future__ import annotations

from ..config import DEDUP_SIM_THRESHOLD
from ..functions.levenshtein import at_least_as_similar


def dedup_consecutive(texts: list[str],
                      prev_text: str | None = None) -> list[int]:
    """Return indices of kept blocks, in order.  ``prev_text`` is the
    previously kept block of a chain carried in from earlier input (the
    streaming per-host dedup); None starts a fresh chain."""
    kept: list[int] = []
    for i, t in enumerate(texts):
        if not t:
            continue
        if prev_text is not None and at_least_as_similar(
            t, prev_text, DEDUP_SIM_THRESHOLD
        ):
            continue
        kept.append(i)
        prev_text = t
    return kept
