"""Driver-evidence bookkeeping: parse the committed ``CORRECTNESS_r*.json``
artifacts into a per-query adjudication history.

Two consumers:

- ``plans.evidence_ordered_queries()`` (the driver-facing ordering used by
  ``__spark_entry__``; ``plans.all_queries()`` keeps stable registration
  order for library consumers) orders the registry so the driver's 50-query
  prefix sample always lands on the queries with the WEAKEST driver
  evidence (unresolved failures first, then never-sampled, then least
  recently sampled).  Evidence coverage therefore rotates itself round
  over round with no hand-maintained priority list.
- ``tools/driver_evidence.py`` renders the derived "driver-adjudicated
  ever" table for COVERAGE.md, so coverage claims are generated, not
  hand-tracked (the r3 verdict's counter_progress misattribution came
  from hand-tracking).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]

_CORRECTNESS_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def correctness_files(root: Path | None = None) -> list[tuple[int, Path]]:
    """``(round, path)`` of every ``CORRECTNESS_r*.json`` at ``root``, by round."""
    root = root or REPO_ROOT
    out = []
    for p in root.glob("CORRECTNESS_r*.json"):
        m = _CORRECTNESS_RE.search(p.name)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def _row_passed(row: dict) -> bool:
    if row.get("err"):
        return False
    checks = [row.get(k) for k in ("rows_match", "schema_match", "hash_match")]
    # A row with NONE of the verdict keys present is an unrecognized artifact
    # shape, not evidence of a pass — treat it as not-passed so it stays at
    # the front of the adjudication queue instead of silently rotating back.
    if all(c is None for c in checks):
        return False
    return all(c is not False for c in checks)


def driver_history(root: Path | None = None) -> dict[str, dict]:
    """Per-query driver verdicts: ``{name: {"last_round": int,
    "last_pass": bool, "rounds": [(round, passed), ...]}}``.  Queries the
    driver has never sampled are absent."""
    hist: dict[str, dict] = {}
    for rnd, path in correctness_files(root):
        try:
            data = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            passed = _row_passed(row) if isinstance(row, dict) else False
            h = hist.setdefault(name, {"rounds": []})
            h["rounds"].append((rnd, passed))
            h["last_round"] = rnd
            h["last_pass"] = passed
    return hist


def evidence_sort_key(history: dict[str, dict]):
    """Key function ordering query names weakest-evidence-first:

    1. sampled at least once and the LATEST verdict is a fail (unresolved
       driver failure — front of the line for re-adjudication);
    2. never driver-sampled;
    3. everything else, least-recently-sampled first.

    Ties keep registration order (``sorted`` is stable).
    """

    def key(name: str) -> tuple[int, int]:
        h = history.get(name)
        if h is None:
            return (1, 0)  # never sampled
        if not h["last_pass"]:
            return (0, -h["last_round"])  # unresolved fail, newest fail first
        return (2, h["last_round"])  # green: oldest evidence first

    return key
