"""Regenerate the packaged evidence-ledger snapshot.

The registry ordering in ``map_reduce_project_spark/queries/__init__``
derives from the driver's ``CORRECTNESS_r*.json`` files at the repo
root; this tool snapshots them into
``map_reduce_project_spark/queries/evidence_ledger.json``
(name -> sorted list of green rounds) so a package imported away from
the repo checkout still orders by evidence. Run after each driver
round lands new CORRECTNESS files:

    python tools/build_evidence_ledger.py

Commit the regenerated ``evidence_ledger.json`` together with the new
``CORRECTNESS_r*.json``: ``tests/test_registry_evidence.py`` checks the
snapshot against the root files, and round 13's file once landed
without a rebuild, which left that test red.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from map_reduce_project_spark.queries import _row_is_green  # noqa: E402


def main() -> None:
    ledger: dict[str, list[int]] = {}
    for f in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(f.read_text()).items():
            if isinstance(row, dict) and _row_is_green(row):
                ledger.setdefault(name, []).append(rnd)
    out = ROOT / "map_reduce_project_spark" / "queries" / "evidence_ledger.json"
    out.write_text(
        json.dumps(
            {k: sorted(v) for k, v in sorted(ledger.items())}, indent=1
        )
        + "\n"
    )
    print(f"{out}: {len(ledger)} queries with evidence")


if __name__ == "__main__":
    main()
