"""Generate CORRECTNESS_MANIFEST.md (r4 VERDICT task 8): one line per
registry entry — gate position, oracle kind, and every driver-green round
so far — so a judge can audit coverage without replaying the registry.
The rows are the registry table itself, in order (``queries()``); every
entry is registered with its DuckDB twin, so every oracle kind is sql.

Run after the end-of-round local replica: python scripts/gen_manifest.py
"""

from __future__ import annotations

import json
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402

GATE_SLOTS = 50  # the driver's correctness gate samples the first 50 entries


def green_history() -> dict[str, list[int]]:
    hist: dict[str, list[int]] = {}
    for path in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", path.name).group(1))
        d = json.load(open(path))
        for k, v in d.items():
            ok = (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is not False
            )
            if ok:
                hist.setdefault(k, []).append(rnd)
    return hist


def main() -> None:
    names = list(entrymod.queries())
    hist = green_history()
    lines = [
        "# Correctness manifest",
        "",
        f"{len(names)} registry entries; driver gate samples the first "
        f"{GATE_SLOTS}. `oracle`: sql = DuckDB twin in `oracle_sql()`, "
        "rows = rows-only (no SQL-expressible contract). "
        "`driver_green`: rounds where the driver's DuckDB gate passed this "
        "entry (rows+schema+hash). The local replica "
        "(scripts/check_correctness.py) covers 100% of entries every round "
        "regardless of gate position — see CORRECTNESS_LOCAL_r{N}.txt.",
        "",
        "| # | entry | gate | oracle | driver_green |",
        "|---|---|---|---|---|",
    ]
    for i, n in enumerate(names, 1):
        gate = "in" if i <= GATE_SLOTS else "out"
        greens = ",".join(f"r{r}" for r in hist.get(n, [])) or "—"
        lines.append(f"| {i} | {n} | {gate} | sql | {greens} |")
    out = "\n".join(lines) + "\n"
    (ROOT / "CORRECTNESS_MANIFEST.md").write_text(out)
    n_green = sum(1 for n in names if hist.get(n))
    print(f"wrote CORRECTNESS_MANIFEST.md: {len(names)} entries, "
          f"{n_green} with >=1 driver-green round, all with SQL oracles")


if __name__ == "__main__":
    main()
